package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Cast, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.sources.TxLog

/** Row-level DML on txlog tables, parsed and resolved by Spark's own
  * grammar and analyzer (the `DeltaAnalysis` move): a resolved
  * `MergeIntoTable` / `UpdateTable` / `DeleteFromTable` whose target is a
  * [[TxNamedTable]] — ``txlog.`/root``` or `cat.ns.tbl` alike — becomes
  * one eager command on the transactional front doors:
  *
  * {{{
  *   MERGE [WITH SCHEMA EVOLUTION] INTO txlog.`/root` [AS] tgt
  *     USING src [AS] s ON tgt.k = s.k
  *     WHEN MATCHED [AND cond] THEN UPDATE SET c = e, ... | UPDATE SET *
  *                                | DELETE
  *     WHEN NOT MATCHED [AND cond] THEN INSERT *  -- TxLog.mergeClausesTx
  *   UPDATE txlog.`/root` SET c = e, ... [WHERE cond] -- updateWhereTx
  *   DELETE FROM txlog.`/root` [WHERE cond]           -- deleteWhereTx
  * }}}
  *
  * Clause expressions reach the front doors as Catalyst expressions
  * re-bound by column NAME (target columns as `t.<c>`, source columns as
  * `s.<c>` — the sides [[TxLog.mergeClausesTx]] joins), so any alias, or
  * none, works, and malformed statements fail with Spark's own errors.
  * The front-door contracts refuse before any commit: the ON condition
  * is one shared equi-key, SET never touches a partition column, and
  * WHEN NOT MATCHED inserts `*` only. */
case class TxDmlRule(session: SparkSession) extends Rule[LogicalPlan] {
  import TxDmlRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.resolved =>
      rootOf(m.targetTable).map(merge(_, m)).getOrElse(m)
    case u: UpdateTable if u.resolved => rootOf(u.table).map { root =>
      val bind = rebind(Seq(u.table.outputSet -> Nil), "UPDATE")
      val sets = u.assignments.map(a => column(a, "UPDATE") -> bind(a.value))
        .toMap
      val cond = u.condition.map(bind)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      TxSqlCommand.returning("version" -> LongType,
        "files_rewritten" -> IntegerType) { s =>
        val (v, n) = TxLog.updateWhereTx(s, root, cond, sets)
        Seq(Row(v, n))
      }
    }.getOrElse(u)
    case d: DeleteFromTable if d.resolved => rootOf(d.table).map { root =>
      val cond = rebind(Seq(d.table.outputSet -> Nil), "DELETE")(d.condition)
      TxSqlCommand.returning("version" -> LongType,
        "files_rewritten" -> IntegerType) { s =>
        val (v, n) = TxLog.deleteWhereTx(s, root, cond)
        Seq(Row(v, n))
      }
    }.getOrElse(d)
    case _ => plan
  }

  private def merge(root: String, m: MergeIntoTable): LogicalPlan = {
    val tgt = m.targetTable.outputSet
    val src = m.sourceTable.outputSet
    val resolver = session.sessionState.conf.resolver
    val bind = rebind(Seq(tgt -> Seq("t"), src -> Seq("s")), "MERGE")
    def attr(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: Cast => attr(c.child)
      case _ => None
    }
    val key = Some(m.mergeCondition)
      .collect { case EqualTo(l, r) => (attr(l), attr(r)) }
      .collect { case (Some(a), Some(b)) if resolver(a.name, b.name) &&
          ((tgt.contains(a) && src.contains(b)) ||
            (tgt.contains(b) && src.contains(a))) => a.name }
      .getOrElse(throw new IllegalArgumentException("txlog MERGE: the ON " +
        "condition must be a single equi-key on one shared column " +
        "(tgt.k = src.k) — the merge key locates candidate files; got " +
        m.mergeCondition.sql))
    require(m.notMatchedBySourceActions.isEmpty,
      "txlog MERGE: WHEN NOT MATCHED BY SOURCE is not supported")
    val matched = m.matchedActions.map {
      case DeleteAction(c) => TxLog.MergeClause.delete(c.map(bind))
      case u: UpdateAction if u.fromStar =>
        TxLog.MergeClause.updateAll(u.condition.map(bind))
      case u: UpdateAction => TxLog.MergeClause.update(
        u.assignments.map(a => column(a, "MERGE") -> bind(a.value)).toMap,
        u.condition.map(bind))
      case other => throw new IllegalArgumentException(
        s"txlog MERGE: unsupported WHEN MATCHED action $other")
    }
    // INSERT * resolves to one same-named source column per target
    // column; anything else is an INSERT the front door cannot express
    val notMatched = m.notMatchedActions.map {
      case InsertAction(c, as) if as.size == tgt.size && as.forall {
          case Assignment(k: Attribute, v: Attribute) =>
            src.contains(v) && resolver(k.name, v.name)
          case _ => false
        } => TxLog.MergeClause.insertAll(c.map(bind))
      case _ => throw new IllegalArgumentException(
        "txlog MERGE: WHEN NOT MATCHED supports INSERT * only")
    }
    TxSqlCommand.returning("version" -> LongType) { s =>
      Seq(Row(TxLog.mergeClausesTx(s, root,
        DatasetBridge.ofRows(s, m.sourceTable), key, matched, notMatched,
        autoEvolve = m.withSchemaEvolution)))
    }
  }
}

object TxDmlRule {
  /** The table root of a row-level command's target — None when the
    * target is not a (current-version) txlog table. */
  def rootOf(plan: LogicalPlan): Option[String] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case t: TxNamedTable if t.asOfVersion.isEmpty => Some(t.root)
        case _ => None
      }
      case _ => None
    }

  private def column(a: Assignment, verb: String): String = a.key match {
    case k: Attribute => k.name
    case other => throw new IllegalArgumentException(
      s"txlog $verb: SET targets a top-level column, got ${other.sql}")
  }

  /** Re-bind a resolved expression by column NAME: each side's attributes
    * become unresolved `<qualifier>.<name>` references that resolve
    * against the front door's own frames. A correlated subquery would
    * keep references to the statement's plan, so it refuses. */
  private def rebind(sides: Seq[(AttributeSet, Seq[String])], verb: String)
      : Expression => Column = { e =>
    require(!SubqueryExpression.hasCorrelatedSubquery(e),
      s"txlog $verb: correlated subqueries are not supported — got ${e.sql}")
    ColumnBridge.column(e.transform {
      case a: Attribute => sides.collectFirst {
        case (set, q) if set.contains(a) => UnresolvedAttribute(q :+ a.name)
      }.getOrElse(a)
    })
  }
}
