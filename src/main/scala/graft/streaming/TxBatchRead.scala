package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.TxLog

/** Batch read path for `spark.read.format("txlog").load(root)` — the
  * Delta-style integration surface, resolved the Spark-first way: the
  * provider's table answers analysis (schema, BATCH_READ capability),
  * and this resolution rule substitutes the relation with the SAME
  * logical plan [[TxLog.readTable]] builds — [[graft.sources.TxFileIndex]]
  * partition pruning + stats skipping, the deletion-vector anti-join,
  * and the column-mapping projection — so the bare format string serves
  * exactly `readTable` semantics with full Catalyst pushdown (the scan
  * is an ordinary parquet HadoopFsRelation underneath; filters and
  * column pruning reach it untouched). Options:
  *
  *   - `versionAsOf` / `timestampAsOf`: time travel, [[TxLog.readTableAt]]
  *     / [[TxLog.readTableAsOf]] boundaries (the schema is the schema AS
  *     OF the pinned version — inferSchema derives it from the same plan).
  *   - `readChangeFeed` + `startingVersion` (+ optional `endingVersion`):
  *     the batch CDF window, [[TxLog.readChangeFeed]] semantics; an empty
  *     window yields an empty frame with the feed schema.
  *
  * The substituted plan is aliased onto the relation's ORIGINAL output
  * attribute ids, so references resolved against the relation stay valid
  * — the standard relation-substitution contract. A session without the
  * extensions never reaches a bare scan: the table's `toBatch` refuses
  * loudly ([[TxStreamTable]]). */
case class TxBatchReadRule(session: SparkSession) extends Rule[LogicalPlan] {

  // table_changes first argument: a string literal naming a txlog PATH —
  // 'txlog.`/root`' (the read-surface spelling), a bare '/root' — or a
  // TxCatalog table name ('cat.ns.tbl'), resolved through its pointer
  private def tvfRoot(args: Seq[org.apache.spark.sql.catalyst.expressions
      .Expression]): Option[String] =
    args.headOption.collect {
      case org.apache.spark.sql.catalyst.expressions.Literal(v,
          org.apache.spark.sql.types.StringType) if v != null =>
        v.toString
    }.flatMap { s =>
      if (s.toLowerCase.startsWith("txlog."))
        Some(s.substring(6).stripPrefix("`").stripSuffix("`"))
          .filter(_.contains("/"))
      else if (s.contains("/")) Some(s)
      else graft.plans.TxSql.namedRoot(session, s.split('.').toSeq)
    }

  private def tvfVersion(e: org.apache.spark.sql.catalyst.expressions
      .Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, dt)
        if v != null &&
          (dt == org.apache.spark.sql.types.IntegerType ||
           dt == org.apache.spark.sql.types.LongType) =>
      v.toString.toLong
    case other => sys.error(s"table_changes: $what must be an integer " +
      s"version literal, got [$other]")
  }

  // the change-feed schema (for an EMPTY window): logical data columns
  // (renames applied, tombstones dropped) ++ partition columns ++ the
  // two change columns — the same derivation the provider's inferSchema
  // uses for option-form CDF reads. A CAPPED window (endingVersion)
  // declares the schema AS OF THE CAP (the deterministic-replay
  // contract every capped CDF surface honors): a rename landing after
  // the cap must not leak the new name into even an EMPTY frame.
  private def cdfSchema(root: String, until: Option[Long])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val base: Seq[StructField] = until match {
      case Some(u) => TxLog.readTableAt(session, root, u).schema.fields.toSeq
      case None =>
        val (data, ps) = TxLog.tableMeta(session, root)
        val m = TxLog.tableMapping(session, root)
        data.fields.toSeq.flatMap { f =>
          m.get(f.name) match {
            case Some("-") => None
            case Some(l) => Some(f.copy(name = l))
            case None => Some(f)
          }
        } ++ ps.fields
    }
    StructType(base ++ Seq(
      StructField("_change_type", StringType, false),
      StructField("_commit_version", LongType, false)))
  }

  // SELECT ... FROM table_changes('txlog.`/root`', from [, to]) —
  // the SQL form of the batch change feed (Delta's table_changes
  // TVF): audits are writable in pure SQL, same readChangeFeed
  // window semantics as the options form (an empty window is an
  // empty frame with the feed schema). Registered as a table function
  // by [[graft.plans.GraftExtensions]].
  //
  // ==== DIVERGENCE FROM DELTA — READ THIS BEFORE PORTING SQL ====
  // This TVF adopts Delta's NAME but graft's engine-wide window
  // convention: `from` is an EXCLUSIVE BASELINE ("the version you
  // already have"), so table_changes(t, 2, 4) reads the (2, 4]
  // window — versions 3 and 4. Delta's table_changes(t, 2, 4)
  // INCLUDES version 2. The exclusive baseline is uniform across
  // every graft surface (streaming offsets ARE baselines, the
  // options-form startingVersion, this TVF) — one convention, so
  // the three spellings of the same feed always agree with each
  // other; Delta SQL ported verbatim must pass `from - 1`. Also
  // documented in README ("Change feed windows").
  def tableChanges(args: Seq[org.apache.spark.sql.catalyst.expressions
      .Expression]): LogicalPlan = {
    val root = tvfRoot(args).getOrElse(sys.error("table_changes: the " +
      "first argument names a txlog table — 'txlog.`/root`', '/root' " +
      s"or 'cat.ns.tbl'; got ${args.headOption.map(_.sql).orNull}"))
    require(args.length == 2 || args.length == 3,
      "table_changes: (table, startingVersion[, endingVersion]) — " +
        s"got ${args.length} arguments")
    val since = tvfVersion(args(1), "startingVersion")
    val until = args.lift(2).map(tvfVersion(_, "endingVersion"))
    TxLog.readChangeFeed(session, root, since, until)._1
      .map { df =>
        // serve the SAME column ORDER as the options-form CDF read
        // (data, partition, change columns) — one feed, two
        // spellings. Names come from the FEED itself: a CAPPED
        // window re-maps through the mapping AS OF the cap (its
        // deterministic-replay contract), so the current-mapping
        // names may not exist in it
        val partNames = TxLog.tableMeta(session, root)._2
          .map(_.name).toSet
        val change = Seq("_change_type", "_commit_version")
        val dataCols = df.columns.toSeq.filterNot(c =>
          change.contains(c) || partNames.contains(c))
        val ordered = dataCols ++
          df.columns.toSeq.filter(partNames.contains) ++ change
        df.select(ordered.map(org.apache.spark.sql.functions.col): _*)
          .queryExecution.analyzed
      }
      .getOrElse {
        session.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          cdfSchema(root, until)).queryExecution.analyzed
      }
  }

  // a MERGE / UPDATE / DELETE TARGET stays the catalog relation:
  // [[graft.plans.TxDmlRule]] maps the resolved command onto the front
  // doors by table; only a MERGE source is a read
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
        if graft.plans.TxDmlRule.rootOf(m.targetTable).isDefined =>
      m.copy(sourceTable = rewrite(m.sourceTable))
    case c @ (_: org.apache.spark.sql.catalyst.plans.logical.UpdateTable |
              _: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable)
        if graft.plans.TxDmlRule.rootOf(c.children.head).isDefined => c
    case _ => rewrite(plan)
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if r.table.isInstanceOf[TxStreamTable] =>
        def opt(k: String): Option[String] = Option(r.options.get(k))
        val root = opt("path").getOrElse(
          sys.error("txlog batch read: .load(<table root>) is required"))
        val df =
          if (opt("readChangeFeed").exists(_.toBoolean)) {
            val since = opt("startingVersion").map(_.toLong).getOrElse(0L)
            val until = opt("endingVersion").map(_.toLong)
            TxLog.readChangeFeed(session, root, since, until)._1.getOrElse {
              import scala.jdk.CollectionConverters._
              session.createDataFrame(
                Seq.empty[org.apache.spark.sql.Row].asJava, r.schema)
            }
          } else {
            opt("versionAsOf").map(_.toLong)
              .orElse(opt("timestampAsOf").map(ts =>
                TxLog.versionAsOf(session, root,
                  TxLog.tsOptionMillis(session, ts))))
              .map(v => TxLog.readTableAt(session, root, v))
              .getOrElse(TxLog.readTable(session, root))
          }
        align(r, root, df.queryExecution.analyzed)

      // `spark.readStream.option("readChangeFeed", true).table(name)` —
      // the NAME surface of the CDF stream. The catalog resolves the
      // relation with the table's BATCH schema (data + partition columns
      // — loadTable never sees read options), so the change columns must
      // be grafted on here: swap in a [[TxStreamTable]] carrying the CDF
      // schema (exactly what the provider's inferSchema hands the PATH
      // surface), with fresh output attributes for `_change_type` /
      // `_commit_version`. Without this, TxCdfMicroBatchStream's
      // trailing-two-fields contract misaligns the partition decode.
      case s: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
          if s.table.isInstanceOf[graft.plans.TxNamedTable] &&
            Option(s.extraOptions.get("readChangeFeed"))
              .exists(_.toBoolean) =>
        val nt = s.table.asInstanceOf[graft.plans.TxNamedTable]
        val cdf = org.apache.spark.sql.types.StructType(
          nt.schema().fields ++ Seq(
            org.apache.spark.sql.types.StructField("_change_type",
              org.apache.spark.sql.types.StringType, false),
            org.apache.spark.sql.types.StructField("_commit_version",
              org.apache.spark.sql.types.LongType, false)))
        s.copy(table = new TxStreamTable(cdf, nt.root),
          output = org.apache.spark.sql.catalyst.types.DataTypeUtils
            .toAttributes(cdf))

      // catalog-loaded tables (graft.plans.TxCatalog): the NAME surface
      // mounts the same readTable/readTableAt plan as the path surface —
      // one table state, two addresses
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[graft.plans.TxNamedTable] =>
        val nt = r.table.asInstanceOf[graft.plans.TxNamedTable]
        val df = nt.asOfVersion
          .map(v => TxLog.readTableAt(session, nt.root, v))
          .getOrElse(TxLog.readTable(session, nt.root))
        // stamp the named table's CatalogTable onto the substituted
        // relations: Catalog.refreshTable (run by MicroBatchExecution
        // after every toTable micro-batch) walks the analyzed plan and
        // calls LogicalRelation.catalogTable.get unguarded — a bare
        // relation would crash the refresh with None.get
        val stamped = df.queryExecution.analyzed.transform {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
              if lr.catalogTable.isEmpty =>
            lr.copy(catalogTable = Some(nt.v1Table))
        }
        align(r, nt.root, stamped)
    }

  // re-key the substituted plan's columns onto the relation's attribute
  // ids (name-matched; order may differ in CDF unions)
  private def align(r: DataSourceV2Relation, root: String,
                    child: LogicalPlan): LogicalPlan = {
    val resolver = session.sessionState.conf.resolver
    val aligned = r.output.map { out =>
      val src = child.output.find(a => resolver(a.name, out.name))
        .getOrElse(sys.error(s"txlog batch read: declared column " +
          s"[${out.name}] is missing from the table plan at $root " +
          s"(have: ${child.output.map(_.name).mkString(", ")})"))
      require(org.apache.spark.sql.types.DataType
          .equalsIgnoreNullability(src.dataType, out.dataType),
        s"txlog batch read: column [${out.name}] resolved as " +
          s"${out.dataType.catalogString} but the table plan serves " +
          s"${src.dataType.catalogString} at $root")
      Alias(src, out.name)(exprId = out.exprId)
    }
    Project(aligned, child)
  }
}
