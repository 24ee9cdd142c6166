package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import graft.sources.TxLog

/** The txlog statements Spark's grammar has no verb for, routed to the
  * transactional front doors (never a parallel implementation):
  *
  * {{{
  *   OPTIMIZE txlog.`/root` [WHERE p = 'v'] [SMALLFILES n]
  *     | ZORDER BY (a, b) [FILES n]               -- maintainTx / zorder
  *   VACUUM txlog.`/root` [RETAIN n HOURS] [DRY RUN]  -- vacuum
  *   RESTORE [TABLE] txlog.`/root` TO VERSION AS OF n
  *     | TO TIMESTAMP AS OF 'ts'                  -- restoreTx
  *   DESCRIBE HISTORY | DETAIL txlog.`/root`      -- history / tableDetail
  *   CONVERT TO TXLOG parquet.`/dir` PARTITIONED BY (a, b)
  *   SHOW PARTITIONS txlog.`/root`                -- partitionValues
  *   ALTER TABLE txlog.`/root` ADD CONSTRAINT n CHECK (e)
  *     | DROP CONSTRAINT n                        -- check constraints
  * }}}
  *
  * Every target may equally be a registered [[TxCatalog]] name
  * (`cat.ns.tbl`, or a bare name after `USE cat`). Everything else —
  * SELECT, INSERT, MERGE, UPDATE, DELETE, CREATE/REPLACE TABLE, CTAS and
  * the rest of ALTER TABLE — is Spark's own grammar: ``txlog.`/root``` is
  * a table of the `txlog` catalog ([[TxPathCatalog]]), and [[TxDmlRule]]
  * maps the resolved row-level commands onto the front doors. ADD/DROP
  * CONSTRAINT stay here because Spark 4.1 validates a new CHECK through
  * the table's relation, which graft substitutes with its readTable plan
  * — Spark then refuses the statement as a V1 table's. A malformed
  * statement on one of these verbs is its own loud error, never a silent
  * fall-through to Spark's parser. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    TxSql.maybeParse(session, sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** Eagerly-executed command (the RunnableCommand contract: runs once
  * when the `spark.sql(...)` Dataset materializes, returns its summary
  * rows). */
private[graft] final case class TxSqlCommand(
    override val output: Seq[Attribute],
    @transient body: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = body(session)
}

private[graft] object TxSqlCommand {
  def returning(cols: (String, DataType)*)(body: SparkSession => Seq[Row])
      : TxSqlCommand =
    TxSqlCommand(cols.map { case (n, dt) =>
      AttributeReference(n, dt, nullable = false)() }, body)
}

private[graft] object TxSql {
  /** A registered [[TxCatalog]] instance by name (None = not registered
    * or not ours — the statement belongs to Spark). */
  private def txCatalogOf(session: SparkSession, name: String)
      : Option[TxCatalog] =
    try session.sessionState.catalogManager.catalog(name) match {
      case c: TxCatalog => Some(c)
      case _ => None
    } catch { case _: Exception => None }

  /** A bare/namespace-relative name resolved against the session's
    * CURRENT catalog (the `USE gcat` flow): when the current catalog is
    * a [[TxCatalog]], a 1-part name resolves under the current
    * namespace and an n-part name under its explicit namespace —
    * EXISTENCE-GATED (an unregistered name delegates to Spark, whose
    * own resolution owns the error), and NEVER a temp view (temp views
    * shadow catalog tables in Spark's resolution order; claiming one
    * would hijack it). */
  private def impliedTx(session: SparkSession, parts: Seq[String])
      : Option[(TxCatalog, Identifier)] =
    session.sessionState.catalogManager.currentCatalog match {
      case c: TxCatalog if parts.nonEmpty =>
        val isTemp =
          try session.sessionState.catalog.isTempView(parts)
          catch { case _: Exception => false }
        val id =
          if (parts.length == 1) Identifier.of(
            session.sessionState.catalogManager.currentNamespace, parts.head)
          else Identifier.of(parts.init.toArray, parts.last)
        if (!isTemp && (try c.tableExists(id)
                        catch { case _: Exception => false }))
          Some((c, id))
        else None
      case _ => None
    }

  /** Resolve a table NAME to its root: explicitly catalog-qualified
    * (``txlog.`/root``` or `cat.ns....tbl` whose head names a registered
    * [[TxCatalog]] — an unregistered table there is a loud
    * NoSuchTableException, the statement addresses OUR catalog), or
    * relative to the session's current catalog/namespace after
    * `USE gcat` ([[impliedTx]]). */
  private[graft] def namedRoot(session: SparkSession,
                               parts: Seq[String]): Option[String] =
    (if (parts.length < 2) None
     else txCatalogOf(session, parts.head).map(_.locationOf(
       Identifier.of(parts.tail.init.toArray, parts.last))))
      .orElse(impliedTx(session, parts).map { case (c, id) =>
        c.locationOf(id) })

  /** Claim a statement only for one of this parser's verbs with a txlog
    * table at the verb's own target position — never because the text
    * mentions txlog somewhere else. Tokenizer failures here mean "not
    * ours" — Spark's parser owns the error for unclaimed text. */
  private def claims(session: SparkSession, text: String): Boolean =
    try {
      val toks = tokenize(text)
      def isW(i: Int, k: String): Boolean =
        i < toks.length && toks(i).kind == 0 && toks(i).text.equalsIgnoreCase(k)
      // a dotted name at i whose head is a registered TxCatalog (the
      // `txlog` path catalog included), or that resolves against the
      // session's CURRENT TxCatalog after USE: the index just past it
      def txNameEnd(i: Int): Option[Int] = {
        def isId(j: Int) =
          j < toks.length && (toks(j).kind == 0 || toks(j).kind == 1)
        if (!isId(i)) return None
        var j = i + 1
        while (j + 1 < toks.length && toks(j).kind == 3 &&
            toks(j).text == "." && isId(j + 1)) j += 2
        val parts = (i until j by 2).map(toks(_).text)
        if ((parts.length >= 2 && txCatalogOf(session, parts.head).isDefined) ||
            impliedTx(session, parts).isDefined) Some(j)
        else None
      }
      def isTx(i: Int): Boolean = txNameEnd(i).isDefined
      if (toks.isEmpty || toks.head.kind != 0) false
      else toks.head.text.toUpperCase match {
        case "RESTORE"  => isTx(1) || (isW(1, "TABLE") && isTx(2))
        case "DESCRIBE" | "DESC" =>
          (isW(1, "HISTORY") || isW(1, "DETAIL")) && isTx(2)
        case "VACUUM" | "OPTIMIZE" => isTx(1)
        case "SHOW"     => isW(1, "PARTITIONS") && isTx(2)
        case "CONVERT"  => isW(1, "TO") && isW(2, "TXLOG")
        case "ALTER"    => isW(1, "TABLE") && txNameEnd(2).exists(j =>
          (isW(j, "ADD") || isW(j, "DROP")) && isW(j + 1, "CONSTRAINT"))
        case _ => false
      }
    } catch { case _: IllegalArgumentException => false }

  def maybeParse(session: SparkSession, text: String): Option[LogicalPlan] =
    if (claims(session, text)) Some(parseStatement(session, text)) else None

  /** The statement's target table root, through its [[TxCatalog]]. */
  private def tableRoot(session: SparkSession, p: P): String = {
    var parts = Vector(p.ident())
    while (p.isSym(".")) { p.sym("."); parts :+= p.ident() }
    namedRoot(session, parts).getOrElse(
      fail(s"[${parts.mkString(".")}] is not a txlog table"))
  }

  // ---- tokenizer ---------------------------------------------------------
  // kinds: 0 word (ident/keyword/number), 1 backtick ident (text = inner),
  // 2 string literal (text = raw incl quotes), 3 symbol char
  private final case class Tok(kind: Int, text: String, start: Int, end: Int)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"txlog SQL: $msg")

  private def tokenize(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        val st = i; i += 1
        while (i < n && (s.charAt(i) != '\'' ||
            (i + 1 < n && s.charAt(i + 1) == '\'' && { i += 1; true })))
          i += 1
        if (i >= n) fail("unterminated string literal")
        i += 1
        out += Tok(2, s.substring(st, i), st, i)
      } else if (c == '`') {
        val st = i; i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          val d = s.charAt(i)
          if (d == '`') {
            if (i + 1 < n && s.charAt(i + 1) == '`') { sb += '`'; i += 2 }
            else { closed = true; i += 1 }
          } else { sb += d; i += 1 }
        }
        if (!closed) fail("unterminated backtick identifier")
        out += Tok(1, sb.toString, st, i)
      } else if (c.isLetterOrDigit || c == '_') {
        val st = i
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_'))
          i += 1
        out += Tok(0, s.substring(st, i), st, i)
      } else {
        out += Tok(3, c.toString, i, i + 1)
        i += 1
      }
    }
    out.result()
  }

  // ---- statement parser ----------------------------------------------------
  private final class P(val text: String) {
    val toks: Vector[Tok] = tokenize(text)
    var i = 0
    def eof: Boolean = i >= toks.length
    def peek: Tok = if (eof) fail(s"unexpected end of statement") else toks(i)
    def isKw(k: String): Boolean =
      !eof && toks(i).kind == 0 && toks(i).text.equalsIgnoreCase(k)
    def kw(k: String): Unit =
      if (isKw(k)) i += 1 else fail(s"expected $k at: ${rest()}")
    def tryKw(k: String): Boolean = { val ok = isKw(k); if (ok) i += 1; ok }
    def sym(c: String): Unit =
      if (!eof && toks(i).kind == 3 && toks(i).text == c) i += 1
      else fail(s"expected '$c' at: ${rest()}")
    def isSym(c: String): Boolean =
      !eof && toks(i).kind == 3 && toks(i).text == c
    def rest(): String =
      if (eof) "<end>" else text.substring(toks(i).start).take(60)

    /** identifier (bare word or backticked). */
    def ident(): String = {
      val t = peek
      if (t.kind == 0 || t.kind == 1) { i += 1; t.text }
      else fail(s"expected identifier at: ${rest()}")
    }

    /** string literal, unquoted ('' unescapes to '). */
    def strLit(): String = {
      val t = peek
      if (t.kind != 2) fail(s"expected a string literal at: ${rest()}")
      i += 1
      t.text.substring(1, t.text.length - 1).replace("''", "'")
    }

    /** original-text slice from token `from` (inclusive) to token `until`
      * (exclusive). */
    def slice(from: Int, until: Int): String = {
      require(until > from, "empty expression")
      text.substring(toks(from).start, toks(until - 1).end).trim
    }

    /** consume a balanced (...) group the cursor points at. */
    def spanUntilBalanced(): Unit = {
      sym("(")
      var depth = 1
      while (depth > 0) {
        if (eof) fail("unbalanced '(' — the statement ended inside a " +
          "parenthesized group")
        if (isSym("(")) depth += 1
        else if (isSym(")")) depth -= 1
        i += 1
      }
    }
  }

  private def parseStatement(session: SparkSession, text: String)
      : LogicalPlan = {
    val p = new P(text)
    if (p.tryKw("RESTORE")) parseRestore(session, p)
    else if (p.tryKw("DESCRIBE") || p.tryKw("DESC")) parseDescribe(session, p)
    else if (p.tryKw("VACUUM")) parseVacuum(session, p)
    else if (p.tryKw("OPTIMIZE")) parseOptimize(session, p)
    else if (p.tryKw("CONVERT")) parseConvert(session, p)
    else if (p.tryKw("SHOW")) parseShow(session, p)
    else if (p.tryKw("ALTER")) parseConstraint(session, p)
    else fail(s"unsupported txlog statement: ${p.rest()}")
  }

  // ALTER TABLE txlog.`root`
  //   ADD CONSTRAINT name CHECK (e)   -> TxLog.addCheckConstraintTx
  //   DROP CONSTRAINT name            -> TxLog.dropCheckConstraintTx
  private def parseConstraint(session: SparkSession, p: P): LogicalPlan = {
    p.kw("TABLE")
    val root = tableRoot(session, p)
    val body: SparkSession => Long =
      if (p.tryKw("ADD")) {
        p.kw("CONSTRAINT")
        val name = p.ident()
        p.kw("CHECK")
        val st = p.i
        p.spanUntilBalanced()
        val e = p.slice(st + 1, p.i - 1)
        s => TxLog.addCheckConstraintTx(s, root, name, e)
      } else {
        p.kw("DROP"); p.kw("CONSTRAINT")
        val name = p.ident()
        s => TxLog.dropCheckConstraintTx(s, root, name)
      }
    if (!p.eof) fail(s"trailing input after ALTER TABLE: ${p.rest()}")
    TxSqlCommand.returning("version" -> LongType)(s => Seq(Row(body(s))))
  }

  // RESTORE [TABLE] txlog.`root` TO VERSION AS OF n
  private def parseRestore(session: SparkSession, p: P): LogicalPlan = {
    p.tryKw("TABLE")
    val root = tableRoot(session, p)
    p.kw("TO")
    if (p.tryKw("VERSION")) {
      p.kw("AS"); p.kw("OF")
      val v = p.ident()
      val version =
        try v.toLong catch { case _: NumberFormatException =>
          fail(s"VERSION AS OF needs an integer version, got $v") }
      if (!p.eof) fail(s"trailing input after RESTORE: ${p.rest()}")
      TxSqlCommand.returning("version" -> LongType)(s =>
        Seq(Row(TxLog.restoreTx(s, root, version))))
    } else {
      // RESTORE ... TO TIMESTAMP AS OF '<ts|epoch-millis>' — the reader's
      // timestampAsOf contract (digits = epoch millis, else a session-TZ
      // timestamp/date string)
      p.kw("TIMESTAMP"); p.kw("AS"); p.kw("OF")
      val ts =
        if (!p.eof && p.peek.kind == 2) p.strLit() else p.ident()
      if (!p.eof) fail(s"trailing input after RESTORE: ${p.rest()}")
      TxSqlCommand.returning("version" -> LongType)(s =>
        Seq(Row(TxLog.restoreTx(s, root,
          TxLog.versionAsOf(s, root, TxLog.tsOptionMillis(s, ts))))))
    }
  }

  // DESCRIBE HISTORY|DETAIL txlog.`root`
  private def parseDescribe(session: SparkSession, p: P): LogicalPlan = {
    val df =
      if (p.tryKw("HISTORY")) TxLog.history(session, tableRoot(session, p))
      else if (p.tryKw("DETAIL")) TxLog.tableDetail(session, tableRoot(session, p))
      else fail("DESCRIBE on txlog tables supports HISTORY and DETAIL")
    if (!p.eof) fail(s"trailing input after DESCRIBE: ${p.rest()}")
    df.queryExecution.logical
  }

  // CONVERT TO TXLOG parquet.`dir` PARTITIONED BY (a, b) — adopt an
  // existing Hive-partitioned parquet dir in place (TxLog.convertParquetTx)
  private def parseConvert(session: SparkSession, p: P): LogicalPlan = {
    p.kw("TO"); p.kw("TXLOG"); p.kw("parquet"); p.sym(".")
    val t = p.peek
    if (t.kind != 1) fail("CONVERT source must be a backtick-quoted " +
      "path (parquet.`/dir`)")
    p.i += 1
    val root = t.text
    p.kw("PARTITIONED"); p.kw("BY"); p.sym("(")
    var cols = Vector(p.ident())
    while (p.isSym(",")) { p.sym(","); cols :+= p.ident() }
    p.sym(")")
    if (!p.eof) fail(s"trailing input after CONVERT: ${p.rest()}")
    TxSqlCommand.returning("version" -> LongType)(s =>
      Seq(Row(TxLog.convertParquetTx(s, root, cols))))
  }

  // OPTIMIZE txlog.`root` [SMALLFILES n] — the one-call maintenance
  // bundle (TxLog.maintainTx: dv-aware bin-pack + checkpoint + log
  // expiry + vacuum); n = the small-file byte threshold (default 128 MB)
  private def parseOptimize(session: SparkSession, p: P): LogicalPlan = {
    val root = tableRoot(session, p)
    // OPTIMIZE ... ZORDER BY (k1, k2[, ...]) [FILES n] — the
    // multi-dimensional clustering rewrite (TxLog.compactZorderTx)
    if (p.tryKw("ZORDER")) {
      p.kw("BY"); p.sym("(")
      var keys = Vector(p.ident())
      while (p.isSym(",")) { p.sym(","); keys :+= p.ident() }
      p.sym(")")
      val files =
        if (p.tryKw("FILES")) {
          val n = p.ident()
          try n.toInt catch { case _: NumberFormatException =>
            fail(s"FILES needs a count, got $n") }
        } else 0
      if (!p.eof) fail(s"trailing input after OPTIMIZE: ${p.rest()}")
      return TxSqlCommand.returning("version" -> LongType) { s =>
        val pc = TxLog.tableMeta(s, root)._2.headOption
          .map(_.name).getOrElse("part")
        val nf = if (files > 0) files
                 else s.sessionState.conf.numShufflePartitions
        Seq(Row(TxLog.compactZorderTx(s, root, pc, keys, nf)))
      }
    }
    // OPTIMIZE ... [WHERE <partCol> = 'v' | IN ('a','b') | >= 'v' ...]
    // — partition-scoped compaction (the warehouse-scale shape: compact
    // yesterday, not the table). The predicate is over the PARTITION
    // column's raw value; comparisons are lexicographic (zero-padded
    // dates order correctly).
    val where: Option[(String, String => Boolean)] =
      if (p.tryKw("WHERE")) {
        val colName = p.ident()
        if (p.tryKw("IN")) {
          p.sym("(")
          val vals = Set.newBuilder[String]
          var more = true
          while (more) {
            vals += (if (!p.eof && p.peek.kind == 2) p.strLit()
                     else p.ident())
            more = p.isSym(",")
            if (more) p.i += 1
          }
          p.sym(")")
          val set = vals.result()
          Some((colName, set.contains))
        } else {
          // comparison operator: one of = < > <= >=
          val c1 = { val t = p.peek
            if (t.kind != 3 || !"=<>".contains(t.text))
              fail(s"OPTIMIZE WHERE supports =, <, >, <=, >=, IN — " +
                s"at: ${p.rest()}")
            p.i += 1; t.text }
          val op = if ((c1 == "<" || c1 == ">") && p.isSym("=")) {
            p.i += 1; c1 + "="
          } else c1
          val v = if (!p.eof && p.peek.kind == 2) p.strLit() else p.ident()
          val pred: String => Boolean = op match {
            case "="  => _ == v
            case "<"  => _ < v
            case ">"  => _ > v
            case "<=" => _ <= v
            case ">=" => _ >= v
          }
          Some((colName, pred))
        }
      } else None
    val smallBytes =
      if (p.tryKw("SMALLFILES")) {
        val n = p.ident()
        try n.toLong catch { case _: NumberFormatException =>
          fail(s"SMALLFILES needs a byte count, got $n") }
      } else 134217728L
    if (!p.eof) fail(s"trailing input after OPTIMIZE: ${p.rest()}")
    TxSqlCommand.returning(Seq("version", "files_packed",
        "checkpoint_version", "log_files_expired", "data_files_vacuumed")
        .map(_ -> LongType): _*) { s =>
      val pc = TxLog.tableMeta(s, root)._2.headOption
        .map(_.name).getOrElse("part")
      val select = where
        .map { case (c, f) => TxLog.partitionSelect(s, root, c)(f) }
        .getOrElse((_: String) => true)
      TxLog.maintainTx(s, root, pc, smallBytes, select = select)
        .collect().toSeq
    }
  }

  // SHOW PARTITIONS txlog.`root` — the live composite partition keys
  // (metadata only; payload-derived above the header cap).
  private def parseShow(session: SparkSession, p: P): LogicalPlan = {
    p.kw("PARTITIONS")
    val root = tableRoot(session, p)
    if (!p.eof) fail(s"trailing input after SHOW PARTITIONS: ${p.rest()}")
    TxSqlCommand.returning("partition" -> StringType)(s =>
      TxLog.partitionValues(s, root).toSeq.sorted.map(Row(_)))
  }

  // VACUUM txlog.`root` [RETAIN n HOURS]
  private def parseVacuum(session: SparkSession, p: P): LogicalPlan = {
    val root = tableRoot(session, p)
    val minAgeMs =
      if (p.tryKw("RETAIN")) {
        val h = p.ident()
        val hours = try h.toLong catch { case _: NumberFormatException =>
          fail(s"RETAIN needs an integer hour count, got $h") }
        p.kw("HOURS")
        hours * 3600000L
      } else 3600000L
    // VACUUM ... DRY RUN — report what a wet run would reclaim, touch
    // nothing (the operator's pre-flight check before a zero-retention
    // vacuum)
    val dryRun = p.tryKw("DRY") && { p.kw("RUN"); true }
    if (!p.eof) fail(s"trailing input after VACUUM: ${p.rest()}")
    TxSqlCommand.returning((if (dryRun) "data_files_reclaimable"
                            else "data_files_vacuumed") -> LongType)(s =>
      Seq(Row(TxLog.vacuum(s, root, minAgeMs, dryRun).toLong)))
  }
}
