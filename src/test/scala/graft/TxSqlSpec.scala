package graft

import graft.sources.TxLog
import org.apache.spark.sql.functions._

/** The SQL DML front-end: every statement routes to the SAME
  * transactional front door the Scala API uses (one implementation, two
  * surfaces), non-txlog SQL delegates untouched, and malformed txlog
  * statements refuse with their own loud error. */
class TxSqlSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txsql/$tag"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  test("MERGE INTO with conditional UPDATE / DELETE / INSERT * clauses") {
    val root = freshRoot("merge")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
        .toDF("part", "k", "v"),
      root, "part", "sql-b1")
    Seq(("a", 1L, 100.0), ("a", 2L, 5.0), ("b", 4L, 40.0))
      .toDF("part", "k", "v").createOrReplaceTempView("mrg_src")
    val out = spark.sql(
      s"""MERGE INTO txlog.`$root` t USING mrg_src s ON t.k = s.k
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(out.columns.toSeq === Seq("version"))
    val got = TxLog.readTable(spark, root).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // k=1 updated (100 > 10), k=2 deleted (5 < 20), k=3 untouched,
    // k=4 inserted
    assert(got === Map(1L -> 100.0, 3L -> 30.0, 4L -> 40.0))
    // a subquery source works too
    spark.sql(
      s"""MERGE INTO txlog.`$root` t
         |USING (SELECT part, k, v * 2 AS v FROM mrg_src WHERE k = 4) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(TxLog.readTable(spark, root).filter(col("k") === 4L)
      .head.getAs[Double]("v") === 80.0)
    // any alias binds: clause expressions are re-bound by column name
    spark.sql(s"MERGE INTO txlog.`$root` tgt USING mrg_src src " +
      "ON tgt.k = src.k WHEN MATCHED AND src.k = 4 THEN DELETE")
    assert(TxLog.readTable(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("UPDATE ... SET ... WHERE and DELETE FROM ... WHERE") {
    val root = freshRoot("updel")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
        .toDF("part", "k", "v"),
      root, "part", "sql-b2")
    val up = spark.sql(
      s"UPDATE txlog.`$root` SET v = v + 0.5 WHERE k >= 2").head
    assert(up.getAs[Int]("files_rewritten") >= 1)
    assert(TxLog.readTable(spark, root).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      Map(1L -> 10.0, 2L -> 20.5, 3L -> 30.5))
    spark.sql(s"DELETE FROM txlog.`$root` WHERE part = 'a' AND k = 2")
    assert(TxLog.readTable(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("RESTORE TABLE ... TO VERSION AS OF, DESCRIBE HISTORY / DETAIL, " +
      "VACUUM") {
    val root = freshRoot("admin")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "sql-b3")                                                      // v1
    TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root, "part",
      "sql-b4")                                                      // v2
    val hist = spark.sql(s"DESCRIBE HISTORY txlog.`$root`")
    assert(hist.count() === 2L)
    assert(hist.columns.contains("version"))
    val detail = spark.sql(s"DESCRIBE DETAIL txlog.`$root`")
    assert(detail.count() === 1L)
    val v = spark.sql(
      s"RESTORE TABLE txlog.`$root` TO VERSION AS OF 1").head.getLong(0)
    assert(v === 3L)
    assert(TxLog.readTable(spark, root).count() === 1L)
    val vacuumed = spark.sql(s"VACUUM txlog.`$root` RETAIN 0 HOURS")
      .head.getLong(0)
    assert(vacuumed >= 1L, s"vacuum must reclaim the restored-away files")
    assert(TxLog.readTable(spark, root).count() === 1L)
  }

  test("SQL read surface: SELECT FROM txlog.`root`, VERSION/TIMESTAMP " +
      "AS OF, and INSERT INTO route through the table plan") {
    val root = freshRoot("select")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("b", 2L, 20.0)).toDF("part", "k", "v"),
      root, "part", "sel-b1")                                        // v1
    val t1 = TxLog.history(spark, root).collect().head.getLong(12)
    Thread.sleep(20)
    TxLog.renameColumnTx(spark, root, "v", "amount")                 // v2
    val (_, nDel) = TxLog.deleteWhereDvTx(spark, root, col("k") === 1L) // v3
    assert(nDel === 1L)
    // the SELECT serves the MAPPED schema with vectors applied
    val got = spark.sql(
      s"SELECT k, amount FROM txlog.`$root` WHERE part = 'b'")
    assert(got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq ===
      Seq(2L -> 20.0))
    // joins/aggregates over the relation work like any table
    assert(spark.sql(
      s"SELECT COUNT(*) FROM txlog.`$root` x JOIN txlog.`$root` y " +
        "ON x.k = y.k").head.getLong(0) === 1L)
    // VERSION AS OF serves the pre-rename schema and pre-delete rows
    val v1 = spark.sql(s"SELECT * FROM txlog.`$root` VERSION AS OF 1")
    assert(v1.columns.toSet === Set("part", "k", "v"))
    assert(v1.count() === 2L)
    // TIMESTAMP AS OF resolves through the commit clock
    assert(spark.sql(s"SELECT * FROM txlog.`$root` TIMESTAMP AS OF " +
      s"timestamp_millis(${t1}L)").count() === 2L)
    // INSERT INTO appends transactionally under the recorded partitioning
    // (Spark's INSERT: positional unless BY NAME)
    spark.sql(
      s"INSERT INTO txlog.`$root` BY NAME SELECT 'c' AS part, 3L AS k, " +
        "CAST(30.0 AS DOUBLE) AS amount")
    assert(TxLog.currentVersion(spark, root) === 4L)
    assert(spark.sql(s"SELECT SUM(amount) FROM txlog.`$root`")
      .head.getDouble(0) === 50.0)
  }

  test("OPTIMIZE runs the maintenance bundle: dv-aware bin-pack + " +
      "checkpoint + expiry + vacuum in one statement") {
    val root = freshRoot("optimize")
    import spark.implicits._
    // two small files in one partition → the bundle packs them
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "opt-b1")
    TxLog.appendBatchTx(Seq(("a", 2L)).toDF("part", "k"), root, "part",
      "opt-b2")
    val rep = spark.sql(s"OPTIMIZE txlog.`$root`").head
    assert(rep.getAs[Long]("files_packed") === 2L, rep.toString)
    assert(TxLog.snapshot(spark, root).parts("a").size === 1)
    assert(spark.sql(s"SELECT COUNT(*) FROM txlog.`$root`")
      .head.getLong(0) === 2L)
    // SMALLFILES 1 → nothing qualifies, idempotent no-op
    val rep2 = spark.sql(s"OPTIMIZE txlog.`$root` SMALLFILES 1").head
    assert(rep2.getAs[Long]("files_packed") === 0L)
  }

  test("CONVERT TO TXLOG adopts a plain Hive-partitioned parquet dir in " +
      "place — zero copy, every front door live from version 1") {
    val root = freshRoot("convert")
    import spark.implicits._
    // a PLAIN parquet write (no log): composite partitioning, two batches
    Seq(("a", 1, 1L, 10.0), ("a", 2, 2L, 20.0), ("b", 1, 3L, 30.0))
      .toDF("p1", "p2", "k", "v")
      .write.partitionBy("p1", "p2").parquet(root)
    val v = spark.sql(
      s"CONVERT TO TXLOG parquet.`$root` PARTITIONED BY (p1, p2)")
      .head.getLong(0)
    assert(v === 1L)
    // content adopted exactly; partition types discovered (p2 is int)
    val df = TxLog.readTable(spark, root)
    assert(df.count() === 3L)
    assert(df.schema("p2").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(df.agg(sum("v")).head.getDouble(0) === 60.0)
    // stats recorded: metadata-only count answers without a scan
    assert(TxLog.countRows(spark, root) === Some(3L))
    // the full machinery works on the adopted table: DML + time travel
    spark.sql(s"DELETE FROM txlog.`$root` WHERE k = 2")
    assert(spark.sql(s"SELECT COUNT(*) FROM txlog.`$root`")
      .head.getLong(0) === 2L)
    assert(spark.sql(s"SELECT COUNT(*) FROM txlog.`$root` VERSION AS OF 1")
      .head.getLong(0) === 3L)
    // converting twice refuses loudly
    val err = intercept[IllegalArgumentException] {
      TxLog.convertParquetTx(spark, root, Seq("p1", "p2"))
    }
    assert(err.getMessage.contains("already carries"), err.getMessage)
  }

  test("OPTIMIZE ZORDER BY rewrites the layout; SHOW PARTITIONS lists " +
      "the live keys") {
    val root = freshRoot("zorder-sql")
    import spark.implicits._
    val df = spark.range(512).select(
      lit("p").as("part"),
      (col("id") % 16).as("k1"),
      (col("id") / 16).cast("long").as("k2"))
    TxLog.appendBatchTx(df, root, "part", "zs-b1")
    val v = spark.sql(
      s"OPTIMIZE txlog.`$root` ZORDER BY (k1, k2) FILES 8").head.getLong(0)
    assert(v === 2L)
    // content bit-identical through the rewrite
    assert(spark.sql(s"SELECT SUM(k1 + k2 * 16) FROM txlog.`$root`")
      .head.getLong(0) === (0L until 512L).sum)
    assert(TxLog.snapshot(spark, root).parts("p").size >= 4)
    val parts = spark.sql(s"SHOW PARTITIONS txlog.`$root`")
      .collect().map(_.getString(0)).toSeq
    assert(parts === Seq("p"))
  }

  test("CASE WHEN ... THEN ... END inside SET expressions and clause " +
      "conditions does not break the MERGE clause boundaries") {
    val root = freshRoot("case-when")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("a", 2L, 200.0)).toDF("part", "k", "v"),
      root, "part", "cw-b1")
    Seq(("a", 1L, 50.0), ("a", 2L, 5.0)).toDF("part", "k", "v")
      .createOrReplaceTempView("cw_src")
    // both the clause CONDITION and the SET expression carry an unparenthesized
    // CASE ... WHEN ... THEN ... END — its keywords must not terminate the span
    spark.sql(
      s"""MERGE INTO txlog.`$root` t USING cw_src s ON t.k = s.k
         |WHEN MATCHED AND CASE WHEN t.v > 100 THEN false ELSE true END
         |  THEN UPDATE SET v = CASE WHEN s.v > t.v THEN s.v ELSE t.v END
         |WHEN MATCHED THEN DELETE""".stripMargin)
    val got = TxLog.readTable(spark, root).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // k=1: condition true (10 ≤ 100) → v = max(50, 10) = 50;
    // k=2: condition false (200 > 100) → second clause → DELETE
    assert(got === Map(1L -> 50.0))
    // UPDATE's WHERE span also survives an embedded CASE
    spark.sql(s"UPDATE txlog.`$root` SET v = v + 1 " +
      "WHERE CASE WHEN k = 1 THEN true ELSE false END")
    assert(TxLog.readTable(spark, root).head.getAs[Double]("v") === 51.0)
  }

  test("a CONVERTED table composes with the full machinery: rename, dv " +
      "delete, payload checkpoint, restore") {
    val root = freshRoot("convert-compose")
    import spark.implicits._
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
    try {
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
        .toDF("part", "k", "v").write.partitionBy("part").parquet(root)
      TxLog.convertParquetTx(spark, root, Seq("part"))               // v1
      TxLog.renameColumnTx(spark, root, "v", "amount")               // v2
      val (_, nDel) = TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
      assert(nDel === 1L)                                            // v3
      TxLog.checkpoint(spark, root) // adopted files cross to payload
      assert(TxLog.readTable(spark, root).select("k", "amount")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
        Map(1L -> 10.0, 3L -> 30.0))
      assert(TxLog.countRows(spark, root) === Some(2L))
      // restore on the converted+crossed table (payload rewrite path)
      assert(TxLog.restoreTx(spark, root, 3L) === 4L)
      assert(TxLog.readTable(spark, root).count() === 2L)
      // the adopted files themselves survive maintenance
      assert(TxLog.vacuum(spark, root, minAgeMs = 0L) >= 0)
      assert(TxLog.readTable(spark, root).count() === 2L)
    } finally {
      spark.conf.unset("graft.txlog.chkParquetMin")
      spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("non-txlog SQL delegates untouched; malformed txlog DML is loud") {
    import spark.implicits._
    // ordinary statements keep working through the wrapped parser
    assert(spark.sql("SELECT 1 AS one").head.getInt(0) === 1)
    Seq((1, "x")).toDF("id", "s").createOrReplaceTempView("plain_view")
    assert(spark.sql("SELECT COUNT(*) FROM plain_view").head.getLong(0) === 1L)
    // malformed DML on a txlog table is Spark's own parse error
    val err = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("DELETE FRM txlog.`/tmp/nope`")
    }
    assert(err.getMessage.contains("PARSE_SYNTAX_ERROR"), err.getMessage)
    // a malformed statement on one of graft's own verbs is OUR error
    val root = freshRoot("malformed")
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "mf-b1")
    val own = intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE txlog.`$root` SMALLFILES lots")
    }
    assert(own.getMessage.contains("txlog SQL: SMALLFILES needs a byte " +
      "count"), own.getMessage)
  }

  test("the claim pre-filter is TARGET-position based: a txlog ref in a " +
      "MERGE source or a string literal delegates to Spark") {
    import spark.implicits._
    Seq((1L, "x")).toDF("k", "s").createOrReplaceTempView("claim_tgt")
    // MERGE into a NON-txlog target USING a txlog source: not ours —
    // Spark owns the statement (and its error), never our txTable refusal
    val e1 = intercept[Exception] {
      spark.sql("MERGE INTO claim_tgt t USING (SELECT * FROM " +
        "txlog.`/tmp/none`) s ON t.k = s.k WHEN MATCHED THEN DELETE")
    }
    assert(!e1.getMessage.contains("txlog SQL:"), e1.getMessage)
    // an UPDATE whose STRING LITERAL mentions txlog.`…` delegates too
    val e2 = intercept[Exception] {
      spark.sql("UPDATE claim_tgt SET s = 'see txlog.`/tmp/none`'")
    }
    assert(!e2.getMessage.contains("txlog SQL:"), e2.getMessage)
    // an unbalanced '(' in MERGE is Spark's parse error
    val e3 = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("MERGE INTO txlog.`/tmp/none` t USING (SELECT 1 AS k " +
        "s ON t.k = s.k WHEN MATCHED THEN DELETE")
    }
    assert(e3.getMessage.contains("PARSE_SYNTAX_ERROR"), e3.getMessage)
    // ... and in a claimed statement it fails LOUDLY instead of spinning
    // forever past the end of the token stream
    val root = freshRoot("claim")
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "cl-b1")
    val e4 = intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE txlog.`$root` ADD CONSTRAINT c CHECK (k > 0")
    }
    assert(e4.getMessage.contains("unbalanced '('"), e4.getMessage)
  }

  test("ALTER TABLE: RENAME COLUMN / DROP COLUMN / ADD CONSTRAINT CHECK " +
      "/ DROP CONSTRAINT route to the DDL front doors") {
    val root = freshRoot("alter")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0, "keep"), ("b", 2L, 20.0, "keep"))
        .toDF("part", "k", "v", "extra"),
      root, "part", "alter-b1")                                      // v1
    // RENAME: metadata-only, data reads under the new name
    spark.sql(s"ALTER TABLE txlog.`$root` RENAME COLUMN v TO amount")
    assert(TxLog.readTable(spark, root).columns.contains("amount"))
    // ADD CONSTRAINT: existing rows validate; later violating writes refuse
    spark.sql(s"ALTER TABLE txlog.`$root` ADD CONSTRAINT amt_pos " +
      "CHECK (amount > 0)")
    assert(TxLog.tableConstraints(spark, root).contains("amt_pos"))
    val bad = intercept[IllegalArgumentException] {
      TxLog.appendBatchTx(Seq(("a", 9L, -5.0, "x"))
        .toDF("part", "k", "amount", "extra"), root, "part", "alter-bad")
    }
    assert(bad.getMessage.contains("amt_pos"), bad.getMessage)
    // a constraint violated by EXISTING rows refuses loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE txlog.`$root` ADD CONSTRAINT impossible " +
        "CHECK (amount > 1000)")
    }
    assert(e.getMessage.contains("violate"), e.getMessage)
    // DROP CONSTRAINT then the violating write lands
    spark.sql(s"ALTER TABLE txlog.`$root` DROP CONSTRAINT amt_pos")
    TxLog.appendBatchTx(Seq(("a", 9L, -5.0, "x"))
      .toDF("part", "k", "amount", "extra"), root, "part", "alter-b2")
    // DROP COLUMN tombstones the physical name
    spark.sql(s"ALTER TABLE txlog.`$root` DROP COLUMN extra")
    val cols = TxLog.readTable(spark, root).columns.toSeq
    assert(!cols.contains("extra"), cols.mkString(", "))
    assert(TxLog.readTable(spark, root).count() === 3L)
    // ADD COLUMN: declared ahead of data, NULL-backfilled, typed
    spark.sql(s"ALTER TABLE txlog.`$root` ADD COLUMN score DECIMAL(10,2)")
    val t = TxLog.readTable(spark, root)
    assert(t.columns.contains("score") &&
      t.schema("score").dataType ===
        org.apache.spark.sql.types.DecimalType(10, 2))
    assert(t.filter(org.apache.spark.sql.functions.col("score")
      .isNotNull).isEmpty)
    // ADD COLUMNS (...): one statement, ONE commit, N columns
    val vBefore = TxLog.currentVersion(spark, root)
    spark.sql(s"ALTER TABLE txlog.`$root` ADD COLUMNS " +
      "(tag STRING, weights ARRAY<DOUBLE>)")
    assert(TxLog.currentVersion(spark, root) === vBefore + 1)
    val cols2 = TxLog.readTable(spark, root).columns.toSeq
    assert(cols2.contains("tag") && cols2.contains("weights"))
    // a missing type and a malformed ALTER are Spark's parse errors;
    // non-txlog ALTER delegates
    val mt = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"ALTER TABLE txlog.`$root` ADD COLUMN naked")
    }
    assert(mt.getMessage.contains("PARSE_SYNTAX_ERROR"), mt.getMessage)
    val m = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"ALTER TABLE txlog.`$root` FROB COLUMN k")
    }
    assert(m.getMessage.contains("PARSE_SYNTAX_ERROR"), m.getMessage)
    val d = intercept[Exception] {
      spark.sql("ALTER TABLE not_a_real_table RENAME COLUMN a TO b")
    }
    assert(!d.getMessage.contains("txlog SQL"), d.getMessage)
    val d2 = intercept[Exception] {
      spark.sql("ALTER TABLE not_a_real_table ADD COLUMN a INT")
    }
    assert(!d2.getMessage.contains("txlog SQL"), d2.getMessage)
  }

  test("CONVERT validates BEFORE any rename: a malformed dir refuses " +
      "with the original layout untouched") {
    import spark.implicits._
    val root = freshRoot("convert-bad")
    // level 0 is fine, level 1 is NOT the declared second column
    Seq((1L, "a", "x", 1.0), (2L, "b", "y", 2.0)).toDF("k", "p1", "p2", "v")
      .write.partitionBy("p1", "p2").parquet(root)
    val before = spark.read.parquet(root).orderBy("k").collect().toSeq
    val e = intercept[Exception] {
      spark.sql(s"CONVERT TO TXLOG parquet.`$root` PARTITIONED BY (p1, zz)")
    }
    assert(e.getMessage.contains("zz=<value>") ||
      e.getMessage.contains("not Hive-partitioned"), e.getMessage)
    // the source dir is EXACTLY as it was: plain reads keep working, no
    // staging dir, no log
    assert(spark.read.parquet(root).orderBy("k").collect().toSeq === before)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_txlog")))
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith("data")),
      "no staging dir may remain after a refused conversion")
    // a wrong partition-column NAME at the top level refuses the same way
    val e2 = intercept[Exception] {
      spark.sql(s"CONVERT TO TXLOG parquet.`$root` PARTITIONED BY (nope)")
    }
    assert(e2.getMessage.contains("nope"), e2.getMessage)
    assert(spark.read.parquet(root).orderBy("k").collect().toSeq === before)
  }

  test("ALTER TABLE ... SET / UNSET TBLPROPERTIES on the path surface") {
    val root = freshRoot("tblprops")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "tp-b1")                                                       // v1
    // keys: quoted, dotted-unquoted and bare; values: quoted and bare
    spark.sql(s"ALTER TABLE txlog.`$root` SET TBLPROPERTIES (" +
      "'team.owner' = 'data-eng', graft.vacuum.retentionMs = '0', " +
      "tier = 'gold')")                                              // v2
    assert(TxLog.tableProperties(spark, root) === Map(
      "team.owner" -> "data-eng", "graft.vacuum.retentionMs" -> "0",
      "tier" -> "gold"))
    assert(spark.sql(s"DESCRIBE DETAIL txlog.`$root`").head
      .getAs[String]("properties").contains("team.owner=data-eng"))
    // UNSET removes; an absent key is an idempotent no-op
    spark.sql(s"ALTER TABLE txlog.`$root` UNSET TBLPROPERTIES " +
      "('tier', never.was)")                                         // v3
    assert(TxLog.tableProperties(spark, root) === Map(
      "team.owner" -> "data-eng", "graft.vacuum.retentionMs" -> "0"))
    // the property commits are real history rows (op "meta")
    assert(spark.sql(s"DESCRIBE HISTORY txlog.`$root`").count() === 3L)
    // SHOW TBLPROPERTIES on the path spelling: sorted key/value rows
    assert(spark.sql(s"SHOW TBLPROPERTIES txlog.`$root`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq === Seq(
      "graft.vacuum.retentionMs" -> "0", "team.owner" -> "data-eng"))
  }

  test("CREATE TABLE txlog.`path` (cols) PARTITIONED BY: the declared " +
      "schema is the first commit; IF NOT EXISTS is a no-op") {
    val root = freshRoot("createtbl")
    import spark.implicits._
    spark.sql(s"CREATE TABLE txlog.`$root` " +
      "(k BIGINT, v DOUBLE, part STRING) USING txlog " +
      "PARTITIONED BY (part) TBLPROPERTIES ('tier' = 'gold')")
    assert(TxLog.currentVersion(spark, root) === 1L)
    // the EMPTY table reads: zero rows, the declared columns
    val empty = spark.sql(s"SELECT * FROM txlog.`$root`")
    assert(empty.count() === 0L)
    assert(empty.columns.toSet === Set("k", "v", "part"))
    // properties rode the create commit; DDL works before any data
    assert(TxLog.tableProperties(spark, root) === Map("tier" -> "gold"))
    spark.sql(s"ALTER TABLE txlog.`$root` ADD COLUMN note STRING")  // v2
    // IF NOT EXISTS on an existing table: no-op, current version
    spark.sql(s"CREATE TABLE IF NOT EXISTS txlog.`$root` " +
      "(x INT, part STRING) PARTITIONED BY (part)")
    assert(TxLog.currentVersion(spark, root) === 2L)
    // bare CREATE on an existing table refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE txlog.`$root` (x INT, part STRING) " +
        "PARTITIONED BY (part)")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // the first writer is held to the declared contract: a batch that
    // LOST a declared column refuses at v1, not at the second write
    val bad = intercept[Exception] {
      TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
        "ct-bad")
    }
    assert(bad.getMessage.toLowerCase.contains("column"), bad.getMessage)
    // a conforming writer lands and reads back through the declared set
    TxLog.appendBatchTx(
      Seq((1L, 1.5, "a", "n1")).toDF("k", "v", "part", "note"),
      root, "part", "ct-b1")                                        // v3
    assert(spark.sql(s"SELECT k, v, part, note FROM txlog.`$root`")
      .collect().map(_.toSeq).toSeq === Seq(Seq(1L, 1.5, "a", "n1")))
    // time travel to the pre-data declaration: empty, pre-ADD columns
    val at1 = spark.read.format("txlog").option("versionAsOf", 1)
      .load(root)
    assert(at1.count() === 0L && at1.columns.toSet === Set("k", "v", "part"))
  }

  test("path CTAS, CREATE OR REPLACE and REPLACE TABLE spellings route " +
      "to the same front doors as the name surface") {
    val root = freshRoot("pathctas")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "part")
      .createOrReplaceTempView("pc_src")
    // path CTAS: the create commit (v1) + the data commit (v2)
    spark.sql(s"CREATE TABLE txlog.`$root` USING txlog " +
      "PARTITIONED BY (part) AS SELECT k, part FROM pc_src")
    assert(TxLog.currentVersion(spark, root) === 2L)
    assert(spark.sql(s"SELECT COUNT(*) FROM txlog.`$root`")
      .head.getLong(0) === 2L)
    // IF NOT EXISTS CTAS on an existing table: no-op, current version
    spark.sql(s"CREATE TABLE IF NOT EXISTS txlog.`$root` " +
      "PARTITIONED BY (part) AS SELECT k, part FROM pc_src")
    assert(TxLog.currentVersion(spark, root) === 2L)
    // CREATE OR REPLACE ... AS: ONE whole-table-state commit (new
    // schema, new rows, new properties; old rows must not merge)
    spark.sql(s"CREATE OR REPLACE TABLE txlog.`$root` " +
      "PARTITIONED BY (part) TBLPROPERTIES ('tier' = 'new') " +
      "AS SELECT 'z' AS part, 'n1' AS label")
    assert(TxLog.currentVersion(spark, root) === 3L)
    val now = spark.sql(s"SELECT * FROM txlog.`$root`")
    assert(now.columns.toSet === Set("part", "label") && now.count() === 1L)
    assert(TxLog.tableProperties(spark, root) === Map("tier" -> "new"))
    // bare REPLACE with declared columns: declared-schema-only
    spark.sql(s"REPLACE TABLE txlog.`$root` (x BIGINT, " +
      "part STRING) PARTITIONED BY (part)")
    assert(TxLog.currentVersion(spark, root) === 4L)
    val t = spark.sql(s"SELECT * FROM txlog.`$root`")
    assert(t.count() === 0L && t.columns.toSet === Set("x", "part"))
    // bare REPLACE of a missing table refuses; columns+AS refuses
    val e = intercept[Exception] {
      spark.sql(s"REPLACE TABLE txlog.`${freshRoot("pathctas-nope")}` " +
        "(x BIGINT, part STRING) PARTITIONED BY (part)")
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE txlog.`${freshRoot("pathctas-both")}` " +
        "(x BIGINT, part STRING) PARTITIONED BY (part) AS SELECT 1")
    }
    assert(e2.getMessage.contains("Schema may not be specified"),
      e2.getMessage)
  }

  test("MERGE schema evolution: autoEvolve widens the table first; the " +
      "default refuses a wider source") {
    val root = freshRoot("mergevolve")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0)).toDF("part", "k", "v"),
      root, "part", "me-b1")                                         // v1
    val wide = Seq(("a", 2L, 25.0, "gold"), ("b", 3L, 30.0, "silver"))
      .toDF("part", "k", "v", "tier")
    // safe default: a wider source refuses (a typo'd column must not
    // silently evolve the table)
    intercept[Exception] { TxLog.mergeKeyedTx(spark, root, wide, "k") }
    assert(TxLog.readTable(spark, root).columns.toSet ===
      Set("part", "k", "v"))
    // opt-in: ONE additive meta commit, then the merge
    TxLog.mergeKeyedTx(spark, root, wide, "k", autoEvolve = true)
    val t = TxLog.readTable(spark, root)
    assert(t.columns.toSet === Set("part", "k", "v", "tier"))
    assert(t.orderBy("k").collect().map(r =>
        (r.getAs[Long]("k"), r.getAs[Double]("v"),
          r.getAs[String]("tier"))).toSeq ===
      Seq((1L, 10.0, null), (2L, 25.0, "gold"), (3L, 30.0, "silver")),
      "unmatched rows NULL-backfill the evolved column")
    // the SQL surface opts in per statement (MERGE WITH SCHEMA EVOLUTION)
    Seq(("a", 1L, 11.0, "gold", "n1")).toDF("part", "k", "v", "tier",
      "note").createOrReplaceTempView("me_src")
    val vNoEvolve = TxLog.currentVersion(spark, root)
    val noEvolve = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"MERGE INTO txlog.`$root` t USING me_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(noEvolve.getMessage.contains("note"), noEvolve.getMessage)
    assert(TxLog.currentVersion(spark, root) === vNoEvolve)
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO txlog.`$root` t " +
      "USING me_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val t2 = TxLog.readTable(spark, root)
    assert(t2.columns.toSet === Set("part", "k", "v", "tier", "note"))
    assert(t2.filter(col("k") === 1L).head.getAs[String]("note") === "n1")
    assert(t2.filter(col("k") === 3L).head.getAs[String]("note") === null)
  }

  test("RESTORE TABLE ... TO TIMESTAMP AS OF: wall-clock keyed restore") {
    val root = freshRoot("restorets")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "rt-b1")                                                       // v1
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root, "part",
      "rt-b2")                                                       // v2
    // digits = epoch millis (the reader's timestampAsOf contract)
    val v = spark.sql(s"RESTORE TABLE txlog.`$root` TO TIMESTAMP AS OF " +
      s"'$between'").head.getLong(0)
    assert(v === 3L)
    assert(TxLog.readTable(spark, root).count() === 1L,
      "the wall-clock restore must reinstate the v1 content")
  }

  test("OPTIMIZE ... WHERE compacts only the selected partitions") {
    val root = freshRoot("optwhere")
    import spark.implicits._
    // 3 partitions × 2 small files each
    Seq("a", "b", "c").foreach { pv =>
      TxLog.appendBatchTx(Seq((pv, 1L)).toDF("part", "k"), root, "part",
        s"ow-$pv-1")
      TxLog.appendBatchTx(Seq((pv, 2L)).toDF("part", "k"), root, "part",
        s"ow-$pv-2")
    }
    def nFiles: Long = spark.sql(s"DESCRIBE DETAIL txlog.`$root`")
      .head.getAs[Long]("n_files")
    assert(nFiles === 6L)
    // equality form: only b compacts (2 files → 1)
    val row = spark.sql(s"OPTIMIZE txlog.`$root` WHERE part = 'b'").head
    assert(row.getAs[Long]("files_packed") >= 2L)
    assert(nFiles === 5L, "only the selected partition may compact")
    // range form: >= 'c' leaves a untouched
    spark.sql(s"OPTIMIZE txlog.`$root` WHERE part >= 'c'")
    assert(nFiles === 4L)
    assert(TxLog.readTable(spark, root).count() === 6L,
      "scoped compaction must not lose rows")
    // a still has its two original files; IN form picks it up
    spark.sql(s"OPTIMIZE txlog.`$root` WHERE part IN ('a', 'zz')")
    assert(nFiles === 3L)
    // a non-partition column refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"OPTIMIZE txlog.`$root` WHERE k = '1'")
    }
    assert(e.getMessage.contains("not a partition column"), e.getMessage)
  }

  test("VACUUM ... DRY RUN reports without reclaiming, on both " +
      "representations") {
    val root = freshRoot("vacdry")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "vd-b1")                                                       // v1
    TxLog.overwritePartitionsTx(Seq(("a", 2L)).toDF("part", "k"), root,
      "part")                                           // v2: orphans b1
    val dry = spark.sql(s"VACUUM txlog.`$root` RETAIN 0 HOURS DRY RUN")
      .head.getLong(0)
    assert(dry >= 1L, s"dry run must report the orphaned file ($dry)")
    // nothing was touched: time travel to v1 still reads its file
    assert(TxLog.readTableAt(spark, root, 1L).count() === 1L)
    // the wet run reclaims exactly what the dry run reported
    val wet = spark.sql(s"VACUUM txlog.`$root` RETAIN 0 HOURS")
      .head.getLong(0)
    assert(wet === dry, s"wet run reclaimed $wet, dry run reported $dry")
    // the PAYLOAD representation's distributed path honors dry-run too
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    try {
      TxLog.checkpoint(spark, root)
      TxLog.overwritePartitionsTx(Seq(("a", 3L)).toDF("part", "k"), root,
        "part")                                         // v3: orphans v2
      val dry2 = spark.sql(s"VACUUM txlog.`$root` RETAIN 0 HOURS DRY RUN")
        .head.getLong(0)
      assert(dry2 >= 1L)
      assert(spark.sql(s"VACUUM txlog.`$root` RETAIN 0 HOURS")
        .head.getLong(0) === dry2)
      assert(TxLog.readTable(spark, root).count() === 1L)
    } finally spark.conf.unset("graft.txlog.chkParquetMin")
  }

  // ---- one statement, both addresses: txlog.`root` and a catalog name --

  private lazy val sqlcat: Unit = {
    spark.conf.set("spark.sql.catalog.sqlcat", "graft.plans.TxCatalog")
    spark.conf.set("spark.sql.catalog.sqlcat.root", freshRoot("sqlcat-meta"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS sqlcat.ns")
  }

  /** Runs `body(tableName, root)` once on the path surface and once on a
    * [[graft.plans.TxCatalog]] name, each over a fresh (part, k, v) table
    * holding k = 1, 2 (part a) and 3 (part b). */
  private def onBothSurfaces(tag: String)(body: (String, String) => Unit)
      : Unit = {
    sqlcat
    import spark.implicits._
    Seq("path", "name").foreach { surface =>
      val root = freshRoot(s"$tag-$surface")
      TxLog.appendBatchTx(Seq(("a", 1L, 10.0), ("a", 2L, 20.0),
        ("b", 3L, 30.0)).toDF("part", "k", "v"), root, "part", s"$tag-b1")
      val name =
        if (surface == "path") s"txlog.`$root`"
        else {
          spark.sql(s"DROP TABLE IF EXISTS sqlcat.ns.$tag")
          spark.sql(s"CREATE TABLE sqlcat.ns.$tag USING txlog " +
            s"LOCATION '$root'")
          s"sqlcat.ns.$tag"
        }
      withClue(s"[$surface] ") { body(name, root) }
    }
  }

  private def kv(root: String): Map[Long, Double] =
    TxLog.readTable(spark, root).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("MERGE binds any alias, or none, and a USING (SELECT ...) source, " +
      "on both the path surface and a catalog name") {
    import spark.implicits._
    Seq(("a", 1L, 15.0), ("c", 4L, 40.0)).toDF("part", "k", "v")
      .createOrReplaceTempView("aa_src")
    onBothSurfaces("anyalias") { (t, root) =>
      spark.sql(s"MERGE INTO $t AS tgt USING aa_src AS src " +
        "ON tgt.k = src.k WHEN MATCHED AND src.v > tgt.v THEN UPDATE " +
        "SET v = src.v WHEN NOT MATCHED THEN INSERT *")
      assert(kv(root) === Map(1L -> 15.0, 2L -> 20.0, 3L -> 30.0,
        4L -> 40.0))
      // no aliases: the table's own name qualifies its columns
      spark.sql(s"MERGE INTO $t USING aa_src ON $t.k = aa_src.k " +
        s"WHEN MATCHED THEN UPDATE SET v = $t.v + aa_src.v")
      assert(kv(root) === Map(1L -> 30.0, 2L -> 20.0, 3L -> 30.0,
        4L -> 80.0))
      // a subquery source under its own alias
      spark.sql(s"MERGE INTO $t tgt USING (SELECT part, k, v FROM aa_src " +
        "WHERE k = 4) x ON tgt.k = x.k WHEN MATCHED THEN DELETE")
      assert(kv(root) === Map(1L -> 30.0, 2L -> 20.0, 3L -> 30.0))
    }
  }

  test("UPDATE / DELETE with an IN (SELECT ...) predicate on both " +
      "surfaces; a correlated subquery refuses before any commit") {
    import spark.implicits._
    Seq(2L, 3L).toDF("k").createOrReplaceTempView("in_keys")
    onBothSurfaces("insub") { (t, root) =>
      spark.sql(s"UPDATE $t SET v = v + 1 WHERE k IN (SELECT k FROM in_keys)")
      assert(kv(root) === Map(1L -> 10.0, 2L -> 21.0, 3L -> 31.0))
      spark.sql(s"DELETE FROM $t WHERE k IN " +
        "(SELECT k FROM in_keys WHERE k > 2)")
      assert(kv(root) === Map(1L -> 10.0, 2L -> 21.0))
      val v0 = TxLog.currentVersion(spark, root)
      val e = intercept[IllegalArgumentException] {
        spark.sql(s"DELETE FROM $t x WHERE EXISTS " +
          "(SELECT 1 FROM in_keys i WHERE i.k = x.k)")
      }
      assert(e.getMessage.contains("correlated subqueries"), e.getMessage)
      assert(TxLog.currentVersion(spark, root) === v0)
    }
  }

  test("a two-column or non-equi ON, a SET on a partition column and a " +
      "non-* INSERT refuse on both surfaces with no new version") {
    import spark.implicits._
    Seq(("a", 1L, 99.0)).toDF("part", "k", "v")
      .createOrReplaceTempView("rf_src")
    onBothSurfaces("refuse") { (t, root) =>
      val versions = spark.sql(s"DESCRIBE HISTORY $t").count()
      def refused(stmt: String, msg: String): Unit = {
        val e = intercept[IllegalArgumentException](spark.sql(stmt))
        assert(e.getMessage.contains(msg), e.getMessage)
        assert(spark.sql(s"DESCRIBE HISTORY $t").count() === versions)
      }
      refused(s"MERGE INTO $t tgt USING rf_src s ON tgt.k = s.k AND " +
        "tgt.part = s.part WHEN MATCHED THEN DELETE", "single equi-key")
      refused(s"MERGE INTO $t tgt USING rf_src s ON tgt.k < s.k " +
        "WHEN MATCHED THEN DELETE", "single equi-key")
      refused(s"MERGE INTO $t tgt USING rf_src s ON tgt.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET part = 'z'", "partition column")
      refused(s"UPDATE $t SET part = 'z' WHERE k = 1", "partition column")
      refused(s"MERGE INTO $t tgt USING rf_src s ON tgt.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (part, k, v) VALUES (s.part, s.k, 0.0)",
        "INSERT * only")
      assert(kv(root) === Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    }
  }

  test("Spark's grammar owns MERGE / UPDATE / DELETE / ALTER / CREATE / " +
      "INSERT on txlog tables: parsePlan returns Spark's node, never " +
      "graft's command") {
    import org.apache.spark.sql.catalyst.plans.logical._
    val t = "txlog.`/tmp/graft-txsql/parse`"
    Seq[(String, Class[_])](
      s"MERGE INTO $t USING s ON $t.k = s.k WHEN MATCHED THEN DELETE" ->
        classOf[MergeIntoTable],
      s"MERGE WITH SCHEMA EVOLUTION INTO $t USING s ON $t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *" -> classOf[MergeIntoTable],
      s"UPDATE $t SET v = 1 WHERE k = 2" -> classOf[UpdateTable],
      s"DELETE FROM $t WHERE k = 1" -> classOf[DeleteFromTable],
      s"ALTER TABLE $t ADD COLUMNS (c INT)" -> classOf[AddColumns],
      s"ALTER TABLE $t RENAME COLUMN a TO b" -> classOf[RenameColumn],
      s"ALTER TABLE $t DROP COLUMN a" -> classOf[DropColumns],
      s"ALTER TABLE $t SET TBLPROPERTIES ('a' = 'b')" ->
        classOf[SetTableProperties],
      s"ALTER TABLE $t UNSET TBLPROPERTIES ('a')" ->
        classOf[UnsetTableProperties],
      s"CREATE TABLE $t (k INT, p STRING) PARTITIONED BY (p)" ->
        classOf[CreateTable],
      s"CREATE TABLE $t PARTITIONED BY (p) AS SELECT 1 AS k, 'x' AS p" ->
        classOf[CreateTableAsSelect],
      s"REPLACE TABLE $t (k INT, p STRING) PARTITIONED BY (p)" ->
        classOf[ReplaceTable],
      s"CREATE OR REPLACE TABLE $t PARTITIONED BY (p) AS SELECT 1 AS k" ->
        classOf[ReplaceTableAsSelect],
      s"INSERT INTO $t SELECT 1" -> classOf[InsertIntoStatement],
      s"SHOW TBLPROPERTIES $t" -> classOf[ShowTableProperties]
    ).foreach { case (sql, cls) =>
      val plan = spark.sessionState.sqlParser.parsePlan(sql)
      assert(cls.isInstance(plan) && !plan.isInstanceOf[graft.plans.TxSqlCommand],
        s"$sql parsed to ${plan.getClass.getName}")
    }
  }
}
