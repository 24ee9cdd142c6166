package graft

import graft.sources.TxLog
import graft.tools.PlanCheck
import org.apache.spark.sql.functions._

/** The batch DSv2 front door: `spark.read.format("txlog").load(root)`
  * must serve EXACTLY `readTable` semantics — column mapping applied,
  * deletion vectors filtered, TxFileIndex partition pruning live, time
  * travel via options — because a bare relation that bypassed any of
  * those would silently serve wrong (or dead) rows. */
class TxBatchReadSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txbatch/$tag"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  test("bare format read equals readTable on a renamed + dv'd + " +
      "composite-partitioned table, with live partition pruning") {
    val root = freshRoot("full")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", "x", 1L, 10.0), ("a", "y", 2L, 20.0),
          ("b", "x", 3L, 30.0), ("b", "y", 4L, 40.0))
        .toDF("p1", "p2", "k", "v"),
      root, Seq("p1", "p2"), "tbr-b1")
    TxLog.renameColumnTx(spark, root, "v", "amount")
    val (_, nDel) = TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
    assert(nDel === 1L)

    val bare = spark.read.format("txlog").load(root)
    assert(bare.columns.toSeq === Seq("k", "amount", "p1", "p2"))
    val viaApi = TxLog.readTable(spark, root)
    assert(bare.orderBy("k").collect().toSeq ===
      viaApi.orderBy("k").collect().toSeq)
    // the dv'd row is gone through the bare path too
    assert(bare.select("k").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L, 4L))
    // partition pruning reaches the TxFileIndex: a p1 filter must open
    // only that partition's files (real executed-plan metrics)
    val all = PlanCheck.dataFilesRead(bare)
    val pruned = PlanCheck.dataFilesRead(
      spark.read.format("txlog").load(root).filter(col("p1") === "a"))
    assert(pruned < all, s"pruned=$pruned all=$all")
    // column pruning + filter pushdown survive to the scan
    val plan = bare.select("k").filter(col("k") > 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      plan)
  }

  test("versionAsOf / timestampAsOf options match readTableAt " +
      "boundaries, schema as of the pinned version included") {
    val root = freshRoot("tt")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L, 10.0)).toDF("part", "k", "v"),
      root, "part", "tt-b1")                                         // v1
    val t1 = TxLog.history(spark, root).collect().head.getLong(12)
    Thread.sleep(20)
    TxLog.renameColumnTx(spark, root, "v", "amount")                 // v2
    TxLog.appendBatchTx(Seq(("b", 2L, 20.0)).toDF("part", "k", "amount"),
      root, "part", "tt-b2")                                         // v3
    val v1 = spark.read.format("txlog").option("versionAsOf", "1")
      .load(root)
    // the PRE-RENAME schema serves at v1
    assert(v1.columns.toSet === Set("part", "k", "v"))
    assert(v1.collect().toSeq ===
      TxLog.readTableAt(spark, root, 1L).collect().toSeq)
    val byTs = spark.read.format("txlog")
      .option("timestampAsOf", t1.toString).load(root)
    assert(byTs.columns.toSet === Set("part", "k", "v"))
    assert(byTs.count() === 1L)
    // current read serves the renamed schema and both rows
    val now = spark.read.format("txlog").load(root)
    assert(now.columns.toSet === Set("part", "k", "amount"))
    assert(now.count() === 2L)
  }

  test("readChangeFeed option serves the batch CDF window; an empty " +
      "window is an empty frame, not an error") {
    val root = freshRoot("cdf")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "cdf-b1")                                                      // v1
    TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root, "part",
      "cdf-b2")                                                      // v2
    val feed = spark.read.format("txlog")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(root)
    val got = feed.select("k", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet === Set((2L, "insert", 2L)))
    val empty = spark.read.format("txlog")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .load(root)
    assert(empty.count() === 0L)
    assert(empty.columns.contains("_change_type"))
  }

  test("table_changes TVF serves the same window as the options form; " +
      "an empty window is an empty frame; a non-txlog table is a loud " +
      "error") {
    val root = freshRoot("tvf")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
        .toDF("part", "k", "v"),
      root, "part", "tvf-b1")                                        // v1
    TxLog.mergeKeyedTx(spark,
      root, Seq(("a", 2L, 200.0), ("b", 4L, 40.0)).toDF("part", "k", "v"),
      "k", changeFeed = true)                                        // v2
    TxLog.deleteWhereTx(spark, root, col("k") === 1L,
      changeFeed = true)                                             // v3
    // both spellings of the first argument work
    val viaTvf = spark.sql(
      s"SELECT * FROM table_changes('txlog.`$root`', 1, 3)")
    val viaOpt = spark.read.format("txlog")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("endingVersion", "3").load(root)
    assert(viaTvf.orderBy("_commit_version", "_change_type", "k")
      .collect().toSeq ===
      viaOpt.orderBy("_commit_version", "_change_type", "k")
        .collect().toSeq)
    val classes = viaTvf.select("_change_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(classes === Set("insert", "delete", "update_preimage",
      "update_postimage"), classes.toString)
    // empty window: empty frame WITH the feed schema
    val empty = spark.sql(s"SELECT * FROM table_changes('$root', 3)")
    assert(empty.isEmpty)
    assert(empty.columns.contains("_change_type") &&
      empty.columns.contains("_commit_version"))
    // table_changes is graft's registered table function: a first
    // argument naming no txlog table refuses, naming the spellings
    val e = intercept[RuntimeException] {
      spark.sql("SELECT * FROM table_changes('not_a_path', 1)")
    }
    assert(e.getMessage.contains("the first argument names a txlog " +
      "table"), e.getMessage)
  }

  test("a CAPPED change-feed window replays the column mapping AS OF " +
      "the cap — a later rename must not leak into the declared schema") {
    val root = freshRoot("cdfcap")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L, 10.0)).toDF("part", "k", "v"),
      root, "part", "cap-b1")                                        // v1
    TxLog.appendBatchTx(Seq(("b", 2L, 20.0)).toDF("part", "k", "v"),
      root, "part", "cap-b2")                                        // v2
    TxLog.renameColumnTx(spark, root, "v", "amount")                 // v3
    // options form, capped before the rename: as-of-cap names, both
    // appends as insert rows
    val capped = spark.read.format("txlog")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", "2")
      .load(root)
    assert(capped.columns.toSeq ===
      Seq("k", "v", "part", "_change_type", "_commit_version"))
    assert(capped.count() === 2L)
    // the TVF form agrees
    assert(spark.sql(s"SELECT * FROM table_changes('$root', 0, 2)")
      .columns.toSeq === capped.columns.toSeq)
    // the UNCAPPED window serves the CURRENT (end-mapping) names
    val open = spark.read.format("txlog")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(root)
    assert(open.columns.contains("amount") && !open.columns.contains("v"),
      open.columns.mkString(","))
    assert(open.count() === 2L)
    // an EMPTY capped window declares the schema as of the cap too —
    // the fallback frame must not leak the post-cap rename
    val emptyCapped = spark.sql(
      s"SELECT * FROM table_changes('$root', 2, 2)")
    assert(emptyCapped.isEmpty)
    assert(emptyCapped.columns.toSeq ===
      Seq("k", "v", "part", "_change_type", "_commit_version"),
      emptyCapped.columns.mkString(","))
  }
}
