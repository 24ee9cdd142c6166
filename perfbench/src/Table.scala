package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.TxLog

/** The table_ops workload: one client owns one TxLog table seeded from
  * `lineitem` and partitioned by `l_returnflag` (the test data carries no
  * `l_shipmode`). Rows are keyed by `k`, the row's index in the lineitem
  * file, so a DuckDB replay of the op log can rebuild every state.
  *
  * A pass runs the ten op types in one fixed order, so every pass does
  * the same work; the seed picks the appended slices and every key range.
  * Two appends per pass leave two small files per partition for
  * `compact`. `cdc_drain` streams the appends since the previous drain
  * into the downstream table; draining before any rewrite keeps the
  * appended files live at the window end, which makes the downstream
  * table exactly the union of all appended batches. */
final class TableWorkload(run: Run) extends Workload {
  import run._

  val nominalPassS = 6.0

  private val root = s"$out/table/src"
  private val down = s"$out/table/down"
  private val checkpoint = s"$out/table/drain_checkpoint"
  private val part = "l_returnflag"
  private val seedRows = 200000L
  private val appendRows = 2000L
  private val lineitemRows = 600000L
  private val appendOrder = new scala.util.Random(seed * 31 + 1)
    .shuffle((0L until (lineitemRows - seedRows) / appendRows).toVector)
  private val rnd = new scala.util.Random(seed * 31 + 2)
  // files under this size are compacted; seed files stay above it
  private val smallBytes = 128L << 10
  // read_asof reads this many versions behind the head
  private val asofLag = 3L

  private var li: DataFrame = _
  private var version = -1L
  private var seedVersion = -1L
  private var appends = 0
  private var merges = 0
  private var curPass = -2
  private val log = ArrayBuffer.empty[Map[String, Any]]
  private val commitsByPass = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private var warmAddedRows = 0L
  /** (files, bytes) under both roots when each pass started. */
  private val storageAt = mutable.Map.empty[Int, (Long, Long)]
  private val pointLive = ArrayBuffer.empty[(Double, Long)]
  private var finals = Map.empty[String, Long]

  private def slice(lo: Long, hi: Long): DataFrame =
    li.filter(col("k") >= lo && col("k") < hi)

  private def record(op: String, published: Long, params: (String, Any)*): Unit = {
    if (published > version) {
      version = published
      commitsByPass(curPass) += 1
    }
    log += (Map("op" -> op, "version" -> published, "pass" -> curPass) ++ params)
  }

  private def readOp(name: String)(df: => DataFrame): Unit =
    materialize(name, tracer.span("txlog", "snapshot")(df))

  private val ops: Map[String, () => Unit] = Map(
    "append" -> (() => {
      require(appends < appendOrder.size, "append slices exhausted")
      val lo = seedRows + appendOrder(appends) * appendRows
      val v = TxLog.appendBatchTx(slice(lo, lo + appendRows), root, part, s"append-$appends")
      appends += 1
      record("append", v, "lo" -> lo, "hi" -> (lo + appendRows))
    }),
    "cdc_drain" -> (() => {
      val q = spark.readStream.format("txlog")
        .option("skipNonAppend", "true")
        .option("startingVersion", seedVersion.toString)
        .load(root)
        .writeStream.format("txlog")
        .option("checkpointLocation", checkpoint)
        .partitionBy(part)
        .trigger(Trigger.AvailableNow())
        .start(down)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      log += Map("op" -> "cdc_drain", "pass" -> curPass)
    }),
    "merge" -> (() => {
      val b = rnd.nextLong(seedRows - 500)
      val c = rnd.nextLong(seedRows - 500)
      val offset = (merges + 1) * 1000000000L
      merges += 1
      val source = slice(b, b + 500).withColumn("l_quantity", col("l_quantity") + 100)
        .unionByName(slice(c, c + 500).withColumn("k", col("k") + offset))
      record("merge", TxLog.mergeKeyedTx(spark, root, source, "k"),
        "b" -> b, "c" -> c, "offset" -> offset)
    }),
    "update" -> (() => {
      val lo = rnd.nextLong(seedRows - 1000)
      val (v, _) = TxLog.updateWhereTx(spark, root, col("k").between(lo, lo + 999),
        Map("l_quantity" -> (col("l_quantity") + 1)))
      record("update", v, "lo" -> lo, "hi" -> (lo + 999))
    }),
    "delete" -> (() => {
      val lo = rnd.nextLong(seedRows - 300)
      val (v, _) = TxLog.deleteWhereDvTx(spark, root, col("k").between(lo, lo + 299))
      record("delete", v, "lo" -> lo, "hi" -> (lo + 299))
    }),
    "compact" -> (() => {
      val (v, _) = TxLog.compactBinPackTx(spark, root, part, smallBytes)
      record("compact", v)
    }),
    "read_full" -> (() => readOp("read_full")(TxLog.readTable(spark, root))),
    "read_point" -> (() => {
      val lo = rnd.nextLong(lineitemRows - 1000)
      readOp("read_point")(TxLog.readTable(spark, root).filter(col("k").between(lo, lo + 999)))
      if (tracer.on) pointLive += ((tracer.now, liveFiles()))
    }),
    "read_asof" -> (() => {
      val v = math.max(seedVersion, version - asofLag)
      readOp("read_asof")(TxLog.readTableAt(spark, root, v))
    }),
    "history" -> (() => readOp("history")(TxLog.history(spark, root))))

  private val order: Seq[String] = Seq("append", "read_point", "append", "cdc_drain",
    "compact", "merge", "read_full", "update", "delete", "read_asof", "history")

  private def kind(op: String): String =
    if (op.startsWith("read_") || op == "history") "read" else "commit"

  private def liveFiles(): Long = TxLog.snapshot(spark, root).parts.valuesIterator.map(_.size).sum

  private def liveRows(): Map[String, Long] = TxLog.snapshot(spark, root).rows

  /** (files, bytes) under both table roots. */
  private def storage(): (Long, Long) = {
    val fs = Seq(root, down).map(Paths.get(_)).filter(Files.exists(_))
      .flatMap(p => Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).toSeq)
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  private def bytesUnder(p: Path): Long =
    Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def setup(): Unit = {
    li = spark.read.parquet(s"$data/lineitem.parquet")
      .select(col("_metadata.row_index").as("k"), col("*"))
      .cache()
    li.count()
    seedVersion = TxLog.appendBatchTx(slice(0, seedRows), root, part, "seed")
    version = seedVersion
    // the warm-up pass also counts the rows written per op for
    // rewrite_amp (same op count on every run)
    pass(-1).foreach { op =>
      val before = liveRows()
      untimed(s"table_ops.${op.name}")(op.run())
      warmAddedRows += liveRows().collect { case (f, n) if !before.contains(f) => n }.sum
    }
  }

  def pass(p: Int): Seq[Op] = {
    storageAt(p) = storage()
    order.map(name => Op(name, kind(name), () => { curPass = p; ops(name)() }))
  }

  def finish(): Unit = {
    storageAt(curPass + 1) = storage()
    val asof = seedVersion + new scala.util.Random(seed * 31 + 3).nextLong(version - seedVersion + 1)
    untimed("table_ops.dump") {
      TxLog.readTable(spark, root).write.mode("overwrite").parquet(s"$out/dump/final")
      TxLog.readTable(spark, down).write.mode("overwrite").parquet(s"$out/dump/down")
      TxLog.readTableAt(spark, root, asof).write.mode("overwrite").parquet(s"$out/dump/asof")
      val snap = TxLog.snapshot(spark, root)
      val live = snap.parts.valuesIterator.flatten.map(f => Files.size(Paths.get(root, f))).sum
      val logNames = Files.list(Paths.get(root, "_txlog")).iterator.asScala
        .map(_.getFileName.toString).toSeq
      finals = Map(
        "asof_version" -> asof,
        "table_bytes" -> bytesUnder(Paths.get(root)),
        "live_bytes" -> live,
        "live_files" -> snap.parts.valuesIterator.map(_.size).sum.toLong,
        "log_files" -> logNames.count(_.matches("""v\d{20}\.txn""")).toLong,
        "checkpoints" -> logNames.count(_.matches("""c\d{20}\.chk""")).toLong)
    }
  }

  def report: Map[String, Any] = finals ++ Map(
    "log" -> log,
    "seed_rows" -> seedRows,
    "seed_version" -> seedVersion,
    "warm_added_rows" -> warmAddedRows)

  def layers(opSpans: Seq[(OpRec, Span)], jobs: Seq[Span], traced: Seq[Int]): Map[String, Double] = {
    val n = traced.size.toDouble
    val byName = opSpans.groupBy(_._1.name)
    def jobsIn(s: Span): Double =
      Tracer.covered(jobs.filter(_.op == s.op).map(j => (j.start, j.end)), s.start, s.end)
    val perOp = byName.flatMap { case (name, rs) =>
      Seq(s"txlog.$name.ms" -> Harness.median(rs.map(_._1.ms))) ++
        (if (kind(name) == "commit")
          Seq(s"txlog.$name.driver_ms" -> Harness.median(rs.map { case (_, s) => s.ms - jobsIn(s) }))
        else Nil)
    }
    val spans = tracer.synchronized(tracer.spans.toSeq)
    val snapshots = spans.filter(s => s.layer == "txlog" && s.name == "snapshot").map(_.ms)
    val commits = traced.map(commitsByPass).sum
    val triggers = spans.filter(_.layer == "stream")
    val startMs = byName.getOrElse("cdc_drain", Nil).flatMap { case (_, d) =>
      triggers.filter(t => t.start >= d.start - 2 && t.start <= d.end).map(_.start).minOption
        .map(_ - d.start)
    }
    val scans = tracer.synchronized(tracer.scanFiles.toSeq)
    val ratio = byName.getOrElse("read_point", Nil).flatMap { case (_, o) =>
      val files = scans.filter { case (t, _) => t >= o.start && t <= o.end }.map(_._2).sum
      pointLive.find { case (t, _) => t >= o.start }.map { case (_, live) => files.toDouble / live }
    }
    val created = traced.map(p => (storageAt(p + 1)._1 - storageAt(p)._1,
      storageAt(p + 1)._2 - storageAt(p)._2))
    def fin(k: String): Double = finals.get(k).map(_.toDouble).getOrElse(Double.NaN)
    perOp ++ Map(
      "txlog.snapshot_ms" -> Harness.median(snapshots),
      "txlog.commits_per_pass" -> commits / n,
      "txlog.log_files" -> fin("log_files"),
      "txlog.checkpoints" -> fin("checkpoints"),
      "txlog.live_files" -> fin("live_files"),
      "txlog.read_point.files_read_ratio" -> Harness.median(ratio),
      "stream.start_ms" -> Harness.median(startMs),
      "stream.batches" -> tracer.counters("stream.batches") / n,
      "stream.trigger_ms" -> tracer.counters("stream.trigger_ms") / n,
      "stream.query_planning_ms" -> tracer.counters("stream.query_planning_ms") / n,
      "stream.wal_commit_ms" -> tracer.counters("stream.wal_commit_ms") / n,
      "stream.add_batch_ms" -> tracer.counters("stream.add_batch_ms") / n,
      "storage.files_created" -> created.map(_._1).sum / n,
      "storage.bytes_created" -> created.map(_._2).sum / n,
      "storage.table_bytes" -> fin("table_bytes"))
  }
}
