package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call into graft. `kind` is "read" or "commit" (an op that
  * publishes a table version). */
final case class Op(name: String, kind: String, run: () => Unit)

final case class OpRec(id: Int, name: String, kind: String, ms: Double, ok: Boolean)

final case class PassRec(index: Int, wallS: Double, traced: Boolean, ops: Seq[OpRec])

/** A closed-loop, single-client workload: the next op starts only when
  * the previous one has returned. */
trait Workload {
  /** About the wall time of one warm pass on 4 cores; `--seconds` ÷ this
    * is the number of passes a run measures. */
  def nominalPassS: Double
  /** Untimed: inputs, correctness pass, warm-up. */
  def setup(): Unit
  /** The seeded op sequence of pass `p`. */
  def pass(p: Int): Seq[Op]
  /** Untimed: what the correctness checks read after the window. */
  def finish(): Unit
  /** Workload facts for the run report. */
  def report: Map[String, Any]
  /** Layer metrics only this workload produces, over the traced passes. */
  def layers(ops: Seq[(OpRec, Span)], jobs: Seq[Span], traced: Seq[Int]): Map[String, Double]
}

/** Shared state of one run: session, tracer and failed ops. */
final class Run(val spark: SparkSession, val tracer: Tracer, val data: String,
                val out: String, val seed: Long) {
  val failures = ArrayBuffer.empty[(String, String)]
  var attempted = 0

  def fail(what: String, e: Throwable): Unit =
    failures += (what -> Option(e.getMessage).getOrElse(e.getClass.getName).take(400))

  /** Attempts `f` as one op outside the timed window; a throw is recorded
    * as a failed op. */
  def untimed(what: String)(f: => Unit): Unit = {
    attempted += 1
    try f catch { case e: Throwable => fail(what, e) }
  }

  /** Output columns of each materialized DataFrame, in action order. */
  val materialized = ArrayBuffer.empty[(String, Seq[String])]

  /** Full materialization: every row and column reaches the `noop` sink.
    * The DataFrame was analyzed when it was built; traced, that phase is
    * recorded here, since no listener sees it. */
  def materialize(name: String, df: DataFrame): Unit = {
    if (tracer.on) df.queryExecution.tracker.phases.get("analysis").foreach { p =>
      tracer.add("plans", "analysis", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    df.write.format("noop").mode("overwrite").save()
    materialized += (name -> df.columns.toSeq)
  }

  /** The pruning guard, over every [[materialize]] since the last call:
    * each must have run as a `noop` write whose optimized plan keeps all
    * output columns of its DataFrame. A miss is a failed op. */
  def checkGuard(): Unit = {
    tracer.drain()
    val writes = tracer.synchronized {
      val w = tracer.noopWrites.toSeq; tracer.noopWrites.clear(); w
    }
    val bad = if (writes.size != materialized.size) materialized.toSeq
    else materialized.zip(writes).map { case ((n, cols), kept) => n -> cols.diff(kept) }
    materialized.clear()
    bad.filter(_._2.nonEmpty).foreach { case (n, missing) =>
      fail(s"$n (pruning guard)", new IllegalStateException(
        s"the materializing action dropped ${missing.mkString(", ")}"))
    }
  }
}

/** The etl_star and llm_curation workloads: read-only queries from
  * `SparkEntry.queries`, each fully materialized per op. */
final class ReadWorkload(run: Run, names: Seq[String], val nominalPassS: Double)
    extends Workload {
  import run._

  private def build(name: String): DataFrame =
    tracer.span("queries", name) { graft.SparkEntry.queries(name)(spark, data) }

  /** The correctness pass, which is also the warm-up: results land as
    * parquet for the DuckDB compare. */
  def setup(): Unit = names.foreach { n =>
    untimed(n) {
      build(n).write.mode("overwrite").parquet(s"$out/results/$n")
    }
  }

  def pass(p: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + p).shuffle(names)
      .map(n => Op(n, "read", () => materialize(n, build(n))))

  def finish(): Unit = ()

  def report: Map[String, Any] = Map(
    "queries" -> names,
    "oracle" -> names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
    "golden_gated" -> names.filter(graft.QueryDef.goldenGated.contains))

  def layers(ops: Seq[(OpRec, Span)], jobs: Seq[Span], traced: Seq[Int]): Map[String, Double] =
    ops.groupBy(_._1.name).map { case (n, rs) =>
      s"queries.$n.ms" -> Harness.median(rs.map(_._1.ms))
    }
}

object Harness {
  val etlStar: Seq[String] = Seq(
    "q01_pricing_summary", "q02_daily_sales", "q06_product_performance",
    "q14_customer_behavior", "q55_profile_part", "q181_corr_matrix")

  val llmCuration: Seq[String] = Seq(
    "q42_dedup_ngram_jaccard", "q43_dedup_minhash_lsh", "q44_dedup_simhash",
    "q48_text_stats", "q52_embedding_near_dups", "q53_ann_lsh_buckets",
    "q67_winnowing_pairs", "q91_ann_pq", "q95_line_dedup",
    "q120_bigram_logprob", "q123_hashed_classifier", "q124_dsir_importance",
    "q128_dup_span_removal", "q151_ann_batch_search", "q127_curation_pipeline")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Runs `count` whole passes. The count is fixed rather than the
    * window's length: the code warms up across passes, so a run that
    * fitted one pass more or less into a fixed time would report a pass
    * from another point of that trend. In a traced run passes go
    * untraced, traced, traced, untraced, and so on (ABBA), so the trend
    * cancels out of the tracing overhead. */
  private def window(run: Run, wl: Workload, count: Int, trace: Boolean,
                     opSpans: ArrayBuffer[(OpRec, Span)]): Seq[PassRec] = {
    val t = run.tracer
    val passes = ArrayBuffer.empty[PassRec]
    var heapMb = 0.0
    (0 until count).foreach { p =>
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      var gc0, jit0 = 0.0
      if (traced) {
        t.drain() // events of the previous pass must not count
        gc0 = gcMs(); jit0 = jitMs()
        heapPools.foreach(_.resetPeakUsage())
        t.on = true
      }
      val ops = wl.pass(p)
      val t0 = System.nanoTime()
      val recs = ops.map { op =>
        val id = run.attempted
        run.attempted += 1
        val s = t.now
        val a = System.nanoTime()
        val ok = try { op.run(); true } catch { case e: Throwable =>
          run.fail(s"${op.name} (pass $p)", e); false }
        val rec = OpRec(id, op.name, op.kind, (System.nanoTime() - a) / 1e6, ok)
        if (traced) opSpans += ((rec, Span(id, "op", op.name, s, t.now)))
        rec
      }
      passes += PassRec(p, (System.nanoTime() - t0) / 1e9, traced, recs)
      if (traced) {
        t.drain()
        t.on = false
        t.count("jvm.gc_ms", gcMs() - gc0)
        t.count("jvm.jit_ms", jitMs() - jit0)
        heapMb = math.max(heapMb, heapPools.map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20))
      }
    }
    if (trace) t.count("jvm.heap_max_used_mb", heapMb)
    passes.toSeq
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  private def jitMs(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = conf("workload")
    val seconds = conf("seconds").toDouble
    val trace = conf("trace") == "1"
    val cpus = conf("cpus").toInt
    val out = conf("out")
    val spark = graft.Sessions.local(cpus.toString)
    val run = new Run(spark, new Tracer(spark), conf("data"), out, conf("seed").toLong)
    if (workload == "selfcheck") { SelfCheck(run); spark.stop(); return }
    val wl: Workload = workload match {
      case "etl_star" => new ReadWorkload(run, etlStar, 7)
      case "llm_curation" => new ReadWorkload(run, llmCuration, 30)
      case "table_ops" => new TableWorkload(run)
      case other => sys.error(s"unknown workload $other")
    }
    wl.setup()
    run.checkGuard()
    val setupS = (System.currentTimeMillis() - conf("t0ms").toLong) / 1000.0
    val opSpans = ArrayBuffer.empty[(OpRec, Span)]
    val count = math.max(if (trace) 2 else 1, math.round(seconds / wl.nominalPassS).toInt)
    val passes = window(run, wl, count, trace, opSpans)
    run.checkGuard()
    val (traced, plain) = passes.partition(_.traced)
    wl.finish()
    val layers =
      if (!trace) Map.empty[String, Double]
      else Layers(run, wl, opSpans.toSeq, traced.map(_.index), cpus) ++
        Kernels(spark, run.data, run.seed) ++
        Map("trace.overhead_s" -> (median(traced.map(_.wallS)) - median(plain.map(_.wallS))))
    val report = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "peak_rss_mb" -> vmHwmMb(),
      "cpus" -> cpus,
      "attempted" -> run.attempted,
      "failures" -> run.failures.map { case (w, m) => Map("op" -> w, "error" -> m) },
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "wall_s" -> p.wallS, "traced" -> p.traced,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "kind" -> o.kind,
          "ms" -> o.ms, "ok" -> o.ok)))),
      "layers" -> layers,
      "workload_report" -> wl.report)
    Files.writeString(Paths.get(out, "run.json"), Json(report))
    if (trace) {
      val ops = opSpans.map(_._2).toSeq
      Files.writeString(Paths.get(out, "spans.json"), Json((ops ++ run.tracer.assigned(ops))
        .map(s => Seq(s.op, s.layer, s.name, s.start, s.end))))
    }
    spark.stop()
  }
}
