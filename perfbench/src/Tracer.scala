package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is the id of the op that
  * caused it (-1 until assigned by time containment for listener-fed
  * spans, whose events arrive asynchronously). Times are epoch ms. */
final case class Span(op: Int, layer: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark's public listeners plus the harness's own spans. Listeners are
  * registered for every run (the pruning guard reads the plan of each
  * `noop` write); spans and counters are recorded only while `on` is set, so an
  * untraced window pays for one no-op callback per event. Spans stay in
  * memory and are written out when the run ends. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def now: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** (time, files read) of each traced action's file scans. */
  val scanFiles = ArrayBuffer.empty[(Double, Long)]
  /** Columns each `noop` write kept in its optimized plan, in order. */
  val noopWrites = ArrayBuffer.empty[Seq[String]]

  def add(layer: String, name: String, start: Double, end: Double): Unit =
    synchronized(spans += Span(-1, layer, name, start, end))

  def count(key: String, v: Double): Unit = synchronized { counters(key) += v }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val s = now
      try f finally add(layer, name, s, now)
    }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** The recorded spans, each with the id of the op whose interval holds
    * its midpoint; spans outside every op are dropped. Listener events
    * arrive asynchronously and their clocks tick in whole ms, hence the
    * 2 ms slack. */
  def assigned(ops: Seq[Span]): Seq[Span] =
    synchronized(spans.toSeq).flatMap { s =>
      val mid = (s.start + s.end) / 2
      ops.find(o => mid >= o.start - 2 && mid <= o.end + 2).map(o => s.copy(op = o.op))
    }

  private val jobStarts = mutable.Map.empty[Int, Long]
  private val sqlStarts = mutable.Map.empty[Long, Long]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) Tracer.this.synchronized(jobStarts(e.jobId) = e.time)

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { s =>
        add("exec", "job", s.toDouble, e.time.toDouble)
        counters("exec.jobs") += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) Tracer.this.synchronized {
        val m = e.taskMetrics
        counters("exec.tasks") += 1
        counters("exec.run_ms") += m.executorRunTime
        counters("exec.cpu_ms") += m.executorCpuTime / 1e6
        counters("exec.gc_ms") += m.jvmGCTime
        counters("exec.input_bytes") += m.inputMetrics.bytesRead
        counters("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counters("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on =>
        Tracer.this.synchronized(sqlStarts(s.executionId) = s.time)
      case x: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqlStarts.remove(x.executionId).foreach { s =>
          add("sql", "execution", s.toDouble, x.time.toDouble)
          counters("plans.executions") += 1
        }
      }
      case _ =>
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      Tracer.noopQuery(qe).foreach(cols => Tracer.this.synchronized(noopWrites += cols))
      if (on) {
        qe.tracker.phases.foreach { case (phase, p) =>
          add("plans", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
        val files = Tracer.scans(qe.executedPlan)
          .flatMap(_.metrics.get("numFiles")).map(_.value).sum
        // stamped when planning ended, inside the action's op (this
        // event may arrive after the op returned)
        val at = qe.tracker.phases.get("planning").map(_.endTimeMs.toDouble).getOrElse(now)
        Tracer.this.synchronized(scanFiles += ((at, files)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        add("stream", "trigger", start, start + d.getOrElse("triggerExecution", 0.0))
        Tracer.this.synchronized {
          counters("stream.batches") += 1
          counters("stream.trigger_ms") += d.getOrElse("triggerExecution", 0.0)
          counters("stream.query_planning_ms") += d.getOrElse("queryPlanning", 0.0)
          counters("stream.wal_commit_ms") += d.getOrElse("walCommit", 0.0)
          counters("stream.add_batch_ms") += d.getOrElse("addBatch", 0.0)
        }
      }
  })
}

object Tracer {
  /** Output columns of the query a `noop` write materializes, as kept in
    * the optimized plan; None for any other action. */
  def noopQuery(qe: QueryExecution): Option[Seq[String]] =
    qe.optimizedPlan.collectFirst {
      case w: V2WriteCommand if w.table.name == "noop-table" => w.query.output.map(_.name)
    }

  /** File scans of an executed plan, looking through adaptive wrappers. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val cl = xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    cl.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Layer order used to nest spans that share an interval: an outer
    * layer calls into the inner ones. */
  val depth: Map[String, Int] = Map("op" -> 0, "queries" -> 1, "txlog" -> 1,
    "stream" -> 2, "plans" -> 3, "sql" -> 3, "exec" -> 4)

  /** Self time per layer: each span's duration minus the part its child
    * spans cover. Spans nest by time containment within one op; the
    * parent of a span is the innermost earlier-or-equal-depth span that
    * contains it. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.groupBy(_.op).foreach { case (_, ss) =>
      val sorted = ss.sortBy(s => (s.start, -s.end, depth.getOrElse(s.layer, 9)))
      val children = mutable.Map.empty[Int, ArrayBuffer[(Double, Double)]]
      val stack = mutable.Stack.empty[Int]
      sorted.indices.foreach { i =>
        val s = sorted(i)
        while (stack.nonEmpty && sorted(stack.top).end < s.end) stack.pop()
        stack.headOption.foreach { p =>
          children.getOrElseUpdate(p, ArrayBuffer.empty) += ((s.start, s.end))
        }
        stack.push(i)
      }
      sorted.indices.foreach { i =>
        val s = sorted(i)
        val kids = children.getOrElse(i, ArrayBuffer.empty).toSeq
        self(s.layer) += s.ms - covered(kids, s.start, s.end)
      }
    }
    self.toMap
  }
}
