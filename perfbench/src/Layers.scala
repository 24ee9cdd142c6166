package perfbench

import org.apache.spark.metrics.source.CodegenMetrics

/** Per-layer numbers of a traced window, named after graft's modules.
  * Times and counts are per pass (window total ÷ traced passes) unless
  * the name says otherwise. */
object Layers {
  def apply(run: Run, wl: Workload, ops: Seq[(OpRec, Span)], traced: Seq[Int],
            cores: Int): Map[String, Double] = {
    val t = run.tracer
    val n = traced.size.toDouble
    val opSpans = ops.map(_._2)
    val spans = t.assigned(opSpans)
    val jobs = spans.filter(_.layer == "exec")
    val jobsByOp = jobs.groupBy(_.op)
    val jobWall = opSpans.map(o => Tracer.covered(
      jobsByOp.getOrElse(o.op, Nil).map(j => (j.start, j.end)), o.start, o.end))
    val phases = spans.filter(_.layer == "plans").groupBy(_.name)
      .map { case (k, ss) => k -> ss.map(_.ms).sum }
    val c = t.counters
    val runMs = c("exec.run_ms")
    val self = Tracer.selfTimes(spans ++ opSpans).map { case (l, ms) => s"self_ms.$l" -> ms / n }
    val perPass = Seq("plans.executions", "exec.jobs", "exec.tasks", "exec.run_ms",
      "exec.cpu_ms", "exec.gc_ms", "exec.input_bytes", "exec.shuffle_read_bytes",
      "exec.shuffle_write_bytes", "exec.spill_bytes")
    val builds = spans.filter(_.layer == "queries").map(_.ms)
    perPass.map(k => k -> c(k) / n).toMap ++ self ++ Map(
      "queries.build_ms" -> builds.sum / n,
      "plans.analysis_ms" -> phases.getOrElse("analysis", 0.0) / n,
      "plans.optimization_ms" -> phases.getOrElse("optimization", 0.0) / n,
      "plans.planning_ms" -> phases.getOrElse("planning", 0.0) / n,
      "plans.driver_gap_ms" -> opSpans.zip(jobWall).map { case (o, j) => o.ms - j }.sum / n,
      "exec.job_wall_ms" -> jobWall.sum / n,
      "exec.busy_ratio" -> runMs / (jobWall.sum * cores),
      "exec.codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "jvm.gc_ms" -> c("jvm.gc_ms") / n,
      "jvm.jit_ms" -> c("jvm.jit_ms") / n,
      "jvm.heap_max_used_mb" -> c("jvm.heap_max_used_mb")) ++
      wl.layers(ops, jobs, traced)
  }
}
