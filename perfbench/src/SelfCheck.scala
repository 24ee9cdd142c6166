package perfbench

import java.nio.file.{Files, Paths}

/** Test of the pruning guard itself: a `noop` write of a query must keep
  * every output column, while a `count()` of the same query (which
  * Catalyst prunes to a scan) and a `noop` write of one of its columns
  * must both be caught. */
object SelfCheck {
  val queries: Seq[String] = Seq("q01_pricing_summary", "q55_profile_part",
    "q123_hashed_classifier", "q181_corr_matrix")

  def apply(run: Run): Unit = {
    val results = queries.map { n =>
      val df = graft.SparkEntry.queries(n)(run.spark, run.data)
      run.materialize(n, df)
      run.checkGuard()
      val noopOk = run.failures.isEmpty
      // the same bookkeeping around an action that is not a noop write
      df.count()
      run.materialized += (n -> df.columns.toSeq)
      run.checkGuard()
      val countCaught = run.failures.nonEmpty
      run.failures.clear()
      df.select(df.columns.head).write.format("noop").mode("overwrite").save()
      run.materialized += (n -> df.columns.toSeq)
      run.checkGuard()
      val projectionCaught = df.columns.length == 1 || run.failures.nonEmpty
      run.failures.clear()
      n -> Map("noop_kept_all" -> noopOk, "count_caught" -> countCaught,
        "projection_caught" -> projectionCaught,
        "ok" -> (noopOk && countCaught && projectionCaught))
    }.toMap
    Files.writeString(Paths.get(run.out, "selfcheck.json"), Json(results))
  }
}
