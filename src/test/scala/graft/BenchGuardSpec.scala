package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench noise-canary decision logic, driven with deliberately
  * loaded windows — the r9 verdict's "done" bar: a polluted window must
  * flip the flag mechanically, with no judge-side adjudication. Pure
  * functions, no Spark session. */
class BenchGuardSpec extends AnyFunSuite {

  private val base = Some(0.40) // the sf0.1 q01 canary baseline

  test("the r9 driver window (1.68x start canary) now flips noise_suspect") {
    // BENCH_r09 shipped canary_sec=0.671 under a 0.40 baseline and read
    // noise_suspect:false on the old 2x wire while its numbers ran up to
    // 3.2x off clean-window truth — the exact window the 1.5x wire exists
    // to catch
    assert(BenchGuard.noiseSuspect(Seq(0.671, 0.30, 0.28, 0.25), base).contains(true))
  }

  test("a deliberately loaded mid-suite sample flips the flag even with clean brackets") {
    assert(BenchGuard.noiseSuspect(Seq(0.30, 0.95, 0.28), base).contains(true))
  }

  test("a clean window (all canaries within history band) stays unflagged") {
    // measured clean-window canary history: 0.20-0.48 s
    assert(BenchGuard.noiseSuspect(Seq(0.48, 0.27, 0.26, 0.23), base).contains(false))
  }

  test("no recorded baseline -> None (unknown), never a clean verdict") {
    assert(BenchGuard.noiseSuspect(Seq(0.30), None).isEmpty)
  }

  test("per-query retry fires above 2x the recorded row and not below") {
    assert(BenchGuard.needsRetry(3.54, Some(1.09)))   // the r9 q19 driver sample
    assert(!BenchGuard.needsRetry(2.17, Some(1.09)))  // 1.99x: inside the band
    assert(!BenchGuard.needsRetry(9.99, None))        // new query, no row yet
  }

  test("every headline query is registered and canary/baseline names resolve") {
    val qs = SparkEntry.queries
    assert(Bench.headline.forall(qs.contains),
      Bench.headline.filterNot(qs.contains).mkString(", "))
    assert(Bench.headline.distinct.size == Bench.headline.size)
    // baseline rows must name real headline queries (a typo would
    // silently disable a query's retry)
    assert(Bench.baselineSec.keySet.subsetOf(Bench.headline.toSet))
  }

  test("README states the registered-query count") {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    try assert(readme.mkString.contains(
      s": ${SparkEntry.queries.size} named queries"),
      s"README.md's layout table must state ${SparkEntry.queries.size} " +
        "named queries")
    finally readme.close()
  }
}
