package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * listener-fed counters of a finished action are complete when read.
  * The listener bus is private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
