package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs one call on it:
  * block until every posted event has reached the listeners, so per-job
  * tallies are complete before they are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
