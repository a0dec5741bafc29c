package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-pass trace totals are complete when read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
