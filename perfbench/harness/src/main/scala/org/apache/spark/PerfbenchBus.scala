package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * harness reads complete counters at the end of a phase. The bus is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
