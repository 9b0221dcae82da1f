package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener has seen all of a window's jobs before the
  * window's metrics are read. The bus is private to Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
