package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * spec's listener has seen all of an action's query executions before
  * it asserts on them. The bus is private to Spark's package. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
