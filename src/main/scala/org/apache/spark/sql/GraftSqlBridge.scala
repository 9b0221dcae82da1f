package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's Column↔Expression conversion, which is
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils).
  * Spark 4 rebased Column on ColumnNode, so extension libraries that
  * define custom Catalyst expressions need this one-hop shim to expose
  * them as user-facing Columns.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** `e` with its floating-point values normalised (NaN one value,
    * -0.0 as 0.0) the way Spark's planner normalises grouping keys and
    * distinct values; `NormalizeFloatingNumbers.normalize` is
    * private[sql]. */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** True when the session's CacheManager holds no cached plans —
    * `sharedState` is private[sql], so the cache-leak assertion in
    * specs (graft.CacheScope lifecycle) needs this hop too. */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Blocks until every posted listener event is delivered
    * (`listenerBus` is private[spark]), so a measurement reads the
    * run's jobs and stages complete instead of sleeping for them. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
