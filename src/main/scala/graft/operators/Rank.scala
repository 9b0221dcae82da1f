package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-path global ranking.
  *
  * The reference ranks with pandas rank(method="first") on ≤400 rows
  * (Tengine.py:107-108). The naive Spark translation —
  * `row_number().over(Window.orderBy(c))` — funnels every row through a
  * single partition, which is exactly the kind of plan that dies at
  * 100 TB. This implementation range-partitions by the sort key, sorts
  * within partitions, and assigns contiguous indices via
  * `zipWithIndex` (one extra count job for partition offsets, no
  * single-partition shuffle).
  */
object Rank {

  /** Append a 1-based dense global rank (`outCol`) of `valueCol`
    * ordered ascending, ties broken by `tieCols` — semantics identical
    * to [[TBasic.rankWindow]] but shuffle-friendly.
    */
  def zipWithIndexRank(df: DataFrame, valueCol: String, tieCols: Seq[String],
                       outCol: String, numPartitions: Int = 0): DataFrame = {
    val sortCols = (valueCol +: tieCols).map(col)
    val parts = if (numPartitions > 0) numPartitions
                else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val withIdx = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(withIdx,
      StructType(sorted.schema.fields :+ StructField(outCol, LongType, nullable = false)))
  }

  /** Pick the right rank implementation by estimated size: window rank
    * keeps whole-stage codegen for chart-scale frames; zipWithIndex for
    * anything large. */
  def rank(df: DataFrame, valueCol: String, tieCols: Seq[String], outCol: String,
           approxRows: Long, windowMaxRows: Long): DataFrame =
    if (approxRows <= windowMaxRows)
      df.withColumn(outCol, TBasic.rankWindow(valueCol, tieCols))
    else
      zipWithIndexRank(df, valueCol, tieCols, outCol)

  /** Append the 1-based MIN-rank of `valueCol` ascending, nulls first —
    * SQL `RANK()` / pandas `rank(method="min")` semantics: tied values
    * share the rank of their first member. Because equal values ALWAYS
    * get equal ranks, the result needs no tie-break columns and is
    * independent of partitioning and encounter order — the
    * deterministic fallback for ranking keyless tables, where
    * row_number's arbitrary tie order would leak into downstream
    * results ([[graft.operators.CoreT.lda]]).
    *
    * Scale path: only the DISTINCT values are sorted. One groupBy
    * produces per-value counts; a range-partitioned prefix sum over
    * them (driver collects one subtotal per partition, nothing else)
    * assigns each distinct value its min-rank; a join maps ranks back
    * onto the rows. No global window, no single-partition sort.
    */
  def minRankByValue(df: DataFrame, valueCol: String, outCol: String,
                     numPartitions: Int = 0): DataFrame = {
    val valOut = s"${outCol}__val"
    val ranks = distinctValueRanks(df, valueCol, valOut, outCol,
      s"${outCol}__dcnt", numPartitions).drop(s"${outCol}__dcnt")
    // null-safe equality: null feature values form their own rank group
    df.join(ranks, df(valueCol) <=> ranks(valOut), "left").drop(valOut)
  }

  /** One row per DISTINCT `valueCol` value (nulls first, like SQL
    * `ORDER BY`): `(valOut, rankOut, cntOut)` where `rankOut` is the
    * 1-based min-rank of the value's first occurrence in the sorted
    * multiset and `cntOut` its multiplicity — so the value covers
    * sorted positions `[rank, rank + cnt)`. The scale machinery of
    * [[minRankByValue]]: only distinct values sort (range-partitioned),
    * the driver collects one subtotal per partition, never a row. */
  private[graft] def distinctValueRanks(df: DataFrame, valueCol: String,
                                        valOut: String, rankOut: String,
                                        cntOut: String,
                                        numPartitions: Int = 0): DataFrame =
    distinctValueRanksWithTotal(df, valueCol, valOut, rankOut, cntOut,
      numPartitions)._1

  /** [[distinctValueRanks]] plus the TOTAL row count (Σ cnt) — free
    * from the per-partition subtotals the prefix sum already collects,
    * so callers that need `n` (the percentile / tertile cuts) skip a
    * whole extra aggregation job. */
  private[graft] def distinctValueRanksWithTotal(
      df: DataFrame, valueCol: String, valOut: String, rankOut: String,
      cntOut: String, numPartitions: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.sessionState.conf.numShufflePartitions
    // persisted: the subtotal pass and the rank-assignment pass both
    // read it, and re-running the groupBy between them could otherwise
    // (in principle) observe a different physical row order
    val sorted = graft.CacheScope.track(
      df.groupBy(col(valueCol)).agg(count(lit(1)).as(cntOut))
        .repartitionByRange(parts, col(valueCol))
        .sortWithinPartitions(col(valueCol)))
    val cntIdx = sorted.schema.fieldIndex(cntOut)
    val partTotals = sorted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L
        it.foreach(r => s += r.getLong(cntIdx))
        Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(1L)(_ + _) // min-rank of partition i's first value
    val bOff = spark.sparkContext.broadcast(offsets)
    val rankedRdd = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var next = bOff.value(i)
      it.map { r =>
        val rk = next
        next += r.getLong(cntIdx)
        Row(r.get(0), rk, r.getLong(cntIdx))
      }
    }
    (spark.createDataFrame(rankedRdd,
      StructType(Seq(sorted.schema(valueCol).copy(name = valOut),
                     StructField(rankOut, LongType, nullable = false),
                     StructField(cntOut, LongType, nullable = false)))),
      partTotals.sum)
  }

  /** Exact percentiles without a global sort OR interpolation: for each
    * requested integer percentile `p`, the value at 1-based sorted
    * position `1 + (n−1)·p div 100` — "lower" interpolation, ALL-LONG
    * arithmetic (`percentile_cont`'s fractional interpolation is a
    * cross-engine rounding hazard; a position is not). Duplicates are
    * handled by the distinct-value covering interval `[rank, rank+cnt)`
    * — no row-level global sort ever happens: only distinct values
    * range-partition and sort ([[distinctValueRanks]]), and the
    * requested positions probe them with one broadcast interval join
    * (|percentiles| rows against |distinct| — a scan, not a shuffle).
    * Null values are excluded, like SQL aggregates. Returns
    * `(pct, value)`.
    */
  def exactPercentiles(df: DataFrame, valueCol: String,
                       pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100),
      s"percentiles must be in [0,100], got $pcts")
    val spark = df.sparkSession
    val vals = df.select(col(valueCol)).where(col(valueCol).isNotNull)
    // total rows ride along with the rank frame (summed from the
    // prefix-sum subtotals) — neither a second full-column scan nor an
    // extra aggregation job
    val (dv, n) = distinctValueRanksWithTotal(vals, valueCol, "__v", "__rk", "__cnt")
    require(n > 0, s"exactPercentiles over zero non-null '$valueCol' rows")
    import spark.implicits._
    val targets = pcts.map(p => (p, 1L + ((n - 1L) * p) / 100L))
      .toDF("pct", "__target")
    dv.join(broadcast(targets),
        col("__target") >= col("__rk") &&
          col("__target") < col("__rk") + col("__cnt"))
      .select(col("pct"), col("__v").as("value"))
  }

  /** Exact percentiles PER GROUP — the grouped sibling of
    * [[exactPercentiles]] (per-domain medians, per-language length
    * quartiles, per-segment price bands): for each group g and
    * percentile p, the value at 1-based rank `1 + (n_g − 1)·p div 100`
    * of g's non-null values — the same all-LONG position rule, so the
    * whole result is exact order statistics, no sketch error.
    *
    * Scale shape: one hash shuffle on the group key; the rank window
    * and the count window are both PARTITIONED BY THE GROUP
    * (in-partition sort, spillable — a billion-row group is a linear
    * scan, and no bare global `Window.orderBy` appears anywhere); the
    * percentile targets then select ≤ |pcts| rows per group with a
    * row-local filter. Ties take the window's (value, arrival) order —
    * deterministic because equal values are interchangeable at a rank
    * boundary.
    *
    * @return (groupCol, pct, value) */
  def groupedPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                         pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100),
      s"percentiles must be in [0,100], got $pcts")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val wAll = Window.partitionBy(col(groupCol))
    val ranked = df.select(col(groupCol), col(valueCol))
      .where(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    val spark = df.sparkSession
    import spark.implicits._
    val targets = pcts.toDF("pct")
    ranked.join(broadcast(targets),
        col("__rn") === lit(1L) + expr("(__n - 1) * pct div 100"))
      .select(col(groupCol), col("pct"), col(valueCol).as("value"))
  }

  /** Equal-frequency quantile binning, EXACT: each row gets the bucket
    * of its value's FIRST sorted position —
    * `bucket = ((min_rank − 1) · nBuckets) div n` — so tied values
    * always share a bucket and labels are deterministic under any
    * partitioning (SQL NTILE splits ties arbitrarily across buckets,
    * which would make the labels run-dependent — exactly what a
    * feature-discretization / DSIR-style bucketing step can't have).
    * NULL values pass through with a NULL bucket; float/double NaN is
    * treated the same way (filtered from the rank frame like
    * [[Drift.ksTwoSample]] does, NULL bucket on the row) — without the
    * filter NaN sorts above +Inf and would silently occupy the top
    * bucket.
    *
    * Scale: the [[minRankByValue]] machinery — only DISTINCT values
    * sort (range-partitioned prefix sum; one subtotal long per
    * partition crosses the driver), then one value-keyed join maps
    * bucket labels back onto the rows. All bucket arithmetic is exact
    * LONG multiply/div (room for 10^12 rows × 10^5 buckets). */
  def bucketizeByQuantiles(df: DataFrame, valueCol: String, outCol: String,
                           nBuckets: Int): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 100000,
      s"nBuckets in [2, 100000], got $nBuckets")
    val valOut = s"${outCol}__val"
    val rkCol = s"${outCol}__rk"; val cntCol = s"${outCol}__cnt"
    val isFloaty = df.schema(valueCol).dataType match {
      case DoubleType | FloatType => true
      case _ => false
    }
    val clean =
      if (isFloaty)
        df.where(col(valueCol).isNotNull && !isnan(col(valueCol)))
      else df.where(col(valueCol).isNotNull)
    val (ranks, n) = distinctValueRanksWithTotal(
      clean, valueCol, valOut, rkCol, cntCol)
    require(n > 0, s"bucketizeByQuantiles: no non-null, non-NaN '$valueCol' values")
    val buckets = ranks.selectExpr(s"`$valOut`",
      s"CAST(((`$rkCol` - 1L) * ${nBuckets}L) div ${n}L AS BIGINT) AS `$outCol`")
    df.join(buckets, df(valueCol) <=> buckets(valOut), "left").drop(valOut)
  }

  /** Robust (median/IQR) scaling — the outlier-resistant sibling of
    * [[TBasic.minMaxNormalize]] (one extreme row distorts min-max for
    * the whole corpus; quartiles don't care): appends
    * `outCol = (v − median) / (p75 − p25)`.
    *
    * The quartiles come from [[exactPercentiles]] — the same
    * distinct-value prefix-sum rank that keeps q_profile_quantiles off
    * a global sort — and cross the driver as exactly THREE doubles, so
    * the scan side is a pure literal projection (codegen'd, zero extra
    * shuffle). EXACT order statistics, not sketch approximations:
    * bit-reproducible on any engine and partitioning, which is what
    * makes the op hash-gateable.
    *
    * A zero IQR (≥ half the mass on one value) means the scale is
    * undefined — rejected loudly rather than silently dividing by
    * zero. */
  def robustScale(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val q = exactPercentiles(df, valueCol, Seq(25, 50, 75))
      .select(col("pct"), col("value").cast("double"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val iqr = q(75) - q(25)
    require(iqr != 0.0,
      s"robustScale: IQR of '$valueCol' is zero (p25 = p75 = ${q(25)}) — scale undefined")
    df.withColumn(outCol, (col(valueCol) - lit(q(50))) / lit(iqr))
  }
}
