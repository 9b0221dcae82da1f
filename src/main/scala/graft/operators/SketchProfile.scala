package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-based numeric profiling — the unbounded-cardinality twin of
  * the exact profilers.
  *
  * [[Rank.exactPercentiles]] sorts only DISTINCT values, which is
  * exact and cheap while domains are bounded; but a unique-valued
  * column (ids, timestamps, prices at 100 TB) makes "distinct" the
  * full corpus and the sort a corpus-wide shuffle. This pass instead
  * uses the two classic fixed-memory sketches, both exposed as
  * codegen'd Catalyst aggregates:
  *   - `approx_count_distinct` — HyperLogLog++, ~`1.04/sqrt(2^p)`
  *     relative error, a few KB of sketch per column,
  *   - `percentile_approx` — Greenwald-Khanna quantile summaries,
  *     positional error ≤ 1/accuracy.
  * One aggregation over all requested columns → one scan, one
  * (empty-keyed) exchange of a few KB of sketch state per column,
  * regardless of row count or cardinality.
  *
  * Caveats, by construction: HLL++ is merge-order-insensitive (the
  * estimate is partition-invariant for a fixed input — its merge is a
  * register-wise max, which is commutative and associative); GK
  * summaries are NOT — quantile estimates can move within their error
  * bound under a different partitioning (measured across
  * parts∈{1,3,13,32}×AQE: p50/p75/p99 of a near-unique column
  * shifting bits across partition counts while every other output is
  * bit-identical). The correctness gate therefore checks the
  * deterministic columns (n_nonnull/min/max exactly in SQL, the HLL
  * estimate as a pinned fixture constant) value-exact, and bounds the
  * GK columns against the exact order statistics in SketchProfileSpec
  * instead of hashing them.
  *
  * @return one row per profiled column:
  *         (column, n_nonnull, approx_distinct, min, max, p&lt;pct&gt;…)
  *         with one scalar double column per requested percentile
  *         (`p25`, `p50`, …). Scalars, not an array, on purpose:
  *         downstream gate tooling canonicalizes rows by sorting on
  *         every column, and array cells are unsortable there — gate
  *         outputs must stay flat primitives.
  */
object SketchProfile {

  def sketchProfile(df: DataFrame, cols: Seq[String],
                    pcts: Seq[Int] = Seq(25, 50, 75),
                    rsd: Double = 0.05, accuracy: Int = 10000): DataFrame = {
    require(cols.nonEmpty, "sketchProfile needs at least one column")
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100),
      s"percentiles must be in [0,100], got $pcts")
    require(pcts.distinct.size == pcts.size,
      s"duplicate percentiles would emit duplicate p<pct> columns: $pcts")
    val pctArr = array(pcts.map(p => lit(p / 100.0)): _*)
    val aggs = cols.flatMap { c =>
      // NaN handling, applied consistently across the row: a float/
      // double column's NaN values are excluded from min/max AND the
      // GK percentiles (Spark orders NaN greatest, so an unfiltered
      // max — or upper quantile — of any NaN-bearing column reads NaN;
      // stat.approxQuantile, which the GK path replaced, ignored NaN).
      // Non-float columns keep their NATIVE-type min/max (a lexical
      // string min cast to double, exactly as before) — isnan is a
      // float concern only, and min-of-cast would silently change
      // their semantics. NaN still counts in n_nonnull (it is not
      // null), matching every SQL engine's COUNT.
      val floaty = df.schema.find(_.name == c).map(_.dataType).exists {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => true
        case _ => false
      }
      val mm = if (floaty) when(!isnan(col(c)), col(c)) else col(c)
      Seq(
        count(col(c)).as(s"__n_$c"),
        approx_count_distinct(col(c), rsd).as(s"__nd_$c"),
        min(mm).cast("double").as(s"__min_$c"),
        max(mm).cast("double").as(s"__max_$c"),
        percentile_approx(when(!isnan(col(c).cast("double")),
            col(c).cast("double")), pctArr, lit(accuracy))
          .as(s"__p_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    pivotToRows(one, cols, pcts)
  }

  private def pivotToRows(one: DataFrame, cols: Seq[String],
                          pcts: Seq[Int]): DataFrame = {
    // pivot the single sketch row into one row per column — constant
    // driver-free reshaping (the explode is over a literal-sized array)
    val rows = array(cols.map { c =>
      val pctCols = pcts.zipWithIndex.map { case (p, i) =>
        col(s"__p_$c").getItem(i).as(s"p$p")
      }
      struct(Seq(lit(c).as("column"), col(s"__n_$c").as("n_nonnull"),
        col(s"__nd_$c").as("approx_distinct"),
        col(s"__min_$c").as("min"), col(s"__max_$c").as("max")) ++
        pctCols: _*)
    }: _*)
    one.select(explode(rows).as("r")).select(col("r.*"))
  }
}
