package graft

import org.apache.spark.sql.functions._

import graft.operators.SketchProfile

/** The sketch profiler has no value-exact oracle by design (sketch
  * internals are engine-specific) — these specs are its correctness
  * contract instead: error bounds against the exact statistics, and
  * partition invariance where the sketch guarantees it.
  */
class SketchProfileSpec extends SparkSpec {

  private def fixture = spark.range(10000).select(
    col("id").cast("double").as("unique_col"),          // 10k distinct
    (col("id") % 97).cast("double").as("mod_col"),      // 97 distinct
    when(col("id") % 10 === 0, lit(null).cast("double"))
      .otherwise(col("id") % 5).as("nullable_col"))     // nulls + 5 distinct

  test("approx_distinct lands within 3x the configured relative error") {
    val out = SketchProfile.sketchProfile(fixture,
        Seq("unique_col", "mod_col", "nullable_col"), rsd = 0.05)
      .collect().map(r => r.getString(0) -> r).toMap
    def check(c: String, exact: Long): Unit = {
      val est = out(c).getLong(2)
      assert(math.abs(est - exact) <= math.max(1L, (3 * 0.05 * exact).toLong),
        s"$c: estimate $est vs exact $exact outside 3x rsd")
    }
    check("unique_col", 10000L)
    check("mod_col", 97L)
    check("nullable_col", 5L)
  }

  test("counts, min, max are exact; nulls excluded") {
    val out = SketchProfile.sketchProfile(fixture, Seq("nullable_col"))
      .collect()(0)
    assert(out.getLong(1) == 9000L)           // n_nonnull
    assert(out.getDouble(3) == 0.0)           // min (e.g. id=5 → 5%5=0, not nulled)
    assert(out.getDouble(4) == 4.0)           // max
  }

  test("approx quantiles respect the positional error bound vs the exact order statistic") {
    // accuracy 10000 on 10000 rows → positional error ≤ n/accuracy = 1
    val row = SketchProfile.sketchProfile(fixture, Seq("unique_col"),
        pcts = Seq(25, 50, 75), accuracy = 10000)
      .collect()(0)
    val out = Seq(row.getDouble(5), row.getDouble(6), row.getDouble(7))
    val bounds = Seq(2500.0, 5000.0, 7500.0)
    out.zip(bounds).foreach { case (est, target) =>
      assert(math.abs(est - target) <= 2.0, s"quantile $est vs ~$target")
    }
  }

  test("gate contract: output columns are flat primitives named p<pct>") {
    val out = SketchProfile.sketchProfile(fixture, Seq("mod_col"),
      pcts = Seq(10, 50, 90))
    assert(out.columns.toSeq ==
      Seq("column", "n_nonnull", "approx_distinct", "min", "max",
        "p10", "p50", "p90"))
    out.schema.fields.foreach { f =>
      assert(!f.dataType.typeName.matches("array|map|struct"),
        s"${f.name} leaked a nested type into a gate output")
    }
  }

  test("HLL distinct estimate is partition-invariant") {
    def run(parts: Int) = SketchProfile.sketchProfile(
        fixture.repartition(parts), Seq("unique_col", "mod_col"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(run(3) == run(17))
  }

  test("gate pin: sf0.01 fixture HLL estimates match the DuckDB oracle's VALUES") {
    // The q_profile_sketch oracle pins these three HLL++ estimates as
    // fixture constants (its RelationalQueries entry). This spec is the
    // in-repo twin: it recomputes them from the real gate fixture at
    // TWO partition counts and asserts both runs land on the pinned
    // values — so an approx_count_distinct behavior change, a fixture
    // regeneration, or a lost partition-invariance breaks HERE before
    // the driver's gate ever sees a red row.
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists(),
      "sf0.01 gate fixture not present")
    val pinned = Map("l_quantity" -> 47L, "l_extendedprice" -> 58565L,
      "l_discount" -> 11L)
    val li = graft.sources.Tables.lineitem(spark, dir)
    Seq(5, 32).foreach { parts =>
      val got = SparkEntryHelpersSketch.gateRows(li.repartition(parts))
      assert(got.map { case (c, r) => c -> r.getLong(2) }.toMap == pinned,
        s"HLL pin drift at parts=$parts")
      // exact columns agree with a direct exact aggregate of the fixture
      got.foreach { case (c, r) =>
        val exact = li.agg(count(col(c)), min(col(c)).cast("double"),
          max(col(c)).cast("double")).collect()(0)
        assert(r.getLong(1) == exact.getLong(0), s"$c n_nonnull")
        assert(r.getDouble(3) == exact.getDouble(1), s"$c min")
        assert(r.getDouble(4) == exact.getDouble(2), s"$c max")
      }
    }
  }

  test("sketchProfile ignores NaN in min, max and percentiles") {
    // percentile_approx ranks NaN above every double and Spark orders
    // NaN greatest, so unfiltered, the max and the upper percentiles of
    // any NaN-bearing column would read NaN. NaN still counts in
    // n_nonnull (it is not null), matching every SQL engine's COUNT.
    val nanCol = fixture.select(
      when(col("unique_col") % 10 === 0, lit(Double.NaN))
        .otherwise(col("unique_col")).as("x"))
    val row = SketchProfile.sketchProfile(nanCol, Seq("x"), pcts = Seq(50, 75))
      .collect()(0)
    assert(row.getLong(1) == 10000L, "NaN is not null — n_nonnull counts it")
    assert(row.getDouble(3) == 1.0, s"min must skip NaN, got ${row.getDouble(3)}")
    assert(row.getDouble(4) == 9999.0, s"max must skip NaN, got ${row.getDouble(4)}")
    assert(!row.getDouble(5).isNaN && !row.getDouble(6).isNaN,
      "sketchProfile percentiles must ignore NaN")
  }

  test("rejects empty column list, out-of-range and duplicate percentiles") {
    assertThrows[IllegalArgumentException] {
      SketchProfile.sketchProfile(fixture, Seq.empty)
    }
    assertThrows[IllegalArgumentException] {
      SketchProfile.sketchProfile(fixture, Seq("mod_col"), pcts = Seq(101))
    }
    assertThrows[IllegalArgumentException] {
      SketchProfile.sketchProfile(fixture, Seq("mod_col"), pcts = Seq(50, 50))
    }
  }
}

/** The gate-query projection, factored for the pin spec. */
private object SparkEntryHelpersSketch {
  def gateRows(df: org.apache.spark.sql.DataFrame): Seq[(String, org.apache.spark.sql.Row)] =
    SketchProfile.sketchProfile(df,
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .select("column", "n_nonnull", "approx_distinct", "min", "max")
      .collect().toSeq.map(r => r.getString(0) -> r)
}
