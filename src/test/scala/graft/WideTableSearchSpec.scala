package graft

import graft.plans.Recommender
import graft.profiler.Profiler

/** Wide-table parity guard for the search's pre-execution candidate
  * slice. The reference executes its whole tpath pool, so its
  * execution-time rejections (null_num1 without arithmetic,
  * Tengine.py:65-67) cost nothing; our `take(perT)` scale cap slices
  * BEFORE execution, and until round 8 the always-rejected null_num1
  * single-selects alone filled every slot on a wide table — silently
  * eliminating the arithmetic null_num1 charts the reference produces
  * (no failure fired: a statically-doomed candidate returns None, not
  * an exception). The fix filters statically-nonviable candidates
  * before the slice; this spec pins it on a table wide enough that
  * the singles (one per numeric column + rank twins) overflow the
  * search's per-core-T candidate slice (12).
  */
class WideTableSearchSpec extends SparkSpec {
  import spark.implicits._

  // 14 numeric columns with matched ranges (so dim-match clusters form
  // and arithmetic null_num1 candidates exist) + a string key
  private def wide = (1 to 60).map { i =>
    val vs = (0 until 14).map(c => 50.0 + math.sin(i * 0.3 + c) * 20 + c)
    (s"id$i", vs(0), vs(1), vs(2), vs(3), vs(4), vs(5), vs(6), vs(7),
      vs(8), vs(9), vs(10), vs(11), vs(12), vs(13))
  }.toDF("name", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7",
    "m8", "m9", "m10", "m11", "m12", "m13")

  test("wide table still surfaces arithmetic null_num1 channels") {
    val (pdf, profile) = Profiler.profile(wide)
    // sanity: enough columns that bare singles alone would overflow
    // the per-T candidate slice
    assert(profile.columns.size >= 14)
    val rec = Recommender.recommend(pdf, profile, spark, charts = Seq("line"))
    val channelVals = rec.visList.flatMap(_.channels.values)
    assert(channelVals.exists(_.startsWith("null_num1")),
      s"no null_num1 channel in ${channelVals.distinct}")
  }
}
