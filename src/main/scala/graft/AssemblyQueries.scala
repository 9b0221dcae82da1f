package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query._
import graft.plans.Recommender
import graft.profiler.Profiler
import graft.score.{Scagnostics, Significance}
import graft.sources.Tables

/** Declared queries for the scoring + recommendation layer (SURVEY
  * §2.11, §3.2). Driver-side math over bounded chart frames → emitted
  * as single-row / per-chart DataFrames. The statistical scorers are
  * DuckDB-value-exact (F-CDF continued fraction + MST replay, see
  * [[OracleSql]]); q_recommend_charts (the full search pipeline) is
  * value-exact too, via [[RecommendGolden.valuesOracle]] — a VALUES
  * replay of its deterministic pinned output.
  */
object AssemblyQueries {

  import OracleSql._

  /** The statistical scorers' oracles: the F(1, d2) CDF is
    * rebuilt in SQL as a regularized-incomplete-beta continued
    * fraction, the MST scagnostics as a recursive-CTE Prim replay
    * (see [[OracleSql]]); moments mirror the Scala fold order exactly.
    * q_recommend_charts replays its deterministic pin as a VALUES
    * literal ([[RecommendGolden]]) — no rows-only entries remain.
    */
  val entries: Seq[Query] = Seq(
    // MST scagnostics over the (deduped, capped) part scatter.
    // Key-bounded input (reference chart-feeder scale — its whole
    // input is capped at 400 rows, config.py:1): keeps the oracle's
    // O(n²) recursive-CTE Prim replay cheap at every scale factor;
    // the Graph itself accepts any bounded frame.
    Query("q_scagnostics", DumpFirst)(OracleSql.scagnosticsOracle) { (s, dir) =>
      val pts = Tables.part(s, dir).where(col("p_partkey") <= 500)
        .select(col("p_size").cast("double"), col("p_retailprice").cast("double"))
        .na.drop().dropDuplicates().limit(4000).collect()
        .map(r => (r.getDouble(0), r.getDouble(1)))
      val g = new Scagnostics.Graph(pts)
      val row = Row(g.outlying, g.skewed, g.stringy, g.straight, g.striated,
        g.monotonic, g.clumpy)
      val names = Seq("outlying", "skewed", "stringy", "straight",
        "striated", "monotonic", "clumpy")
      val schema = StructType(names.map(StructField(_, DoubleType)))
      // DECIMAL round-trip: the oracle replay is bit-exact by
      // construction, the rounding is insurance (same pin both sides)
      s.createDataFrame(java.util.List.of(row), schema)
        .select(names.map(c => col(c).cast("decimal(18,2)").cast("double").as(c)): _*)
    },

    // significance tests over per-group sums (the bar-chart scorers)
    Query("q_significance") {
      val powIdx = (i: String) => s"pow($i, 0.7)"
      val linIdx = (i: String) => s"$i"
      s"""WITH sums AS (
         |  SELECT list(t ORDER BY pr) AS raw FROM (
         |    SELECT o_orderpriority AS pr,
         |           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS t
         |    FROM orders GROUP BY 1) u
         |),
         |out0 AS (SELECT list_sort(raw) AS d FROM sums),
         |${fstatChain("out0", "", powIdx)},
         |${fcdfChain("out0_x", "")},
         |lin0 AS (
         |  SELECT list(v ORDER BY v) AS d FROM (
         |    SELECT c_acctbal AS v FROM customer ORDER BY c_acctbal LIMIT 2000) w
         |),
         |${fstatChain("lin0", "", linIdx)},
         |${fcdfChain("lin0_x", "")},
         |mom0 AS (SELECT raw AS d, len(raw) AS n FROM sums),
         |mom1 AS (SELECT *, ${"list_reduce(list_prepend(0.0::DOUBLE, d), (p, q) -> p + q)"} / n AS m FROM mom0),
         |mom2 AS (
         |  SELECT *,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, n + 1), i -> (d[i] - m) * (d[i] - m))), (p, q) -> p + q) / n AS disp
         |  FROM mom1
         |),
         |mom3 AS (
         |  SELECT disp,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, n + 1), i -> pow(d[i] - m, 3))), (p, q) -> p + q) / (n * pow(sqrt(disp), 3)) AS skew,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, n + 1), i -> pow(d[i] - m, 4))), (p, q) -> p + q) / (n * pow(sqrt(disp), 4)) AS heavytail
         |  FROM mom2
         |)
         |SELECT
         |  (SELECT ${dec2(scoreExpr)} FROM out0_x_cdf) AS outstanding1,
         |  (SELECT ${dec2(scoreExpr)} FROM lin0_x_cdf) AS linearness,
         |  (SELECT ${dec2("disp", 28)} FROM mom3) AS dispersion,
         |  (SELECT ${dec2("skew")} FROM mom3) AS skew,
         |  (SELECT ${dec2("heavytail")} FROM mom3) AS heavytail
         |""".stripMargin
    } { (s, dir) =>
      val sums = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("t"))
        .orderBy(col("o_orderpriority"))
        .select("t").collect().map(_.getDouble(0))
      val acct = Tables.customer(s, dir)
        .select(col("c_acctbal")).orderBy(col("c_acctbal"))
        .limit(2000).collect().map(_.getDouble(0))
      val row = Row(Significance.outstanding1(sums), Significance.linearness(acct),
        Significance.dispersion(sums), Significance.skewScore(sums),
        Significance.heavyTailScore(sums))
      val schema = StructType(Seq("outstanding1", "linearness", "dispersion",
        "skew", "heavytail").map(StructField(_, DoubleType)))
      // DECIMAL round-trip pins float parity with the DuckDB oracle
      // (CDF implementations agree to ~1e-13; the grid is 1e-2).
      s.createDataFrame(java.util.List.of(row), schema).select(
        col("outstanding1").cast("decimal(18,2)").cast("double").as("outstanding1"),
        col("linearness").cast("decimal(18,2)").cast("double").as("linearness"),
        col("dispersion").cast("decimal(28,2)").cast("double").as("dispersion"),
        col("skew").cast("decimal(18,2)").cast("double").as("skew"),
        col("heavytail").cast("decimal(18,2)").cast("double").as("heavytail"))
    },

    // batched per-group scoring: N charts scored in ONE shuffle via a
    // custom Aggregator (GroupScore)
    Query("q_group_outstanding") {
      val powIdx = (i: String) => s"pow($i, 0.7)"
      // mirror GroupScore's deterministic cap: groups larger than
      // 100000 score the multiset of their 100000 LARGEST values
      // (ascending sort, right slice); `n` reports the full count
      s"""WITH graw AS (
         |  SELECT o_orderpriority, list_sort(list(o_totalprice)) AS draw
         |  FROM orders GROUP BY 1
         |),
         |g0 AS (
         |  SELECT o_orderpriority, len(draw) AS fulln,
         |         CASE WHEN len(draw) > 100000
         |              THEN draw[len(draw) - 100000 + 1:len(draw)]
         |              ELSE draw END AS d
         |  FROM graw
         |),
         |${fstatChain("g0", "o_orderpriority, fulln", powIdx)},
         |${fcdfChain("g0_x", "o_orderpriority, fulln")}
         |SELECT o_orderpriority, ${dec2(scoreExpr)} AS outstanding1, fulln AS n
         |FROM g0_x_cdf
         |""".stripMargin
    } { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(graft.score.GroupScore.outstanding1(col("o_totalprice"))
          .cast("decimal(18,2)").cast("double").as("outstanding1"),
          count(lit(1)).as("n"))
    },

    // full pipeline: profile → enumerate → execute → score → top-k
    Query("q_recommend_charts", DumpFirst, PinnedSf001)(
      // the full search pipeline has no tractable relational oracle, but
      // its gate-fixture output is exactly reproducible (deterministic
      // fits/seeds) — a VALUES replay of the pinned 17 rows makes the
      // driver's check value-exact instead of rows-only; the SAME pin
      // backs RecommendGoldenSpec, so spec and oracle cannot drift
      RecommendGolden.valuesOracle) { (s, dir) =>
      val customer = Tables.customer(s, dir)
      val (df, profile) = Profiler.profile(customer)
      val rec = Recommender.recommend(df, profile, s)
      val rows = rec.visList.map(r =>
        Row(r.chartType, r.score, r.signature, r.channels.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("; ")))
      val schema = StructType(Seq(
        StructField("chart_type", StringType), StructField("score", DoubleType),
        StructField("signature", StringType), StructField("channels", StringType)))
      s.createDataFrame(java.util.List.of(rows: _*), schema)
    },

    // chart color math (search.py:850-873), distributively: the ramp
    // over min-max normalized values and the muted nominal palette —
    // previously spec-only (ColorMappingSpec golden tuples); now the
    // full RGB surface is DuckDB-value-exact on a real table
    Query("q_color_ramp")(
      // ramp: (hi−lo)·v + lo with the 8/48/107 ↔ 222/235/247 constants
      // computed as the same correctly-rounded divisions on both sides;
      // the mx = 0 degenerate keeps the unnormalized shift, matching
      // ColorMapping.numericColors
      """WITH f AS (SELECT MIN(value) AS mn, MAX(value) - MIN(value) AS mxs FROM events),
        |n AS (SELECT event_id,
        |    CASE WHEN mxs = 0.0 THEN value - mn ELSE (value - mn) / mxs END AS v
        |  FROM events, f)
        |SELECT event_id,
        |  (8/255.0 - 222/255.0) * v + 222/255.0 AS r,
        |  (48/255.0 - 235/255.0) * v + 235/255.0 AS g,
        |  (107/255.0 - 247/255.0) * v + 247/255.0 AS b
        |FROM n""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("event_id"), col("value"))
      // mn/mxs collected as plan literals; MAX(v) − mn equals the
      // reference's max-of-shifted (subtraction and rounding are both
      // monotone), so the one-agg fit is value-identical
      val fit = e.agg(min(col("value")).as("mn"), max(col("value")).as("mx")).head()
      if (fit.isNullAt(0)) {
        // empty table / all-null values: the oracle's CASE yields NULL
        // colors per surviving row (none when empty) — mirror that
        // instead of NPE-ing on the null fit
        e.select(col("event_id"),
          lit(null).cast("double").as("r"), lit(null).cast("double").as("g"),
          lit(null).cast("double").as("b"))
      } else {
        val mn = fit.getDouble(0)
        val mxs = fit.getDouble(1) - mn
        val norm = if (mxs == 0.0) col("value") - lit(mn)
                   else (col("value") - lit(mn)) / lit(mxs)
        val (r, g, b) = graft.functions.ColorMapping.rampChannels(norm)
        e.select(col("event_id"), r.as("r"), g.as("g"), b.as("b"))
      }
    },
    // nominal palette over sorted-distinct codes (the nominalize
    // convention); the distinct domain is human-scale by contract, so
    // the global ordering window ranks a tiny frame
    Query("q_color_nominal")(
      // seaborn muted palette, cycled by sorted-distinct code
      """WITH t AS (SELECT DISTINCT event_type FROM events
        |           WHERE event_type IS NOT NULL),
        |c AS (SELECT event_type,
        |    CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS BIGINT) AS code FROM t),
        |p AS (SELECT *, CAST(code % 10 AS INT) AS i FROM c)
        |SELECT event_type, code,
        |  ([72,238,106,214,149,140,220,121,213,130])[i+1] / 255.0 AS r,
        |  ([120,133,204,95,108,97,126,121,187,198])[i+1] / 255.0 AS g,
        |  ([208,74,100,95,180,60,192,121,103,226])[i+1] / 255.0 AS b
        |FROM p""".stripMargin) { (s, dir) =>
      // isNotNull: Spark windows sort NULLS FIRST, DuckDB NULLS LAST —
      // one null category would shift every code (nominalize applies
      // the same discipline)
      val types = Tables.events(s, dir).select(col("event_type"))
        .where(col("event_type").isNotNull).distinct()
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("event_type"))
      val coded = types.withColumn("code",
        (row_number().over(w) - 1).cast("long"))
      val (r, g, b) = graft.functions.ColorMapping.nominalChannels(col("code"))
      coded.select(col("event_type"), col("code"), r.as("r"), g.as("g"), b.as("b"))
    }
  )
}
