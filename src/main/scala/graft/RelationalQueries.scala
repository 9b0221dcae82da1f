package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query._
import graft.operators.TBasic
import graft.operators.TStep
import graft.sources.Tables

/** Declared queries for the relational operator inventory (SURVEY §2.2,
  * §2.3, §2.4, §2.6) with DuckDB-oracle SQL equivalents.
  *
  * Float determinism: double SUM/AVG order is nondeterministic under
  * parallel partial aggregation, so every double aggregate goes through
  * an exact DECIMAL(18,2) cast (input data has ≤2 decimal places) and
  * back to double — bit-reproducible on both engines. Row-wise
  * arithmetic is deterministic IEEE math (fixed fold order mirrored in
  * the SQL). Ranks are made total orders by unique tie-break keys.
  */
object RelationalQueries {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def sumd(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** The flagship comes first: [[SparkEntry.entry]] runs it. */
  val entries: Seq[Query] = Seq(
    // ── flagship: TPC-H Q1-style pricing summary (groupBy agg, §2.4) ──
    Query("q1_pricing_summary", Headline)(
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumd(col("l_quantity")).as("sum_qty"),
          sumd(col("l_extendedprice")).as("sum_base_price"),
          sumd(col("l_discount")).as("sum_disc"),
          count(lit(1)).as("count_order"))
    },

    // ── select, explicit columns (Tengine.py:84-85) ──
    Query("q_select_project")(
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem") { (s, dir) =>
      TBasic(Tables.lineitem(s, dir),
        TStep("select", inCols = Seq("l_orderkey", "l_linenumber", "l_extendedprice")))
    },

    // ── select, dtype family "num" (Tengine.py:88-89) ──
    Query("q_select_numeric", Headline)(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        | l_extendedprice, l_discount, l_tax FROM lineitem""".stripMargin) { (s, dir) =>
      TBasic(Tables.lineitem(s, dir), TStep("select", inType = "num"))
    },

    // ── select, "like" dtype families (str + date) and "all" ──
    // previously spec-only (TBasicSpec): the oracle's explicit column
    // list gates exactly which columns each family resolves to
    Query("q_select_like")(
      "SELECT l_returnflag, l_linestatus, l_shipdate FROM lineitem") { (s, dir) =>
      TBasic(Tables.lineitem(s, dir),
        TStep("select", inType = "like", inCols = Seq("str", "date")))
    },
    Query("q_select_all")("SELECT * FROM lineitem") { (s, dir) =>
      TBasic(Tables.lineitem(s, dir), TStep("select", inType = "all"))
    },

    // ── row-wise arithmetic (Tengine.py:97-104) ──
    Query("q_rowwise_sum", Headline)(
      """SELECT l_orderkey, l_linenumber,
        | ((COALESCE(l_quantity, 0) + COALESCE(l_tax, 0)) + COALESCE(l_discount, 0)) AS rowsum
        |FROM lineitem""".stripMargin) { (s, dir) =>
      TBasic(Tables.lineitem(s, dir),
        TStep("sum", inCols = Seq("l_quantity", "l_tax", "l_discount"),
          outMode = "new_table", outName = Some("rowsum")),
        carryCols = Seq("l_orderkey", "l_linenumber"))
    },
    Query("q_rowwise_sub")(
      "SELECT l_orderkey, l_linenumber, (l_extendedprice - l_discount) AS rowsub FROM lineitem") { (s, dir) =>
      TBasic(Tables.lineitem(s, dir),
        TStep("sub", inCols = Seq("l_extendedprice", "l_discount"),
          outMode = "new_table", outName = Some("rowsub")),
        carryCols = Seq("l_orderkey", "l_linenumber"))
    },
    Query("q_rowwise_mul")(
      """SELECT l_orderkey, l_linenumber,
        | ((COALESCE(l_extendedprice, 1) * COALESCE(l_discount, 1)) * COALESCE(l_tax, 1)) AS rowmul
        |FROM lineitem""".stripMargin) { (s, dir) =>
      TBasic(Tables.lineitem(s, dir),
        TStep("mul", inCols = Seq("l_extendedprice", "l_discount", "l_tax"),
          outMode = "new_table", outName = Some("rowmul")),
        carryCols = Seq("l_orderkey", "l_linenumber"))
    },
    Query("q_rowwise_div")(
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_quantity = 0 THEN 0 ELSE l_extendedprice / l_quantity END AS rowdiv
        |FROM lineitem""".stripMargin) { (s, dir) =>
      TBasic(Tables.lineitem(s, dir),
        TStep("div", inCols = Seq("l_extendedprice", "l_quantity"),
          outMode = "new_table", outName = Some("rowdiv")),
        carryCols = Seq("l_orderkey", "l_linenumber"))
    },

    // ── astype cast (Tengine.py:95-96) ──
    Query("q_astype_cast")(
      "SELECT l_orderkey, CAST(l_linenumber AS DOUBLE) AS l_linenumber FROM lineitem") { (s, dir) =>
      TBasic(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber")),
        TStep("astype", inCols = Seq("l_linenumber"), castTo = Some("double")))
    },

    // ── rank, method=first ascending (Tengine.py:107-108) ──
    Query("q_rank_first", Headline)(
      """SELECT o_orderkey, o_totalprice,
        | ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rank_totalprice
        |FROM orders""".stripMargin) { (s, dir) =>
      TBasic(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice")),
        TStep("rank", inCols = Seq("o_totalprice")),
        carryCols = Seq("o_orderkey"))
        .withColumnRenamed("rank o_totalprice", "rank_totalprice")
    },

    // ── scale-path rank: range partition + zipWithIndex (no
    //    single-partition window) — same semantics as q_rank_first ──
    Query("q_rank_scalable")(
      """SELECT o_orderkey, o_totalprice,
        | ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rank_totalprice
        |FROM orders""".stripMargin) { (s, dir) =>
      graft.operators.Rank.zipWithIndexRank(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", Seq("o_orderkey"), "rank_totalprice")
    },

    // ── skew-resistant two-phase salted aggregation ──
    Query("q_salted_sum")(
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      graft.operators.Salt.saltedSumCount(
        Tables.lineitem(s, dir), "l_returnflag", "l_quantity")
    },

    // ── distributed date parsing from a sniffed format (utils.py:44-129) ──
    Query("q_date_parse")(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, COUNT(*) AS n
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val strs = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "M/d/yyyy").as("ds"))
      // sniff from ONE row via CollectLimit (short-circuits after the
      // first non-empty partition) — a first() aggregate here would
      // partial-agg every partition, i.e. a full scan just to sample.
      // In the engine proper the format comes from the Profiler's one
      // profiling pass; this query proves the distributed parse.
      val sample = strs.where(col("ds").isNotNull).select(col("ds")).limit(1)
        .head().getString(0)
      val fmt = graft.functions.DateSniffer.sparkFormat(sample).getOrElse("M/d/yyyy")
      // parseDate = to_date + the python 69-99 → 19xx two-digit-year
      // pivot (a no-op for this 4-digit gate format)
      strs.select(year(graft.functions.DateSniffer.parseDate(col("ds"), fmt))
          .cast("long").as("y"))
        .groupBy(col("y")).agg(count(lit(1)).as("n"))
    },

    // ── nominalize: category → sorted-distinct code (Tengine.py:109-114) ──
    Query("q_nominalize", Headline)(
      """SELECT c_custkey, c_mktsegment,
        | DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS segment_code
        |FROM customer""".stripMargin) { (s, dir) =>
      TBasic(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
        TStep("nominalize", inCols = Seq("c_mktsegment"), outName = Some("segment_code")))
        .select(col("c_custkey"), col("c_mktsegment"), col("segment_code"))
    },

    // ── sum_bar group-agg (search.py:949-965) ──
    Query("q_sum_bar", Headline)(
      """SELECT c_mktsegment,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS SUM_c_acctbal
        |FROM customer GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(sumd(col("c_acctbal")).as("SUM_c_acctbal"))
    },

    // ── count_bar group-agg (search.py:966-971) ──
    Query("q_count_bar", Headline)(
      "SELECT event_type, COUNT(*) AS n_count FROM events GROUP BY event_type") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_count"))
    },

    // ── top-k: score sort + cap (search.py:1261-1278) ──
    Query("q_topk_limit")(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    },
    Query("q_topk_per_group", Headline)(
      """SELECT * FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
    },

    // ── exact dedup (search.py:1280-1299 / dropDuplicates) ──
    Query("q_dedup_distinct", Headline)("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem") { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
    },

    // ── broadcast dimension join (channel zip on key, SURVEY §2.5) ──
    Query("q_join_enrich", Headline)(
      """SELECT r_name, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
             sumd(col("c_acctbal")).as("sum_acctbal"))
    },

    // ── min-max normalize (Tfunctions.py:13 et al.) ──
    Query("q_minmax_normalize", Headline)(
      """SELECT l_orderkey, l_linenumber,
        | (l_discount - (SELECT MIN(l_discount) FROM lineitem))
        |   / ((SELECT MAX(l_discount) FROM lineitem) - (SELECT MIN(l_discount) FROM lineitem)) AS nx,
        | (l_tax - (SELECT MIN(l_tax) FROM lineitem))
        |   / ((SELECT MAX(l_tax) FROM lineitem) - (SELECT MIN(l_tax) FROM lineitem)) AS ny
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"), col("l_tax"))
      TBasic.minMaxNormalize(li, Seq("l_discount", "l_tax"))
        .withColumnRenamed("l_discount", "nx")
        .withColumnRenamed("l_tax", "ny")
    },

    // ── 10×10 2-D histogram (score.py:30-58) ──
    Query("q_histogram2d", Headline)(
      """WITH norm AS (
        | SELECT
        |  (l_discount - (SELECT MIN(l_discount) FROM lineitem))
        |    / ((SELECT MAX(l_discount) FROM lineitem) - (SELECT MIN(l_discount) FROM lineitem)) AS nx,
        |  (l_tax - (SELECT MIN(l_tax) FROM lineitem))
        |    / ((SELECT MAX(l_tax) FROM lineitem) - (SELECT MIN(l_tax) FROM lineitem)) AS ny
        | FROM lineitem)
        |SELECT LEAST(CAST(FLOOR(nx * 10) AS BIGINT), 9) AS cellx,
        |       LEAST(CAST(FLOOR(ny * 10) AS BIGINT), 9) AS celly,
        |       COUNT(*) AS n
        |FROM norm GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"), col("l_tax"))
      val norm = TBasic.minMaxNormalize(li, Seq("l_discount", "l_tax"))
      norm
        .withColumn("cellx", least(floor(col("l_discount") * 10).cast(LongType), lit(9L)))
        .withColumn("celly", least(floor(col("l_tax") * 10).cast(LongType), lit(9L)))
        .groupBy(col("cellx"), col("celly"))
        .agg(count(lit(1)).as("n"))
    },

    // ── full profiler: type/key/nominal rules (spreadsheet.py:60-166) ──
    Query("q_profile_columns")(
      """WITH s AS (SELECT COUNT(*) AS n,
        |  COUNT(DISTINCT c_custkey) AS nd_ck, COUNT(DISTINCT c_name) AS nd_nm,
        |  COUNT(DISTINCT c_nationkey) AS nd_nk, COUNT(DISTINCT c_acctbal) AS nd_ab,
        |  CAST(MIN(c_custkey) AS DOUBLE) AS min_ck, CAST(MAX(c_custkey) AS DOUBLE) AS max_ck,
        |  CAST(MIN(c_nationkey) AS DOUBLE) AS min_nk, CAST(MAX(c_nationkey) AS DOUBLE) AS max_nk,
        |  MIN(c_acctbal) AS min_ab, MAX(c_acctbal) AS max_ab FROM customer)
        |SELECT 'c_custkey' AS col_name,
        |  CASE WHEN (nd_ck = n AND nd_nm < n) OR nd_ck <= 0.05 * n
        |       THEN 'nominal' ELSE 'int' END AS ltype,
        |  nd_ck AS n_distinct, 0 AS n_nulls, min_ck AS min_val, max_ck AS max_val,
        |  (nd_ck = n AND nd_nm < n) AS is_key FROM s
        |UNION ALL
        |SELECT 'c_nationkey',
        |  CASE WHEN (nd_nk = n AND nd_ck < n AND nd_nm < n) OR nd_nk <= 0.05 * n
        |       THEN 'nominal' ELSE 'int' END,
        |  nd_nk, 0, min_nk, max_nk, (nd_nk = n AND nd_ck < n AND nd_nm < n) FROM s
        |UNION ALL
        |SELECT 'c_acctbal',
        |  CASE WHEN nd_ab <= 0.05 * n THEN 'nominal' ELSE 'real' END,
        |  nd_ab, 0, min_ab, max_ab, FALSE FROM s""".stripMargin) { (s, dir) =>
      graft.profiler.Profiler.profileStatsDF(s, Tables.customer(s, dir))
    },

    // ── del + replace output modes (Tengine.py:132-137) ──
    Query("q_del_replace")(
      """SELECT l_orderkey, l_linenumber,
        | (COALESCE(l_discount, 0) + COALESCE(l_tax, 0)) AS disc_plus_tax
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val dropped = TBasic(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_discount"), col("l_tax")),
        TStep("del", inCols = Seq("l_returnflag")))
      TBasic(dropped, TStep("sum", inCols = Seq("l_discount", "l_tax"),
        outMode = "replace", outName = Some("disc_plus_tax")))
    },

    // ── first-class aggr (reserved in the reference, T.py:188) ──
    Query("q_aggr_multi")(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(DISTINCT l_partkey) AS nd_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      graft.operators.ChartAssembly.aggr(
        Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"),
        Seq(count(lit(1)).as("n"),
          sumd(col("l_quantity")).as("sum_qty"),
          (sumd(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          countDistinct(col("l_partkey")).as("nd_parts")))
    },

    // ── exact distributed percentiles (profiler extension) ──
    Query("q_profile_quantiles", Headline)(
      // position = 1 + (n−1)·p // 100, BIGINT end to end — "lower"
      // interpolation so no fractional-interpolation rounding can differ;
      // the ROW_NUMBER full sort here is oracle-side only (the engine
      // sorts distinct values + prefix sums, never rows)
      """WITH v AS (SELECT l_extendedprice AS x FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |p AS (SELECT unnest([1, 25, 50, 75, 99]) AS pct),
        |r AS (SELECT p.pct, 1 + ((n.n - 1) * p.pct) // 100 AS rk FROM p, n),
        |s AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v)
        |SELECT r.pct, s.x AS value FROM r JOIN s ON s.rn = r.rk""".stripMargin) { (s, dir) =>
      // value at position 1 + (n−1)·p div 100 — all-LONG position
      // arithmetic, distinct-value prefix-sum rank, no global sort
      graft.operators.Rank.exactPercentiles(
        Tables.lineitem(s, dir), "l_extendedprice", Seq(1, 25, 50, 75, 99))
    },

    Query("q_group_percentiles")(
      // q_profile_quantiles' 1 + (n−1)·p div 100 rank rule, per group
      """WITH v AS (SELECT o_orderpriority AS g, o_totalprice AS x
        |           FROM orders WHERE o_totalprice IS NOT NULL),
        |r AS (SELECT g, x,
        |        ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
        |        COUNT(*) OVER (PARTITION BY g) AS n
        |      FROM v),
        |p AS (SELECT unnest([25, 50, 75]) AS pct)
        |SELECT r.g AS o_orderpriority, p.pct, r.x AS value
        |FROM r JOIN p ON r.rn = 1 + ((r.n - 1) * p.pct) // 100""".stripMargin) { (s, dir) =>
      // per-priority order-statistic price quartiles — exact, via
      // group-partitioned windows (no sketch, no global sort)
      graft.operators.Rank.groupedPercentiles(
        Tables.orders(s, dir).select(col("o_orderpriority"), col("o_totalprice")),
        "o_orderpriority", "o_totalprice", Seq(25, 50, 75))
    },

    Query("q_robust_scale")(
      // the same exact order-statistic quartiles as q_profile_quantiles,
      // then one literal subtraction/division per row (IEEE-identical)
      """WITH v AS (SELECT l_extendedprice AS x FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |p AS (SELECT unnest([25, 50, 75]) AS pct),
        |r AS (SELECT p.pct, 1 + ((n.n - 1) * p.pct) // 100 AS rk FROM p, n),
        |s AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v),
        |q AS (SELECT
        |  MAX(CASE WHEN pct = 50 THEN CAST(s.x AS DOUBLE) END) AS med,
        |  MAX(CASE WHEN pct = 75 THEN CAST(s.x AS DOUBLE) END)
        |  - MAX(CASE WHEN pct = 25 THEN CAST(s.x AS DOUBLE) END) AS iqr
        |  FROM r JOIN s ON s.rn = r.rk)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  (l_extendedprice - med) / iqr AS robust_scaled
        |FROM lineitem, q""".stripMargin) { (s, dir) =>
      // outlier-resistant normalization: (v − median)/IQR with EXACT
      // order-statistic quartiles (three driver doubles, literal scan)
      graft.operators.Rank.robustScale(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
        "l_extendedprice", "robust_scaled")
    },

    Query("q_quantile_buckets")(
      // min-rank of each distinct value via the cumulative window (the
      // oracle affords it at gate scale); bucket = ((rank-1)*nB) // n —
      // the first-sorted-position rule, so ties share a bucket
      """WITH v AS (SELECT o_totalprice AS x FROM orders
        |  WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT x, COUNT(*) AS cnt FROM v GROUP BY x),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c),
        |r AS (SELECT x,
        |        1 + COALESCE(SUM(cnt) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rk
        |      FROM c)
        |SELECT o.o_orderkey, o.o_totalprice,
        |  CAST(((r.rk - 1) * 10) // n.n AS BIGINT) AS bucket
        |FROM orders o LEFT JOIN r ON o.o_totalprice = r.x, n""".stripMargin) { (s, dir) =>
      // exact equal-frequency decile labels for every order price —
      // tied values share a bucket (NTILE's arbitrary tie split would
      // be partitioning-dependent); distinct-value prefix-sum ranks
      graft.operators.Rank.bucketizeByQuantiles(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", "bucket", nBuckets = 10)
    },

    Query("q_profile_sketch", Headline, PinnedSf001)(
      // n_nonnull/min/max are computed exactly by DuckDB; only the HLL++
      // estimate is pinned (VALUES join) — it is partition-invariant for
      // a fixed input (register-max merge is commutative; verified bitwise
      // across parts×AQE), so the pin is a
      // constant of the sf0.01 gate fixture, not of any partitioning.
      // check.py skips pinned oracles when run off the sf0.01 fixture.
      """WITH s AS (
        |  SELECT 'l_quantity' AS "column", count(l_quantity) AS n_nonnull,
        |    CAST(min(l_quantity) AS DOUBLE) AS "min",
        |    CAST(max(l_quantity) AS DOUBLE) AS "max" FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(l_extendedprice),
        |    CAST(min(l_extendedprice) AS DOUBLE),
        |    CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(l_discount),
        |    CAST(min(l_discount) AS DOUBLE),
        |    CAST(max(l_discount) AS DOUBLE) FROM lineitem),
        |hll(c, approx_distinct) AS (VALUES
        |  ('l_quantity', CAST(47 AS BIGINT)),
        |  ('l_extendedprice', CAST(58565 AS BIGINT)),
        |  ('l_discount', CAST(11 AS BIGINT)))
        |SELECT s."column", s.n_nonnull, hll.approx_distinct, s."min", s."max"
        |FROM s JOIN hll ON s."column" = hll.c""".stripMargin) { (s, dir) =>
      // the unbounded-cardinality profiling path: HLL++ distinct +
      // GK approx quantiles, one pass, fixed sketch memory per column.
      // The gate checks the columns that are bit-deterministic under
      // ANY partitioning: n_nonnull/min/max are exact, and HLL++'s
      // register-max merge is commutative so its estimate is
      // partition-invariant for a fixed input (measured: identical
      // bits across parts∈{1,3,13,32}×AQE on/off at sf0.01).
      // The GK percentile columns are NOT merge-order-invariant (same
      // probe: p50/p75/p99 of the near-unique l_extendedprice move
      // within their error bound with partition count), so they stay
      // out of the hash gate and are bounded by SketchProfileSpec
      // against the exact order statistics instead.
      graft.operators.SketchProfile.sketchProfile(
          Tables.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select("column", "n_nonnull", "approx_distinct", "min", "max")
    },

    // ── profiling stats in one agg pass (spreadsheet.py:102-163) ──
    Query("q_profile_stats", Headline)(
      """SELECT COUNT(*) AS n_rows,
        | COUNT(DISTINCT l_orderkey) AS nd_orderkey,
        | COUNT(DISTINCT l_returnflag) AS nd_returnflag,
        | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        | MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("nd_orderkey"),
        countDistinct(col("l_returnflag")).as("nd_returnflag"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
    }
  )
}
