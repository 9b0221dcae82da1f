package graft.profiler

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ColumnProfile, EngineConfig, LogicalType, TableProfile}
import graft.functions.{DBSCAN, DateSniffer}
import graft.operators.Rank

/** Table profiler — the Spark port of the reference's `parsedata`
  * (spreadsheet.py:46-282).
  *
  * One aggregation collects every per-column stat: row count, exact
  * distinct for key detection, nulls, min/max, the smallest string
  * for date sniffing (so a column that mixes date-like and plain
  * strings is typed by its smallest string) and the K-bucket quantile
  * signature. Each row is exploded into one cell per column and the
  * cells are grouped by column index, so the query holds ONE distinct
  * group (the typed cell value) whatever the width. Spark plans a
  * single distinct group directly; several `countDistinct`s would go
  * through `RewriteDistinctAggregates`, whose `Expand` orders its groups by
  * hashing expressions that carry fresh expression ids — every new
  * frame of the same shape then got a new projection order and new
  * generated code. One group keeps the plan, and so the compiled
  * classes, the same for every table of one shape.
  *
  * Every stat is order-free (no `first`), so on a driver-local table
  * (the /vis/csv sheet) `graft.plans.FoldLocalAggregate`, which every
  * session carries, evaluates the whole aggregation on the driver with
  * no Spark job, and the profile equals Spark's.
  *
  * Everything downstream — type rules, key precedence, Wasserstein
  * distances, DBSCAN column clustering, name clustering — is
  * driver-side math over column-level facts, which stays O(#columns),
  * independent of row count. That is the 100 TB path: the data is
  * touched by one scan (plus, on the approx route, one re-count of the
  * columns near a decision boundary).
  */
object Profiler {

  /** NOMINALSTD (config.py:2): at most this fraction of distinct values
    * makes a column nominal (spreadsheet.py:100-101). */
  private val NominalStd = 0.05
  /** POTENTIALIDX (config.py:4): names the cluster cleanup drops. */
  private val PotentialIdx = Set("idx", "index", "epoch", "no", "no.")
  /** Points of the quantile signature the W1 distances are taken over. */
  private[graft] val QuantileBuckets = 64

  /** Per-column facts from the aggregation: `min`/`max` and
    * `quantiles` are over the numeric view (empty quantiles when the
    * column has no non-NaN value), `sample` is the smallest non-null
    * value cast to string, for the date sniffer. */
  private[graft] final case class RawStats(
      name: String, dt: DataType, distinct: Long, nulls: Long,
      min: Option[Double], max: Option[Double], sample: Option[String],
      quantiles: Array[Double])

  /** Column reference by LITERAL name: bare `col(name)` parses dots as
    * nested-field access, so a table with a column literally named
    * "No." or "price.usd" (dotted names are anticipated —
    * [[PotentialIdx]] contains "no.") would abort the whole profile
    * with an AnalysisException. Backtick-quoting (with doubling for
    * embedded backticks) resolves the flat name; identical to col()
    * for plain names. */
  private def quotedSql(name: String): String =
    "`" + name.replace("`", "``") + "`"
  private def qcol(name: String): Column = col(quotedSql(name))

  /** The approx-distinct routing decision, factored out so the spec
    * can probe it against stat-less sources directly. True when the
    * flag forces it, or when Catalyst's size estimate is both KNOWN
    * and above the configured threshold.
    *
    * "Known" is decided at the LEAVES, not the top of the plan: a
    * stat-less leaf (LogicalRDD, many V2 relations) reports the
    * spark.sql.defaultSizeInBytes placeholder, but Catalyst SCALES
    * that placeholder through projections/filters/limits (column-size
    * and selectivity ratios), so a top-of-plan estimate below the
    * sentinel can still be placeholder-derived fiction — a 100-row
    * RDD-backed frame with any projection would read as known-huge
    * and silently route to HLL, violating the stat-less-stays-exact
    * invariant. Any leaf at-or-past the sentinel (or with no row
    * count either) means UNKNOWN; unknown keeps the exact path
    * (slow-but-correct is the right failure direction for a size the
    * planner cannot see). */
  private[graft] def shouldApproxDistinct(df: DataFrame, cfg: EngineConfig): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val unknownSentinel = BigInt(scala.util.Try(
      df.sparkSession.conf.get("spark.sql.defaultSizeInBytes").toLong)
      .getOrElse(Long.MaxValue))
    val anyStatlessLeaf = plan.collectLeaves().exists { leaf =>
      val s = leaf.stats
      s.sizeInBytes >= unknownSentinel ||
        (s.sizeInBytes == 0 && s.rowCount.isEmpty && leaf.output.nonEmpty)
    }
    cfg.approxDistinct ||
      (!anyStatlessLeaf &&
        plan.stats.sizeInBytes > BigInt(cfg.approxDistinctAboveBytes))
  }

  /** Profile a table. Returns the (possibly augmented) DataFrame — a
    * synthetic `defaultindex` key column is appended when no natural
    * key exists (spreadsheet.py:168-177) — plus the TableProfile.
    */
  def profile(df0: DataFrame, cfg: EngineConfig = EngineConfig.default): (DataFrame, TableProfile) = {
    val df = cfg.maxSourceRows.fold(df0)(df0.limit)
    // a zero-column table has no cell to group: count its rows alone
    val (rows, raw) = if (df.schema.isEmpty) (df.count(), Nil) else columnStats(df, cfg)
    fromStats(df, rows, raw, cfg)
  }

  /** The row count and every column's [[RawStats]] of a table with at
    * least one column, from one aggregation (plus the approx route's
    * boundary re-count). */
  private[graft] def columnStats(df: DataFrame, cfg: EngineConfig): (Long, Seq[RawStats]) = {
    val fields = df.schema.fields.toSeq

    // scale auto-route: exact distinct counts shuffle every distinct
    // (column, value) cell — fine at fixture scale, costly on a large
    // ingest. When Catalyst's size estimate says the input is big,
    // take the HLL + boundary-re-count path regardless of the flag;
    // decisions stay exact either way. Stat-LESS sources (LogicalRDD,
    // many V2 relations) report spark.sql.defaultSizeInBytes =
    // Long.MaxValue as a conservative placeholder, and joins multiply
    // it further — an estimate at or past that sentinel means UNKNOWN,
    // not huge, so it must not flip a 100-row RDD-backed frame onto
    // HLL counts. Unknown keeps the exact path (slow-but-correct is
    // the right failure direction for a size the planner cannot see).
    val useApprox = shouldApproxDistinct(df, cfg)

    // ── one cell per (row, column): struct(i, v, d, s) ───────────────
    //   v — the value, typed: one slot per distinct Spark type in the
    //       schema, only column i's slot set, null when the value is.
    //       countDistinct(v) is countDistinct(column): same equality,
    //       same null handling, same float normalisation
    //   d — the numeric view feeding min/max and the quantiles
    //   s — the string cast the date sniffer samples
    // Field names are fixed (no column names), so the generated code
    // depends on the schema's shape only.
    val types = fields.map(_.dataType).distinct
    val cell = fields.zipWithIndex.map { case (f, i) =>
      val c = qcol(f.name)
      val numish = f.dataType match {
        case _: NumericType => c.cast(DoubleType)
        case DateType       => datediff(c, lit("1970-01-01")).cast(DoubleType)
        case TimestampType  => unix_timestamp(c).cast(DoubleType)
        // NTZ wall-clock → epoch seconds via TZ-FREE arithmetic (the
        // eventsRawNanos precedent): casting through TimestampType
        // would shift the stats by the caller session's timezone
        case TimestampNTZType => expr(
          s"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ${quotedSql(f.name)})")
          .cast(DoubleType)
        case _              => lit(null).cast(DoubleType)
      }
      val slots = types.zipWithIndex.map { case (t, j) =>
        (if (t == f.dataType) c else lit(null).cast(t)).as(s"t$j")
      }
      struct(lit(i).as("i"), when(c.isNotNull, struct(slots: _*)).as("v"),
        numish.as("d"), c.cast(StringType).as("s"))
    }
    val cells = df.select(explode(array(cell: _*)).as("c")).select("c.*")

    // ── the aggregation: one row per column, one distinct group ──────
    val probs = (0 until QuantileBuckets).map(i => lit(i.toDouble / (QuantileBuckets - 1)))
    val d = col("d")
    val stats = cells.groupBy("i").agg(
      count(lit(1)),
      if (useApprox) approx_count_distinct(col("v"), 0.01) else countDistinct(col("v")),
      count(lit(1)) - count(col("v")),
      min(d), max(d),
      // the date sniffer's sample: the smallest string, which skips
      // nulls and, unlike first(), does not depend on row order
      min(col("s")),
      // GK signatures (accuracy 1000 = relative error 0.001) over the
      // non-NaN values: percentile_approx ranks NaN above every
      // double, which would turn a NaN-bearing column's upper
      // quantiles — and every W1 distance touching it — into NaN
      percentile_approx(when(!isnan(d), d), array(probs: _*), lit(1000)))
      .collect().map(r => r.getInt(0) -> r).toMap
    // no groups: a zero-row table
    val rows = stats.headOption.fold(0L)(_._2.getLong(1))

    // approx route only: exact re-count for columns whose approximate
    // count is near a decision boundary — key detection (distinct ==
    // rows) or the nominal threshold (distinct ≤ 5%·rows). Typically a
    // handful of columns, one cheap agg over the same cells.
    val exactNd: Map[Int, Long] =
      if (!useApprox || rows == 0) Map.empty
      else {
        val nomThresh = rows * NominalStd
        def nearBoundary(approx: Long): Boolean = approx >= rows * 0.95 ||
          (approx >= nomThresh * 0.8 && approx <= nomThresh * 1.2)
        val boundary = stats.collect { case (i, r) if nearBoundary(r.getLong(2)) => i }.toSeq
        if (boundary.isEmpty) Map.empty
        else cells.filter(col("i").isin(boundary: _*)).groupBy("i")
          .agg(countDistinct(col("v"))).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
      }

    val raw = fields.zipWithIndex.map { case (f, i) =>
      stats.get(i).fold(RawStats(f.name, f.dataType, 0L, 0L, None, None, None, Array.empty)) { r =>
        def opt(j: Int): Option[Double] = if (r.isNullAt(j)) None else Some(r.getDouble(j))
        RawStats(f.name, f.dataType, exactNd.getOrElse(i, r.getLong(2)), r.getLong(3),
          opt(4), opt(5), Option(r.getString(6)),
          if (r.isNullAt(7)) Array.empty else r.getSeq[Double](7).toArray)
      }
    }
    (rows, raw)
  }

  /** The profile of `df` from its column facts: type and key rules,
    * the synthetic key, distances and clusters — driver-side only. */
  private[graft] def fromStats(df: DataFrame, rows: Long, raw: Seq[RawStats],
                               cfg: EngineConfig): (DataFrame, TableProfile) = {
    // ── type + key rules in column order (spreadsheet.py:60-166) ─────
    // mutable view mirroring the reference's in-place demotion logic
    final case class St(var ltype: LogicalType, var isKey: Boolean)
    val st = scala.collection.mutable.LinkedHashMap[String, St]()
    var key: Option[String] = None
    def keyType: Option[LogicalType] = key.map(st(_).ltype)

    raw.foreach { r =>
      val family = LogicalType.fromSpark(r.dt)
      family match {
        case LogicalType.Str =>
          if (r.sample.exists(DateSniffer.isDate) && r.dt == StringType)
            st(r.name) = St(LogicalType.Date, isKey = false)
          else {
            val s = St(LogicalType.Str, isKey = false)
            st(r.name) = s
            if (r.distinct == rows && rows > 0) {
              if (!keyType.contains(LogicalType.Str)) {
                key.foreach { k =>
                  st(k).isKey = false
                  if (st(k).ltype == LogicalType.Nominal) st(k).ltype = LogicalType.Int
                }
                s.isKey = true; key = Some(r.name)
              }
            } else if (r.distinct <= rows * NominalStd)
              s.ltype = LogicalType.Nominal
          }
        case LogicalType.Int =>
          val s = St(LogicalType.Int, isKey = false)
          st(r.name) = s
          if (r.distinct == rows && rows > 0 &&
              !keyType.exists(t => t == LogicalType.Str || t == LogicalType.Int || t == LogicalType.Nominal)) {
            key.foreach(k => st(k).isKey = false)
            s.isKey = true; key = Some(r.name)
          }
          if (r.distinct <= rows * NominalStd || s.isKey)
            s.ltype = LogicalType.Nominal
        case LogicalType.Real =>
          val s = St(LogicalType.Real, isKey = false)
          st(r.name) = s
          if (cfg.floatCanBeKey && r.distinct == rows && rows > 0 &&
              !keyType.exists(t => t == LogicalType.Str || t == LogicalType.Int || t == LogicalType.Real)) {
            key.foreach(k => st(k).isKey = false)
            s.isKey = true; key = Some(r.name)
          }
          if (r.distinct <= rows * NominalStd || s.isKey)
            s.ltype = LogicalType.Nominal
        case _ =>
          st(r.name) = St(LogicalType.Date, isKey = false)
      }
    }

    // synthetic key when none inferred (spreadsheet.py:168-177):
    // numbered on the driver for a local table, else by zipWithIndex,
    // distributed and deterministic for a fixed file layout (no Window
    // single-partition funnel)
    var out = df
    if (key.isEmpty) {
      out = appendDefaultIndex(df)
      st("defaultindex") = St(LogicalType.Nominal, isKey = true)
      key = Some("defaultindex")
    }

    val numeric = raw.filter(r => st(r.name).ltype == LogicalType.Int || st(r.name).ltype == LogicalType.Real)
    val numericCols = numeric.map(_.name)
    val quantiles: Map[String, Array[Double]] = numeric.map(r => r.name -> r.quantiles).toMap

    // Wasserstein-1 via quantile signatures: W1(A,B) = ∫|F_A⁻¹-F_B⁻¹|
    // ≈ mean |q_i^A − q_i^B| (spreadsheet.py:187-190, utils.py:137-163
    // compute this exactly on raw values; the sketch form is the
    // scale-safe equivalent)
    def w1(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => math.abs(x - y) }.sum / a.length
    val distMat: Map[(String, String), Double] = (for {
      a <- numericCols; b <- numericCols
    } yield (a, b) -> w1(quantiles(a), quantiles(b))).toMap

    // ── dimension-match clusters: DBSCAN(eps=1, minPts=5, wasserstein)
    //    over columns-as-points (spreadsheet.py:197-213) ──────────────
    val nIdx = numericCols.toArray
    val labels =
      if (nIdx.isEmpty) Array.empty[Int]
      else DBSCAN.fit(nIdx.length, (i, j) => distMat((nIdx(i), nIdx(j))), eps = 1.0, minPts = 5)
    var dimClusters: Seq[Seq[String]] =
      labels.zipWithIndex.filter(_._1 >= 0).groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(p => nIdx(p._2)).toSeq)
    // the full numeric set is always a cluster (spreadsheet.py:212-213)
    if (!dimClusters.contains(numericCols)) dimClusters = dimClusters :+ numericCols

    // ── unit clusters: shared "(unit)" suffix (spreadsheet.py:217-228) ─
    val names = out.columns.toSeq
    val unitOf: Map[String, String] = names.map { n =>
      n -> (if (n.endsWith(")") && n.contains("(")) n.split('(').last.dropRight(1) else "")
    }.toMap
    val unitClusters = unitOf.values.filter(_.nonEmpty).toSeq.distinct
      .map(u => names.filter(n => unitOf(n) == u))

    // ── semantic name clusters (spreadsheet.py:231-253): w2v DBSCAN
    //    over first-token vectors, feature-flagged like the reference's
    //    optional GoogleNews asset; then name-substring clusters:
    //    ≥2-char token in ≥2 names (spreadsheet.py:256-262). Semantic
    //    clusters come FIRST, matching the reference's append order ──
    val semClusters =
      if (cfg.semanticNameClusters) SemClusters.cluster(names, cfg.semEmbeddingPath)
      else Nil
    val tokens = names.flatMap(n => n.toLowerCase.split("[^a-z0-9]+").filter(_.length >= 2)).distinct
    val nameClusters = semClusters ++ tokens
      .map(t => names.filter(_.toLowerCase.contains(t)))
      .filter(_.size >= 2)

    // ── cluster cleanup (spreadsheet.py:264-282): numeric-only, no
    //    potential-index columns, ≥2 unique members ────────────────────
    def clean(clusters: Seq[Seq[String]]): Seq[Seq[String]] = {
      val numSet = numericCols.toSet
      clusters
        .map(_.filter(c => numSet.contains(c) && !PotentialIdx.contains(c.toLowerCase)))
        .filter(_.size >= 2).distinct
    }

    val profiles = raw.map { r =>
      ColumnProfile(r.name, r.dt.simpleString, st(r.name).ltype, r.distinct, r.nulls,
        r.min, r.max, st(r.name).isKey, quantiles.get(r.name))
    } ++ (if (st.contains("defaultindex") && !raw.exists(_.name == "defaultindex"))
      Seq(ColumnProfile("defaultindex", "bigint", LogicalType.Nominal, rows, 0,
        Some(0.0), Some((rows - 1).toDouble), isKey = true, None))
    else Nil)

    (out, TableProfile(rows, profiles, key, distMat,
      clean(dimClusters ++ unitClusters), clean(unitClusters), clean(nameClusters)))
  }

  /** Append a 0..n-1 `defaultindex` column without a global sort. A
    * driver-local table stays local: its rows are numbered in row order
    * on the driver (the numbers `zipWithIndex` gives), so later reads of
    * it keep folding there instead of running jobs over an RDD. */
  def appendDefaultIndex(df: DataFrame): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField("defaultindex", LongType, nullable = false))
    def indexed(r: Row, i: Long) = Row.fromSeq(r.toSeq :+ i)
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        df.sparkSession.createDataFrame(
          df.collect().toSeq.zipWithIndex.map { case (r, i) => indexed(r, i.toLong) }.asJava, schema)
      case _ => df.sparkSession.createDataFrame(df.rdd.zipWithIndex().map((indexed _).tupled), schema)
    }
  }

  /** The per-column stats as a DataFrame — the declared-query surface
    * for the profiling operator (numeric columns only, so min/max stay
    * typed double and SQL-comparable). */
  def profileStatsDF(spark: SparkSession, df: DataFrame, cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val (_, prof) = profile(df, cfg)
    val rows = prof.columns
      .filter(c => c.min.isDefined && (c.sparkType != "date" &&
        c.sparkType != "timestamp" && c.sparkType != "timestamp_ntz"))
      .map(c => Row(c.name, c.logicalType.name, c.distinctCount, c.nullCount,
        c.min.get, c.max.get, c.isKey))
    val schema = StructType(Seq(
      StructField("col_name", StringType), StructField("ltype", StringType),
      StructField("n_distinct", LongType), StructField("n_nulls", LongType),
      StructField("min_val", DoubleType), StructField("max_val", DoubleType),
      StructField("is_key", BooleanType)))
    spark.createDataFrame(rows.asJava, schema)
  }
}
