package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.{DBSCAN, DateSniffer}
import graft.profiler.{Profiler, SemClusters}

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("type rules: str key demotes int key back to int (spreadsheet.py:89-99)") {
    // 20 rows: id (int, all distinct), name (str, all distinct),
    // seg (str, 1 distinct ≤ 5%), v (real)
    val df = (1 to 20).map(i => (i.toLong, s"name_$i", "only", i * 1.5))
      .toDF("id", "name", "seg", "v")
    val (_, p) = Profiler.profile(df)
    assert(p.keyColumn.contains("name"))
    assert(p.column("name").get.logicalType == LogicalType.Str)
    assert(p.column("name").get.isKey)
    // id was key (→nominal), then demoted by the str key → back to int
    assert(p.column("id").get.logicalType == LogicalType.Int)
    assert(!p.column("id").get.isKey)
    assert(p.column("seg").get.logicalType == LogicalType.Nominal)
    assert(p.column("v").get.logicalType == LogicalType.Real)
  }

  test("int key without str competitor becomes nominal key") {
    val df = (1 to 20).map(i => (i.toLong, "dup", i * 1.5)).toDF("id", "s", "v")
    val (_, p) = Profiler.profile(df)
    assert(p.keyColumn.contains("id"))
    assert(p.column("id").get.logicalType == LogicalType.Nominal)
    assert(p.column("id").get.isKey)
  }

  test("no key → synthetic defaultindex appended") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("s", "v")
    val (out, p) = Profiler.profile(df)
    assert(p.keyColumn.contains("defaultindex"))
    assert(out.columns.contains("defaultindex"))
    val idx = out.select("defaultindex").as[Long].collect().sorted
    assert(idx.toSeq == Seq(0L, 1L, 2L))
  }

  test("date sniffing routes string date columns to Date") {
    val df = Seq(("12/24/2019", 1.0), ("1/3/2020", 2.0), ("07/14/2021", 3.0))
      .toDF("d", "v")
    val (_, p) = Profiler.profile(df)
    assert(p.column("d").get.logicalType == LogicalType.Date)
  }

  test("a column mixing date-like and plain strings is typed by its smallest string, on any partitioning") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("when", StringType),
      StructField("v", DoubleType)))
    // the first rows are plain strings: a first-value sample read
    // "pending" on one partition and could read either kind on four
    val rows = (0 until 40).map { i =>
      Row(i.toLong, i % 4 match {
        case 0 => "pending"
        case 1 => null
        case _ => s"${i % 12 + 1}/${i % 28 + 1}/2020"
      }, (i % 13) * 1.5)
    }
    val local = Profiler.profile(spark.createDataFrame(rows.asJava, schema))._2
    assert(local.column("when").get.logicalType == LogicalType.Date)
    Seq(1, 4).foreach { parts =>
      assertSameProfile(Profiler.profile(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema))._2, local)
    }
  }

  test("DateSniffer matches reference formats") {
    assert(DateSniffer.sniff("12.24.2019").get.toString == "2019-12-24")
    assert(DateSniffer.sniff("2019-12-24").get.toString == "2019-12-24")
    assert(DateSniffer.sniff("8-January-2019").get.toString == "2019-01-08")
    assert(DateSniffer.sniff("Dec 31 19").get.toString == "2019-12-31")
    assert(DateSniffer.sniff("1998").get.toString == "1998-01-01")
    assert(DateSniffer.sniff("1/24/20").get.toString == "2020-01-24")
    assert(DateSniffer.sniff("31 Dec 99").get.toString == "1999-12-31")
    assert(DateSniffer.sniff("hello").isEmpty)
    assert(DateSniffer.sniff("123456").isEmpty)
  }

  test("DBSCAN: two blobs + noise, sklearn-compatible labels") {
    val pts = Array(
      Array(0.0, 0.0), Array(0.1, 0.0), Array(0.0, 0.1), Array(0.1, 0.1), Array(0.05, 0.05),
      Array(5.0, 5.0), Array(5.1, 5.0), Array(5.0, 5.1), Array(5.1, 5.1), Array(5.05, 5.05),
      Array(100.0, 100.0))
    val labels = DBSCAN.fitPoints(pts, eps = 0.5, minPts = 5)
    assert(labels.take(5).forall(_ == 0))
    assert(labels.slice(5, 10).forall(_ == 1))
    assert(labels(10) == -1)
  }

  test("approx-distinct profiling reaches the same types and key as exact") {
    val df = (1 to 2000).map(i => (i.toLong, s"name_$i", s"seg${i % 5}", i * 1.5))
      .toDF("id", "name", "seg", "v")
    val exact = Profiler.profile(df)._2
    val approx = Profiler.profile(df, EngineConfig(approxDistinct = true))._2
    assert(approx.keyColumn == exact.keyColumn)
    exact.columns.zip(approx.columns).foreach { case (e, a) =>
      assert(a.logicalType == e.logicalType, e.name)
      assert(a.isKey == e.isKey, e.name)
    }
  }

  test("approx-distinct boundary re-check holds on a real table (customer sf0.1, 15k rows)") {
    // the scale path: HLL counts in the main pass, exact re-count only
    // for columns near a decision boundary (key detection / nominal
    // threshold). On real data every type/key decision must match the
    // exact pass — this is the evidence for flipping approxDistinct on
    // at cluster scale (see ARCHITECTURE.md).
    val df = graft.sources.Tables.customer(spark, "/root/testdata/sf0.1")
    val exact = Profiler.profile(df)._2
    val approx = Profiler.profile(df, EngineConfig(approxDistinct = true))._2
    assert(approx.rows == exact.rows)
    assert(approx.keyColumn == exact.keyColumn)
    exact.columns.zip(approx.columns).foreach { case (e, a) =>
      assert(a.logicalType == e.logicalType, e.name)
      assert(a.isKey == e.isKey, e.name)
    }
  }

  test("approx-distinct auto-routes on plan size; fixtures stay exact (round 11)") {
    // A caller who never heard of approxDistinct must not hit the
    // expand-based exact countDistinct on a 100 TB ingest: when
    // Catalyst's size estimate exceeds approxDistinctAboveBytes the
    // profiler takes the HLL + boundary-re-count path on its own.
    val df = (1 to 2000).map(i => (i.toLong, s"name_$i", s"seg${i % 5}", i * 1.5))
      .toDF("id", "name", "seg", "v")
    val exact = Profiler.profile(df)._2
    // threshold 0 forces the auto-route even on this tiny frame; every
    // decision must still match the exact pass (boundary re-count)
    val routed = Profiler.profile(df,
      EngineConfig(approxDistinctAboveBytes = 0L))._2
    assert(routed.keyColumn == exact.keyColumn)
    exact.columns.zip(routed.columns).foreach { case (e, a) =>
      assert(a.logicalType == e.logicalType, e.name)
      assert(a.isKey == e.isKey, e.name)
    }
    // and the default 1 GiB threshold keeps this fixture on the exact
    // path: non-boundary distinct counts are exact, not HLL estimates
    // (seg has 5 distinct — far from both decision boundaries, so an
    // HLL pass would have had no exact re-count to correct it)
    assert(exact.column("seg").get.distinctCount == 5L)
    // routing decision, probed directly: known-small stays exact,
    // threshold-0 routes, and a STAT-LESS source (LogicalRDD reports
    // the spark.sql.defaultSizeInBytes placeholder) must NOT route —
    // at-or-past the sentinel means unknown, not huge
    assert(!Profiler.shouldApproxDistinct(df, EngineConfig()))
    assert(Profiler.shouldApproxDistinct(df,
      EngineConfig(approxDistinctAboveBytes = 0L)))
    val rddDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 100).map(i => org.apache.spark.sql.Row(i.toLong))),
      new org.apache.spark.sql.types.StructType()
        .add("v", org.apache.spark.sql.types.LongType))
    assert(!Profiler.shouldApproxDistinct(rddDf,
      EngineConfig(approxDistinctAboveBytes = 0L)),
      "a stat-less source must keep the exact path even at threshold 0")
    // the porous-guard case: Catalyst SCALES the placeholder through
    // projections (output-row-size / input-row-size ratio), so the
    // top-of-plan estimate of a NARROWING projection over a stat-less
    // frame drops BELOW the sentinel and a top-level check would read
    // it as known-huge. Unknown-ness must be decided at the leaves
    val rddWide = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 100).map(i => org.apache.spark.sql.Row(i.toLong, "x" * 50))),
      new org.apache.spark.sql.types.StructType()
        .add("v", org.apache.spark.sql.types.LongType)
        .add("s", org.apache.spark.sql.types.StringType))
    val projected = rddWide.select(col("v"))
    assert(projected.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(Long.MaxValue),
      "precondition: the narrowing projection scales the placeholder below the sentinel")
    assert(!Profiler.shouldApproxDistinct(projected,
      EngineConfig(approxDistinctAboveBytes = 0L)),
      "a PROJECTED stat-less frame must keep the exact path (leaf-level detection)")
  }

  test("quantile signatures drive Wasserstein distances") {
    val df = (1 to 1000).map(i => (i.toLong, i.toDouble, i.toDouble + 100.0, s"n$i"))
      .toDF("id", "a", "b", "nm")
    val (_, p) = Profiler.profile(df)
    val d = p.distanceMatrix(("a", "b"))
    assert(math.abs(d - 100.0) < 2.0) // shifted distribution: W1 = shift
    assert(p.distanceMatrix(("a", "a")) == 0.0)
  }

  test("semantic name clusters: synthetic embedding file groups synonyms") {
    import java.nio.file.Files
    // 5 money-ish tokens packed within eps=0.5 of each other, two far
    // outliers — matches the reference's DBSCAN(eps=0.5, minPts=5)
    // over first-token vectors (spreadsheet.py:238-246)
    val emb = Files.createTempFile("w2v", ".txt")
    val money = Seq("price", "cost", "value", "total", "amount").zipWithIndex
      .map { case (w, i) => s"$w ${1.0 + i * 0.01} 0.0 0.0" }
    val far = Seq("weight -5.0 3.0 0.0", "height 4.0 -6.0 1.0", "TOKEN 9.0 9.0 9.0")
    Files.writeString(emb, (money ++ far).mkString("\n"))
    val names = Seq("price_usd", "cost (usd)", "Value2", "total-sum", "amount",
      "weight", "height")
    val got = SemClusters.cluster(names, Some(emb.toString))
    assert(got == Seq(Seq("price_usd", "cost (usd)", "Value2", "total-sum", "amount")))
    Files.delete(emb)
  }

  test("semEmbeddingPath reaches the profile: nameClusters follow the file's vectors") {
    import java.nio.file.Files
    // the five money tokens sit within eps of each other in the file;
    // hashed, distinct tokens are near-orthogonal and form no cluster
    val money = Seq("price", "cost", "value", "total", "amount")
    val emb = Files.createTempFile("w2v", ".txt")
    Files.writeString(emb, money.zipWithIndex
      .map { case (w, i) => s"$w ${1.0 + i * 0.01} 0.0 0.0" }.mkString("\n"))
    val df = (1 to 50).map(i => (s"r$i", i * 1.0, i * 2.0, i * 3.0, i * 4.0, i * 5.0))
      .toDF("name" +: money: _*)
    try {
      val fromFile = Profiler.profile(df, EngineConfig(semanticNameClusters = true,
        semEmbeddingPath = Some(emb.toString)))._2
      assert(fromFile.nameClusters.exists(_.toSet == money.toSet), fromFile.nameClusters)
      val hashed = Profiler.profile(df, EngineConfig(semanticNameClusters = true))._2
      assert(!hashed.nameClusters.exists(_.toSet == money.toSet), hashed.nameClusters)
    } finally Files.delete(emb)
  }

  test("maxSourceRows caps the profiled rows") {
    val df = (1 to 50).map(i => (s"r$i", i * 1.0)).toDF("name", "v")
    val (pdf, p) = Profiler.profile(df, EngineConfig(maxSourceRows = Some(7)))
    assert(p.rows == 7 && pdf.count() == 7)
  }

  test("semantic name clusters: hashed fallback groups same leading token") {
    // no embedding file: identical first tokens are distance 0, distinct
    // tokens near-orthogonal 16-d hashes (far beyond eps) → degraded
    // mode clusters exactly "same leading token"
    val names = Seq("sales_1", "sales_2", "sales_3", "sales_4", "sales_5",
      "profit", "margin")
    val got = SemClusters.cluster(names, None)
    assert(got == Seq(Seq("sales_1", "sales_2", "sales_3", "sales_4", "sales_5")))
  }

  test("semanticNameClusters flag feeds nameClusters ahead of substring clusters") {
    val df = (1 to 50).map(i => (i.toLong, i * 1.0, i * 2.0, i * 3.0, i * 4.0, i * 5.0))
      .toDF("id", "rev a", "rev b", "rev c", "rev d", "rev e")
    val on = Profiler.profile(df, EngineConfig(semanticNameClusters = true))._2
    // all five share first token "rev": one semantic cluster — and the
    // substring path finds the same member set, deduped by clean()
    assert(on.nameClusters.exists(_.toSet ==
      Set("rev a", "rev b", "rev c", "rev d", "rev e")))
    val off = Profiler.profile(df)._2
    assert(off.nameClusters == on.nameClusters.distinct)
  }

  test("dotted column names profile instead of parsing as nested-field access") {
    // bare col("price.usd") is struct access in Spark; the profiler
    // must backtick-quote (POTENTIALIDX even anticipates "no.")
    import spark.implicits._
    val df = (1 to 40).map(i => (s"r$i", i * 1.5, i % 7))
      .toDF("No.", "price.usd", "qty.ordered")
    val (_, prof) = Profiler.profile(df)
    assert(prof.columns.map(_.name).toSet == Set("No.", "price.usd", "qty.ordered"))
    val priceCol = prof.columns.find(_.name == "price.usd").get
    assert(priceCol.max.contains(60.0), s"numeric stats must profile: $priceCol")
  }

  // ---- the one-pass profile against the former two-pass formulation ----

  private val wideSchema = StructType(Seq(
    StructField("name", StringType), StructField("tag", StringType),
    StructField("qty", IntegerType), StructField("big", LongType),
    StructField("amount", DecimalType(10, 2)), StructField("x", DoubleType),
    StructField("day", DateType), StructField("at", TimestampType),
    StructField("wall", TimestampNTZType), StructField("price.usd", DoubleType),
    StructField("empty", DoubleType)))

  /** 60 rows over every profiled type: `x` holds NaN, −0.0, 0.0 and
    * nulls, `empty` is all null, `name` is the natural key. `shift`
    * moves every value, for a second table of the same shape. */
  private def wideTable(shift: Int = 0, n: Int = 60): DataFrame =
    spark.createDataFrame(wideRows(shift, n).asJava, wideSchema)

  /** The rows of [[wideTable]] as an RDD-backed frame over 4 partitions,
    * which no local fold touches: Spark runs its profile. */
  private def wideRddTable(shift: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(wideRows(shift, 60), 4), wideSchema)

  private def wideRows(shift: Int, n: Int): Seq[Row] =
    (0 until n).map { i =>
      val j = i + shift
      val x: Any = i match {
        case 0 | 3 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case _ if i % 7 == 0 => null
        case _ => j * 0.5
      }
      Row(s"row$j", s"t${i % 3}", i % 9 + shift, j.toLong * j,
        if (i % 11 == 0) null else new java.math.BigDecimal(j * 1.25).setScale(2),
        x, Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(j.toLong * 3)),
        if (i % 13 == 0) null else new Timestamp(1577836800000L + j * 3600000L),
        LocalDateTime.of(2021, 6, 1, 0, 0).plusMinutes(j.toLong * j),
        (i % 10) * 2.5 + shift, null)
    }

  /** The former two-aggregation formulation, kept as the reference:
    * pass 1 is one `agg` with a `countDistinct` per column, pass 2 one
    * `percentile_approx` per numeric column over its non-NaN values. */
  private def twoPassStats(df: DataFrame): (Long, Seq[Profiler.RawStats]) = {
    val fields = df.schema.fields.toSeq
    val buckets = Profiler.QuantileBuckets
    def q(name: String): Column = col("`" + name.replace("`", "``") + "`")
    def numish(f: StructField): Option[Column] = f.dataType match {
      case _: NumericType => Some(q(f.name).cast(DoubleType))
      case DateType => Some(datediff(q(f.name), lit("1970-01-01")).cast(DoubleType))
      case TimestampType => Some(unix_timestamp(q(f.name)).cast(DoubleType))
      case TimestampNTZType => Some(expr(
        s"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `${f.name}`)").cast(DoubleType))
      case _ => None
    }
    val aggs = count(lit(1)) +: fields.flatMap { f =>
      val c = q(f.name)
      Seq(countDistinct(c), sum(when(c.isNull, 1L).otherwise(0L)),
        numish(f).map(min(_)).getOrElse(lit(null).cast(DoubleType)),
        numish(f).map(max(_)).getOrElse(lit(null).cast(DoubleType)),
        first(c.cast(StringType), ignoreNulls = true))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val numeric = fields.filter(_.dataType.isInstanceOf[NumericType])
    val probs = array((0 until buckets).map(i => lit(i.toDouble / (buckets - 1))): _*)
    val sigs = if (numeric.isEmpty) Map.empty[String, Array[Double]] else {
      val qs = numeric.map { f =>
        val d = q(f.name).cast(DoubleType)
        percentile_approx(when(!isnan(d), d), probs, lit(1000))
      }
      val row = df.agg(qs.head, qs.tail: _*).head()
      numeric.indices.map(i => numeric(i).name ->
        (if (row.isNullAt(i)) Array.empty[Double] else row.getSeq[Double](i).toArray)).toMap
    }
    def opt(j: Int): Option[Double] = Option(r.get(j)).map(_.asInstanceOf[Double])
    (r.getLong(0), fields.zipWithIndex.map { case (f, i) =>
      val o = 1 + 5 * i
      Profiler.RawStats(f.name, f.dataType, r.getLong(o),
        if (r.isNullAt(o + 1)) 0L else r.getLong(o + 1), opt(o + 2), opt(o + 3),
        Option(r.getString(o + 4)), sigs.getOrElse(f.name, Array.empty))
    })
  }

  /** The doubles of a column profile as bits, so NaN equals NaN and
    * −0.0 differs from 0.0. */
  private def bits(c: ColumnProfile): Seq[Option[Seq[Long]]] =
    Seq(c.min.map(Array(_)), c.max.map(Array(_)), c.quantiles)
      .map(_.map(_.toSeq.map(java.lang.Double.doubleToLongBits)))

  /** Every ColumnProfile field equal — the doubles bit for bit — and
    * the rest of the profile equal. */
  private def assertSameProfile(got: TableProfile, want: TableProfile): Unit = {
    assert(got.rows == want.rows)
    assert(got.keyColumn == want.keyColumn)
    assert(got.columns.size == want.columns.size)
    got.columns.zip(want.columns).foreach { case (g, w) =>
      def rest(c: ColumnProfile) = c.copy(min = None, max = None, quantiles = None)
      assert(rest(g) == rest(w), g.name)
      assert(bits(g) == bits(w), g.name)
    }
    assert(got.distanceMatrix == want.distanceMatrix)
    assert((got.dimClusters, got.unitClusters, got.nameClusters) ==
      (want.dimClusters, want.unitClusters, want.nameClusters))
  }

  private def twoPassProfile(df: DataFrame): TableProfile = {
    val (rows, raw) = twoPassStats(df)
    Profiler.fromStats(df, rows, raw, EngineConfig.default)._2
  }

  test("one-pass profile equals the two-pass formulation on every type") {
    val df = wideTable()
    val got = Profiler.profile(df)._2
    assertSameProfile(got, twoPassProfile(df))
    // the fixture reaches the cases it is for
    val c = got.columns.map(c => c.name -> c).toMap
    assert(got.keyColumn.contains("name"))
    // 2 NaNs, −0.0 and 0.0, 8 nulls, 48 other values
    assert(c("x").distinctCount == 50, "NaNs are one value and −0.0 is 0.0")
    assert(c("x").nullCount == 8 && c("x").max.exists(_.isNaN))
    assert(c("x").quantiles.exists(q => q.length == 64 && q.forall(!_.isNaN)))
    assert(c("empty").distinctCount == 0 && c("empty").nullCount == 60)
    assert(c("price.usd").quantiles.isDefined)
    assert(Seq("day", "at", "wall").forall(n => c(n).logicalType == LogicalType.Date && c(n).min.isDefined))
    assert(c("tag").logicalType == LogicalType.Nominal && c("qty").logicalType == LogicalType.Int)
  }

  test("zero-row and zero-column tables: defaultindex key, every non-date column nominal") {
    val df = wideTable(n = 0)
    val got = Profiler.profile(df)._2
    assertSameProfile(got, twoPassProfile(df))
    assert(got.rows == 0 && got.keyColumn.contains("defaultindex"))
    assert(got.columns.filter(_.logicalType != LogicalType.Date).map(_.name) ==
      Seq("name", "tag", "qty", "big", "amount", "x", "price.usd", "empty", "defaultindex"))
    assert(got.columns.forall(c => c.logicalType == LogicalType.Date || c.logicalType == LogicalType.Nominal))
    val approx = Profiler.profile(df, EngineConfig(approxDistinct = true))._2
    assertSameProfile(approx, got)
    // and a zero-column table still counts its rows
    val (out, bare) = Profiler.profile(spark.range(3).select())
    assert(bare.rows == 3 && bare.keyColumn.contains("defaultindex"))
    assert(out.count() == 3)
  }

  test("approx route on every type: the same types and key as exact") {
    val df = wideTable()
    val exact = Profiler.profile(df)._2
    val approx = Profiler.profile(df, EngineConfig(approxDistinct = true))._2
    assert(approx.keyColumn == exact.keyColumn)
    exact.columns.zip(approx.columns).foreach { case (e, a) =>
      assert((a.name, a.logicalType, a.isKey) == (e.name, e.logicalType, e.isKey))
    }
  }

  test("signatures skip NaN; all-null and all-NaN columns get none") {
    // percentile_approx ranks NaN above every double: unfiltered, a
    // 10%-NaN column's upper quantiles would read NaN and poison every
    // W1 distance touching it
    val df = spark.range(10000).select(
      when(col("id") % 10 === 0, lit(Double.NaN)).otherwise(col("id").cast("double")).as("x"),
      col("id").cast("double").as("unique"),
      lit(Double.NaN).as("all_nan"), lit(null).cast("double").as("all_null"))
    val raw = Profiler.columnStats(df, EngineConfig.default)._2.map(r => r.name -> r).toMap
    assert(raw("x").quantiles.length == 64 && raw("x").quantiles.forall(!_.isNaN),
      s"NaN leaked into the signature: ${raw("x").quantiles.mkString(",")}")
    // p=1.0 over the 9000 non-NaN values is their exact max
    assert(raw("x").quantiles.last == 9999.0)
    assert(raw("all_nan").quantiles.isEmpty && raw("all_null").quantiles.isEmpty)
    // accuracy 1000 on 10000 rows: positional error ≤ 10
    raw("unique").quantiles.zipWithIndex.foreach { case (v, i) =>
      assert(math.abs(v - 9999.0 * i / 63) <= 11.0, s"bucket $i: $v")
    }
  }

  /** Profiles `table(1)`, which compiles its shape once, then
    * `table(2)`: the second profile's optimized plans, Janino compiles
    * and Spark jobs. */
  private def secondProfile(table: Int => DataFrame): (Seq[LogicalPlan], Long, Int) = {
    Profiler.profile(table(1))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val df = table(2)
    SpecBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(jobCounter)
    val compiled = try {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Profiler.profile(df)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    } finally {
      SpecBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(jobCounter)
    }
    (plans.toArray(Array.empty[LogicalPlan]).toSeq, compiled, jobs.get)
  }

  test("one profile is one query with no Expand; a same-shape table compiles nothing") {
    // every session carries the fold: the local table is profiled on
    // the driver
    val (ran, compiled, jobs) = secondProfile(shift => wideTable(shift))
    assert(ran.size == 1, s"${ran.size} query executions:\n${ran.mkString("\n")}")
    assert(!ran.head.exists(_.isInstanceOf[Expand]), ran.head.toString)
    assert(compiled == 0, s"a second table of the same shape compiled $compiled classes")
    assert(jobs == 0, s"the profile of a local table ran $jobs Spark jobs")
  }

  test("over an RDD-backed table, one profile is one Spark query with no Expand; a same-shape table compiles nothing") {
    val (ran, compiled, jobs) = secondProfile(wideRddTable)
    assert(ran.size == 1, s"${ran.size} query executions:\n${ran.mkString("\n")}")
    assert(ran.head.exists(_.isInstanceOf[Aggregate]), s"Spark did not run the profile:\n${ran.head}")
    assert(!ran.head.exists(_.isInstanceOf[Expand]), ran.head.toString)
    assert(compiled == 0, s"a second table of the same shape compiled $compiled classes")
    assert(jobs > 0)
  }
}
