package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Limit, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.operators.{CoreT, TStep}
import graft.plans.{Lineage, Recommender}
import graft.profiler.Profiler

/** Round-5 search-pipeline guarantees: tsne/umap participate in the
  * default search at reference scale (the reference's default tlist
  * includes both — main.py:91, T.py:16,44,180), the row-bound cost
  * gate works, and tpath execution failures are reported instead of
  * silently swallowed. */
class RecommenderSearchSpec extends SparkSpec {
  import spark.implicits._

  /** Reference-scale fixture (≤ searchEmbedMaxRows): a key, two numeric
    * columns with distinct shapes — enough for 2-dim xy channels. */
  private def fixture = (1 to 60).map { i =>
    (s"id$i", i * 1.0, math.sin(i * 0.5) * 20 + 30, 120.0 - 2.0 * i)
  }.toDF("name", "a v", "b v", "c v")

  /** Every core T but tsne and umap, the slow driver-side fits: for
    * searches whose assertions are not about embeddings. */
  private val noEmbeds = Some(CoreT.table.map(_.name).toSet -- Set("tsne", "umap"))

  private def embedChannels(rec: graft.plans.Recommendation): Seq[String] =
    rec.visList.flatMap(_.channels.values).filter(v =>
      v.startsWith("tsne") || v.startsWith("umap"))

  test("default search at reference scale emits tsne/umap-channel scatters") {
    val (pdf, profile) = Profiler.profile(fixture)
    assert(profile.rows <= EngineConfig.default.searchEmbedMaxRows)
    val rec = Recommender.recommend(pdf, profile, spark, charts = Seq("scatter"))
    assert(embedChannels(rec).nonEmpty,
      s"no tsne/umap channel in ${rec.visList.map(_.channels)}")
    // and they are real 2-d embeddings feeding xy, not colors
    assert(rec.visList.exists(c => c.channels.get("xy").exists(v =>
      v.startsWith("tsne") || v.startsWith("umap"))))
  }

  test("with the sampled fit off, the row bound excludes tsne/umap") {
    val (pdf, profile) = Profiler.profile(fixture)
    // shrinking the row bound below the table size excludes embeddings
    // only when the sampled-fit fallback is also off (round 7 default:
    // above the bound the search switches to the sampled fit instead)
    val bounded = Recommender.recommend(pdf, profile, spark,
      EngineConfig(searchEmbedMaxRows = 10, searchEmbedSampleFit = false),
      charts = Seq("scatter"))
    assert(embedChannels(bounded).isEmpty)
  }

  test("searchEmbedSampleFit: 10k-row search emits embedding scatters via sampled fit") {
    // 10k rows — 25× the exact-fit bound. By DEFAULT (round 7), search
    // must still recommend tsne/umap xy scatters, fitted on a bounded
    // digest sample and transformed distributed (CoreT.embedSampled);
    // with the flag off, the reference's hard scale exclusion stands.
    val big = (1 to 10000).map { i =>
      (s"id$i", i * 1.0, math.sin(i * 0.05) * 20 + 30, 120.0 - 0.02 * i)
    }.toDF("name", "a v", "b v", "c v")
    val (pdf, profile) = Profiler.profile(big)
    assert(profile.rows > EngineConfig.default.searchEmbedMaxRows)
    assert(EngineConfig.default.searchEmbedSampleFit,
      "sampled fit must be the default — a default-off flag makes the " +
        "public search API silently driver-bound above 400 rows")
    val rec = Recommender.recommend(pdf, profile, spark, charts = Seq("scatter"))
    assert(rec.visList.exists(c => c.channels.get("xy").exists(v =>
      v.startsWith("tsne") || v.startsWith("umap"))),
      s"no sampled-fit embedding scatter in ${rec.visList.map(_.channels)}")
    val off = Recommender.recommend(pdf, profile, spark,
      EngineConfig(searchEmbedSampleFit = false), charts = Seq("scatter"))
    assert(embedChannels(off).isEmpty,
      "searchEmbedSampleFit=false must restore the reference's scale exclusion")
    CacheScope.releaseAll()
  }

  test("slist: explicit default set scores identically; a subset changes scores only") {
    val (pdf, profile) = Profiler.profile(fixture)
    def run(slist: Option[Set[String]]) =
      Recommender.recommend(pdf, profile, spark,
        charts = Seq("scatter"), tlist = noEmbeds, slist = slist)
    val default = run(None)
    // explicitly enabling exactly the engine's default metric set must
    // reproduce the default scores bit for bit (mean-of-enabled identity)
    val explicit = run(Some(Set("sca_outlying", "sca_skewed", "sca_striated",
      "sca_stringy", "sca_straight", "sca_clumpy", "sca_monotonic", "sca_cdm")))
    assert(default.visList.map(c => c.signature -> c.score).sortBy(_._1) ==
      explicit.visList.map(c => c.signature -> c.score).sortBy(_._1))
    // a strict metric subset changes scores (and may therefore rotate
    // which charts survive the per-family top-k): on the signatures
    // both runs kept, the scores must differ
    val subset = run(Some(Set("sca_monotonic")))
    val ds = default.visList.map(c => c.signature -> c.score).toMap
    val ss = subset.visList.map(c => c.signature -> c.score).toMap
    val shared = ds.keySet & ss.keySet
    assert(shared.nonEmpty)
    assert(shared.exists(sig => ds(sig) != ss(sig)),
      s"single-metric slist left every shared score unchanged: $shared")
  }

  test("tpath execution failure is reported once per coreT, search still completes") {
    val (pdf, profile) = Profiler.profile(fixture)
    // sabotage: the profile promises columns the frame no longer has,
    // so every tpath select throws at execution time
    val broken = pdf.withColumnRenamed("a v", "gone")
      .withColumnRenamed("b v", "gone2").withColumnRenamed("c v", "gone3")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val rec = Recommender.recommend(broken, profile, spark,
      onExecutionFailure = (t, fp, _) => failures.add((t, fp)))
    // forgiving like the reference: no charts, but no crash either
    assert(rec.visList.isEmpty)
    val reported = failures.toArray(Array.empty[(String, String)])
    assert(reported.nonEmpty, "failures were swallowed silently")
    // at most one report per core T (log flooding guard)
    val perT = reported.groupBy(_._1).values.map(_.length)
    assert(perT.forall(_ == 1), reported.mkString(", "))
    // but the result counts every failed execution
    assert(rec.failedTpaths >= reported.length, s"${rec.failedTpaths} < ${reported.length}")
  }

  test("survivor data equals the key-join of the replayed channels, capped at maxChartRows") {
    val (pdf, profile) = Profiler.profile(fixture)
    val maxChartRows = 4000
    val rec = Recommender.recommend(pdf, profile, spark, maxChartRows = maxChartRows)
    assert(rec.visList.map(_.chartType.split("_").last).toSet == Set("scatter", "line", "bar"),
      rec.visList.map(_.chartType).toString)
    assert(rec.failedTpaths == 0)
    val engine = new Engine(spark)
    def rowSet(rows: Seq[Map[String, Any]]): Set[Seq[(String, Any)]] =
      rows.map(_.toSeq.sortBy(_._1)).toSet
    // every row fits: the data is the whole join
    rec.visList.foreach { c =>
      assert(c.data.nonEmpty, s"${c.signature}: no data")
      assert(c.data.size <= maxChartRows)
      assert(rowSet(c.data) == rowSet(replayedJoin(engine, pdf, profile, c)),
        s"${c.signature}: data differs from the replay")
    }
    // 25 of 60 rows: at most 25 rows, each a row of the whole join
    val capped = Recommender.recommend(pdf, profile, spark, maxChartRows = 25)
    assert(capped.visList.nonEmpty && capped.failedTpaths == 0)
    capped.visList.foreach { c =>
      assert(c.data.nonEmpty && c.data.size <= 25, s"${c.signature}: ${c.data.size} rows")
      val extra = rowSet(c.data) -- rowSet(replayedJoin(engine, pdf, profile, c))
      assert(extra.isEmpty, s"${c.signature}: rows outside the replayed join: $extra")
    }
  }

  /** A chart's channels replayed and key-joined as the search joins
    * them, every row. */
  private def replayedJoin(engine: Engine, pdf: DataFrame, profile: TableProfile,
                           c: graft.plans.ChartRec): Seq[Map[String, Any]] = {
    val key = profile.keyColumn.toSeq
    val frames = c.channels.toSeq.map { case (ch, desc) =>
      (replay(engine, pdf, profile, desc), c.columns(ch))
    }
    val (joined, cols) = frames.tail.foldLeft(frames.head) { case ((l, acc), (r, rc)) =>
      val (j, renamed) = Recommender.joinOnKey(key)(l, r, rc)
      (j, acc ++ renamed)
    }
    joined.select((key ++ cols).distinct.map(joined.col): _*)
      .collect().map(r => r.schema.fieldNames.zip(r.toSeq).toMap).toSeq
  }

  /** [[fixture]] plus three nominal columns, so cat_scatter colors come
    * from the passthroughs as well as kmeans, dbscan and lda. */
  private def nominalFixture = (1 to 60).map { i =>
    (s"id$i", i * 1.0, math.sin(i * 0.5) * 20 + 30, 120.0 - 2.0 * i,
      Seq("red", "green", "blue")(i % 3), if (i % 4 < 2) "lo" else "hi",
      Seq("x", "y", "z")(i * 7 / 5 % 3))
  }.toDF("name", "a v", "b v", "c v", "tint", "band", "grade")

  /** A channel's frame, replayed from its "coreT | fingerprint" description. */
  private def replay(engine: Engine, pdf: DataFrame, profile: TableProfile,
                     desc: String): DataFrame = {
    val Array(coreT, fp) = desc.split(" \\| ", 2)
    engine.addVisualization(pdf, Lineage.toJson(stepsOf(fp)), coreT,
      profiled = Some((pdf, profile))).getOrElse(fail(s"$desc did not replay"))
  }

  test("joinOnKey renames a colliding right column to <name>__y") {
    val left = Seq(("a", 1.0, 10.0), ("b", 2.0, 20.0), ("d", 4.0, 40.0)).toDF("name", "v", "w")
    val right = Seq(("b", 5.0), ("a", 6.0), ("c", 7.0)).toDF("name", "v")
    val (joined, cols) = Recommender.joinOnKey(Seq("name"))(left, right, Seq("v"))
    assert(cols == Seq("v__y"))
    assert(joined.columns.toSeq == Seq("name", "v", "w", "v__y"))
    assert(joined.select("name", "v", "v__y").collect().toSet == Set(Row("a", 1.0, 6.0), Row("b", 2.0, 5.0)))
  }

  test("a search keeps the caller's cache and carries only the returned charts' channel frames") {
    val (pdf, profile) = Profiler.profile(fixture)
    def search(df: DataFrame) = Recommender.recommend(df, profile, spark,
      charts = Seq("bar"), tlist = noEmbeds)
    val before = pdf.storageLevel
    search(pdf)
    assert(pdf.storageLevel == before, "the search changed the source's storage level")
    val cached = pdf.persist()
    try {
      val rec = search(cached)
      assert(cached.storageLevel != StorageLevel.NONE, "the search unpersisted the caller's cache")
      val returned = rec.visList.flatMap(c => c.channels.keys.map { ch =>
        (c.channels(ch).split(" \\| ", 2)(0), Lineage.fromJson(c.lineages(ch)): Seq[TStep])
      }).toSet
      assert(returned.nonEmpty)
      assert(rec.frames.keySet == returned)
    } finally cached.unpersist()
  }

  test("cat_scatter CDM: the xy ⋈ color join when rows fit, the labelled xy sample above") {
    val (pdf, profile) = Profiler.profile(nominalFixture)
    val key = profile.keyColumn.toSeq
    val engine = new Engine(spark)
    // with only sca_cdm enabled a cat_scatter's score IS its CDM; a wide
    // family cap keeps every deduplicated candidate in the result. The
    // default tlist colors by kmeans/dbscan/lda (the first three cat
    // candidates); tlist = pca leaves the nominal passthroughs.
    def cdmScatters(maxChartRows: Int) = Seq(None, Some(Set("pca"))).flatMap(tlist =>
      Recommender.recommend(pdf, profile, spark, EngineConfig(maxScatter = 1000),
        charts = Seq("scatter"), maxChartRows = maxChartRows, tlist = tlist,
        slist = Some(Set("sca_cdm"))).visList.filter(_.chartType == "cat_scatter"))
    def frames(c: graft.plans.ChartRec) = {
      val Seq(x, y) = c.columns("xy")
      (replay(engine, pdf, profile, c.channels("xy")), x, y,
        replay(engine, pdf, profile, c.channels("color")), c.columns("color").head)
    }

    // every row fits: CDM over the inner join, as a Spark join computes it
    val full = cdmScatters(4000)
    assert(Set("kmeans", "dbscan", "lda", "null_nom1").subsetOf(
      full.map(_.channels("color").split(" ")(0)).toSet), full.map(_.channels("color")))
    full.foreach { c =>
      val (xy, x, y, color, label) = frames(c)
      val joined = xy.join(color, key).na.drop()
        .select(col(x).cast("double"), col(y).cast("double"), col(label).cast("string"))
        .limit(4000).collect()
      assert(joined.nonEmpty)
      val expected = Recommender.cdmOf(
        joined.map(r => (r.getDouble(0), r.getDouble(1))), joined.map(_.getString(2)))
      assert(c.score == expected, c.signature)
    }

    // 25 of 60 rows: the xy's first 25 complete rows, each labelled by
    // every non-null label of its key
    val capped = cdmScatters(25)
    assert(capped.nonEmpty)
    capped.foreach { c =>
      val (xy, x, y, color, label) = frames(c)
      val sample = xy.select(col(key.head), col(x).cast("double"), col(y).cast("double"))
        .collect().toSeq
        .filterNot(r => r.isNullAt(1) || r.isNullAt(2))
        .map(r => (r.get(0), r.getDouble(1), r.getDouble(2)))
        .filterNot { case (_, a, b) => a.isNaN || b.isNaN }
        .take(25)
      val labels = color.select(col(key.head), col(label).cast("string")).collect()
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .groupMap(_.get(0))(_.getString(1))
      val labelled = sample.flatMap { case (k, a, b) =>
        labels.getOrElse(k, Array.empty[String]).map(l => ((a, b), l)) }
      val expected = Recommender.cdmOf(labelled.map(_._1).toArray, labelled.map(_._2).toArray)
      assert(c.score == expected, c.signature)
    }
  }

  test("scatter scoring reads each cat color once instead of joining it to every xy") {
    val (pdf, profile) = Profiler.profile(nominalFixture)
    val labelCols = Set("tint", "band", "grade",
      "Category by KMeans", "Category by DBSCAN", "Category by LDA")
    def carriesLabel(p: LogicalPlan) = p.output.exists(a => labelCols(a.name))
    // joins with a color frame on exactly one side
    def colorJoins(p: LogicalPlan): Seq[Join] = p.collect {
      case j: Join if carriesLabel(j.left) != carriesLabel(j.right) => j
    }
    // every row of the 60-row fixture fits: each read is complete
    val maxChartRows = 4000
    var rec: graft.plans.Recommendation = null
    val qes = queryExecutionsOf {
      rec = Recommender.recommend(pdf, profile, spark, EngineConfig(maxScatter = 1000),
        charts = Seq("scatter"), maxChartRows = maxChartRows)
    }
    val catScatters = rec.visList.filter(_.chartType == "cat_scatter")
    assert(catScatters.map(_.channels("xy")).distinct.size >= 2,
      "the guard needs several xys that share colors")
    // neither scoring (CDM labels) nor render (chart data) joins a color
    // frame: both are key lookups over the frames' reads
    val joins = qes.flatMap(qe => colorJoins(qe.optimizedPlan))
    assert(joins.isEmpty, s"${joins.count(_.joinType == Inner)} inner and " +
      s"${joins.count(_.joinType == LeftSemi)} semi joins with a color frame")
    // a channel frame's read: key + output columns, maxChartRows + 1 rows
    val reads = qes.map(_.analyzed).filter {
      case Limit(IntegerLiteral(n), _) => n == maxChartRows + 1
      case _ => false
    }
    assert(reads.exists(carriesLabel), "no color frame was read")
    val canon = reads.map(_.canonicalized)
    assert(canon.distinct.size == canon.size,
      s"${canon.size} reads of ${canon.distinct.size} channel frames")
  }

  test("a search over a driver-local sheet neither caches it nor scans a cache") {
    val sheet = spark.createDataFrame(nominalFixture.collect().toSeq.asJava, nominalFixture.schema)
    val (pdf, profile) = Profiler.profile(sheet)
    assert(pdf.storageLevel == StorageLevel.NONE)
    // every chart family; every core T but lda, whose fit caches its
    // own ranked corpus for the EM sweeps
    val qes = queryExecutionsOf(Recommender.recommend(pdf, profile, spark,
      tlist = Some(Set("pca", "mds", "tsne", "umap", "kmeans", "dbscan"))))
    assert(pdf.storageLevel == StorageLevel.NONE)
    assert(qes.nonEmpty)
    val scans = qes.map(_.optimizedPlan).filter(_.exists(_.isInstanceOf[InMemoryRelation]))
    assert(scans.isEmpty, s"${scans.size} of ${qes.size} plans scan a cache:\n${scans.headOption}")
  }

  test("a Real key holding a NaN (or a null): data and CDM equal the Spark join") {
    // floatCanBeKey: the last unique Real column is the key, so every
    // other column repeats a value
    val cfg = EngineConfig(floatCanBeKey = true, maxScatter = 1000)
    val rows = (1 to 60).map { i =>
      Row((i / 2) * 1.0, math.round(math.sin(i * 0.5) * 10) + 30.0, 120.0 - 2.0 * (i / 3),
        Seq("red", "green", "blue")(i % 3), if (i % 4 < 2) "lo" else "hi",
        if (i == 30) Double.NaN else if (i == 1) -0.0 else i * 0.25)
    }
    val schema = StructType(Seq("a v", "b v", "c v").map(StructField(_, DoubleType)) ++
      Seq("tint", "band").map(StructField(_, StringType)) :+ StructField("k", DoubleType))
    val (pdf, profile) = Profiler.profile(spark.createDataFrame(rows.asJava, schema), cfg)
    assert(profile.keyColumn.contains("k"))
    // the same profile over a sheet whose key also holds a null
    val withNull = spark.createDataFrame(
      rows.updated(9, Row.fromSeq(rows(9).toSeq.init :+ null)).asJava, schema)
    val engine = new Engine(spark)
    // NaN != NaN as a boxed value: compare rows as strings
    def rowSet(rows: Seq[Map[String, Any]]): Set[Seq[(String, String)]] =
      rows.map(_.toSeq.map { case (c, v) => c -> String.valueOf(v) }.sortBy(_._1)).toSet
    for (sheet <- Seq(pdf, withNull)) {
      val search = Recommender.recommend(sheet, profile, spark, cfg)
      assert(search.visList.nonEmpty && search.failedTpaths == 0)
      search.visList.foreach { c =>
        assert(rowSet(c.data) == rowSet(replayedJoin(engine, sheet, profile, c)),
          s"${c.signature}: data differs from the replayed join")
      }
      val cdm = Seq(None, Some(Set("pca"))).flatMap(tlist =>
        Recommender.recommend(sheet, profile, spark, cfg, charts = Seq("scatter"), tlist = tlist,
          slist = Some(Set("sca_cdm"))).visList.filter(_.chartType == "cat_scatter"))
      assert(cdm.nonEmpty)
      cdm.foreach { c =>
        val Seq(x, y) = c.columns("xy")
        val label = c.columns("color").head
        val joined = replay(engine, sheet, profile, c.channels("xy"))
          .join(replay(engine, sheet, profile, c.channels("color")), Seq("k")).na.drop()
          .select(col(x).cast("double"), col(y).cast("double"), col(label).cast("string"))
          .collect()
        val expected = Recommender.cdmOf(
          joined.map(r => (r.getDouble(0), r.getDouble(1))), joined.map(_.getString(2)))
        assert(c.score == expected, c.signature)
      }
    }
  }

  // ---- Recommender.take: a driver-local frame's rows without an action ----

  /** Every column type a chart frame can carry; the doubles hold NaN,
    * -0.0 and null. */
  private val takeSchema = StructType(Seq(
    StructField("s", StringType), StructField("d", DoubleType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("m", DecimalType(12, 3)), StructField("b", BooleanType),
    StructField("day", DateType), StructField("ts", TimestampType), StructField("ntz", TimestampNTZType)))
  private val takeRows = (0 until 12).map { r =>
    val d = Seq[java.lang.Double](1.5, Double.NaN, -0.0, null, 0.0, -2.25)(r % 6)
    Row(if (r == 3) null else s"v$r", d, r * 7 - 30, r.toLong << 33,
      java.math.BigDecimal.valueOf(r * 1234567L - 5000000L, 3), r % 3 == 0,
      java.sql.Date.valueOf(java.time.LocalDate.of(2020, 2, 27).plusDays(r)),
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2021, 10, 31, 1, 30).plusMinutes(r * 97)),
      java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59).plusSeconds(r * 3601L))
  }

  /** A row as its schema and its values, doubles by their bits. */
  private def exact(r: Row): (StructType, Seq[Any]) = (r.schema, r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case null => null
    case v => (v.getClass.getName, v.toString)
  })

  /** `take(df, n)` equals `df.limit(n).collect()` row for row, in
    * order, for four `n` below, at and above the row count; returns the
    * query executions `take` ran. */
  private def assertTakeTwin(df: DataFrame): Seq[QueryExecution] = {
    val total = df.count().toInt
    Seq(1, total / 2, total, total + 5).flatMap { n =>
      var got = Array.empty[Row]
      val ran = queryExecutionsOf { got = Recommender.take(df, n) }
      assert(got.map(exact).toSeq == df.limit(n).collect().map(exact).toSeq, s"n = $n")
      assert(got.forall(_.schema == df.schema))
      ran
    }
  }

  test("take of a local relation equals limit + collect and runs no query") {
    val local = spark.createDataFrame(takeRows.asJava, takeSchema)
    assert(assertTakeTwin(local).isEmpty)
    // java.time values while the session asks for them
    val java8 = "spark.sql.datetime.java8API.enabled"
    spark.conf.set(java8, "true")
    try {
      assert(assertTakeTwin(local).isEmpty)
      assert(Recommender.take(local, 1).head.get(6).isInstanceOf[java.time.LocalDate])
    } finally spark.conf.unset(java8)
  }

  test("take of a project/filter chain over a local relation runs no query") {
    val chain = spark.createDataFrame(takeRows.asJava, takeSchema)
      .filter(col("i") > -20 && !col("b"))
      .select(col("s"), (col("d") * 2).as("d2"), col("m"), col("ntz"), col("day"),
        col("d").cast("string").as("ds"))
    assert(chain.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(assertTakeTwin(chain).isEmpty)
  }

  test("take of an RDD frame or a local sort runs Spark's limit") {
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(takeRows, 3), takeSchema)
    val sorted = spark.createDataFrame(takeRows.asJava, takeSchema).orderBy(col("l").desc)
    Seq("an RDD" -> rdd, "a sort" -> sorted).foreach { case (what, df) =>
      assert(!df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], what)
      assert(assertTakeTwin(df).size == 4, what)
    }
  }

  /** The query executions `body` runs, once the listener bus drained. */
  private def queryExecutionsOf(body: => Unit): Seq[QueryExecution] = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    SpecBus.drain(spark.sparkContext) // an earlier action's event is not body's
    spark.listenerManager.register(listener)
    try body finally {
      SpecBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    qes.toArray(Array.empty[QueryExecution]).toSeq
  }

  /** Inverse of TPathCandidate.fingerprint: steps
    * `op#inType#inCols#outMode#outName` joined by " - ". */
  private def stepsOf(fp: String): Seq[TStep] =
    if (fp.isEmpty) Nil
    else fp.split(" - ").toSeq.map { s =>
      val Array(op, inType, inCols, outMode, outName) = s.split("#", -1)
      TStep(op, inType, inCols.split(",").toSeq.filter(_.nonEmpty), outMode,
        Some(outName).filter(_.nonEmpty))
    }
}
