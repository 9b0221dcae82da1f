package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Window}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.TStep
import graft.plans.{Lineage, Load, TPathCandidate}

/** In-process drive of the four HTTP endpoints (SURVEY §3.1-3.3 /
  * main.py:40-138 parity): csv ingest+profile → search → addT → addV,
  * all against one server instance holding the session sheet. */
class VisServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private lazy val server = new graft.api.VisServer(spark)
  private lazy val port = server.start()
  private lazy val http = HttpClient.newHttpClient()

  private def post(path: String, body: String): (Int, JsonNode) = postTo(port, path, body)

  private def postTo(p: Int, path: String, body: String): (Int, JsonNode) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  /** A 40-row sheet with the columns name, price, cost and size. */
  private def csvOf(row: Int => String): String = {
    val headers = """["name","price","cost","size"]"""
    val rows = (1 to 40).map(i => s"""["item$i", ${row(i)}]""").mkString("[", ",", "]")
    s"""{"headers": $headers, "body": $rows}"""
  }

  private val csvBody = csvOf(i => s"${i * 10.0}, ${i * 7.0 + 3}, ${(i % 5) * 1.0}")

  test("POST /vis/csv profiles and installs the sheet") {
    val (code, r) = post("/vis/csv", csvBody)
    assert(code == 200, r.toString)
    assert(r.get("rows").asLong() == 40)
    assert(r.get("key").asText() == "name")
    val cols = r.get("columns").elements()
    val names = Iterator.continually(cols).takeWhile(_.hasNext)
      .map(_.next().get(0).asText()).toSet
    assert(names == Set("name", "price", "cost", "size"))
    // price/cost form a dimension cluster (same scale family)
    assert(r.get("dimclusters").size() >= 1)
  }

  test("POST /vis/search returns scored charts over the sheet") {
    post("/vis/csv", csvBody)
    val (code, r) = post("/vis/search", """{"charts": ["scatter", "bar"]}""")
    assert(code == 200, r.toString)
    assert(r.get("vislist").size() > 0)
    val first = r.get("vislist").get(0)
    assert(first.has("type") && first.has("score") && first.get("data").size() > 0)
    assert(r.get("graph").isObject || r.get("graph").isArray)
    // the search explains itself: wall ms per phase, tpath failures
    val phases = r.get("phases")
    val names = phases.fieldNames().asScala.toSeq
    assert(names == graft.plans.Recommender.Phases, phases.toString)
    assert(names.forall(p => phases.get(p).isNumber && phases.get(p).asDouble() >= 0), phases.toString)
    assert(phases.get("score").asDouble() > 0, phases.toString)
    assert(r.get("failed_tpaths").isInt && r.get("failed_tpaths").asInt() >= 0, r.toString)
  }

  test("POST /vis/search honors tlist restriction and cluster overrides (main.py:91-99)") {
    post("/vis/csv", csvBody)
    // tlist restricted to pca: no kmeans/dbscan/lda channel may appear
    // (null passthroughs stay admitted, like the reference appends them)
    val (c1, r1) = post("/vis/search",
      """{"charts": ["scatter", "bar"], "tlist": ["pca"]}""")
    assert(c1 == 200, r1.toString)
    val channels = r1.get("vislist").elements().asScalaAll
      .flatMap(_.get("channels").elements().asScalaAll.map(_.asText()))
    assert(channels.nonEmpty)
    assert(!channels.exists(ch => Seq("kmeans", "dbscan", "lda", "mds").exists(ch.startsWith)),
      channels.toString)
    // cluster override: enumeration only sees the client's cluster, so
    // every select draws from {price, size} (+derived), never cost
    val (c2, r2) = post("/vis/search",
      """{"charts": ["scatter"], "dim_clusters": [["price", "size"]], "sem_clusters": []}""")
    assert(c2 == 200, r2.toString)
    val chans2 = r2.get("vislist").elements().asScalaAll
      .flatMap(_.get("channels").elements().asScalaAll.map(_.asText()))
    assert(chans2.nonEmpty)
    assert(!chans2.exists(_.contains("cost")), chans2.toString)
    // slist toggles (reference {name: bool} form): all metrics off →
    // every chart scores 0 (mean of enabled = safe mean of empty)
    val (c3, r3) = post("/vis/search",
      """{"charts": ["bar"], "slist": {"lin_outstanding1": false}}""")
    assert(c3 == 200, r3.toString)
    val scores = r3.get("vislist").elements().asScalaAll.map(_.get("score").asDouble())
    assert(scores.nonEmpty && scores.forall(_ == 0.0), scores.toString)
    // and the same charts score > 0 with the default slist
    val (_, r4) = post("/vis/search", """{"charts": ["bar"]}""")
    val scores4 = r4.get("vislist").elements().asScalaAll.map(_.get("score").asDouble())
    assert(scores4.exists(_ > 0.0), scores4.toString)
  }

  private implicit class IterOps(it: java.util.Iterator[com.fasterxml.jackson.databind.JsonNode]) {
    def asScalaAll: Seq[com.fasterxml.jackson.databind.JsonNode] =
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }

  test("POST /vis/addT extends a lineage; /vis/addV runs a terminal transform") {
    post("/vis/csv", csvBody)
    val (c1, r1) = post("/vis/addT",
      """{"lineage": "[]", "t": {"op": "sum", "incols": ["price", "cost"]}}""")
    assert(c1 == 200, r1.toString)
    val lineage = r1.get("lineage").asText()
    assert(lineage.nonEmpty && r1.get("data").size() == 40)
    // replay the produced lineage and add a terminal core transform
    val (c2, r2) = post("/vis/addV",
      s"""{"lineage": ${mapper.writeValueAsString(lineage)}, "coret": "null_num"}""")
    assert(c2 == 200, r2.toString)
    assert(r2.get("ok").asBoolean())
    assert(r2.get("data").size() == 40)
  }

  test("POST /vis/addV builds a chart from vtype + channels (main.py:132-134)") {
    post("/vis/csv", csvBody)
    // sum_bar: x = kmeans categories over the numeric cluster,
    // y = a summed series — the reference's interactive chart assembly
    val (code, r) = post("/vis/addV",
      """{"vtype": "sum_bar", "channels": {
        |  "x": {"lineage": "[]", "coret": "kmeans"},
        |  "y": {"lineage": "[]", "coret": "null_num"}
        |}}""".stripMargin)
    assert(code == 200, r.toString)
    assert(r.get("ok").asBoolean(), r.toString)
    assert(r.get("vtype").asText() == "sum_bar")
    // grouped output: one row per kmeans category, SUM(...) columns
    assert(r.get("data").size() >= 2 && r.get("data").size() <= 3, r.toString)
    val fns = r.get("data").get(0).fieldNames()
    val fieldNames = Iterator.continually(fns).takeWhile(_.hasNext).map(_.next()).toSeq
    assert(fieldNames.exists(_.startsWith("SUM(")), fieldNames.toString)
  }

  test("explicit JSON nulls fall back to defaults, not empty overrides (Jackson NullNode)") {
    post("/vis/csv", csvBody)
    // {"slist": null} once read as Some(empty set) → every metric
    // disabled → all charts 0.0; {"tlist": null} as Some(empty) → only
    // null passthroughs. All must behave exactly like absence.
    val (code, r) = post("/vis/search",
      """{"charts": ["scatter", "bar"], "tlist": null, "slist": null,
        |  "dim_clusters": null, "sem_clusters": null, "beautify": null}""".stripMargin)
    assert(code == 200, r.toString)
    val (_, rDefault) = post("/vis/search", """{"charts": ["scatter", "bar"]}""")
    assert(r.get("vislist").size() == rDefault.get("vislist").size(), r.toString)
    val scores = r.get("vislist").elements().asScalaAll.map(_.get("score").asDouble())
    assert(scores.exists(_ > 0.0), scores.toString)
  }

  test("request handling discharges CacheScope: no tracked frames outlive a request") {
    post("/vis/csv", csvBody)
    CacheScope.releaseAll() // isolate from frames other suites left behind
    // the full endpoint surface: search (recommender), addT, addV
    post("/vis/search", """{"charts": ["scatter", "line", "bar"]}""")
    post("/vis/addT", """{"lineage": "[]", "t": {"op": "sum", "incols": ["price", "cost"]}}""")
    post("/vis/addV", """{"lineage": "[]", "coret": "lda"}""")
    assert(CacheScope.releaseAll() == 0,
      "a serving request left operator-persisted frames tracked past the request boundary")
    // and the wrapper the handler uses provably releases frames from an
    // operator that DOES track (dedup persists its self-join inputs) —
    // today's endpoints reach no dedup op, but the boundary must hold
    // when one does
    import spark.implicits._
    val docs = (1 to 30).map(i => (i.toLong, s"shared shingle text body number ${i % 7}"))
      .toDF("id", "text")
    CacheScope.withCached {
      val sigs = graft.operators.Dedup.minhashSignatures(docs, "id", "text")
      graft.operators.Dedup.minhashCandidatePairs(sigs).count()
    }
    assert(CacheScope.releaseAll() == 0, "withCached left dedup frames tracked")
  }

  test("POST /vis/search without a sheet is a clean 400") {
    val fresh = new graft.api.VisServer(spark)
    val p = fresh.start()
    try {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/vis/search"))
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 400)
      assert(mapper.readTree(resp.body()).get("error").asText().contains("/vis/csv"))
    } finally fresh.stop()
  }

  test("the local-relation sheet gives the search and addT rows of an RDD-built sheet") {
    postOk("/vis/csv", csvBody)
    val served = postOk("/vis/search", """{"charts": ["scatter", "bar"]}""")
      .get("vislist").elements().asScalaAll
      .map(c => (c.get("signature").asText(), c.get("score").asDouble()))
    val addT = postOk("/vis/addT", """{"lineage": "[]", "t": {"op": "sum", "incols": ["price", "cost"]}}""")
    // the sheet as it was built before: an RDD of external rows
    val rows = (1 to 40).map(i => Row(s"item$i", i * 10.0, i * 7.0 + 3, (i % 5) * 1.0))
    val rddSheet = spark.createDataFrame(spark.sparkContext.parallelize(rows), StructType(
      StructField("name", StringType) +: Seq("price", "cost", "size").map(StructField(_, DoubleType))))
    val engine = new Engine(spark)
    val rec = engine.search(rddSheet, Seq("scatter", "bar"))
    assert(served.nonEmpty)
    assert(served == rec.visList.map(c => (c.signature, c.score)))
    val (frame, lineage) = engine.addTransform(rddSheet, "[]", TStep("sum", inCols = Seq("price", "cost")))
    assert(addT.get("lineage").asText() == lineage)
    val want = frame.limit(400).collect().map { r =>
      frame.columns.zipWithIndex.map { case (c, i) => s"$c=${mapper.valueToTree[JsonNode](r.get(i))}" }
        .sorted.mkString("|")
    }.toSeq.sorted
    assert(rowSet(addT.get("data")) == want)
  }

  // ---- refines of returned charts: served from the search's frames ----

  /** Runs `body` against a second server that has only seen /vis/csv of
    * `csv`, so every refine it serves replays its lineage. */
  private def withReplayServer[A](csv: String)(body: ((String, String) => JsonNode) => A): A = {
    val fresh = new graft.api.VisServer(spark)
    val p = fresh.start()
    try {
      val (code, r) = postTo(p, "/vis/csv", csv)
      assert(code == 200, r.toString)
      body { (path, b) =>
        val (c, resp) = postTo(p, path, b)
        assert(c == 200, resp.toString)
        resp
      }
    } finally fresh.stop()
  }

  private def postOk(path: String, body: String): JsonNode = {
    val (code, r) = post(path, body)
    assert(code == 200, r.toString)
    r
  }

  /** A preview's rows as canonical strings, order-insensitive. */
  private def rowSet(data: JsonNode): Seq[String] =
    data.elements().asScalaAll.map { o =>
      o.fieldNames().asScala.toSeq.sorted.map(k => s"$k=${o.get(k)}").mkString("|")
    }.sorted

  /** Every returned channel as (chart, channel, core T, lineage JSON). */
  private def returnedChannels(search: JsonNode): Seq[(JsonNode, String, String, String)] =
    search.get("vislist").elements().asScalaAll.flatMap { c =>
      c.get("channels").fieldNames().asScala.toSeq.map { ch =>
        (c, ch, c.get("channels").get(ch).asText().split(" \\| ", 2)(0),
          c.get("lineages").get(ch).asText())
      }
    }

  private def addVBody(lineage: String, coreT: String): String =
    s"""{"lineage": ${mapper.writeValueAsString(lineage)}, "coret": "$coreT"}"""

  private def rebuildBody(chart: JsonNode): String = {
    val chans = chart.get("channels").fieldNames().asScala.toSeq.map { ch =>
      val coreT = chart.get("channels").get(ch).asText().split(" \\| ", 2)(0)
      s""""$ch": {"lineage": ${mapper.writeValueAsString(chart.get("lineages").get(ch).asText())},
         | "coret": "$coreT"}""".stripMargin
    }
    s"""{"vtype": "${chart.get("type").asText()}", "channels": {${chans.mkString(",")}}}"""
  }

  private val rebuildable = Set("num_scatter", "cat_scatter", "ord_line", "rel_line")

  test("refines of returned charts equal a replay on a server that never searched") {
    postOk("/vis/csv", csvBody)
    val search = postOk("/vis/search", "{}")
    val chans = returnedChannels(search)
    assert(search.get("failed_tpaths").asInt() == 0)
    assert(chans.map(_._3).distinct.size >= 3, chans.map(_._3).toString)
    // "lineages" holds the exact steps behind each channel's fingerprint
    chans.foreach { case (c, ch, coreT, lineage) =>
      assert(c.get("lineages").fieldNames().asScala.toSet ==
        c.get("channels").fieldNames().asScala.toSet, c.toString)
      val steps = Lineage.fromJson(lineage)
      assert(Lineage.toJson(steps) == lineage)
      assert(c.get("channels").get(ch).asText() ==
        s"$coreT | ${TPathCandidate(Load(0, 0, 0), steps).fingerprint}", lineage)
    }
    val served = chans.map { case (_, _, coreT, lineage) => (coreT, lineage) }.distinct
      .map { case (coreT, lineage) =>
        val r = postOk("/vis/addV", addVBody(lineage, coreT))
        assert(r.get("ok").asBoolean(), s"$coreT $lineage")
        (coreT, lineage) -> rowSet(r.get("data"))
      }
    val charts = search.get("vislist").elements().asScalaAll
      .filter(c => rebuildable.contains(c.get("type").asText()))
    assert(charts.nonEmpty)
    charts.foreach { c =>
      val r = postOk("/vis/addV", rebuildBody(c))
      assert(rowSet(r.get("data")) == rowSet(c.get("data")),
        s"rebuilding ${c.get("signature").asText()} gave other rows than the search returned")
    }
    withReplayServer(csvBody) { replay =>
      served.foreach { case ((coreT, lineage), rows) =>
        assert(rowSet(replay("/vis/addV", addVBody(lineage, coreT)).get("data")) == rows,
          s"$coreT $lineage: the reused frame differs from the replay")
      }
    }
  }

  /** One logical plan (optimized unless `phase` says otherwise) of
    * every query execution `body` runs. */
  private def plansOf(body: => Unit,
                      phase: QueryExecution => LogicalPlan = _.optimizedPlan): Seq[LogicalPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(phase(qe))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body finally {
      SpecBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.toArray(Array.empty[LogicalPlan]).toSeq
  }

  private def hasAggregate(p: LogicalPlan): Boolean = p.exists(_.isInstanceOf[Aggregate])

  test("a refine of a returned PCA channel runs no fit; a replay of it does") {
    postOk("/vis/csv", csvBody)
    val search = postOk("/vis/search", """{"charts": ["scatter"], "tlist": ["pca"]}""")
    val (_, _, coreT, lineage) = returnedChannels(search).find(_._3 == "pca")
      .getOrElse(fail("the search returned no PCA channel"))
    // analyzed plans: a fit over the local sheet folds out of the
    // optimized plan (FoldLocalAggregate), but its query still
    // aggregates. A reused frame is driver-local, so its preview runs
    // no query at all
    var rows = Seq.empty[String]
    val reused = plansOf({ rows = rowSet(postOk("/vis/addV", addVBody(lineage, coreT)).get("data")) },
      _.analyzed)
    assert(rows.size == 40)
    assert(reused.isEmpty, s"a reused frame's preview ran ${reused.size} queries:\n${reused.mkString("\n")}")
    withReplayServer(csvBody) { replay =>
      var replayed = Seq.empty[String]
      val fitted = plansOf({ replayed = rowSet(replay("/vis/addV", addVBody(lineage, coreT)).get("data")) },
        _.analyzed)
      assert(fitted.exists(hasAggregate), "the replay path ran no fit: the guard cannot fail")
      assert(replayed == rows)
    }
  }

  /** A 400-row sheet: a key, a nominal tier and four doubles. */
  private lazy val sheet400 = {
    val body = (1 to 400).map { i =>
      s"""["item$i", "${Seq("gold", "silver", "bronze")(i % 3)}", ${i * 1.5},
         | ${math.sin(i * 0.1) * 40 + 50}, ${(i % 9) * 2.0}, ${math.sqrt(i)}]""".stripMargin
    }.mkString("[", ",", "]")
    s"""{"headers": ["name","tier","price","cost","size","weight"], "body": $body}"""
  }

  test("a scatter + PCA /vis/search on a 400-row sheet runs no join") {
    postOk("/vis/csv", sheet400)
    var search: JsonNode = null
    var plans = Seq.empty[LogicalPlan]
    val jobs = jobsOf {
      plans = plansOf { search = postOk("/vis/search", """{"charts": ["scatter"], "tlist": ["pca"]}""") }
    }
    val types = search.get("vislist").elements().asScalaAll.map(_.get("type").asText())
    assert(types.contains("cat_scatter"), types.toString)
    assert(returnedChannels(search).exists(_._3 == "pca"))
    // every channel read is complete: CDM labels and chart data are key
    // lookups on the driver
    val joins = plans.filter(_.exists(_.isInstanceOf[Join]))
    assert(joins.isEmpty, s"${joins.size} of ${plans.size} plans join:\n${joins.headOption}")
    // and every aggregate over the sheet (the extrema, the PCA moments)
    // folds on the driver: the search runs no Spark job, except for the
    // tpaths that rank a column first, whose aggregates read the rank
    // T's row_number window over the sheet
    assert(jobs.unranked.isEmpty, s"${jobs.unranked.size} of ${jobs.all.size} jobs outside a rank window:\n" +
      plans.filter(p => p.exists(_.isInstanceOf[Aggregate]) && !p.exists(_.isInstanceOf[Window])).mkString("\n"))
  }

  test("xy + color rebuilds on the 400-row sheet run no job outside a rank window") {
    postOk("/vis/csv", sheet400)
    val search = postOk("/vis/search", """{"charts": ["scatter"], "tlist": ["pca"]}""")
    val scatters = search.get("vislist").elements().asScalaAll
      .filter(_.get("channels").fieldNames().asScala.toSet == Set("xy", "color"))
    // a channel that ranks a column reads the rank T's window over the
    // sheet, which runs as Spark jobs; every other one is driver-local
    def ranks(chart: JsonNode): Boolean = chart.get("lineages").elements().asScalaAll
      .exists(l => Lineage.fromJson(l.asText()).exists(_.op == "rank"))
    assert(scatters.exists(!ranks(_)), "the search returned no rank-free xy + color scatter")
    scatters.foreach { chart =>
      var rebuilt: JsonNode = null
      val jobs = jobsOf { rebuilt = postOk("/vis/addV", rebuildBody(chart)) }
      // the key join of the two channel frames folds on the driver
      val ran = if (ranks(chart)) jobs.unranked else jobs.all
      assert(ran.isEmpty, s"the rebuild of ${chart.get("signature").asText()} ran ${ran.size} Spark jobs")
      assert(rowSet(rebuilt.get("data")) == rowSet(chart.get("data")))
    }
  }

  test("refines on the /vis/csv sheet run no query: returned addV, addT, rebuild") {
    postOk("/vis/csv", sheet400)
    val search = postOk("/vis/search", """{"charts": ["scatter"], "tlist": ["pca"]}""")
    // a lineage that ranks a column reads the rank T's window, which
    // Spark runs; every other one folds to a local relation
    def rankFree(lineage: String) = !Lineage.fromJson(lineage).exists(_.op == "rank")
    val chart = search.get("vislist").elements().asScalaAll.find { c =>
      c.get("channels").fieldNames().asScala.toSet == Set("xy", "color") &&
        c.get("lineages").elements().asScalaAll.forall(l => rankFree(l.asText()))
    }.getOrElse(fail("the search returned no rank-free xy + color scatter"))
    val (_, _, coreT, lineage) = returnedChannels(search).find(c => c._3 == "pca" && rankFree(c._4))
      .getOrElse(fail("the search returned no rank-free PCA channel"))
    val sel = Lineage.fromJson(lineage).lastOption.filter(_.op == "select").map(_.inCols.take(2))
      .filter(_.size == 2).getOrElse(fail(s"$lineage closes in no select of two columns"))
    val refines = Seq(
      "addV" -> (() => postOk("/vis/addV", addVBody(lineage, coreT))),
      "addT" -> (() => postOk("/vis/addT", s"""{"lineage": ${mapper.writeValueAsString(lineage)},
        | "t": {"op": "sum", "incols": ${mapper.writeValueAsString(sel.asJava)}}}""".stripMargin)),
      "rebuild" -> (() => postOk("/vis/addV", rebuildBody(chart))))
    refines.foreach { case (what, refine) =>
      var resp: JsonNode = null
      val ran = plansOf { resp = refine() }
      assert(ran.isEmpty, s"$what ran ${ran.size} queries:\n${ran.mkString("\n")}")
      assert(resp.get("data").size() > 0, what)
    }
  }

  test("small /vis/addT responses take no delayed-ACK wait (TCP_NODELAY)") {
    postOk("/vis/csv", csvBody)
    val body = """{"lineage": "[]", "t": {"op": "sum", "incols": ["price", "cost"]}}"""
    (1 to 5).foreach(_ => postOk("/vis/addT", body))
    val walls = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      postOk("/vis/addT", body)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    // Nagle holding the body behind the headers until the client's
    // delayed ACK puts every response at 40 ms or more
    val median = (walls(9) + walls(10)) / 2
    assert(median < 30, f"median $median%.1f ms over ${walls.map(w => f"$w%.0f").mkString(" ")}")
  }

  /** Every Spark job `body` runs, by the SQL execution that submitted
    * it ("none" outside one), and those outside an execution that ranks
    * the sheet with a window. */
  private final case class Jobs(all: Seq[String], unranked: Seq[String])

  private def jobsOf(body: => Unit): Jobs = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val windowed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def hasWindow(p: SparkPlanInfo): Boolean = p.nodeName == "Window" || p.children.exists(hasWindow)
    val jobCounter = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if hasWindow(s.sparkPlanInfo) =>
          windowed.add(s.executionId.toString)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("none"))
    }
    SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobCounter)
    try body finally {
      SpecBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobCounter)
    }
    val all = jobs.asScala.toSeq
    Jobs(all, all.filterNot(windowed.contains))
  }

  test("a keyless 400-row sheet stays local: /vis/csv runs no job, the search none outside a rank window") {
    val headers = Seq("tier", "price", "cost", "size")
    // no column is all-distinct: the profile appends defaultindex
    val rows = (1 to 400).map { i =>
      Seq(Seq("gold", "silver", "bronze")(i % 3), (i % 97) * 1.5,
        math.round(math.sin(i * 0.1) * 400) / 10.0 + 50, (i % 9) * 2.0)
    }
    val body = rows.map(r => (s""""${r.head}"""" +: r.tail.map(_.toString)).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    var csv: JsonNode = null
    val ingest = jobsOf {
      csv = postOk("/vis/csv", s"""{"headers": ${headers.map(h => s""""$h"""").mkString("[", ",", "]")},
                                  | "body": $body}""".stripMargin)
    }
    assert(csv.get("key").asText() == "defaultindex", csv.toString)
    assert(ingest.all.isEmpty, s"/vis/csv ran ${ingest.all.size} Spark jobs")
    val query = """{"charts": ["scatter"], "tlist": ["pca"]}"""
    var search: JsonNode = null
    val searched = jobsOf { search = postOk("/vis/search", query) }
    assert(searched.unranked.isEmpty, s"${searched.unranked.size} of ${searched.all.size} jobs outside a rank window")
    // the same rows as an RDD-backed frame: Spark profiles, numbers and
    // searches them, and gives the same charts and scores
    val schema = StructType(headers.map(h => StructField(h, if (h == "tier") StringType else DoubleType)))
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 4), schema)
    val want = new Engine(spark).search(rdd, Seq("scatter"), tlist = Some(Set("pca")))
      .visList.map(c => (c.signature, c.score))
    val got = search.get("vislist").elements().asScalaAll
      .map(c => (c.get("signature").asText(), c.get("score").asDouble()))
    assert(got.nonEmpty)
    assert(got.sorted == want.sorted)
  }

  test("after a new /vis/csv, returned lineages replay on the new sheet; addT extensions replay") {
    val csv2 = csvOf(i => s"${i * i * 0.5}, ${100.0 - i * 1.5}, ${(i % 3) * 2.0}")
    postOk("/vis/csv", csvBody)
    val first = returnedChannels(postOk("/vis/search", """{"charts": ["scatter"], "tlist": ["pca"]}"""))
    val (_, _, coreT, lineage) = first.find(_._3 == "pca")
      .getOrElse(fail("the search returned no PCA channel"))
    val before = rowSet(postOk("/vis/addV", addVBody(lineage, coreT)).get("data"))
    postOk("/vis/csv", csv2)
    val after = rowSet(postOk("/vis/addV", addVBody(lineage, coreT)).get("data"))
    assert(after != before, "the new sheet was served the first sheet's frame")
    // a search on the new sheet, then a returned lineage extended by one
    // step: the extension is no returned pair, so it replays
    val second = returnedChannels(postOk("/vis/search", """{"charts": ["scatter"], "tlist": ["pca"]}"""))
    val (_, _, _, base) = second.find { case (_, _, _, l) =>
      Lineage.fromJson(l).lastOption.exists(s => s.op == "select" && s.inCols.size >= 2)
    }.getOrElse(fail("the search returned no lineage closing in a select of two columns"))
    val sel = Lineage.fromJson(base).last.inCols.take(2)
    val tBody = s"""{"lineage": ${mapper.writeValueAsString(base)},
                   | "t": {"op": "sum", "incols": ${mapper.writeValueAsString(sel.asJava)}}}""".stripMargin
    val extended = postOk("/vis/addT", tBody).get("lineage").asText()
    assert(Lineage.fromJson(extended) == Lineage.fromJson(base) :+ TStep("sum", inCols = sel))
    val served = rowSet(postOk("/vis/addV", addVBody(extended, "null_num")).get("data"))
    withReplayServer(csv2) { replay =>
      assert(rowSet(replay("/vis/addV", addVBody(lineage, coreT)).get("data")) == after)
      assert(rowSet(replay("/vis/addV", addVBody(extended, "null_num")).get("data")) == served)
    }
  }
}
