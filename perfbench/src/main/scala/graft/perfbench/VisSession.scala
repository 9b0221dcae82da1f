package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.{CacheScope, Engine}
import graft.operators.TStep
import graft.plans.Enumerator
import graft.profiler.Profiler

/** `vis_session`: one client in a closed loop against one VisServer
  * over loopback HTTP. A session uploads a table (/vis/csv), searches
  * it (/vis/search) and refines the returned charts with a fixed mix of
  * /vis/addT and /vis/addV requests. A run makes a warm-up session and
  * then one measured session per table shape, in the order of
  * [[Gen.Shapes]]. */
object VisSession {
  val RefinesPerSession = 9
  private val mapper = Gen.mapper

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def post(path: String, body: String): JsonNode = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      val json = mapper.readTree(resp.body())
      if (resp.statusCode() != 200) throw new IllegalStateException(s"$path -> ${resp.statusCode()}: ${resp.body().take(300)}")
      if (json.has("ok") && !json.get("ok").asBoolean()) throw new IllegalStateException(s"$path -> ok=false")
      json
    }
  }

  private def rows(n: JsonNode): Seq[Map[String, Any]] =
    n.elements().asScala.map { o =>
      o.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isNumber) v.asDouble() else if (v.isNull) null else v.asText())
      }.toMap
    }.toSeq

  def charts(search: JsonNode): Seq[Chart] =
    search.get("vislist").elements().asScala.map { v =>
      val chans = v.get("channels").properties().asScala.map { e =>
        val (coreT, lineage) = Charts.channel(e.getValue.asText())
        (e.getKey, coreT, lineage)
      }.toSeq.sortBy(_._1)
      Chart(v.get("type").asText(), v.get("score").asDouble(), v.get("signature").asText(),
        chans, rows(v.get("data")))
    }.toSeq

  /** Canonical text of a row set, for order-insensitive comparison. */
  def rowSet(rs: Seq[Map[String, Any]]): Seq[String] =
    rs.map(_.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("|")).sorted

  private[perfbench] def json(fields: (String, Any)*): String = mapper.writeValueAsString(fields.toMap.asJava)

  /** The refine requests for a session: for each chart in turn, its first
    * numeric channel is rebuilt (/vis/addV) and its lineage extended by
    * one step summing two of the columns it selects (/vis/addT). */
  def refinePlan(cs: Seq[Chart]): Seq[(String, Option[String], String)] = {
    val chans = cs.flatMap(_.numericChannels.headOption)
    require(chans.nonEmpty, "search returned no numeric channel to refine")
    Iterator.continually(chans).flatten.flatMap { case (_, coreT, lineage) =>
      val sel = Charts.selected(lineage)
      Seq(("addV", Some(coreT), lineage)) ++
        (if (sel.size >= 2) Seq(("addT", Some(sel.take(2).mkString(",")), lineage)) else Nil)
    }.take(RefinesPerSession - 1).toSeq
  }

  /** The search every session sends: the analyst narrows the search to
    * scatter charts over PCA channels (plus the null passthroughs the
    * engine always admits). The unrestricted search costs about 20 s per
    * table on a 4-core machine, which would leave room for one session
    * per run; it is checked once per build against the golden rows
    * instead. */
  val SearchCharts: Seq[String] = Seq("scatter")
  val SearchTlist: Set[String] = Set("pca")
  val searchJson: String =
    json("charts" -> SearchCharts.asJava, "tlist" -> SearchTlist.toSeq.sorted.asJava)

  def run(ctx: Ctx, port: Int): Unit = {
    val client = new Client(port)
    val engine = new Engine(ctx.spark)
    def table(i: Int) = Gen.visTable(ctx.seed * 1000003L + i, Gen.Shapes(i))

    // the warm-up session (class loading, JIT, code generation) is not
    // measured; the first measured session searches its table again and
    // must get the same charts
    val primed = session(ctx, client, table(0), "warm-up", measured = false)
    ctx.startWindow()
    Gen.Shapes.indices.foreach { i =>
      val tbl = table(i)
      val cs = session(ctx, client, tbl, s"session $i", measured = true)
      if (i == 0) ctx.check(cs.map(c => (c.signature, c.score)) == primed.map(c => (c.signature, c.score)),
        "a second search of the same table returned other charts")
      if (ctx.traced && cs.nonEmpty) layers(ctx, engine, tbl, cs)
    }
    CacheScope.releaseAll()
  }

  /** One session: upload, search, refines and one checked chart rebuild.
    * Returns the search's charts (none when a request failed). */
  private def session(ctx: Ctx, client: Client, tbl: VisTable, label: String, measured: Boolean): Seq[Chart] = {
    var total = Cost.Zero
    def op[A](kind: String, name: String)(body: => A): Option[(A, Cost)] = {
      val r = ctx.op(if (measured) kind else "warmup", name)(body)
      r.foreach { case (_, c) => total += c }
      r
    }
    def add(metric: String, c: Cost): Unit = if (measured) ctx.add(metric, c)
    val found = op("ingest", "vis.csv")(client.post("/vis/csv", tbl.csvJson)).flatMap { case (_, c) =>
      add("ingest", c)
      op("search", "vis.search")(client.post("/vis/search", searchJson))
    }
    found.map { case (resp, c) =>
      add("search", c)
      val cs = charts(resp)
      if (measured) ctx.add("plans.charts", cs.size)
      ctx.check(cs.nonEmpty && cs.forall(c => java.lang.Double.isFinite(c.score)),
        s"$label: search returned ${cs.size} charts or a non-finite score")
      if (cs.nonEmpty) {
        refinePlan(cs).foreach { r =>
          op("refine", s"vis.${r._1}")(send(client, r)).foreach { case (_, c) => add("step", c) }
        }
        rebuild(cs).foreach { case (req, c) =>
          op("refine", "vis.addV")(client.post("/vis/addV", req)).foreach { case (resp, cost) =>
            add("step", cost)
            ctx.check(rowSet(rows(resp.get("data"))) == rowSet(c.data),
              s"$label: rebuilding ${c.signature} gave other rows than the search returned")
          }
        }
      }
      add("cycle", total)
      cs
    }.getOrElse(Nil)
  }

  /** One full chart rebuild (`vtype` + `channels`) of the first
    * rebuildable chart: its request body and the chart. */
  private def rebuild(cs: Seq[Chart]): Option[(String, Chart)] =
    cs.find(c => Charts.Rebuildable.contains(c.chartType)).map { c =>
      val chans = c.channels.map { case (ch, coreT, lineage) =>
        ch -> Map("lineage" -> lineage, "coret" -> coreT).asJava
      }.toMap.asJava
      (json("vtype" -> c.chartType, "channels" -> chans), c)
    }

  private def send(client: Client, r: (String, Option[String], String)): JsonNode = r match {
    case ("addV", Some(coreT), lineage) =>
      client.post("/vis/addV", json("lineage" -> lineage, "coret" -> coreT))
    case (_, Some(cols), lineage) =>
      val t = Map("op" -> "sum", "incols" -> cols.split(",").toSeq.asJava, "outmode" -> "append").asJava
      client.post("/vis/addT", json("lineage" -> lineage, "t" -> t))
    case other => throw new IllegalStateException(s"bad refine $other")
  }

  /** Traced runs only: the same table through each layer's entry point
    * in-process, outside the request windows. */
  private def layers(ctx: Ctx, engine: Engine, table: VisTable, cs: Seq[Chart]): Unit = {
    val schema = StructType(table.headers.zipWithIndex.map { case (h, i) =>
      StructField(h, if (table.rows.head(i).isInstanceOf[Double]) DoubleType else StringType)
    })
    val df: DataFrame = ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(table.rows.map(r => Row.fromSeq(r))), schema)
    val pair = Layers.profile(ctx, df)
    Layers.enumerate(ctx, pair._2)
    Layers.search(ctx, engine, df, pair, VisSession.SearchCharts, Some(VisSession.SearchTlist))
    Layers.score(ctx, cs, pair._2.keyColumn)
    Layers.replay(ctx, engine, df, pair, cs)
    CacheScope.releaseAll()
  }
}

/** Timed calls into single layers, made by traced vis_session runs. */
object Layers {
  def profile(ctx: Ctx, df: DataFrame): (DataFrame, graft.TableProfile) = {
    val t0 = Clock.ms()
    val pair = ctx.tracer.request("profiler.profile")(Profiler.profile(df))
    ctx.add("profiler.profile_s", (Clock.ms() - t0) / 1000)
    pair
  }

  /** Enumerate + dedupe over every core transform, as the search's
    * presearch phase does. */
  def enumerate(ctx: Ctx, prof: graft.TableProfile): Unit = {
    val t0 = Clock.ms()
    val n = ctx.tracer.request("plans.enumerate") {
      (Enumerator.numTl ++ Enumerator.catTl).map(ct => Enumerator.dedupe(Enumerator.enumerate(prof, ct)).size).sum
    }
    ctx.add("plans.enumerate_ms", Clock.ms() - t0)
    ctx.add("plans.tpaths", n)
  }

  def search(ctx: Ctx, engine: Engine, df: DataFrame, pair: (DataFrame, graft.TableProfile),
             charts: Seq[String], tlist: Option[Set[String]]): Unit = {
    val t0 = Clock.ms()
    ctx.tracer.request("plans.search")(engine.search(df, charts, tlist = tlist, profiled = Some(pair)))
    ctx.add("plans.search_s", (Clock.ms() - t0) / 1000)
  }

  def score(ctx: Ctx, cs: Seq[Chart], key: Option[String]): Unit = cs.foreach { c =>
    val t0 = Clock.ms()
    val n = ctx.tracer.request("score.chart")(Charts.score(c, key))
    if (n > 0) {
      ctx.add("score.chart_ms", Clock.ms() - t0)
      ctx.add("score.charts_scored", 1)
    }
  }

  /** Replays the first few numeric channels through Engine.addTransform,
    * addVisualization and buildChart, materialising a 400-row preview as
    * the server does. */
  def replay(ctx: Ctx, engine: Engine, df: DataFrame, pair: (DataFrame, graft.TableProfile),
             cs: Seq[Chart]): Unit = {
    def timed(name: String)(body: => Option[DataFrame]): Unit = {
      val t0 = Clock.ms()
      ctx.tracer.request(name)(body.foreach(_.limit(400).collect()))
      ctx.add("plans.replay_ms", Clock.ms() - t0)
    }
    cs.flatMap(_.numericChannels.headOption).take(3).foreach { case (_, coreT, lineage) =>
      timed("plans.addVisualization")(engine.addVisualization(df, lineage, coreT, profiled = Some(pair)))
      val sel = Charts.selected(lineage)
      if (sel.size >= 2) timed("plans.addTransform")(
        Some(engine.addTransform(df, lineage, TStep("sum", inCols = sel.take(2)), profiled = Some(pair))._1))
    }
    cs.find(c => Charts.Rebuildable.contains(c.chartType)).foreach { c =>
      timed("plans.buildChart")(engine.buildChart(df, c.chartType,
        c.channels.map { case (ch, coreT, lineage) => ch -> (lineage, coreT) }.toMap, profiled = Some(pair)))
    }
  }
}
