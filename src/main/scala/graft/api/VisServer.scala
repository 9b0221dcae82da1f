package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicReference

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.{Engine, EngineConfig}
import graft.operators.TStep
import graft.plans.Recommender
import graft.plans.Recommendation.ChannelFrames
import scala.jdk.CollectionConverters._

/** Thin HTTP shim mirroring the reference's four endpoints
  * (main.py:40-138) over [[graft.Engine]] — deployment plumbing only;
  * every decision lives in the engine. JDK HttpServer + the Jackson
  * that Spark already ships: no new dependencies.
  *
  *  - POST /vis/csv    {headers:[…], body:[[…],…]} → profile rows
  *    [attr, type, domain, max, min, iskey, values] + dim/sem cluster
  *    lists (main.py:50-73); the ingested frame becomes the session
  *    sheet (the reference's global `sheet`, main.py:25,48 — here an
  *    AtomicReference so the shim is at least swap-safe).
  *  - POST /vis/search {charts?:[…], beautify?:bool} → recommended
  *    charts with scores, channel descriptions ("channels"), each
  *    channel's lineage JSON ("lineages", the exact steps the search
  *    ran, to send back to /vis/addT and /vis/addV), and data
  *    (main.py:76-109), plus the search's wall ms per phase ("phases")
  *    and its count of failed tpath executions ("failed_tpaths").
  *  - POST /vis/addT   {lineage:"…", t:{op,…}} → new lineage id +
  *    preview rows (main.py:111-124).
  *  - POST /vis/addV   {lineage:"…", coret:"…"} → terminal transform
  *    preview rows (main.py:126-138).
  *
  * The session is one immutable [[Session]] value: the sheet, its
  * profile and the last search's executed channel frames
  * ([[graft.plans.Recommendation.frames]] — only the returned charts'
  * channels). /vis/csv replaces the whole value with no frames,
  * /vis/search replaces the frames, and both /vis/addV forms serve a
  * returned (lineage, core T) pair from its frame instead of
  * replaying and re-fitting it. Frames live until the next
  * /vis/search or /vis/csv.
  *
  * Numbers arrive as JSON doubles and strings stay strings — the
  * profiler's type sniffing decides logical types, same as the
  * reference re-sniffing its csv body.
  *
  * The sheet is a local relation: the rows are already on the driver,
  * so Catalyst gets the sheet's true size, converts the rows to its
  * internal form once, and folds plans that only project, filter or
  * limit the sheet on the driver; [[graft.plans.FoldLocalAggregate]]
  * folds the order-free aggregates over it and the key join of two
  * channel frames built from it. A refine that stays on that route (an
  * /vis/addT or /vis/addV preview, a `vtype` + `channels` rebuild of a
  * scatter) runs no Spark action: its frame folds to a local relation,
  * and the preview reads that relation's rows ([[Recommender.take]])
  * with no SQL execution. A lineage through a fit that emits an RDD or
  * a rank window, and a rebuild that sorts (`rel_line`) or sums doubles
  * (`sum_bar`), still run jobs.
  * An RDD of external rows would be stat-less and re-converted by every
  * job.
  */
final class VisServer(spark: SparkSession, cfg: EngineConfig = EngineConfig.default,
                      port: Int = 0) {

  private val engine = new Engine(spark, cfg)
  private val mapper = new ObjectMapper()
  // the profiled pair is cached at ingest: search/addT/addV reuse it
  // instead of re-scanning the identical sheet per request
  private val session = new AtomicReference[Option[Session]](None)

  private def current(): Session =
    session.get().getOrElse(throw new IllegalStateException("POST /vis/csv first"))

  // The JDK server writes a response's headers and its body as two
  // segments. Without TCP_NODELAY, Nagle's algorithm holds the body
  // until the client ACKs the headers, and a client that delays its ACK
  // (40 ms on Linux loopback) adds that to every response. The server
  // reads this property once, when its ServerConfig class loads, so it
  // is set before the first HttpServer.create; an explicit
  // -Dsun.net.httpserver.nodelay wins.
  sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/vis/csv", handler(csv))
  server.createContext("/vis/search", handler(search))
  server.createContext("/vis/addT", handler(addT))
  server.createContext("/vis/addV", handler(addV))
  server.setExecutor(null) // serial, like the reference's single process

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)

  // ---- endpoint bodies ----

  private def csv(req: JsonNode): JsonNode = {
    val headers = req.get("headers").elements().asScala.map(_.asText()).toVector
    val body = req.get("body").elements().asScala.map(_.elements().asScala.toVector).toVector
    // column-type sniff: all-numeric columns land as DOUBLE, the rest
    // as STRING (the profiler handles date/nominal refinement). JSON
    // nulls are type-neutral: one null in a numeric column must not
    // demote it to Str/Nominal and silently drop it from every
    // numeric chart (the profiler never re-sniffs numeric strings)
    val numeric = headers.indices.map(c => body.forall(r => r(c).isNumber || r(c).isNull))
    val schema = StructType(headers.zipWithIndex.map { case (h, c) =>
      StructField(h, if (numeric(c)) DoubleType else StringType, nullable = true)
    })
    val rows = body.map(r => Row.fromSeq(r.zipWithIndex.map { case (v, c) =>
      if (v.isNull) null
      else if (numeric(c)) v.asDouble()
      else v.asText()
    }))
    val df = spark.createDataFrame(rows.asJava, schema)
    val (pdf, prof) = engine.profile(df)
    session.set(Some(Session(pdf, prof)))
    val out = mapper.createObjectNode()
    val cols = out.putArray("columns")
    prof.columns.foreach { c =>
      val r = cols.addArray()
      // .name = the protocol's lowercase tags ("int"/"str"/"date"/
      // "nominal"/"real"), like Profiler.profileStatsDF — NOT the
      // case-object toString ("Int"/"Str"/...)
      r.add(c.name).add(c.logicalType.name).add(c.distinctCount)
      c.max.fold[ArrayNode](r.addNull())(v => r.add(v))
      c.min.fold[ArrayNode](r.addNull())(v => r.add(v))
      r.add(c.isKey)
    }
    putClusters(out, "dimclusters", prof.dimClusters)
    putClusters(out, "semclusters", prof.nameClusters ++ prof.unitClusters)
    out.put("rows", prof.rows)
    prof.keyColumn.foreach(out.put("key", _))
    out
  }

  private def search(req: JsonNode): JsonNode = {
    val held = session.get()
    val s = held.getOrElse(throw new IllegalStateException("POST /vis/csv first"))
    val charts = field(req, "charts")
      .map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq("scatter", "line", "bar"))
    val beautify = field(req, "beautify").forall(_.asBoolean(true))
    // reference parity (main.py:91-99): optional core-T restriction and
    // client-supplied cluster overrides
    val tlist = field(req, "tlist")
      .map(_.elements().asScala.map(_.asText()).toSet)
    def clusters(f: String): Option[Seq[Seq[String]]] =
      field(req, f).map(_.elements().asScala.map(
        _.elements().asScala.map(_.asText()).toSeq).toSeq)
    // slist arrives in the reference's {name: bool} toggle form
    // (score.py:10-28); the engine takes the enabled-name set
    val slist = field(req, "slist").map { node =>
      node.fields().asScala.collect {
        case e if e.getValue.asBoolean(false) => e.getKey
      }.toSet
    }
    val rec = engine.search(s.sheet, charts, beautify, tlist,
      clusters("dim_clusters"), clusters("sem_clusters"), slist,
      profiled = Some(s.profiled))
    // a /vis/csv that landed meanwhile wins: its sheet has no frames
    session.compareAndSet(held, Some(s.copy(frames = rec.frames)))
    val out = mapper.createObjectNode()
    val vis = out.putArray("vislist")
    rec.visList.foreach { c =>
      val v = vis.addObject()
      v.put("type", c.chartType).put("score", c.score).put("signature", c.signature)
      val ch = v.putObject("channels")
      c.channels.foreach { case (k, l) => ch.put(k, l) }
      val lin = v.putObject("lineages")
      c.lineages.foreach { case (k, l) => lin.put(k, l) }
      val data = v.putArray("data")
      c.data.foreach { row =>
        val o = data.addObject()
        row.foreach { case (k, value) => putAny(o, k, value) }
      }
    }
    out.set[JsonNode]("graph", mapper.readTree(rec.graphJson))
    val phases = out.putObject("phases")
    rec.phasesMs.foreach { case (p, ms) => phases.put(p, ms) }
    out.put("failed_tpaths", rec.failedTpaths)
    out
  }

  private def addT(req: JsonNode): JsonNode = {
    val s = current()
    val t = req.get("t")
    val step = TStep(
      op = t.get("op").asText(),
      inType = field(t, "intype").map(_.asText()).getOrElse("=="),
      inCols = field(t, "incols").map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
      outMode = field(t, "outmode").map(_.asText()).getOrElse("append"),
      outName = field(t, "outname").map(_.asText()),
      castTo = field(t, "castto").map(_.asText()))
    val (frame, lineage) = engine.addTransform(s.sheet, lineageOf(req), step,
      profiled = Some(s.profiled))
    val out = mapper.createObjectNode()
    out.put("lineage", lineage)
    putPreview(out, frame)
    out
  }

  private def addV(req: JsonNode): JsonNode = {
    val s = current()
    // the reference's addV form (main.py:132-134): vtype + channel map
    // → assemble a full chart (search.py:1495-1794 ≙ Engine.buildChart).
    // The single-(lineage, coret) preview form stays supported below.
    if (req.has("vtype") && req.has("channels")) {
      val vtype = req.get("vtype").asText()
      val channels = req.get("channels").fields().asScala.map { e =>
        val lineage = field(e.getValue, "lineage").map(_.asText()).getOrElse("[]")
        val coreT = field(e.getValue, "coret").map(_.asText()).getOrElse("null_num")
        e.getKey -> (lineage, coreT)
      }.toMap
      return engine.buildChart(s.sheet, vtype, channels, profiled = Some(s.profiled),
          frames = s.frames) match {
        case Some(frame) =>
          val out = mapper.createObjectNode()
          out.put("ok", true).put("vtype", vtype)
          putPreview(out, frame)
          out
        case None => mapper.createObjectNode().put("ok", false)
      }
    }
    val coreT = req.get("coret").asText()
    engine.addVisualization(s.sheet, lineageOf(req), coreT, profiled = Some(s.profiled),
        frames = s.frames) match {
      case Some(frame) =>
        val out = mapper.createObjectNode()
        out.put("ok", true)
        putPreview(out, frame)
        out
      case None =>
        // invalid plan (NOTCALCUDMT etc.) — the reference returns an
        // empty payload rather than an error (search.py:1488-1493)
        mapper.createObjectNode().put("ok", false)
    }
  }

  // ---- plumbing ----

  /** Present non-null field. `Option(req.get(f))` alone is wrong for an
    * explicit JSON null — Jackson returns NullNode, not null, so
    * `{"tlist": null}` would read as Some(empty) and restrict the
    * search to nothing instead of falling back to the default. */
  private def field(req: JsonNode, f: String): Option[JsonNode] =
    Option(req.get(f)).filterNot(_.isNull)

  private def lineageOf(req: JsonNode): String =
    field(req, "lineage").map(_.asText()).getOrElse("[]")

  private def putClusters(out: ObjectNode, name: String, cs: Seq[Seq[String]]): Unit = {
    val arr = out.putArray(name)
    cs.foreach(c => { val a = arr.addArray(); c.foreach(a.add) })
  }

  private def putAny(o: ObjectNode, k: String, v: Any): Unit = v match {
    case null => o.putNull(k)
    case d: Double => o.put(k, d)
    case f: Float => o.put(k, f.toDouble)
    case l: Long => o.put(k, l)
    case i: Int => o.put(k, i)
    case b: Boolean => o.put(k, b)
    case bd: java.math.BigDecimal => o.put(k, bd)
    case s => o.put(k, s.toString)
  }

  private def putPreview(out: ObjectNode, frame: DataFrame, limit: Int = 400): Unit = {
    val cols = frame.columns
    val arr = out.putArray("data")
    Recommender.take(frame, limit).foreach { r =>
      val o = arr.addObject()
      cols.zipWithIndex.foreach { case (c, i) => putAny(o, c, r.get(i)) }
    }
  }

  private def handler(body: JsonNode => JsonNode)(ex: HttpExchange): Unit = {
    val resp =
      try {
        val req = mapper.readTree(new String(
          ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8) match {
          case "" => "{}"
          case s => s
        })
        // every endpoint fully materializes its response (collects /
        // previews) before returning, so frames graft operators persist
        // on the request's behalf are release-safe at this boundary —
        // without this, a long-lived server accumulates persisted
        // frames across requests until executor memory pressure
        // (CacheScope's scaladoc names this caller obligation)
        (200, mapper.writeValueAsString(graft.CacheScope.withCached(body(req))))
      } catch {
        case e: Exception =>
          (400, mapper.writeValueAsString(
            mapper.createObjectNode().put("error", String.valueOf(e.getMessage))))
      }
    val bytes = resp._2.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(resp._1, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

/** One client session: the ingested sheet, its profile, and the last
  * search's executed channel frames (empty until a search ran). */
private final case class Session(sheet: DataFrame, profile: graft.TableProfile,
                                 frames: ChannelFrames = Map.empty) {
  def profiled: (DataFrame, graft.TableProfile) = (sheet, profile)
}
