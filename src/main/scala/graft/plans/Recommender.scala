package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.{EngineConfig, TableProfile}
import graft.operators.{ChartAssembly, CoreT, TStep}
import graft.score.{Scagnostics, Significance}

/** A recommended chart: type, channel descriptions, score, and the
  * (bounded) data series for rendering.
  *
  * `signature` identifies the chart exactly (coreT + full tpath
  * fingerprint per channel); `dedupKey` is the reference's coarser
  * duplicate-removal identity — chart type + per-channel OPERATOR-NAME
  * sequence with the column lists ignored (search.py:1280-1299 keys on
  * `t["t"]`/`t["name"]` only), so two same-shaped derivations over
  * different column sets count as one chart.
  *
  * `lineages` holds each channel's tpath as [[Lineage.toJson]] — the
  * exact steps the search ran, `castTo` included, which the
  * fingerprint in `channels` does not carry. */
final case class ChartRec(
    chartType: String,
    channels: Map[String, String], // channel → "coreT | tpath fingerprint"
    columns: Map[String, Seq[String]], // channel → output columns
    score: Double,
    signature: String,
    dedupKey: String,
    data: Seq[Map[String, Any]],
    lineages: Map[String, String]) // channel → lineage JSON

/** @param phasesMs    wall milliseconds per search phase, in pipeline
  *                    order ([[Recommender.Phases]]); a phase's time
  *                    excludes the phases nested inside it
  * @param failedTpaths tpath executions that threw and were dropped
  * @param frames      the executed frame of every channel of `visList`,
  *                    keyed by (core T, tpath steps) and compared on the
  *                    full [[TStep]]: the plans the search built, fits
  *                    done. Only the returned charts' channels, never
  *                    the whole execution memo. A frame reads the
  *                    search's source lazily, so it is only valid for
  *                    refines of that same source and profile; see
  *                    [[graft.Engine.addVisualization]]. */
final case class Recommendation(visList: Seq[ChartRec], graphJson: String,
                                phasesMs: Seq[(String, Double)], failedTpaths: Int,
                                frames: Recommendation.ChannelFrames)

object Recommendation {
  /** (core T, tpath steps) → the executed channel frame. */
  type ChannelFrames = Map[(String, Seq[TStep]), DataFrame]
}

/** The five-phase search pipeline (SURVEY §3.2): presearch (tpath
  * enumeration per core transform), stree channel matching,
  * memoized execution, chart assembly, scoring + top-k + dedup +
  * provenance graph.
  *
  * Phase structure vs the reference (search.py:46-308, 687-1443):
  *  - enumeration and channel matching are pure driver logic;
  *  - each (coreT, tpath) executes ONCE as a Spark plan and is cached
  *    by fingerprint (the reference memoizes on pickled keys,
  *    search.py:293-298);
  *  - the reference's per-core-T OS processes (search.py:55-63)
  *    disappear: Spark's scheduler is the parallelism substrate;
  *  - the source is persisted for the search unless the caller cached
  *    it or it is driver-local (a local relation, or a plan Catalyst
  *    folds into one, like the /vis/csv sheet): Catalyst folds reads of
  *    a local source on the driver, and a cache would make each of
  *    them an in-memory scan job;
  *  - scoring collects only the columns it scores, bounded by
  *    `maxChartRows`, so scoring cost is independent of table size;
  *  - a bounded read of a driver-local frame ([[take]]: an xy sample,
  *    a channel read, an `ord_line` or `ord_cat_line` series, an
  *    incomplete read's chart data) runs no Spark action: it converts
  *    the first rows of the frame's folded local relation, as
  *    `limit(n).collect()` would return them;
  *  - each scatter xy candidate is read once (key + both columns, the
  *    first `maxChartRows` complete rows). CDM is a driver-side key
  *    lookup over the xy sample: it scores the labelled subset of the
  *    points scagnostics scored. When an xy's complete rows fit in
  *    `maxChartRows`, that subset is exactly the xy ⋈ color join;
  *    above it, CDM sees the sample's points, not a different N;
  *  - every channel frame the search touches (a picked cat color, a
  *    survivor's channel) is read once: key + output columns (+ a cat
  *    frame's label cast to string), `maxChartRows + 1` rows, so the
  *    read knows whether it is complete. On a complete read a color's
  *    labels are a driver-side filter and group of the read, and a
  *    survivor's chart data a driver-side inner key join of its
  *    channels' reads; neither runs a Spark join;
  *  - on an incomplete read, Spark computes both: the labels by a
  *    broadcast left-semi join of the color to its xys' sample keys (at
  *    most #xys × `maxChartRows` rows), the chart data by key-joining
  *    the channel frames;
  *  - chart data is built only for the charts that survive dedup and
  *    top-k — never for the candidates the ranking drops.
  */
object Recommender {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default tpath-failure hook: warn once per core T (the search loop
    * is forgiving like the reference's, search.py:246-308, but a
    * systematic failure must not degrade to "fewer charts" silently). */
  private def logFailure(coreT: String, fingerprint: String, e: Throwable): Unit =
    log.warn(s"tpath execution failed for coreT=$coreT (tpath $fingerprint); " +
      s"further $coreT failures suppressed: $e")

  private def chartFamilies(catLine: Boolean): Map[String, Seq[String]] = Map(
    "scatter" -> Seq("num_scatter", "cat_scatter"),
    // the cat-y line kinds are gated by CAT_LINE like the reference
    // (config.py:22, main.py:83-90)
    "line" -> (Seq("ord_line", "rel_line") ++
      (if (catLine) Seq("ord_cat_line", "rel_cat_line") else Nil)),
    "bar" -> Seq("sum_bar", "count_bar"))

  /** V.py channel contracts: channel → (dim, type); dim None = multi. */
  private val vlist: Map[String, Map[String, (Option[Int], String)]] = Map(
    "num_scatter" -> Map("xy" -> (Some(2), "num"), "color" -> (Some(1), "num")),
    "cat_scatter" -> Map("xy" -> (Some(2), "num"), "color" -> (Some(1), "cat")),
    "ord_line" -> Map("y" -> (None, "num")),
    "ord_cat_line" -> Map("y" -> (Some(1), "cat")),
    "rel_line" -> Map("x" -> (Some(1), "num"), "y" -> (None, "num")),
    "rel_cat_line" -> Map("x" -> (Some(1), "num"), "y" -> (Some(1), "cat")),
    "sum_bar" -> Map("x" -> (Some(1), "cat"), "y" -> (None, "num")),
    "count_bar" -> Map("x" -> (Some(1), "cat")))

  /** A channel frame's bounded read: `complete` when it holds every row. */
  private final case class FrameRead(rows: Array[Row], complete: Boolean)

  private final case class Executed(coreT: String, tpath: TPathCandidate, df: DataFrame,
                                    outCols: Seq[String]) {
    /** Output columns with tpath-derived (created) columns first — the
      * reference's series preference when capping lines/bars per chart
      * (search.py:940-947, 1048-1055). */
    def outColsDerivedFirst: Seq[String] = {
      val derived = tpath.steps.flatMap(_.outName).toSet
      outCols.filter(derived.contains) ++ outCols.filterNot(derived.contains)
    }
  }

  /** The search phases [[Recommendation.phasesMs]] reports:
    *  - enumerate: tpath pools and per-channel candidate selection;
    *  - execute: time blocked on tpath executions;
    *  - score: candidate collects plus scagnostics / significance;
    *  - render: chart data of the top-k survivors;
    *  - rank: dedup, top-k and the provenance graph. */
  val Phases: Seq[String] = Seq("enumerate", "execute", "score", "render", "rank")

  /** A scored candidate chart: everything but its data, which only
    * the top-k survivors get ([[render]]). */
  private final case class Scored(chartType: String, chans: Map[String, Executed], score: Double) {
    def signature: String = chartType + "::" + chans.toSeq.sortBy(_._1)
      .map { case (ch, ex) => s"$ch=${ex.coreT}:${ex.tpath.fingerprint}" }.mkString("|")
    /** The reference's duplicate-removal key: op names only, per
      * channel (search.py:1286-1290 joins t["t"]/t["name"], never the
      * columns). */
    def dedupKey: String = chartType + "::" + chans.toSeq.sortBy(_._1)
      .map { case (ch, ex) =>
        s"$ch=${(ex.tpath.steps.map(_.op) :+ ex.coreT).mkString(" ")}"
      }.mkString("|")
  }

  /** Dimension-reduction / clustering core Ts (the fitted ones): shared
    * tpath enumeration (threadsharing, T.py:192-199), per-T candidate
    * cap 3, channel alignment rule. */
  private val dmTs = CoreT.table.filter(_.fitted).map(_.name)

  /** Candidates per channel: each other core T's pre-execution slice,
    * and the executed ones kept ahead of the null passthroughs. */
  private val MaxCandidatesPerChannel = 12
  /** Per-family chart caps after dedup (config.py:27-31,
    * search.py:1274-1278): MAXLINE, MAXCATLINE, MAXSUMBAR, MAXCOUNTBAR;
    * MAXSCATTER is [[EngineConfig.maxScatter]]. */
  private val FamilyCaps = Map("line" -> 3, "cat_line" -> 2, "sum_bar" -> 3, "count_bar" -> 1)
  /** MAXLINENUMINCHART and MAXBARNUMINCHART (config.py:33-34): series
    * per line and sum_bar chart, derived columns first (search.py:940-947,
    * 1048-1055); [[graft.Engine.buildChart]] reads the bar cap too. */
  private val MaxLineNumInChart = 3
  private[graft] val MaxBarNumInChart = 3
  /** Concurrent tpath executions of one search, the analogue of the
    * reference's process per core T (search.py:55-63): driver threads
    * submitting jobs on the shared session. */
  private val SearchParallelism = 4
  private val SearchTimeout = scala.concurrent.duration.Duration(30, "min")

  /** Collision-renaming key join of two channel frames — the ONE
    * spelling of every key join in the search (`rel_line`,
    * `rel_cat_line`, `sum_bar`, an incomplete read's `render`) and in
    * Engine.buildChart's interactive rebuild, so the paths cannot
    * diverge: right-side columns that collide with the left get a `__y`
    * suffix, and the returned column list reflects the renames. An
    * inner join on the key: over two driver-local frames
    * [[FoldLocalAggregate]] evaluates it on the driver, otherwise Spark
    * joins. */
  private[graft] def joinOnKey(key: Seq[String])(
      left: DataFrame, right: DataFrame,
      rightCols: Seq[String]): (DataFrame, Seq[String]) = {
    val leftSet = left.columns.toSet
    val renames = rightCols.filter(leftSet.contains).map(c => c -> (c + "__y")).toMap
    val r2 = renames.foldLeft(right) { case (d, (o, n)) => d.withColumnRenamed(o, n) }
    (left.join(r2, key), rightCols.map(c => renames.getOrElse(c, c)))
  }

  /** The rows of a frame that already sit on the driver: its optimized
    * plan is a batch local relation, or folds into one (a project,
    * filter or limit over it; what [[FoldLocalAggregate]] folds). */
  private def localRelation(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
    }

  private def driverLocal(df: DataFrame): Boolean = df.isLocal || localRelation(df).isDefined

  /** `df.limit(n).collect()`, with no Spark action when `df` is
    * driver-local: the first `n` rows of its local relation, converted
    * as `collect` converts them (each row carries `df.schema`). Spark
    * folds a `Limit` over a local relation into the same first `n`
    * rows, so only the fixed cost of an action goes: planning the
    * limit, generating its projections, the SQL execution. Any other
    * plan (a file scan, an RDD, a `Sort`, which Spark does not fold)
    * runs as `df.limit(n).collect()`. */
  private[graft] def take(df: DataFrame, n: Int): Array[Row] = localRelation(df) match {
    case Some(local) =>
      // java.time or java.sql values as the active session's conf says,
      // which is what `collect` reads too
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      local.data.iterator.take(n).map(toRow(_).asInstanceOf[Row]).toArray
    case None => df.limit(n).collect()
  }

  /** @param tlist restrict core transforms considered for channels —
    *        the /vis/search "tlist" parameter (main.py:91-94). The four
    *        null passthroughs are always admitted, exactly like the
    *        reference appends them to any client tlist; None = all.
    * @param slist enabled score metrics — the /vis/search "slist"
    *        toggles (score.py:10-28, main.py:97): a chart's score is
    *        the unweighted mean of its ENABLED metrics (search.py:792).
    *        None = this engine's default metric set — which INCLUDES
    *        "sca_striated", matching the reference's default slist
    *        (score.py:21); an explicit set filters the default
    *        metrics down to the named ones. */
  def recommend(df: DataFrame, profile: TableProfile, spark: SparkSession,
                cfg: EngineConfig = EngineConfig.default,
                charts: Seq[String] = Seq("scatter", "line", "bar"),
                maxChartRows: Int = 4000,
                onExecutionFailure: (String, String, Throwable) => Unit = logFailure,
                tlist: Option[Set[String]] = None,
                slist: Option[Set[String]] = None): Recommendation = {
    // mean-of-enabled (search.py:792); empty → 0 like utils.mean's
    // safe default on an all-disabled slist
    def enabled(name: String): Boolean = slist.forall(_.contains(name))
    def meanOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // the reference's cs-dict for every line/bar kind (bars
    // search.py:978-990, ord lines 1073-1084, rel lines 1204-1214):
    // each enabled metric is computed independently — outno1 and lincor
    // as per-series means, cor as the mean pairwise correlation over
    // ≥2 series — and the chart scores their mean. Deviation note: for
    // ord lines the reference passes the (rows × cols) value matrix to
    // significance_correlation, pairing ROWS as if they were series —
    // a numpy-orientation accident its own bar and rel-line paths
    // don't share (both pair columns explicitly); columns are paired
    // everywhere here.
    def lineScore(series: Seq[Array[Double]]): Double = {
      val cs = Seq.newBuilder[Double]
      if (enabled("lin_outstanding1")) cs += meanOf(series.map(Significance.outstanding1))
      if (enabled("lin_linearness")) cs += meanOf(series.map(Significance.linearness))
      if (series.length >= 2 && enabled("lin_correlation"))
        cs += Significance.correlation(series.toArray)
      meanOf(cs.result())
    }
    val key = profile.keyColumn.toSeq
    val route = CoreT.route(profile, cfg)
    // the source frame feeds every (coreT, tpath) execution — keep it
    // hot, unless it already lives on the driver: Catalyst folds reads
    // of a local relation there, and a cache would turn each of them
    // into an in-memory scan job. A cache the caller set up is the
    // caller's to release.
    val persisted = df.storageLevel == StorageLevel.NONE && !driverLocal(df)
    if (persisted) df.persist()

    // exclusive wall time per phase: entering a nested phase pauses the
    // enclosing one (candidate selection runs inside the score loops)
    val phaseNs = mutable.Map(Phases.map(_ -> 0L): _*)
    var open = List.empty[String]
    var since = System.nanoTime()
    def phase[A](name: String)(body: => A): A = {
      def switchTo(next: List[String]): Unit = {
        val now = System.nanoTime()
        open.headOption.foreach(p => phaseNs(p) += now - since)
        since = now
        open = next
      }
      switchTo(name :: open)
      try body finally switchTo(open.tail)
    }

    // ── presearch: enumerate pools, shared across DM core Ts
    //    (threadsharing, T.py:192-199): every DM core T enumerates the
    //    same pool ─────────────────────────────────────────────────────
    val dmShared = phase("enumerate")(Enumerator.dedupe(Enumerator.enumerate(profile, dmTs.head, cfg)))
    def pool(t: String): Seq[TPathCandidate] =
      if (dmTs.contains(t)) dmShared
      else Enumerator.dedupe(Enumerator.enumerate(profile, t, cfg))

    // ── memoized execution (one Spark plan per (coreT, tpath)),
    //    submitted CONCURRENTLY: the reference parallelizes with one OS
    //    process per core T (search.py:55-63); here concurrent job
    //    submission on the shared SparkSession is the substrate, and
    //    the future-valued memo makes concurrent requests for the same
    //    fingerprint share one execution ─────────────────────────────
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    val execPool = Executors.newFixedThreadPool(SearchParallelism, (r: Runnable) => {
      val t = new Thread(r, "graft-recommender")
      t.setDaemon(true)
      t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(execPool)
    val memo = mutable.Map[String, Future[Option[Executed]]]()
    // failures stay forgiving (the reference's search loop drops a
    // failed tpath and moves on) but never silent: the FIRST failure
    // per core T reaches `onExecutionFailure` (default: slf4j warn)
    val failureReported = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val failures = new java.util.concurrent.atomic.AtomicInteger()
    def executeF(coreT: String, tp: TPathCandidate): Future[Option[Executed]] =
      memo.synchronized {
        memo.getOrElseUpdate(s"$coreT :: ${tp.fingerprint}", Future {
          try CoreT.transform(df, coreT, tp.steps, key, route).map { out =>
            val outCols = out.columns.filterNot(key.contains).toSeq
            Executed(coreT, tp, out, outCols)
          } catch {
            case e: Exception =>
              failures.incrementAndGet()
              if (failureReported.add(coreT)) onExecutionFailure(coreT, tp.fingerprint, e)
              None
          }
        })
      }
    // static output-dimension prediction, so only dimension-compatible
    // tpaths are ever executed (channel dim == T output dim,
    // search.py:131)
    def predictedDim(t: String, tp: TPathCandidate): Option[Int] = CoreT.decl(t).outCols match {
      case fitted if fitted.nonEmpty => Some(fitted.size)
      case _ => // null passthroughs: simulate the column set
        var cols: Option[Seq[String]] = Some(Nil)
        tp.steps.foreach { s =>
          cols = (s.op, s.outMode, s.inType) match {
            case ("select", _, "==") => Some(s.inCols)
            case ("select", _, _) => None // like-select: dynamic
            case ("rank", _, _) => cols
            case (_, "append", _) => cols.map(_ ++ s.outName.toSeq)
            case (_, "new_table", _) => Some(s.outName.toSeq)
            case _ => cols
          }
        }
        cols.map(_.size)
    }

    // channel candidates: executed results matching (dim, type) — all
    // dimension-compatible tpaths dispatched in parallel, then gathered.
    // The search-gated core Ts (tsne/umap) are driver-side fits that the
    // route admits only at a scale it can fit (CoreT.route).
    // client tlist restriction + the always-admitted null passthroughs
    // (main.py:92-94)
    val allowedTs = tlist.map(_ ++ CoreT.table.filterNot(_.fitted).map(_.name))
    // memoized per (dim, ctype): the line/bar families re-request the
    // same candidate lists (rel_cat_line once per cat-y candidate) and
    // each rebuild re-ran enumeration + dedup + the gather, all
    // deterministic — pure wasted driver CPU (execution itself was
    // always memoized by fingerprint)
    val candCache = mutable.Map[(Option[Int], String), Seq[Executed]]()
    def candidates(dim: Option[Int], ctype: String): Seq[Executed] =
      candCache.getOrElseUpdate((dim, ctype), candidatesUncached(dim, ctype))
    def candidatesUncached(dim: Option[Int], ctype: String): Seq[Executed] = {
      val ts = if (ctype == "num") Enumerator.numTl else Enumerator.catTl
      val work: Seq[(String, TPathCandidate)] = phase("enumerate") {
        ts.filter(t => allowedTs.forall(_.contains(t)))
          .filter(t => route.searchEmbeds || !CoreT.decl(t).searchGated).flatMap { t =>
          val perT = if (dmTs.contains(t)) 3 else MaxCandidatesPerChannel
          // A candidate transform rejects must not occupy a slot: the
          // reference executes its whole pool, but take(perT) slices
          // BEFORE execution, and on a wide table the always-rejected
          // null_num1 single-selects alone filled every slot
          // (WideTableSearchSpec pins this).
          pool(t)
            .filter(tp => CoreT.admits(t, tp.steps))
            .filter(tp => predictedDim(t, tp).forall(d => dim.forall(_ == d)))
            .take(perT).map(t -> _)
        }
      }
      val gathered = phase("execute")(Await.result(
        Future.sequence(work.map { case (t, tp) => executeF(t, tp) }), SearchTimeout))
      val ok = gathered.flatten.filter { ex =>
        dim.forall(_ == ex.outCols.size) && ex.outCols.nonEmpty
      }
      // Null passthroughs are the reference's always-admitted channels
      // (main.py:92-94); the scale cap must not crowd them out now that
      // the embed family alone can fill every slot (4 DM Ts × 3 = 12
      // since sampled fit became the default). They sit last in
      // numTl/catTl, so appending keeps the tlist candidate order.
      val (nulls, rest) = ok.partition(ex => !CoreT.decl(ex.coreT).fitted)
      rest.take(MaxCandidatesPerChannel) ++ nulls
    }

    // alignment rule (ONLYVISUALIZESELECTIONMATCHINGCHANNELS,
    // search.py:734-737): channels from DM core Ts must come from the
    // same final selection
    def aligned(a: Executed, b: Executed): Boolean =
      if (dmTs.contains(a.coreT) && dmTs.contains(b.coreT))
        a.tpath.fingerprint == b.tpath.fingerprint
      else true

    /** One bounded read per xy candidate: the key plus the two xy
      * columns as doubles, complete in those two columns, first
      * `maxChartRows` rows. The points feed scagnostics; the keys let
      * cat_scatter CDM label the same points by lookup. */
    final case class XySample(keys: Array[Row], pts: Array[(Double, Double)])
    def keyOf(r: Row): Row = Row.fromSeq(key.indices.map(r.get))
    def sampleXy(xy: Executed): XySample = {
      val rows = take(xy.df.select(key.map(col) ++ Seq(
          col(xy.outCols(0)).cast("double").as("__x"),
          col(xy.outCols(1)).cast("double").as("__y")): _*)
        .na.drop(Seq("__x", "__y")), maxChartRows)
      XySample(rows.map(keyOf),
        rows.map(r => (r.getDouble(key.size), r.getDouble(key.size + 1))))
    }

    /** A cat color's labels when its read is incomplete: (key → labels
      * as strings), non-null labels only, restricted by a broadcast
      * left-semi join to `keys` (the samples of the xys that pick this
      * color), so it returns at most #xys × `maxChartRows` rows. A
      * multimap, so a non-unique key labels a point once per match,
      * like an inner join would. */
    def readLabels(c: Executed, keys: Seq[Row]): Map[Row, Seq[String]] = {
      val label = c.outCols.head
      val wanted = spark.createDataFrame(keys.filterNot(_.anyNull).asJava,
        StructType(key.map(c.df.schema(_))))
      c.df.select(key.map(col) :+ col(label): _*).na.drop()
        .join(broadcast(wanted), key, "left_semi")
        .select(key.map(col) :+ col(label).cast("string"): _*)
        .collect().toSeq
        .groupMap(keyOf)(_.getString(key.size))
    }

    /** One read per channel frame the search touches (a picked cat
      * color, a survivor's channel): the key, every output column and,
      * for a cat frame, its label as Spark casts it to a string. At most
      * `maxChartRows + 1` rows, so the read knows whether it holds the
      * whole frame. Memoized per executed frame. */
    val reads = mutable.Map[Executed, FrameRead]()
    def readFrame(ex: Executed): FrameRead = reads.getOrElseUpdate(ex, {
      val label =
        if (CoreT.decl(ex.coreT).channel == "cat") Seq(col(ex.outCols.head).cast("string")) else Nil
      val rows = take(ex.df.select(key.map(col) ++ ex.outCols.map(col) ++ label: _*),
        maxChartRows + 1)
      FrameRead(rows, rows.length <= maxChartRows)
    })

    /** [[readLabels]]' result, from the color's read when that is
      * complete: rows whose key and label are neither null nor NaN (as
      * `na.drop` keeps them) and whose key is wanted. */
    def labelsFor(c: Executed, keys: Seq[Row]): Map[Row, Seq[String]] = {
      val read = readFrame(c)
      if (!read.complete) readLabels(c, keys)
      else {
        val wanted = keys.filterNot(_.anyNull).toSet
        read.rows.toSeq.filter(r => (0 to key.size).forall(i => present(r.get(i))))
          .map(r => keyOf(r) -> r.getString(key.size + c.outCols.size))
          .filter(kl => wanted(kl._1))
          .groupMap(_._1)(_._2)
      }
    }

    val scored = mutable.ArrayBuffer[Scored]()

    val enabledTypes = charts.flatMap(chartFamilies(cfg.catLine).getOrElse(_, Nil))

    try {
    phase("score") {
    // ── scatter families ─────────────────────────────────────────────
    if (enabledTypes.contains("num_scatter") || enabledTypes.contains("cat_scatter")) {
      val xys = candidates(Some(2), "num")
      val numColors = candidates(Some(1), "num")
      val catColors = candidates(Some(1), "cat")
      val samples = xys.map(xy => xy -> sampleXy(xy))
        .filter(_._2.pts.length >= Scagnostics.DotNumLimit)
      def catPicks(xy: Executed): Seq[Executed] =
        if (enabledTypes.contains("cat_scatter")) catColors.filter(aligned(xy, _)).take(3)
        else Nil
      // each picked color is read once, for the union of its xys' keys
      val labelsOf = samples.flatMap { case (xy, s) => catPicks(xy).map(_ -> s.keys) }
        .groupMap(_._1)(_._2).map { case (c, ks) => c -> labelsFor(c, ks.flatten.distinct) }
      for ((xy, s) <- samples) {
        val g = new Scagnostics.Graph(s.pts)
        // per-flag metric selection (search.py:763-792); striated is
        // in the reference's default slist (score.py:21), so it is
        // default-enabled here too (round-6 parity fix — the golden
        // pin was regenerated with it)
        val base = Seq(
          "sca_outlying" -> (() => g.outlying),
          "sca_skewed" -> (() => 100 - g.skewed),
          "sca_striated" -> (() => g.striated),
          "sca_stringy" -> (() => g.stringy),
          "sca_straight" -> (() => g.straight),
          "sca_clumpy" -> (() => 100 - g.clumpy),
          "sca_monotonic" -> (() => g.monotonic)
        ).collect { case (n, v) if enabled(n) => v() }
        if (enabledTypes.contains("num_scatter")) {
          for (c <- numColors.filter(aligned(xy, _)).take(3)) {
            scored += Scored("num_scatter", Map("xy" -> xy, "color" -> c), meanOf(base))
          }
          if (numColors.isEmpty)
            scored += Scored("num_scatter", Map("xy" -> xy), meanOf(base))
        }
        for (c <- catPicks(xy)) {
          // CDM scores the labelled subset of the points scagnostics
          // scored: each sample point once per label of its key
          val byKey = labelsOf(c)
          val labelled = s.keys.indices.flatMap(i =>
            byKey.getOrElse(s.keys(i), Nil).map(s.pts(i) -> _))
          if (labelled.nonEmpty) {
            val withCdm =
              if (enabled("sca_cdm"))
                base :+ cdmOf(labelled.map(_._1).toArray, labelled.map(_._2).toArray)
              else base
            scored += Scored("cat_scatter", Map("xy" -> xy, "color" -> c), meanOf(withCdm))
          }
        }
      }
    }

    // ── line families ────────────────────────────────────────────────
    if (enabledTypes.contains("ord_line") || enabledTypes.contains("rel_line")) {
      val ys = candidates(None, "num").filter(_.outCols.nonEmpty)
      for (y <- ys.take(6)) {
        // prefer derived columns, cap series per chart (search.py:940-947)
        val series = y.outColsDerivedFirst.take(MaxLineNumInChart)
        val rows = take(y.df.select(series.map(c => col(c).cast("double")): _*).na.drop(),
          maxChartRows)
        if (rows.length >= 3) {
          val cols = series.indices.map(i => rows.map(_.getDouble(i)).toArray).toArray
          if (enabledTypes.contains("ord_line")) {
            scored += Scored("ord_line", Map("y" -> y), lineScore(cols.toSeq))
          }
        }
      }
      if (enabledTypes.contains("rel_line")) {
        val xs = candidates(Some(1), "num")
        for (x <- xs.take(3); y <- ys.take(3) if aligned(x, y) &&
             x.tpath.fingerprint != y.tpath.fingerprint) {
          val (jf, yCols) = joinOnKey(key)(x.df, y.df, y.outColsDerivedFirst)
          val joined = jf.na.drop()
            .orderBy(col(x.outCols.head))
            .select(((x.outCols.head +: yCols.take(MaxLineNumInChart))
              .map(c => col(c).cast("double"))): _*)
            .limit(maxChartRows).collect()
          if (joined.length >= 3) {
            val ySeries = (1 until joined.head.length)
              .map(i => joined.map(_.getDouble(i)).toArray).toSeq
            scored += Scored("rel_line", Map("x" -> x, "y" -> y), lineScore(ySeries))
          }
        }
      }
    }

    // ── cat-line families (CAT_LINE=true only): category channel is
    //    encoded to sorted-distinct codes inline, exactly like the
    //    chart-side twin of nominalize (search.py:1059-1067), then
    //    scored with the line significance tests ────────────────────
    if (enabledTypes.contains("ord_cat_line") || enabledTypes.contains("rel_cat_line")) {
      val catYs = candidates(Some(1), "cat")
      def codesOf(rows: Array[String]): Array[Double] = {
        val codebook = rows.distinct.sorted.zipWithIndex.toMap
        rows.map(codebook(_).toDouble)
      }
      for (y <- catYs.take(3)) {
        def catLineScore(codes: Array[Double]): Double = lineScore(Seq(codes))
        if (enabledTypes.contains("ord_cat_line")) {
          val labels = take(y.df.select(col(y.outCols.head).cast("string")).na.drop(),
            maxChartRows).map(_.getString(0))
          if (labels.length >= 3) {
            scored += Scored("ord_cat_line", Map("y" -> y), catLineScore(codesOf(labels)))
          }
        }
        if (enabledTypes.contains("rel_cat_line")) {
          for (x <- candidates(Some(1), "num").take(2) if aligned(x, y)) {
            val (jf, yCols) = joinOnKey(key)(x.df, y.df, y.outCols)
            val joined = jf.na.drop()
              .orderBy(col(x.outCols.head))
              .select(col(yCols.head).cast("string"))
              .limit(maxChartRows).collect().map(_.getString(0))
            if (joined.length >= 3) {
              scored += Scored("rel_cat_line", Map("x" -> x, "y" -> y),
                catLineScore(codesOf(joined)))
            }
          }
        }
      }
    }

    // ── bar families (the group-agg charts) ──────────────────────────
    if (enabledTypes.contains("sum_bar") || enabledTypes.contains("count_bar")) {
      val xs = candidates(Some(1), "cat")
      val ys = candidates(None, "num")
      for (x <- xs.take(4)) {
        val xCol = x.outCols.head
        if (enabledTypes.contains("sum_bar")) {
          // slice 6, not 3: the reference scores EVERY y candidate
          // (search.py:930-, utils.py:15 tocontinue filters only
          // user-given indices) and lets the family top-k decide; our
          // bounded slice must at least span all six numTl families —
          // at 3, the default-on embed candidates (pca/tsne/mds/umap
          // fill the head of the list) crowd out the null passthroughs
          // that score highest at the gate fixture
          for (y <- ys.take(6) if aligned(x, y)) {
            val (joined, yCols) = joinOnKey(key)(x.df, y.df, y.outColsDerivedFirst)
            val series = yCols.take(MaxBarNumInChart)
            val agg = ChartAssembly.sumBar(joined, xCol, series)
              .orderBy(col(xCol)).limit(maxChartRows).collect()
            if (agg.length >= 2) {
              val sums = series.indices.map(i =>
                agg.map(r => Option(r.get(i + 1)).map(_.toString.toDouble).getOrElse(0.0)).toArray)
              scored += Scored("sum_bar", Map("x" -> x, "y" -> y), lineScore(sums))
            }
          }
        }
        if (enabledTypes.contains("count_bar")) {
          val agg = ChartAssembly.countBar(x.df, xCol)
            .orderBy(col(xCol)).limit(maxChartRows).collect()
          if (agg.length >= 2) {
            val counts = agg.map(_.getLong(1).toDouble)
            scored += Scored("count_bar", Map("x" -> x), lineScore(Seq(counts)))
          }
        }
      }
    }
    } // score

    // ── sort, dedup, top-k per FAMILY buffer (search.py:1261-1299):
    //    the reference pools num+cat scatter into ONE "scatter" buffer
    //    (and ord+rel lines into "line", the cat-line kinds into
    //    "cat_line") before capping, so e.g. MAXSCATTER=10 bounds ALL
    //    scatters combined, not 10 of each kind. Slice after dedup =
    //    min(int(len·RECOMMENDPCT)+1, familyCap) (search.py:1274-1278),
    //    which with RECOMMENDPCT = 1.0 (config.py:13) is the family cap.
    val family = Map("num_scatter" -> "scatter", "cat_scatter" -> "scatter",
      "ord_line" -> "line", "rel_line" -> "line",
      "ord_cat_line" -> "cat_line", "rel_cat_line" -> "cat_line",
      "sum_bar" -> "sum_bar", "count_bar" -> "count_bar")
    val famCaps = FamilyCaps + ("scatter" -> cfg.maxScatter)
    val seen = mutable.Set[String]()
    val survivors = phase("rank") {
      scored.toSeq.groupBy(c => family.getOrElse(c.chartType, c.chartType))
        .toSeq.sortBy(_._1).flatMap { case (fam, group) =>
          // first-wins on the coarse dedupKey (higher score survives —
          // the buffer is sorted before removal, search.py:1267-1272)
          val deduped = group.sortBy(-_.score).filter(r => seen.add(r.dedupKey))
          deduped.take(famCaps(fam))
        }
    }
    val topk = phase("render")(survivors.map(render(_, maxChartRows, key, readFrame)))
    val graph = phase("rank")(ProvenanceGraph.render(topk))
    val frames: Recommendation.ChannelFrames = survivors.flatMap(_.chans.values)
      .map(ex => (ex.coreT, ex.tpath.steps) -> ex.df).toMap

    Recommendation(topk, graph, Phases.map(p => p -> phaseNs(p) / 1e6), failures.get, frames)
    } finally {
      // always release resources — a failed assembly must not leak the
      // persisted source frame or the executor pool
      execPool.shutdown()
      if (persisted) df.unpersist()
    }
  }

  /** CDM of labelled points (score.py:61-70). Numeric labels
    * (kmeans/dbscan) keep their values, so DBSCAN's -1 outliers stay
    * negative and the CDM histograms skip them; string categories get
    * sorted-distinct codes. */
  private[graft] def cdmOf(pts: Array[(Double, Double)], labelStrs: Array[String]): Double = {
    val labels: Array[Long] =
      if (labelStrs.forall(s => scala.util.Try(s.toLong).isSuccess)) labelStrs.map(_.toLong)
      else {
        val codes = labelStrs.distinct.sorted.zipWithIndex.toMap
        labelStrs.map(s => codes(s).toLong)
      }
    Scagnostics.cdm(pts, labels)
  }

  /** A survivor's chart data: the JOINED all-channels frame (key +
    * every channel's output columns, right-side collisions renamed
    * `__y` like Engine.buildChart), capped at maxRows. Joined on the
    * driver when every channel's read is complete, by Spark otherwise. */
  private def render(c: Scored, maxRows: Int, key: Seq[String],
                     read: Executed => FrameRead): ChartRec = {
    val channels = c.chans.map { case (ch, ex) => ch -> s"${ex.coreT} | ${ex.tpath.fingerprint}" }
    val columns = c.chans.map { case (ch, ex) => ch -> ex.outCols }
    val lineages = c.chans.map { case (ch, ex) => ch -> Lineage.toJson(ex.tpath.steps) }
    val chanSeq = c.chans.toSeq.map(_._2)
    val sample =
      if (chanSeq.forall(read(_).complete)) joinReads(chanSeq.map(ex => ex -> read(ex)), key, maxRows)
      else {
        val (joined, dataCols) = chanSeq.tail.foldLeft((chanSeq.head.df, chanSeq.head.outCols)) {
          case ((l, acc), ex) =>
            val (j, rc) = joinOnKey(key)(l, ex.df, ex.outCols)
            (j, acc ++ rc)
        }
        take(joined.select((key ++ dataCols).distinct.map(col): _*), maxRows).map { r =>
          r.schema.fieldNames.zip(r.toSeq).toMap
        }.toSeq
      }
    ChartRec(c.chartType, channels, columns, c.score, c.signature, c.dedupKey, sample, lineages)
  }

  /** [[joinOnKey]]'s fold over complete channel reads, on the driver:
    * an inner join on the key in which a null key never matches and
    * `Row` equality matches NaN with NaN and -0.0 with 0.0, as Spark's
    * join does; the same `__y` renames; the `(key ++ data columns)
    * .distinct` projection; the first `maxRows` rows. */
  private def joinReads(chans: Seq[(Executed, FrameRead)], key: Seq[String],
                        maxRows: Int): Seq[Map[String, Any]] = {
    def keyOf(r: Row): Row = Row.fromSeq(key.indices.map(r.get))
    def values(ex: Executed, r: Row): Seq[Any] = (key.size until key.size + ex.outCols.size).map(r.get)
    val (head, headRead) = chans.head
    // (key, values in `names` order past the key), left column names, data columns
    val start = (headRead.rows.toSeq.map(r => keyOf(r) -> values(head, r)),
      key ++ head.outCols, head.outCols)
    val (rows, names, dataCols) = chans.tail.foldLeft(start) {
      case ((left, names, acc), (ex, read)) =>
        val renamed = ex.outCols.map(c => if (names.contains(c)) c + "__y" else c)
        val right = read.rows.toSeq.filterNot(keyOf(_).anyNull).groupMap(keyOf)(values(ex, _))
        val joined = left.flatMap { case (k, l) =>
          if (k.anyNull) Nil else right.getOrElse(k, Nil).map(r => k -> (l ++ r))
        }
        (joined, names ++ renamed, acc ++ renamed)
    }
    val out = (key ++ dataCols).distinct
    val at = out.map(names.indexOf)
    rows.take(maxRows).map { case (k, vs) =>
      val row = k.toSeq ++ vs
      out.zip(at.map(row)).toMap
    }
  }

  /** `na.drop`'s test of one value: neither null nor NaN. */
  private def present(v: Any): Boolean = v match {
    case null => false
    case d: Double => !d.isNaN
    case f: Float => !f.isNaN
    case _ => true
  }
}

/** Provenance graph emission (search.py:1301-1443): nodes = source /
  * transforms / charts, edges = derivation, vis_list = the charts.
  * JSON replaces the reference's eval-able node-id strings with
  * content fingerprints (SURVEY §7.4.5). */
object ProvenanceGraph {
  private def esc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def render(charts: Seq[ChartRec]): String = {
    val nodes = mutable.LinkedHashMap[String, String]() // id → json
    val edges = mutable.ArrayBuffer[String]()
    nodes("source") = s"""{"id":"source","kind":"table"}"""
    charts.zipWithIndex.foreach { case (c, i) =>
      val chartId = s"chart_$i"
      c.channels.toSeq.sortBy(_._1).foreach { case (ch, t) =>
        val tid = "t_" + Integer.toHexString(t.hashCode)
        nodes.getOrElseUpdate(tid,
          s"""{"id":${esc(tid)},"kind":"transform","label":${esc(t)}}""")
        edges += s"""{"from":"source","to":${esc(tid)}}"""
        edges += s"""{"from":${esc(tid)},"to":${esc(chartId)},"channel":${esc(ch)}}"""
      }
      nodes(chartId) =
        s"""{"id":${esc(chartId)},"kind":"chart","type":${esc(c.chartType)},"score":${c.score}}"""
    }
    val vis = charts.map(c =>
      s"""{"chart_type":${esc(c.chartType)},"score":${c.score},"channels":{${
        c.channels.toSeq.sortBy(_._1).map { case (k, v) => s"${esc(k)}:${esc(v)}" }.mkString(",")
      }}}""").mkString("[", ",", "]")
    s"""{"nodes":[${nodes.values.mkString(",")}],"edges":[${edges.mkString(",")}],"vis_list":$vis}"""
  }
}
