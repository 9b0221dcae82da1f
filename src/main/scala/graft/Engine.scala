package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{CoreT, TStep}
import graft.plans.{Beautify, Lineage, Recommendation, Recommender}
import graft.plans.Recommendation.ChannelFrames
import graft.profiler.Profiler

/** The user-facing API surface — the library analogue of the
  * reference's four HTTP endpoints (main.py):
  *
  *  - /vis/csv    → [[profile]]   (ingest + profile)
  *  - /vis/search → [[search]]    (the five-phase recommendation query)
  *  - /vis/addT   → [[addTransform]] (extend a lineage by one basic T)
  *  - /vis/addV   → [[addVisualization]] (terminal transform on a lineage)
  *
  * A user of the reference switches by calling these with a DataFrame
  * instead of POSTing a table; an HTTP shim over this object is
  * deployment plumbing, not engine semantics.
  *
  * Refines reuse the search's work the way the reference's /vis/addV
  * works on the search's memoised lineage nodes (search.py:293-298,
  * main.py:126-138): pass a search's [[Recommendation.frames]] to
  * [[addVisualization]] / [[buildChart]] and the returned charts'
  * channels are served from the frames the search executed (fit
  * included) instead of being replayed and fitted again. The caller
  * decides how long they live — [[graft.api.VisServer]] keeps them
  * until the next /vis/search or /vis/csv.
  *
  * Every session carries [[graft.plans.FoldLocalAggregate]] in its optimizer
  * (`graft.functions.GraftExtensions`, found by ServiceLoader): an
  * order-free aggregate (min / max / count / integral or small-decimal
  * sum, one distinct group, `percentile_approx` below half its
  * accuracy; global or grouped) over a driver-local relation, or over a
  * project / filter / explode chain of one, is evaluated on the driver
  * instead of as Spark jobs. On the /vis/csv sheet that is the profile's
  * aggregation and the search's min-max extrema and PCA moments. Every
  * other query on the session is unaffected, and a folded aggregate
  * gives Spark's result, because the rule folds only aggregates whose
  * result does not depend on row order.
  */
final class Engine(spark: SparkSession, cfg: EngineConfig = EngineConfig.default) {

  /** Ingest + profile: returns the (possibly key-augmented) frame and
    * the profile that drives the search (§3.1). */
  def profile(df: DataFrame): (DataFrame, TableProfile) = Profiler.profile(df, cfg)

  /** Reuse a profile the caller already computed (every entry point
    * accepts one): profiling is a full-table aggregation, and
    * a serving flow that profiled at ingest (/vis/csv) must not
    * re-scan the identical sheet on every /vis/search, /vis/addT,
    * /vis/addV. None → profile now. */
  private def profileOr(df: DataFrame,
                        pre: Option[(DataFrame, TableProfile)]): (DataFrame, TableProfile) =
    pre.getOrElse(Profiler.profile(df, cfg))

  /** The main search query (§3.2): profile → enumerate → execute →
    * score → top-k (+ optional beautify reorder, utils.py:215-222).
    *
    * @param tlist       restrict core transforms (the /vis/search
    *                    "tlist" parameter, main.py:91-94); the null
    *                    passthroughs are always admitted; None = all
    * @param dimClusters client-supplied dimension clusters REPLACING
    *                    the profiled ones (main.py:98); None = keep
    *                    the computed clusters. DOCUMENTED DEVIATION:
    *                    the reference overwrites with [] when the
    *                    request omits the field (main.py:98-99), but
    *                    its frontend always echoes the profiled
    *                    clusters back, so absence never occurs there
    *                    in practice; keeping the profiled clusters is
    *                    the useful behavior for raw API clients. Pass
    *                    Some(Nil) to reproduce the reference literally.
    * @param semClusters client-supplied semantic-name clusters, same
    *                    semantics (main.py:99)
    * @param slist       enabled score metrics (score.py:10-28 names,
    *                    main.py:97); chart score = mean of enabled;
    *                    None = the engine's default metric set
    */
  def search(df: DataFrame, charts: Seq[String] = Seq("scatter", "line", "bar"),
             beautify: Boolean = true,
             tlist: Option[Set[String]] = None,
             dimClusters: Option[Seq[Seq[String]]] = None,
             semClusters: Option[Seq[Seq[String]]] = None,
             slist: Option[Set[String]] = None,
             profiled: Option[(DataFrame, TableProfile)] = None): Recommendation = {
    // Cache hygiene is the CALLER's scope decision, not wrapped here:
    // a Recommendation is fully materialized, so a single-threaded
    // caller can wrap calls in CacheScope.withCached (the HTTP shim's
    // serial request boundary does exactly that) — but an unconditional
    // wrap would break CONCURRENT searches on one Engine, because
    // CacheScope's mark-based scopes interleave destructively across
    // threads (its scaladoc: prefer releaseAll() at quiesce points).
    val (pdf, prof0) = profileOr(df, profiled)
    val prof = prof0.copy(
      dimClusters = dimClusters.getOrElse(prof0.dimClusters),
      nameClusters = semClusters.getOrElse(prof0.nameClusters))
    val rec = Recommender.recommend(pdf, prof, spark, cfg, charts,
      tlist = tlist, slist = slist)
    if (beautify) rec.copy(visList = Beautify.reorder(rec.visList)) else rec
  }

  /** Interactive lineage extension (§3.3): replay `lineageJson` on the
    * source and apply one more basic step; returns the frame + new id.
    * Refines take the search's route ([[CoreT.route]]): a 600k-row rank
    * must not funnel through one partition because it arrived via
    * /vis/addT, and a chart the search fitted on a sample must rebuild
    * on the same sample. */
  def addTransform(source: DataFrame, lineageJson: String, step: TStep,
                   profiled: Option[(DataFrame, TableProfile)] = None): (DataFrame, String) = {
    val (pdf, prof) = profileOr(source, profiled)
    Lineage.addStep(pdf, lineageJson, step, prof.keyColumn.toSeq, CoreT.route(prof, cfg))
  }

  /** The channel frame for (lineage, core T): the search's executed
    * frame when `frames` holds that exact (core T, steps) pair, else a
    * replay of the lineage and a fresh core-T fit. */
  private def channelFrame(pdf: DataFrame, prof: TableProfile, lineageJson: String,
                           coreT: String,
                           frames: ChannelFrames): Option[DataFrame] =
    frames.get((coreT, Lineage.fromJson(lineageJson))).orElse(
      Lineage.addCoreT(pdf, lineageJson, coreT, prof.keyColumn.toSeq, CoreT.route(prof, cfg)))

  /** Interactive terminal transform on a replayed lineage (§3.3).
    *
    * @param frames a search's [[Recommendation.frames]]: a (core T,
    *               lineage) pair the search executed for a returned
    *               chart is served from its frame — the same plan a
    *               replay builds, without repeating the fit. They are
    *               only valid for the `source` and profile that search
    *               ran on; every other lineage (one extended by
    *               [[addTransform]], say) replays. Empty = always
    *               replay. */
  def addVisualization(source: DataFrame, lineageJson: String, coreT: String,
                       profiled: Option[(DataFrame, TableProfile)] = None,
                       frames: ChannelFrames = Map.empty): Option[DataFrame] = {
    val (pdf, prof) = profileOr(source, profiled)
    channelFrame(pdf, prof, lineageJson, coreT, frames)
  }

  /** Build a chart's data frame from user-chosen channel lineages —
    * the assembly half of /vis/addV (search.py:1495-1794): each channel
    * is a (lineageJson, coreT) pair replayed independently, channels
    * are zipped on the carried key, and bar kinds apply their group-agg
    * (the count groupby re-run at search.py:1734-1747).
    *
    * @param channels channel name → (lineage JSON, core transform);
    *                 expected channels per chart type follow V.py:
    *                 scatter: xy+color, lines: x?/y, bars: x(+y)
    * @param frames   a search's executed channel frames, reused per
    *                 channel exactly as in [[addVisualization]]. The key
    *                 join between channels is planned on every call; when
    *                 both sides are driver-local (the `/vis/csv` sheet's
    *                 channels) [[graft.plans.FoldLocalAggregate]] folds
    *                 it on the driver, so the rebuild runs no Spark job
    */
  def buildChart(source: DataFrame, chartType: String,
                 channels: Map[String, (String, String)],
                 profiled: Option[(DataFrame, TableProfile)] = None,
                 frames: ChannelFrames = Map.empty): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val (pdf, prof) = profileOr(source, profiled)
    val key = prof.keyColumn.toSeq
    val executed = channels.map { case (ch, (json, coreT)) =>
      ch -> channelFrame(pdf, prof, json, coreT, frames)
    }
    if (executed.values.exists(_.isEmpty)) return None
    val chFrames = executed.view.mapValues(_.get).toMap
    def outCols(ch: String): Seq[String] =
      chFrames(ch).columns.filterNot(key.contains).toSeq

    // user-chosen lineages can produce overlapping column names; the
    // collision-renaming key join is the search pipeline's spelling
    // (Recommender.joinOnKey) so the two paths cannot diverge
    val joinOn = Recommender.joinOnKey(key) _

    chartType match {
      case "sum_bar" =>
        val (joined, yCols) = joinOn(chFrames("x"), chFrames("y"), outCols("y"))
        Some(graft.operators.ChartAssembly.sumBar(joined, outCols("x").head,
          yCols.take(Recommender.MaxBarNumInChart)))
      case "count_bar" =>
        Some(graft.operators.ChartAssembly.countBar(chFrames("x"), outCols("x").head))
      case "num_scatter" | "cat_scatter" =>
        val base = chFrames("xy")
        val withColor = chFrames.get("color")
          .map(c => joinOn(base, c, outCols("color"))._1).getOrElse(base)
        Some(withColor)
      case "rel_line" | "rel_cat_line" =>
        val (joined, _) = joinOn(chFrames("x"), chFrames("y"), outCols("y"))
        Some(joined.orderBy(col(outCols("x").head)))
      case "ord_line" | "ord_cat_line" =>
        Some(chFrames("y"))
      case other =>
        throw new IllegalArgumentException(s"unknown chart type: $other")
    }
  }
}
