package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Engine, RecommendGolden}
import graft.api.VisServer
import graft.sources.Tables

/** The benchmark driver:
  * {{{
  * Main --workload vis_session|batch --seed N --seconds S --trace 0|1
  *      --data DIR --work DIR --pins FILE
  * Main --golden 1 --data DIR --work DIR
  * }}}
  * A workload run prints the per-layer table (traced runs), a window
  * record, and as its last line one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`; it exits 1 when any operation or
  * output check failed. Each run does the same fixed work whatever
  * `--seconds` says, so the samples do not depend on the machine's
  * speed. `--golden 1` runs the golden search check in a JVM of its
  * own and leaves its verdict in `--work` for the workload runs. */
object Main {
  val Workloads: Seq[String] = Seq("vis_session", "batch")
  val SetupReps = 3

  /** Samples each workload takes in its measured window. */
  def plan(workload: String): Map[String, Int] = workload match {
    case "vis_session" =>
      val n = Gen.Shapes.size
      Map("ingest" -> n, "search" -> n, "cycle" -> n, "step" -> n * VisSession.RefinesPerSession)
    case "batch" =>
      val n = Batch.Passes - 1
      Map("ingest" -> n, "search" -> n, "cycle" -> n, "step" -> n * Batch.Queries.size)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val dataDir = a("data")
    val workDir = a("work")
    new File(workDir).mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    if (a.get("golden").contains("1")) {
      val spark = session(cpus, workDir)
      val verdict = goldenSearch(spark, dataDir)
      spark.stop()
      val w = new java.io.PrintWriter(new File(workDir, Golden))
      try w.print(verdict) finally w.close()
      System.exit(0)
    }
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val traced = a.getOrElse("trace", "0") == "1"
    val pins = new File(a("pins"))

    Speed.warmUp()
    val busyBefore = Host.busyNow()
    val loadBefore = Host.loadAvg()

    // set-up: session start, warm-up job and server start, several times
    val setups = mutable.ArrayBuffer[Cost]()
    var spark: SparkSession = null
    var server: Option[(VisServer, Int)] = None
    for (rep <- 1 to SetupReps) {
      val c0 = Clock.threadCpu()
      val t0 = Clock.ms()
      spark = session(cpus, workDir)
      spark.range(1000000).selectExpr("sum(id)").collect()
      if (workload == "vis_session") {
        val s = new VisServer(spark)
        server = Some((s, s.start()))
      }
      setups += Cost(Clock.ms() - t0, Clock.cpuMsSince(c0))
      if (rep < SetupReps) {
        server.foreach(_._1.stop())
        spark.stop()
      }
    }

    val ctx = new Ctx(spark, seed, traced, dataDir, workDir)
    val golden = goldenVerdict(workDir)
    ctx.check(golden.isEmpty, golden.getOrElse(""))
    val ticks0 = Host.cpuTicks()
    workload match {
      case "vis_session" => VisSession.run(ctx, server.get._2)
      case "batch" => Batch.run(ctx, Pins.read(pins))
    }
    val ticks1 = Host.cpuTicks()
    val jvm = Host.jvmWork()
    val (jitMs, gcMs) = (jvm._1 - ctx.jvmAtStart._1, jvm._2 - ctx.jvmAtStart._2)
    val busyRun = Host.busyBetween(ticks0, ticks1)
    val heapPeak = Host.heapPeakMb()
    ctx.probe.foreach(_.drain())
    val counts = plan(workload).map { case (m, _) => m -> ctx.values(s"$m.cpu_ms").size }
    ctx.check(counts == plan(workload), s"samples $counts, planned ${plan(workload)}")

    val speed = ctx.values("speed.sample_ms")
    val scale = if (speed.isEmpty) Double.NaN else Speed.RefMs / Stats.median(speed)
    val e2e = endToEnd(ctx, setups.toSeq, scale)
    val layers = perLayer(ctx, heapPeak, jitMs, gcMs, busyRun)
    if (traced) printTable(workload, ctx, layers)
    ctx.probe.foreach(_.close())
    server.foreach(_._1.stop())
    spark.stop()

    val window = scala.collection.immutable.ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> a.getOrElse("seconds", ""),
      "nproc" -> cpus, "spark_master" -> s"local[$cpus]",
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "driver_max_heap_mb" -> math.round(Host.maxHeapMb()),
      "busy_before" -> busyBefore, "busy_during" -> busyRun, "busy_after" -> Host.busyNow(),
      "steal_during" -> Host.stealBetween(ticks0, ticks1),
      "loadavg_before" -> loadBefore, "loadavg_after" -> Host.loadAvg(),
      "setup_wall_s" -> setups.map(_.wallMs / 1000), "setup_cpu_s" -> setups.map(_.cpuMs / 1000),
      "speed_sample_ms" -> Seq(0.1, 0.5, 0.9).map(q => Stats.quantile(speed, q)), "speed_scale" -> scale,
      "unscaled" -> asMap(endToEnd(ctx, setups.toSeq, 1.0)),
      "jit_ms" -> jitMs, "gc_ms" -> gcMs, "gcs" -> (jvm._3 - ctx.jvmAtStart._3),
      "samples" -> counts, "latency" -> latency(ctx), "failures" -> ctx.failures)
    println("[perfbench] window " + Json.write(window))
    println("[perfbench] end_to_end " + Json.write(asMap(e2e)))
    val metrics = if (traced) layers else e2e
    val ok = ctx.failed == 0
    println(Json.write(scala.collection.immutable.ListMap(
      "correct" -> ok, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> asMap(metrics))))
    System.out.flush()
    System.exit(if (ok) 0 else 1)
  }

  def session(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** File in the work directory holding the golden check's verdict. */
  val Golden = "golden.verdict"

  /** Engine.search on the gate fixture (customer at sf0.01) must give
    * exactly the pinned chart rows: "ok", or what differed. */
  def goldenSearch(spark: SparkSession, dataDir: String): String = {
    val got = try {
      val rec = new Engine(spark).search(Tables.customer(spark, dataDir), beautify = false)
      rec.visList.map(r => (r.chartType, r.score, r.signature,
        r.channels.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("; "))).toSet
    } catch { case e: Exception => Set(("error", 0.0, e.toString, "")) }
    val exp = RecommendGolden.rows.toSet
    if (got == exp) "ok"
    else s"golden search drift: +${(got -- exp).map(_._3).mkString(", ")} -${(exp -- got).map(_._3).mkString(", ")}"
  }

  /** The verdict `--golden 1` left in `workDir`; None = pass. */
  def goldenVerdict(workDir: String): Option[String] = {
    val f = new File(workDir, Golden)
    if (!f.exists()) Some(s"no golden search verdict in $workDir")
    else {
      val src = scala.io.Source.fromFile(f)
      val v = try src.mkString finally src.close()
      if (v == "ok") None else Some(v)
    }
  }

  type Metrics = Seq[(String, (Double, String))]

  def asMap(ms: Metrics): Map[String, Any] =
    scala.collection.immutable.ListMap(ms.map { case (n, (v, u)) =>
      n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*)

  /** The end-to-end metrics are CPU time: what each user-visible
    * operation costs the machine, every thread of the process counted.
    * Wall-clock latency on a shared machine moves with what the other
    * tenants run; CPU time does not count the time a thread waited for a
    * CPU (see [[Clock.cpuMsSince]]). `step_cpu_ms` is the geometric mean over
    * the run's steps, so steps of very different cost (refine kinds, the
    * batch queries) weigh the same in relative terms; the others are
    * means over the run's cycles (one session per table shape, or the
    * measured batch pass). `setup_s` is the median of the set-ups. */
  def endToEnd(ctx: Ctx, setups: Seq[Cost], scale: Double): Metrics = {
    def of(n: String)(f: Seq[Double] => Double) = ctx.values(s"$n.cpu_ms") match {
      case Nil => ctx.check(false, s"the run took no $n sample"); Double.NaN
      case xs => f(xs) * scale
    }
    Seq(
      "ingest_cpu_s" -> (of("ingest")(Stats.mean) / 1000, "s"),
      "search_cpu_s" -> (of("search")(Stats.mean) / 1000, "s"),
      "step_cpu_ms" -> (of("step")(Stats.geomean), "ms"),
      "cycle_cpu_s" -> (of("cycle")(Stats.mean) / 1000, "s"),
      "setup_s" -> (Stats.median(setups.map(_.cpuMs)) * scale / 1000, "s"))
  }

  /** Wall-clock latency of the same operations, for the window record:
    * the median per operation kind, and the step latency at the highest
    * percentile that has at least ten samples beyond it. */
  def latency(ctx: Ctx): Map[String, Any] = {
    val steps = ctx.values("step.wall_ms")
    val tail = Stats.highestPercentile(steps.size).map(p =>
      Map("percentile" -> p, "ms" -> Stats.quantile(steps, p / 100)))
    val medians = Seq("ingest", "search", "step", "cycle").map { n =>
      val xs = ctx.values(s"$n.wall_ms")
      s"${n}_ms_p50" -> (if (xs.isEmpty) Double.NaN else Stats.median(xs))
    }
    scala.collection.immutable.ListMap(
      medians :+ ("step_ms_tail" -> tail.getOrElse(s"fewer than 20 steps (${steps.size})")): _*)
  }

  def perLayer(ctx: Ctx, heapPeak: Double, jitMs: Long, gcMs: Long, busy: Double): Metrics = {
    def med(n: String) = ctx.values(n) match { case Nil => 0.0; case xs => Stats.median(xs) }
    def mean(n: String) = ctx.values(n) match { case Nil => 0.0; case xs => xs.sum / xs.size }
    val spark = ctx.probe.toSeq.flatMap { p =>
      SparkProbe.Kinds.flatMap { k =>
        val n = ctx.windows.count(_.kind == k).max(1)
        p.metrics(ctx.windows.toSeq, k).map { case (name, v, unit) =>
          name -> ((if (name.endsWith("ratio")) v else v / n), unit)
        }
      }
    }
    Seq(
      "profiler.profile_s" -> (med("profiler.profile_s"), "s"),
      "plans.enumerate_ms" -> (med("plans.enumerate_ms"), "ms"),
      "plans.tpaths" -> (med("plans.tpaths"), "count"),
      "plans.search_s" -> (med("plans.search_s"), "s"),
      "plans.charts" -> (med("plans.charts"), "count"),
      "score.chart_ms" -> (med("score.chart_ms"), "ms"),
      "score.charts_scored" -> (ctx.values("score.charts_scored").sum / ctx.values("plans.charts").size.max(1), "count"),
      "plans.replay_ms" -> (med("plans.replay_ms"), "ms")) ++
      Batch.Queries.map(q => s"query.${q}_s" -> (med(s"query.${q}_s"), "s")) ++
      spark ++ Seq(
      "jvm.heap_peak_mb" -> (heapPeak, "MB"),
      "jvm.jit_s" -> (jitMs / 1000.0, "s"),
      "jvm.gc_s" -> (gcMs / 1000.0, "s"),
      "host.busy_frac" -> (busy, "ratio"))
  }

  /** Per-layer table of a traced run: every span name with its count,
    * total and self time (duration minus time covered by child spans,
    * Spark jobs included). */
  def printTable(workload: String, ctx: Ctx, layers: Metrics): Unit = {
    val spans = ctx.tracer.all ++ jobSpans(ctx)
    println(s"[perfbench] per-layer spans, $workload (seed ${ctx.seed})")
    println(f"  ${"span"}%-32s ${"count"}%7s ${"total_s"}%10s ${"self_s"}%10s")
    SelfTime.byName(spans).toSeq.sortBy(-_._2._2).foreach { case (n, (c, tot, self)) =>
      println(f"  $n%-32s $c%7d ${tot / 1000}%10.3f ${self / 1000}%10.3f")
    }
    println(s"[perfbench] per-layer metrics, $workload")
    layers.foreach { case (n, (v, u)) => println(f"  $n%-40s $v%14.4f $u") }
  }

  /** Spark jobs as spans, each under the innermost request span its
    * start falls in. */
  private def jobSpans(ctx: Ctx): Seq[Span] = ctx.probe.toSeq.flatMap { p =>
    val spans = ctx.tracer.all
    val roots = spans.filter(_.parent == -1)
    roots.flatMap { r =>
      p.jobsIn(Window("", r.start, r.end)).map { case (s, e) =>
        val inner = spans.filter(x => x.request == r.request && x.start <= s && s < x.end)
          .sortBy(_.duration).headOption.getOrElse(r)
        (s, e, inner)
      }
    }.zipWithIndex.map { case ((s, e, inner), i) => Span(-2 - i, "spark.job", s, e, inner.id, inner.request) }
  }
}

/** Minimal JSON writer for the result line: no dependency beyond the
  * Jackson Spark already ships. */
object Json {
  import scala.jdk.CollectionConverters._
  private def conv(v: Any): Any = v match {
    case m: Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, conv(x)) }
      o
    case s: Seq[_] => s.map(conv).asJava
    case s: mutable.Buffer[_] => s.toSeq.map(conv).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
  def write(v: Any): String = Gen.mapper.writeValueAsString(conv(v))
}
