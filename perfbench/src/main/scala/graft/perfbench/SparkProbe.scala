package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed window of one request kind (ingest, search, refine, query). */
final case class Window(kind: String, start: Double, end: Double) {
  def contains(t: Double): Boolean = t >= start && t < end
}

/** Spark listener the benchmark installs on the session it creates.
  * It keeps every job, stage run and query execution of the run in
  * memory; [[SparkProbe.metrics]] attributes them to request windows by
  * time. The client is serial, so the window a job starts in is the
  * request that caused it, whichever thread submitted the job, and a
  * stage ran for the request whose window it was submitted in. Spark
  * keeps a shuffle stage's id across jobs: a stage computed for one
  * request and reused by a later one counts as run for the first and as
  * skipped for the later one. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  import SparkProbe._

  private val jobs = mutable.Map[Int, JobRec]()
  private val runs = mutable.Map[(Int, Int), StageRun]() // (stage id, attempt) -> run
  private val queries = mutable.ArrayBuffer[(Double, Double)]() // (planned at, catalyst ms)
  private var spark: Option[SparkSession] = None

  def attach(s: SparkSession): this.type = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
    spark = Some(s)
    this
  }

  def close(): Unit = spark.foreach { s =>
    drain()
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
  }

  def drain(): Unit = spark.foreach(s => PerfbenchBus.drain(s.sparkContext))

  def jobStarted(id: Int, time: Double, stageIds: Seq[Int]): Unit = synchronized {
    jobs(id) = JobRec(time, Double.NaN, stageIds)
  }

  def stageSubmitted(id: Int, attempt: Int, time: Double): Unit = synchronized {
    runs((id, attempt)) = new StageRun(time)
  }

  def taskEnded(stage: Int, attempt: Int, ok: Boolean, shuffleBytes: Long, spillBytes: Long,
                gcMs: Long, inputBytes: Long): Unit = synchronized {
    runs.get((stage, attempt)).foreach { r =>
      r.tasks += 1
      if (!ok) r.failed += 1
      r.shuffleBytes += shuffleBytes
      r.spillBytes += spillBytes
      r.gcMs += gcMs
      r.inputBytes += inputBytes
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarted(e.jobId, e.time.toDouble, e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmitted(i.stageId, i.attemptNumber(),
      i.submissionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    taskEnded(e.stageId, e.stageAttemptId, e.reason == Success,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L), m.map(_.diskBytesSpilled).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L), m.map(_.inputMetrics.bytesRead).getOrElse(0L))
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      queries += ((phases.map(_.endTimeMs).max.toDouble, phases.map(_.durationMs).sum.toDouble))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Job intervals (epoch ms) that start inside `w`. */
  def jobsIn(w: Window): Seq[(Double, Double)] = synchronized {
    jobs.values.filter(j => w.contains(j.start))
      .map(j => (j.start, if (j.end.isNaN) w.end else j.end)).toSeq
  }

  /** The 13 `spark.<kind>.*` metrics, summed over every window of `kind`. */
  def metrics(windows: Seq[Window], kind: String): Seq[(String, Double, String)] = synchronized {
    val ws = windows.filter(_.kind == kind)
    def inAny(t: Double) = ws.exists(_.contains(t))
    val js = jobs.values.filter(j => inAny(j.start))
    val ran = runs.filter { case (_, r) => inAny(r.submitted) }
    // per window: the stages its jobs list, and those of them it ran
    val (listed, skipped) = ws.map { w =>
      val ids = jobs.values.filter(j => w.contains(j.start)).flatMap(_.stageIds).toSet
      val run = runs.collect { case ((id, _), r) if w.contains(r.submitted) => id }.toSet
      (ids.size, (ids -- run).size)
    }.foldLeft((0, 0)) { case ((a, b), (x, y)) => (a + x, b + y) }
    val rs = ran.values
    val wall = ws.map(w => w.end - w.start).sum
    val inJobs = ws.map(w => SelfTime.unionLength(jobsIn(w), w.start, w.end)).sum
    val qs = queries.filter { case (t, _) => inAny(t) }
    val mb = 1024.0 * 1024.0
    Seq(
      ("jobs", js.size.toDouble, "count"),
      ("stages", ran.size.toDouble, "count"),
      ("tasks", rs.map(_.tasks).sum.toDouble, "count"),
      ("query_executions", qs.size.toDouble, "count"),
      ("in_jobs_s", inJobs / 1000, "s"),
      ("outside_jobs_s", (wall - inJobs) / 1000, "s"),
      ("catalyst_s", qs.map(_._2).sum / 1000, "s"),
      ("shuffle_mb", rs.map(_.shuffleBytes).sum / mb, "MB"),
      ("spill_mb", rs.map(_.spillBytes).sum / mb, "MB"),
      ("gc_s", rs.map(_.gcMs).sum / 1000.0, "s"),
      ("input_mb", rs.map(_.inputBytes).sum / mb, "MB"),
      ("skipped_stage_ratio", if (listed == 0) 0.0 else skipped.toDouble / listed, "ratio"),
      ("failed_tasks", rs.map(_.failed).sum.toDouble, "count"),
    ).map { case (n, v, u) => (s"spark.$kind.$n", v, u) }
  }
}

object SparkProbe {
  val Kinds: Seq[String] = Seq("ingest", "search", "refine", "query")

  final case class JobRec(start: Double, var end: Double, stageIds: Seq[Int])

  /** One submitted attempt of a stage and the tasks it ran. */
  final class StageRun(val submitted: Double) {
    var tasks = 0L
    var failed = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    var inputBytes = 0L
  }
}
