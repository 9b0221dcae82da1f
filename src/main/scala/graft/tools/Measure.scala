package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.{Bench, CacheScope, LocalSession, SparkEntry}

/** Measures declared queries under Bench's per-run protocol
  * ([[Bench.timedRun]]: clearCache, noop sink, −1 on a non-fatal
  * failure, `CacheScope` release) and splits the best run into its
  * Spark jobs and stages.
  *
  * Usage:
  * `SPARK_GRAFT_SF_DIR=<sf dir> runMain graft.tools.Measure <headline | q1,q2,…> [n] [planDir]`
  *
  *  - A query list prints, per query, the n run walls and their
  *    median, then the best run's jobs (submit→end wall, stages,
  *    tasks, the graft call site of the SQL execution that submitted
  *    each) and its slowest stages (wall, executor run time, input,
  *    shuffle read and write).
  *  - `headline` measures every `Bench.headline` query. The same
  *    report goes to stderr, and stdout carries one line: the
  *    `MEDIANS_r{N}.json` record ([[Bench.mediansLine]]) that Bench's
  *    suspect adjudication reads. Record it on an idle machine.
  *  - `planDir` first writes each query's formatted physical plan to
  *    `<planDir>/<query>.txt`.
  *
  * `n` defaults to 3.
  */
object Measure {
  private final case class Job(id: Int, desc: String, start: Long,
                               stageIds: Seq[Int], end: Long = -1L)
  private final case class Stage(id: Int, name: String, tasks: Int, wallS: Double,
                                 runS: Double, inB: Long, readB: Long, writeB: Long)

  /** Job id → (completed stages, their tasks). Each completed
    * `(stageId, tasks)` counts for the job whose start event listed
    * that stage (`SparkListenerJobStart.stageIds`), so overlapping
    * jobs each keep their own stages. A stage listed by several jobs
    * (a shuffle stage a later job reuses) counts for the earliest
    * job; a stage no recorded job lists counts for none. */
  private[graft] def stagesByJob(jobStages: Seq[(Int, Seq[Int])],
                                 done: Seq[(Int, Int)]): Map[Int, (Int, Int)] = {
    val owner = jobStages.flatMap { case (j, ss) => ss.map(_ -> j) }
      .groupMapReduce(_._1)(_._2)(math.min)
    done.flatMap { case (s, tasks) => owner.get(s).map(_ -> tasks) }
      .groupMapReduce(_._1)(t => (1, t._2)) { case ((s1, t1), (s2, t2)) => (s1 + s2, t1 + t2) }
  }

  /** The first `graft.` frame of a call site's long form, e.g. a SQL
    * execution's `details`. */
  private[graft] def graftFrame(details: String): Option[String] =
    details.linesIterator.map(_.trim).find(_.startsWith("graft."))

  /** A job's name: the graft call site of the SQL execution that
    * submitted it (its `spark.sql.execution.id` property, looked up in
    * `sqlSites`), else its description, else its last stage's name. AQE
    * stage jobs and broadcast jobs are submitted from Spark's own
    * threads, so only their SQL execution names their query's site. */
  private[graft] def jobName(props: java.util.Properties, sqlSites: collection.Map[Long, String],
                             lastStage: Option[String]): String = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    prop("spark.sql.execution.id").flatMap(id => sqlSites.get(id.toLong))
      .orElse(prop("spark.job.description")).orElse(lastStage).getOrElse("")
  }

  private def median(ts: Seq[Double]): Double = {
    val ok = ts.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0 else ok(ok.size / 2)
  }

  private def load1(): String = Bench.readLoadAvg().split("\\s+").head

  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse(
      sys.error("usage: Measure <headline | q1,q2,…> [n] [planDir]"))
    val n = args.lift(1).map(_.toInt).getOrElse(3)
    val planDir = args.lift(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a generated sf directory"))
    val all = SparkEntry.queries
    val headline = what == "headline"
    val names =
      if (headline) Bench.headline
      else what.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach(q => require(all.contains(q), s"unknown query '$q'"))
    val report: String => Unit = if (headline) System.err.println else println
    val loadBefore = load1()

    val spark = LocalSession("graft-measure")
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val sqlSites = mutable.Map.empty[Long, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => jobs.synchronized {
          graftFrame(s.details).foreach(sqlSites(s.executionId) = _)
        }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(e.jobId, jobName(e.properties, sqlSites, e.stageInfos.lastOption.map(_.name)),
          e.time, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        val i = jobs.indexWhere(_.id == e.jobId)
        if (i >= 0) jobs(i) = jobs(i).copy(end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        val m = Option(si.taskMetrics)
        stages += Stage(si.stageId, si.name, si.numTasks,
          (for (s <- si.submissionTime; c <- si.completionTime) yield (c - s) / 1e3).getOrElse(-1.0),
          m.map(_.executorRunTime / 1e3).getOrElse(0.0),
          m.map(_.inputMetrics.bytesRead).getOrElse(0L),
          m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L))
      }
    })
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM/codegen warm-up

    val rows = names.map { name =>
      planDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        val plan = all(name)(spark, dir).queryExecution.explainString(FormattedMode)
        Files.write(Paths.get(d, s"$name.txt"), plan.getBytes(StandardCharsets.UTF_8))
        CacheScope.releaseAll()
      }
      var best = (Double.MaxValue, Seq.empty[Job], Seq.empty[Stage])
      val times = (1 to n).map { _ =>
        GraftSqlBridge.drainListeners(spark.sparkContext)
        jobs.synchronized { jobs.clear(); stages.clear() }
        val wall = Bench.timedRun(spark, name, all(name), dir)
        GraftSqlBridge.drainListeners(spark.sparkContext)
        if (wall >= 0 && wall < best._1)
          best = jobs.synchronized((wall, jobs.toVector, stages.toVector))
        wall
      }
      val (med, min) = (median(times), times.filter(_ >= 0).minOption.getOrElse(-1.0))
      report(f"=== $name: median $med%.3f s, min $min%.3f s " +
        s"(n=$n: ${times.map(t => f"$t%.3f").mkString(", ")}) ===")
      val (wall, bestJobs, bestStages) = best
      if (bestJobs.nonEmpty) {
        val perJob = stagesByJob(bestJobs.map(j => j.id -> j.stageIds),
          bestStages.map(s => s.id -> s.tasks))
        val jobWall = bestJobs.map(j => math.max(0L, j.end - j.start) / 1e3)
        // jobs overlap (broadcasts, FAIR pools): the run's time inside
        // jobs is the union of their intervals, not their sum
        val inJobs = bestJobs.map(j => (j.start, math.max(j.start, j.end))).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((ms, reach), (s, e)) =>
            (ms + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
          }._1 / 1e3
        report(f"  best run: ${bestJobs.size} jobs, job-sum ${jobWall.sum}%.3f s, " +
          f"in jobs $inJobs%.3f s, outside jobs ${wall - inJobs}%.3f s")
        bestJobs.zip(jobWall).foreach { case (j, w) =>
          val (ns, nt) = perJob.getOrElse(j.id, (0, 0))
          report(f"  job ${j.id}%4d $w%7.3f s stages $ns%2d tasks $nt%4d  ${j.desc.take(70)}")
        }
        bestStages.sortBy(-_.wallS).take(14).foreach { s =>
          report(f"  stage ${s.id}%4d wall ${s.wallS}%6.3f s run ${s.runS}%7.3f s " +
            f"tasks ${s.tasks}%3d in ${s.inB / 1024}%6d K sr ${s.readB / 1024}%6d K " +
            f"sw ${s.writeB / 1024}%6d K  ${s.name.take(60)}")
        }
      }
      (name, med, min)
    }
    System.err.flush()
    if (headline) println(Bench.mediansLine(rows, n, dir, s"$loadBefore;${load1()}"))
    spark.stop()
  }
}
