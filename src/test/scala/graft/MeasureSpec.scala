package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Measure

/** The stage → job attribution and the job names behind
  * `graft.tools.Measure`'s per-job table. */
class MeasureSpec extends AnyFunSuite {

  test("each completed stage counts for the job that listed it, also when jobs overlap") {
    // job 2 starts before job 1 ends and reuses job 1's stage 2;
    // completions interleave across the two jobs
    val jobs = Seq(1 -> Seq(1, 2), 2 -> Seq(2, 3, 4))
    val done = Seq(1 -> 8, 3 -> 4, 2 -> 8, 4 -> 2)
    val want = Map(1 -> (2, 16), 2 -> (2, 6))
    assert(Measure.stagesByJob(jobs, done) == want)
    assert(Measure.stagesByJob(jobs.reverse, done.reverse) == want)
    // a stage no recorded job lists counts for none
    assert(Measure.stagesByJob(jobs, done :+ (9 -> 5)) == want)
  }

  test("a job is named by the graft call site of the SQL execution that submitted it") {
    // a SQL execution's details: Spark's frames, then the caller's
    val details = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)
      |graft.operators.Bm25$.topk(Bm25.scala:88)
      |graft.Bench$.timedRun(Bench.scala:40)""".stripMargin
    assert(Measure.graftFrame(details).contains("graft.operators.Bm25$.topk(Bm25.scala:88)"))
    assert(Measure.graftFrame("org.apache.spark.rdd.RDD.collect(RDD.scala:1)").isEmpty)
    val sites = Map(7L -> Measure.graftFrame(details).get)
    def props(kv: (String, String)*) = {
      val p = new java.util.Properties()
      kv.foreach { case (k, v) => p.setProperty(k, v) }
      p
    }
    // an AQE stage job, submitted from a Spark thread, carries its
    // execution id: it gets the query's site, not the stage's name
    val aqeStage = Some("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768")
    assert(Measure.jobName(props("spark.sql.execution.id" -> "7"), sites, aqeStage) ==
      "graft.operators.Bm25$.topk(Bm25.scala:88)")
    assert(Measure.jobName(props("spark.sql.execution.id" -> "7", "spark.job.description" -> "d"),
      sites, aqeStage) == "graft.operators.Bm25$.topk(Bm25.scala:88)")
    // an execution with no graft frame, or none at all: the
    // description, else the last stage's name
    assert(Measure.jobName(props("spark.sql.execution.id" -> "8", "spark.job.description" -> "d"),
      sites, aqeStage) == "d")
    assert(Measure.jobName(props(), sites, Some("collect at X.scala:3")) == "collect at X.scala:3")
    assert(Measure.jobName(null, sites, None) == "")
  }
}
