package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Measure

/** The stage → job attribution behind `graft.tools.Measure`'s per-job
  * table. */
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
}
