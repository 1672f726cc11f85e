package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Curation, Dedup}
import SparkFixture.{sf, spark}

/** Every job a pipeline entry launches, parallel driver-side legs
  * included, runs in the caller's job group — the precondition for
  * cancelling the caller's group to stop the whole call.
  */
class JobGroupSpec extends AnyFunSuite {

  private val group = "graft-job-group-test"

  /** Runs `f` once outside any group, so that parallel-build threads
    * already exist holding whatever properties they started with (as in
    * a long-lived server), then once under `group`; returns the jobs
    * the second call started.
    */
  private def jobsUnderGroup(f: => Unit): Seq[JobRecorder.Job] = {
    f
    val sc = spark.sparkContext
    JobRecorder.during(sc) { rec =>
      sc.setJobGroup(group, "caller", interruptOnCancel = true)
      try f finally sc.clearJobGroup()
      rec.jobs()
    }
  }

  private def assertAllInGroup(jobs: Seq[JobRecorder.Job]): Unit = {
    assert(jobs.nonEmpty, "the call must launch jobs")
    val outside = jobs.filter(_.group != group)
    assert(outside.isEmpty,
      s"${outside.size} of ${jobs.size} jobs ran outside the caller's group")
  }

  test("Curation.contamination: every job runs in the caller's job group") {
    assertAllInGroup(jobsUnderGroup(Curation.contamination(spark, sf).collect()))
  }

  test("Dedup.admissionRecall: every job, nested legs included, runs in the caller's job group") {
    assertAllInGroup(jobsUnderGroup(Dedup.admissionRecall(spark, sf).collect()))
  }
}
