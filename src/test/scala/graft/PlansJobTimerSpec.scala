package graft

import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

/** `Plans.JobTimer` charges each completed stage to the job that
  * submitted it, also while another job is open. */
class PlansJobTimerSpec extends AnyFunSuite {

  private def stage(id: Int, tasks: Int): StageInfo =
    new StageInfo(id, 0, s"stage $id", tasks, Seq.empty, Seq.empty, "",
      resourceProfileId = 0)

  test("overlapping jobs each get their own stages and tasks") {
    val timer = new Plans.JobTimer
    val (s1, s2, s3, s4) = (stage(1, 4), stage(2, 5), stage(3, 7), stage(4, 2))
    timer.onJobStart(SparkListenerJobStart(1, 0L, Seq(s1, s2), null))
    timer.onJobStart(SparkListenerJobStart(2, 1L, Seq(s3), null))
    // job 1's stages finish while job 2 (the newer open job) still runs
    timer.onStageCompleted(SparkListenerStageCompleted(s1))
    timer.onStageCompleted(SparkListenerStageCompleted(s3))
    timer.onStageCompleted(SparkListenerStageCompleted(s2))
    // job 3 reuses job 1's stage 2 (skipped) and runs stage 4
    timer.onJobStart(SparkListenerJobStart(3, 2L, Seq(s2, s4), null))
    timer.onStageCompleted(SparkListenerStageCompleted(s4))
    Seq(2, 1, 3).foreach(id =>
      timer.onJobEnd(SparkListenerJobEnd(id, 3L, null)))

    def counts(id: Int): (Int, Int) = {
      val j = timer.jobs.get(id)
      (j.stages, j.tasks)
    }
    assert(counts(1) == ((2, 9)))
    assert(counts(2) == ((1, 7)))
    assert(counts(3) == ((1, 2)))
  }
}
