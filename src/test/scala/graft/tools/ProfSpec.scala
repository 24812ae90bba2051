package graft.tools

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

/** [[StageRecorder]] keeps exactly the stages of the profiled attempt. */
class ProfSpec extends AnyFunSuite {

  // TaskMetrics' constructor is private[spark] in Scala only
  private def completed(id: Int, submitted: Option[Long]) = {
    val si = new StageInfo(id, 0, s"stage $id", 1, Nil, Nil, "",
      classOf[TaskMetrics].getConstructor().newInstance(),
      resourceProfileId = 0)
    si.submissionTime = submitted
    si.completionTime = Some(submitted.getOrElse(0L) + 250)
    SparkListenerStageCompleted(si)
  }

  test("stages before the mark are dropped, later and unsubmitted kept") {
    val rec = new StageRecorder
    val now = System.currentTimeMillis()
    rec.onStageCompleted(completed(0, Some(now)))
    rec.onStageCompleted(completed(1, None))
    assert(rec.stages.isEmpty, "nothing is recorded before start")
    rec.start()
    rec.onStageCompleted(completed(2, Some(now - 10000)))
    rec.onStageCompleted(completed(3, Some(now + 10000)))
    rec.onStageCompleted(completed(4, None))
    assert(rec.stages.map(_.id) == Seq(3, 4))
    assert(rec.stages.map(_.wallMs) == Seq(250L, -1L))
  }
}
