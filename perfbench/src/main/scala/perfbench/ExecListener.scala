package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A Spark job as the listener saw it (event times in epoch ms). */
final case class JobRec(id: Int, start: Long, var end: Long)

/** One stage attempt with its task totals (submit and end in epoch ms). */
final case class StageRec(
    id: Int, attempt: Int, job: Int, var submit: Long = -1, var end: Long = -1,
    var tasks: Int = 0, var failedTasks: Int = 0,
    var runMs: Long = 0, var gcMs: Long = 0,
    var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0,
    var shuffleWriteRecords: Long = 0, var spillBytes: Long = 0,
    var inputBytes: Long = 0, var outputBytes: Long = 0)

/** One Catalyst phase (analysis, optimization, planning) of a finished
  * query execution, from its planning tracker (epoch ms).
  */
final case class PhaseRec(phase: String, start: Long, end: Long)

/** The benchmark's execution counters: jobs, stages and task metrics, and
  * the planning phases of every query execution, registered only on traced
  * runs. Records are read after [[org.apache.spark.PerfbenchBus.drain]].
  */
final class ExecListener extends SparkListener with QueryExecutionListener {
  val jobs   = mutable.ArrayBuffer[JobRec]()
  val phases = mutable.ArrayBuffer[PhaseRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val jobOfStage = mutable.Map[Int, Int]()
  private val jobById    = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = JobRec(e.jobId, e.time, -1L)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(jobOfStage(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int, attempt: Int) =
    stages.getOrElseUpdate((id, attempt), StageRec(id, attempt, jobOfStage.getOrElse(id, -1)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submit = i.submissionTime.getOrElse(-1L)
    s.end = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += PhaseRec(name, p.startTimeMs, p.endTimeMs)
    }
  }
}
