package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

final case class JobRec(id: Int, op: String, start: Long, var end: Long, stages: Seq[Int])

final case class StageRec(id: Int, attempt: Int, tasks: Int, start: Long, end: Long,
    runMs: Long, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
    fetchWaitMs: Long, spill: Long, input: Long, output: Long)

final case class PhaseRec(start: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** What one traced pass recorded, read after the bus is drained. */
final case class TraceBatch(jobs: Seq[JobRec], stages: Seq[StageRec],
    phases: Seq[PhaseRec], failedTasks: Long)

/** Observes the program from outside: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for Catalyst's per-phase planning
  * times. Jobs carry the id of the benchmark operation that launched them
  * through the [[Tracer.OpKey]] local property.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val phases = mutable.ArrayBuffer[PhaseRec]()
  private var failedTasks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
    jobs(e.jobId) = JobRec(e.jobId, op.getOrElse(""), e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (m != null) stages += StageRec(s.stageId, s.attemptNumber(), s.numTasks,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
      m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.failed) synchronized { failedTasks += 1 }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (p.isEmpty) 0L else p.values.map(_.startTimeMs).min
    synchronized {
      phases += PhaseRec(start, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  /** Hand over and forget everything recorded so far. */
  def take(): TraceBatch = synchronized {
    val b = TraceBatch(jobs.values.toSeq, stages.toSeq, phases.toSeq, failedTasks)
    jobs.clear(); stages.clear(); phases.clear(); failedTasks = 0L
    b
  }
}

object Tracer {
  val OpKey = "graftbench.op"

  /** Length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
