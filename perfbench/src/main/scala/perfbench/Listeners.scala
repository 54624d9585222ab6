package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

final case class JobRec(id: Int, iter: Int, span: String, startMs: Double,
    var endMs: Double = Double.NaN)

final class StageRec(val id: Int, val iter: Int, val span: String) {
  var startMs, endMs = Double.NaN
  var shuffleWrite, shuffleRead, spill, inputRows, inputBytes, outputBytes,
    resultBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final case class PlanRec(startMs: Double, analysisMs: Long,
    optimizationMs: Long, planningMs: Long)

/** Scheduler-side counts, attributed to the harness span that submitted
  * each job (see [[Tracer]]). Task-level numbers come from task-end
  * events; a stage's interval from its stage-completed event. */
final class StatsListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val jobById = mutable.Map.empty[Int, JobRec]

  private def tag(p: java.util.Properties, key: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = JobRec(e.jobId,
      tag(e.properties, "perfbench.iter").fold(-1)(_.toInt),
      tag(e.properties, "perfbench.span").getOrElse(""), e.time.toDouble)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  private def stage(id: Int, attempt: Int, p: java.util.Properties): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id,
      tag(p, "perfbench.iter").fold(-1)(_.toInt),
      tag(p, "perfbench.span").getOrElse("")))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stage(e.stageInfo.stageId, e.stageInfo.attemptNumber(),
      e.properties) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber(), null)
      s.startMs = i.submissionTime.fold(Double.NaN)(_.toDouble)
      s.endMs = i.completionTime.fold(Double.NaN)(_.toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId, null)
    s.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.inputRows += m.inputMetrics.recordsRead
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      if (e.taskType == "ResultTask") s.resultBytes += m.resultSize
    }
  }
}

/** Catalyst phase times of every query execution, from its
  * `QueryExecution.tracker`. Attributed to iterations by phase start
  * time, since this bus carries no job properties. */
final class PlanListener extends QueryExecutionListener {
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).fold(0L)(_.durationMs)
    val start = if (ph.isEmpty) Clock.nowMs
      else ph.values.map(_.startTimeMs).min.toDouble
    plans += PlanRec(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}
