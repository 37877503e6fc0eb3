package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark's public hooks report while tracing is on:
  *   - `SparkListener`: jobs, stages and per-task metrics, aggregated per
  *     stage attempt;
  *   - `QueryExecutionListener`: the `QueryPlanningTracker` phase times
  *     and the broadcast exchanges of every executed plan.
  *
  * Every job carries the harness span that submitted it in the local
  * property [[Profile.SpanKey]]; planning phases are placed by time.
  * Callbacks run on the listener-bus thread, readers drain the bus first
  * (see `org.apache.spark.graftbench.Bus`), and both sides lock `this`. */
final class Profile extends SparkListener with QueryExecutionListener {
  import Profile._

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val jobOfStage = mutable.HashMap.empty[Int, Int]

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt),
      new StageRec(id, attempt, jobOfStage.getOrElse(id, -1)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobRec(e.jobId, span, e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber()).submitMs =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submitMs == 0L) s.submitMs = i.submissionTime.getOrElse(s.completeMs)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    s.tasks += 1
    if (s.firstLaunchMs == 0L || info.launchTime < s.firstLaunchMs)
      s.firstLaunchMs = info.launchTime
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
      s.outputRows += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    record(func, qe)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe)

  private def record(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val starts = phases.values.map(_.startTimeMs).filter(_ > 0)
    val ends = phases.values.map(_.endTimeMs).filter(_ > 0)
    val broadcasts =
      try Broadcasts.count(qe.executedPlan) catch { case _: Exception => 0 }
    val rec = PlanRec(func,
      if (starts.isEmpty) System.currentTimeMillis() else starts.min,
      if (ends.isEmpty) System.currentTimeMillis() else ends.max,
      ms("analysis"), ms("optimization"), ms("planning"), broadcasts)
    synchronized { plans += rec }
  }

  /** Stage aggregates of the given jobs (all attempts). */
  def stagesOf(jobIds: collection.Set[Int]): Seq[StageRec] = synchronized {
    stages.values.filter(s => jobIds.contains(s.jobId)).toSeq
  }
}

object Profile {
  /** Local property naming the harness span that submitted a job. */
  val SpanKey = "graftbench.span"

  final class JobRec(val id: Int, val span: Int, val startMs: Long) {
    var endMs: Long = 0L
  }

  final class StageRec(val stageId: Int, val attempt: Int, val jobId: Int) {
    var submitMs, firstLaunchMs, completeMs = 0L
    var tasks = 0
    var runMs, cpuNs, gcMs = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes = 0L
    var spillBytes, outputBytes, outputRows = 0L
  }

  final case class PlanRec(func: String, startMs: Long, endMs: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long,
      broadcasts: Int)

  private object Broadcasts extends AdaptiveSparkPlanHelper {
    def count(plan: org.apache.spark.sql.execution.SparkPlan): Int =
      collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size
  }
}
