package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{ExpandExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span and counter collector of the traced run, attached from outside the
  * engine as a SparkListener and a QueryExecutionListener.
  *
  * The harness runs one operation at a time and drains the listener bus
  * after each one, so every event delivered while `window` names an
  * operation belongs to it. Jobs also carry the operation's job group; a
  * job with another operation's group is counted as mis-tagged and fails
  * the self-check. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var window: String = ""

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val plans = mutable.Map.empty[String, PlanCounts]

  def jobsOf(op: String): Seq[Job] = synchronized(jobs.values.filter(_.window == op).toList)
  def stagesOf(op: String): Seq[Stage] = synchronized(stages.values.filter(_.window == op).toList)
  def plansOf(op: String): PlanCounts = synchronized(plans.getOrElse(op, PlanCounts()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, window, e.time, e.time, e.stageInfos.map(_.stageId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new Stage(i.stageId, i.attemptNumber(), i.name, window, i.parentIds.isEmpty))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new Stage(i.stageId, i.attemptNumber(), i.name, window, i.parentIds.isEmpty))
    s.start = i.submissionTime.getOrElse(0L)
    s.end = i.completionTime.getOrElse(s.start)
    s.tasks = i.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new Stage(e.stageId, e.stageAttemptId, "", window, false))
    if (e.reason != Success) s.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      s.inRecords += m.inputMetrics.recordsRead
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val c = plans.getOrElseUpdate(window, PlanCounts())
      nodes(qe.executedPlan).foreach {
        case _: ShuffleExchangeExec => c.exchanges += 1
        case _: SortExec => c.sorts += 1
        case _: SortMergeJoinExec => c.smj += 1
        case _: BroadcastHashJoinExec => c.bhj += 1
        case _: ExpandExec => c.expands += 1
        case _ => ()
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  final case class Job(id: Int, group: String, window: String, start: Long, var end: Long,
      stageIds: Seq[Int])

  final class Stage(val id: Int, val attempt: Int, val name: String, val window: String,
      val readsSource: Boolean) {
    var start = 0L; var end = 0L; var tasks = 0; var failures = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var overheadMs = 0L
    var inRecords = 0L
    var shWriteBytes = 0L; var shWriteRecords = 0L
    var shReadBytes = 0L; var fetchWaitMs = 0L
    var spillBytes = 0L; var outRecords = 0L
  }

  final case class PlanCounts(var exchanges: Int = 0, var sorts: Int = 0, var smj: Int = 0,
      var bhj: Int = 0, var expands: Int = 0)

  /** Every node of an executed plan, looking through adaptive plans (to
    * their final plan), query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
