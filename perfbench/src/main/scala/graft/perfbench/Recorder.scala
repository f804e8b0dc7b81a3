package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One event from the listener buses, reduced to the fields the layer
  * metrics read. Times are epoch milliseconds, as Spark reports them. */
sealed trait Event
final case class JobStarted(jobId: Int, timeMs: Long, stageIds: Seq[Int]) extends Event
final case class JobEnded(jobId: Int, timeMs: Long) extends Event
final case class StageDone(stageId: Int, attempt: Int, submitMs: Long,
    doneMs: Long) extends Event
final case class TaskDone(stageId: Int, ok: Boolean, runMs: Long,
    cpuNs: Long, schedDelayMs: Long, gcMs: Long,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, peakMemB: Long,
    outputB: Long) extends Event
/** One finished Catalyst query execution (an action or a write), read
  * from the QueryExecution the listener receives: the plan it already
  * executed is walked, never re-planned. */
final case class Planned(funcName: String,
    phasesMs: Map[String, (Long, Long)], graftRuleNs: Long,
    ruleCalls: Long, ruleEffective: Long, exchanges: Int, broadcasts: Int)
    extends Event

/** Collects Spark job/stage/task events and Catalyst query executions.
  * The runner drains the listener bus at every layer boundary and then
  * [[poll]]s, so the events of one boundary-to-boundary interval are
  * attributed to the layer call made in it (one client, closed loop).
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val queue = new java.util.concurrent.ConcurrentLinkedQueue[Event]()

  def poll(): Vector[Event] = {
    val b = Vector.newBuilder[Event]
    var e = queue.poll()
    while (e != null) { b += e; e = queue.poll() }
    b.result()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    queue.add(JobStarted(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    queue.add(JobEnded(e.jobId, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    queue.add(StageDone(s.stageId, s.attemptNumber(),
      s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (m == null) {
      queue.add(TaskDone(e.stageId, ti.successful,
        0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    } else {
      val gettingResult =
        if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      // Spark UI's scheduler delay: the part of a task's wall spent
      // neither deserializing, running nor returning its result
      val delay = math.max(0L, ti.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      val sr = m.shuffleReadMetrics
      queue.add(TaskDone(e.stageId, ti.successful, m.executorRunTime,
        m.executorCpuTime, delay, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead,
        m.diskBytesSpilled, m.peakExecutionMemory,
        m.outputMetrics.bytesWritten))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = queue.add(planned(funcName, qe, ok = true))

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = queue.add(planned(funcName, qe, ok = false))

  private def planned(funcName: String, qe: QueryExecution, ok: Boolean): Planned = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    // graft's optimizer rules run as one combined rule whose name spells
    // the class names of its parts
    val graftRules = qe.tracker.rules.filter(_._1.contains("graft."))
    var exchanges = 0
    var broadcasts = 0
    if (ok) walk(qe.executedPlan) {
      case _: ShuffleExchangeLike => exchanges += 1
      case _: BroadcastExchangeLike => broadcasts += 1
      case _ =>
    }
    Planned(funcName, phases.toMap,
      graftRules.values.map(_.totalTimeNs).sum,
      graftRules.values.map(_.numInvocations).sum,
      graftRules.values.map(_.numEffectiveInvocations).sum,
      exchanges, broadcasts)
  }

  /** Visit every node of an executed plan, including adaptive final plans,
    * query stages and subqueries. A reused exchange runs once, so it is
    * counted where it is defined, not where it is reused. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _: ReusedExchangeExec =>
      case _ => p.children.foreach(walk(_)(f))
    }
    p.subqueries.foreach(walk(_)(f))
  }
}
