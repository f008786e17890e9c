package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-execution counters of one statement, filled by [[Tracer]]. */
final class StmtTrace {
  var executions = 0
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var actionPlanMs = 0L // catalyst phases of executions run by the action
  var planNodes = 0L
  var jobs = 0
  var buildJobs = 0
  var stages = 0
  var tasks = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L

  /** Wall time covered by at least one job, in seconds. */
  def jobSeconds: Double = {
    val sorted = jobIntervals.sortBy(_._1)
    var total = 0L
    var curStart = -1L
    var curEnd = -1L
    sorted.foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1e3
  }
}

/** Observes the engine from outside: a SparkListener for the scheduler and
  * executor layers, a QueryExecutionListener for Catalyst. Jobs are tied to
  * a statement through the local properties the harness sets before each
  * call; query executions through the statement current when the listener
  * bus delivers them (the harness drains the bus after each statement). */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var current: String = null
  // epoch ms at which the current statement's action began
  @volatile var actionStartMs: Long = Long.MaxValue
  // the statement's DataFrame, analyzed eagerly while it was built
  @volatile private var builtQe: QueryExecution = null

  private val traces = mutable.HashMap.empty[String, StmtTrace]
  private val jobOf = mutable.HashMap.empty[Int, (String, Long)]
  private val stageOf = mutable.HashMap.empty[Int, String]

  def take(id: String): StmtTrace = synchronized {
    builtQe = null
    actionStartMs = Long.MaxValue
    traces.remove(id).getOrElse(new StmtTrace)
  }

  private def trace(id: String): StmtTrace =
    traces.getOrElseUpdate(id, new StmtTrace)

  /** Counts the analysis a statement's DataFrame got when it was built;
    * an action that runs this same QueryExecution adds no analysis again. */
  def built(qe: QueryExecution): Unit = synchronized {
    builtQe = qe
    if (current != null)
      trace(current).analysisMs +=
        qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(StmtKey))).foreach { id =>
      val t = trace(id)
      t.jobs += 1
      if (props.flatMap(p => Option(p.getProperty(PhaseKey))).contains(Build))
        t.buildJobs += 1
      jobOf(e.jobId) = (id, e.time)
      e.stageIds.foreach(stageOf(_) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.remove(e.jobId).foreach { case (id, start) =>
      trace(id).jobIntervals += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageOf.get(e.stageInfo.stageId).foreach(trace(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get(e.stageId).foreach { id =>
      val t = trace(id)
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.taskRunMs += m.executorRunTime
        t.taskCpuNs += m.executorCpuTime
        t.taskGcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def onExecution(qe: QueryExecution): Unit = synchronized {
    val id = current
    if (id != null) {
      val t = trace(id)
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val a = if (qe eq builtQe) 0L else ms("analysis")
      val o = ms("optimization")
      val p = ms("planning")
      // an execution belongs to the action when Catalyst began optimizing
      // it after the action started (listener delivery is asynchronous)
      val optStart = Seq("optimization", "planning").flatMap(ph.get)
        .map(_.startTimeMs).reduceOption(_ min _).getOrElse(Long.MaxValue)
      t.executions += 1
      t.analysisMs += a
      t.optimizationMs += o
      t.planningMs += p
      if (optStart != Long.MaxValue && optStart >= actionStartMs)
        t.actionPlanMs += a + o + p
      t.planNodes += PlanNodes.count(qe)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = onExecution(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = onExecution(qe)
}

object Tracer {
  val StmtKey = "graftbench.stmt"
  val PhaseKey = "graftbench.phase"
  val Build = "build"
  val Action = "action"
}

/** Physical plan size, counting AQE stages and subqueries. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def count(qe: QueryExecution): Long =
    try collectWithSubqueries(qe.executedPlan) { case p => p }.size.toLong
    catch { case _: Throwable => 0L }
}
