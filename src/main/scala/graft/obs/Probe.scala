package graft.obs

import org.apache.spark.graftobs.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one listener in graft: what a piece of driver code did on Spark,
  * read after it ran, as GP's EXPLAIN ANALYZE reads its instrumented
  * plan (cdbexplain.c). `Probe(spark)(body)` drains the listener bus,
  * runs `body` under a listener that is both a SparkListener and a
  * QueryExecutionListener, drains again (events are asynchronous) and
  * unregisters. It assumes a single caller: every job and stage on the
  * SparkContext between the two drains is counted, whoever started it. */
object Probe {

  /** Jobs started; stages completed with their tasks and their input,
    * shuffle-read, shuffle-write and spilled bytes; and the session's
    * successful executions in the order they ended, actions, writes and
    * eager checkpoints alike (each `executedPlan` is the plan that ran). */
  final case class Stats(
      jobs: Int, stages: Int, tasks: Long,
      inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, executions: Seq[QueryExecution])

  def apply[A](spark: SparkSession)(body: => A): (A, Stats) = {
    val l = new Listener
    val sc = spark.sparkContext
    Bus.drain(sc)
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    try { val a = body; Bus.drain(sc); (a, l.stats) }
    finally { spark.listenerManager.unregister(l); sc.removeSparkListener(l) }
  }

  private final class Listener extends SparkListener
      with QueryExecutionListener {
    private var jobs, stages = 0
    private var tasks, input, shuffleRead, shuffleWrite, spill = 0L
    private var executions = Vector.empty[QueryExecution]
    def stats: Stats = synchronized(Stats(jobs, stages, tasks, input,
      shuffleRead, shuffleWrite, spill, executions))
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized(jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += e.stageInfo.numTasks
        Option(e.stageInfo.taskMetrics).foreach { m =>
          input += m.inputMetrics.bytesRead
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.diskBytesSpilled
        }
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized(executions :+= qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }
}
