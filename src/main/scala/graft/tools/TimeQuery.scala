package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graftobs.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.{GraftSession, SparkEntry}

/** Time individual SparkEntry queries in isolation (noop sink, warm-up
  * pass included): `runMain graft.tools.TimeQuery <sfDir> <name> [name…]`.
  * Bench.scala stays the driver-facing sweep; this is the dev loop.
  *
  * Besides wall time, reports the per-query job/stage/task counts and
  * shuffle/input volumes from a SparkListener — the optimization guide's
  * "decide whether the time is compute, shuffle or scheduling" step
  * without the (disabled) UI. */
object TimeQuery {

  /** Counters reset per timed run; listener events are async, so callers
    * drain the bus before reading. */
  private final class Counts extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val input = new AtomicLong
    val spill = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = ()
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      shuffleRead.set(0); shuffleWrite.set(0); input.set(0); spill.set(0)
    }
    def line: String =
      f"jobs=${jobs.get}%d stages=${stages.get}%d tasks=${tasks.get}%d " +
        f"input=${input.get / 1024}%dK shufR=${shuffleRead.get / 1024}%dK " +
        f"shufW=${shuffleWrite.get / 1024}%dK spill=${spill.get / 1024}%dK"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = GraftSession.local("graft-timequery")
    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)
    val qs = SparkEntry.allQueries.filter(q => names.contains(q.name))
    qs.foreach { q =>
      q.prepare.foreach(_(spark, sfDir))
      (0 until 3).foreach { it =>
        graft.operators.KernelCaches.releaseAll()
        System.gc()
        counts.reset()
        val t0 = System.nanoTime()
        q.query(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        Bus.drain(spark.sparkContext)
        println(f"[time] ${q.name} iter$it $secs%.2f s  ${counts.line}")
      }
    }
    spark.stop()
  }
}
