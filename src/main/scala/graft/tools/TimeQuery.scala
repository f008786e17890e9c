package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.obs.Probe

/** Time individual SparkEntry queries in isolation (noop sink, warm-up
  * pass included): `runMain graft.tools.TimeQuery <sfDir> <name> [name…]`.
  * Bench.scala stays the driver-facing sweep; this is the dev loop.
  *
  * Besides wall time, reports the per-query job/stage/task counts and
  * shuffle/input volumes from a [[Probe]] — the optimization guide's
  * "decide whether the time is compute, shuffle or scheduling" step
  * without the (disabled) UI. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = GraftSession.local("graft-timequery")
    val qs = SparkEntry.allQueries.filter(q => names.contains(q.name))
    qs.foreach { q =>
      q.prepare.foreach(_(spark, sfDir))
      (0 until 3).foreach { it =>
        graft.operators.KernelCaches.releaseAll()
        System.gc()
        val (secs, s) = Probe(spark) {
          val t0 = System.nanoTime()
          q.query(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[time] ${q.name} iter$it $secs%.2f s  jobs=${s.jobs}%d " +
          f"stages=${s.stages}%d tasks=${s.tasks}%d input=${s.inputBytes / 1024}%dK " +
          f"shufR=${s.shuffleReadBytes / 1024}%dK shufW=${s.shuffleWriteBytes / 1024}%dK " +
          f"spill=${s.spillBytes / 1024}%dK")
      }
    }
    spark.stop()
  }
}
