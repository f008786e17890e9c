package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}
import graft.obs.Probe

/** Dump the formatted executed plans of named SparkEntry queries:
  * `runMain graft.tools.ExplainQuery <sfDir> <outDir> <name> [name…]`
  * (or `all`). After its fixtures, each query is forced into a noop sink
  * under a [[Probe]], and the plan that ran (AQE-final) of every
  * execution is written: `<name>.txt` for the final SELECT, `<name>.<i>.txt`
  * for the i-th earlier one (an INSERT's write, a kernel's round). */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSeq
    val spark = GraftSession.local("graft-explain")
    // optional session-conf overrides for regime plans (e.g. capture the
    // at-scale SMJ shape with autoBroadcastJoinThreshold=-1):
    //   SPARK_GRAFT_EXPLAIN_CONF="k1=v1;k2=v2"
    sys.env.get("SPARK_GRAFT_EXPLAIN_CONF").foreach(_.split(";").foreach {
      kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.allQueries
      .filter(q => names.contains("all") || names.contains(q.name))
    qs.foreach { q =>
      try {
        q.prepare.foreach(_(spark, sfDir))
        val (_, stats) = Probe(spark) {
          q.query(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val n = stats.executions.size
        stats.executions.zipWithIndex.foreach { case (qe, i) =>
          val file =
            if (i == n - 1) s"$outDir/${q.name}.txt"
            else f"$outDir/${q.name}.$i%03d.txt"
          Files.writeString(Paths.get(file), qe.explainString(FormattedMode))
          println(s"[explain] wrote $file")
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] ${q.name} failed: ${e.getMessage}")
      }
      graft.operators.KernelCaches.releaseAll()
    }
    spark.stop()
  }
}
