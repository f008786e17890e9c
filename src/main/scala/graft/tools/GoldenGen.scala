package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import graft.{GraftSession, SparkEntry}

/** Golden-hash generator (SURVEY §5 regression layer 1): one stable hash
  * per query at sf0.001, checked by GoldenSpec on every `sbt test` —
  * value regressions surface without the DuckDB harness.
  *
  * Regenerate after intentional result changes:
  *   sbt "runMain graft.tools.GoldenGen"
  */
object GoldenGen {

  val goldenPath = "src/test/resources/golden_sf0001.txt"
  val sfDir = "/root/testdata/sf0.001"

  /** Canonical content hash: JSON rows, sorted, md5'd. */
  def hashOf(df: DataFrame): String = hashRows(df.toJSON.collect())

  /** [[hashOf]] over already-collected JSON rows, in any order. */
  def hashRows(json: Array[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    json.sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    // mirror TestSpark's session exactly — hashes of partially-merged fp
    // aggregates are only bit-stable under identical partitioning
    val spark = GraftSession.builder("golden-gen")
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.configure(spark)
    val lines = SparkEntry.allQueries.map { q =>
      val h =
        try hashOf(q.fn(spark, sfDir))
        catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" }
      graft.operators.KernelCaches.releaseAll()
      s"${q.name} $h"
    }
    Files.createDirectories(Paths.get(goldenPath).getParent)
    Files.writeString(Paths.get(goldenPath), lines.mkString("", "\n", "\n"))
    println(s"wrote ${lines.size} golden hashes to $goldenPath")
    spark.stop()
  }
}
