package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (single forked test JVM). */
object TestSpark {
  val sf: String = "/root/testdata/sf0.001"
  val sf01: String = "/root/testdata/sf0.01"
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test")
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.configure(s)
  }

  /** Spark jobs started by `run`, counted by a [[graft.obs.Probe]]. */
  def jobs(run: => Unit): Int = graft.obs.Probe(spark)(run)._2.jobs

  /** The executed plan of every query execution `run` spawns (actions,
    * collects and eager checkpoints alike), as a [[graft.obs.Probe]]
    * records them. */
  def plans(run: => Unit): Seq[String] =
    graft.obs.Probe(spark)(run)._2.executions.map(_.executedPlan.toString)
}

/** One sf0.001 execution per query, shared by GoldenSpec (the hash) and
  * QueriesSmokeSpec (the shape). Both suites run in the same forked test
  * JVM, so each query executes once per test run, whichever suite asks
  * first; a query that throws fails both tests with its own exception. */
object QueryRuns {
  final case class Run(columns: Int, rows: Int, hash: String)

  private val runs =
    scala.collection.mutable.HashMap.empty[String, scala.util.Try[Run]]

  def of(q: graft.queries.Q): Run =
    runs.getOrElseUpdate(q.name, scala.util.Try {
      try {
        val df = q.fn(TestSpark.spark, graft.tools.GoldenGen.sfDir)
        val json = df.toJSON.collect()
        Run(df.columns.length, json.length,
          graft.tools.GoldenGen.hashRows(json))
      } finally graft.operators.KernelCaches.releaseAll()
    }).get
}
