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

  /** Spark jobs started by `run`, counted once the listener bus has
    * drained, so no event of an earlier action or a late event of `run`
    * is miscounted. */
  def jobs(run: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graftobs.Bus.drain(sc)
    sc.addSparkListener(l)
    try { run; org.apache.spark.graftobs.Bus.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  /** The executed plan of every query execution `run` spawns (actions,
    * collects and eager checkpoints alike), read once the listener bus
    * has drained. */
  def plans(run: => Unit): Seq[String] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = got.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.graftobs.Bus.drain(sc)
    spark.listenerManager.register(l)
    try {
      run
      org.apache.spark.graftobs.Bus.drain(sc)
      got.toArray(Array.empty[String]).toSeq
    } finally spark.listenerManager.unregister(l)
  }
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
