package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.DataFrame

import graft.{GraftSession, SparkEntry, Tables}
import graft.queries.Q
import graft.sql.GpSqlDialect

/** One benchmark process: set up a session, run the warm-up passes (the
  * first one keeps its results for the oracle check), then the timed
  * passes, and write every per-statement record to `<out>/harness.json`.
  *
  * Usage: `graftbench.Harness <plan.json>`; `run.py` writes the plan
  * (statements, per-pass orders, directories) from the workload seed;
  * the first `warmup_passes` orders are warm-up passes, every later one a
  * timed pass.
  *
  * Statement kinds: `named` runs `Q.query` of a SparkEntry query and
  * forces it through the noop sink; `sql` runs plain Spark SQL the same
  * way (the self-test's injected statements); every other kind is one
  * `GpSqlDialect.execute` call of a DML-stream statement, collected when
  * its result is a row count or a read. */
object Harness {

  private final case class Stmt(name: String, kind: String, sql: String)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val collected =
    Set("select", "update", "delete", "update_from")

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val traced = plan.get("trace").asBoolean
    val nproc = plan.get("nproc").asInt
    val dataDir = plan.get("data_dir").asText
    val outDir = plan.get("out_dir").asText
    val dmlBase = plan.get("dml_dir").asText
    val stmts = plan.get("statements").elements.asScala.map { n =>
      Stmt(n.get("name").asText, n.get("kind").asText,
        Option(n.get("sql")).map(_.asText).getOrElse(""))
    }.toVector
    val orders: Vector[Vector[Int]] = plan.get("orders").elements.asScala
      .map(_.elements.asScala.map(_.asInt).toVector).toVector

    val epoch0Us = System.currentTimeMillis() * 1000L
    val nano0 = System.nanoTime()
    def epochUs(ns: Long): Long = epoch0Us + (ns - nano0) / 1000L
    def secs(a: Long, b: Long): Double = (b - a) / 1e9

    val tStart = System.nanoTime()
    val spark = GraftSession.builder("graft-perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", plan.get("spark_local_dir").asText)
      .config("spark.sql.warehouse.dir", plan.get("warehouse_dir").asText)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.configure(spark)
    val tSession = System.nanoTime()

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }

    Tables.registerAll(spark, dataDir)
    val tTables = System.nanoTime()

    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val named: Map[String, Q] = stmts.filter(_.kind == "named")
      .map(s => s.name -> byName(s.name)).toMap
    val prepareErrors = named.values.toSeq.flatMap { q =>
      try { q.prepare.foreach(_(spark, dataDir)); None }
      catch { case e: Throwable => Some(q.name -> errText(e)) }
    }.toMap
    val tPrepared = System.nanoTime()

    val sc = spark.sparkContext
    val resultsDir = s"$outDir/results"

    /** Runs one statement; returns its record. `keep` saves the result. */
    def run(pass: Int, idx: Int, keep: Boolean): Map[String, Any] = {
      val st = stmts(idx)
      val id = s"$pass:$idx"
      sc.setLocalProperty(Tracer.StmtKey, id)
      sc.setLocalProperty(Tracer.PhaseKey, Tracer.Build)
      tracer.foreach(_.current = id)
      var rows: Option[Seq[Seq[Any]]] = None
      var error: Option[String] = prepareErrors.get(st.name)
      val t0 = System.nanoTime()
      var t1 = t0
      if (error.isEmpty) try {
        val df: DataFrame = st.kind match {
          case "named" => named(st.name).query(spark, dataDir)
          case "sql" => spark.sql(st.sql)
          case _ => GpSqlDialect.execute(spark, st.sql, dmlBase)
        }
        t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, Tracer.Action)
        tracer.foreach { t =>
          t.actionStartMs = System.currentTimeMillis()
          t.built(df.queryExecution)
        }
        st.kind match {
          case "named" | "sql" if keep =>
            df.coalesce(1).write.mode("overwrite")
              .parquet(s"$resultsDir/${st.name}")
          case "named" | "sql" =>
            df.write.format("noop").mode("overwrite").save()
          case k if collected(k) =>
            rows = Some(df.collect().toSeq.map(_.toSeq.map(cell)))
          case _ =>
        }
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          error = Some(errText(e))
      }
      val t2 = System.nanoTime()
      graft.operators.KernelCaches.releaseAll()
      val base = Map[String, Any](
        "pass" -> pass, "idx" -> idx, "name" -> st.name, "kind" -> st.kind,
        "start_us" -> epochUs(t0), "end_us" -> epochUs(t2),
        "wall_s" -> secs(t0, t2), "build_s" -> secs(t0, t1),
        "action_s" -> secs(t1, t2),
        "ok" -> error.isEmpty) ++
        error.map("error" -> _) ++ rows.map("rows" -> _)
      tracer.fold(base) { t =>
        org.apache.spark.graftbench.Bus.drain(sc)
        t.current = null
        base ++ traceFields(t.take(id), secs(t1, t2))
      }
    }

    // warm-up: the first pass keeps its results for the oracle check, the
    // later ones let the JIT settle before timing
    val warmupPasses = plan.get("warmup_passes").asInt
    val warmRecords = (0 until warmupPasses).flatMap { p =>
      orders(p).map(i => run(p, i, keep = p == 0))
    }
    val tWarm = System.nanoTime()

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    val gc0 = gcMs
    val timed = Vector.newBuilder[Map[String, Any]]
    val tTimed = System.nanoTime()
    for (pass <- warmupPasses until orders.size)
      orders(pass).foreach(i => timed += run(pass, i, keep = false))
    val tEnd = System.nanoTime()
    val driverGcS = (gcMs - gc0) / 1e3
    // live set: a fixed closing query replaces the last statement's plan
    // in the session's per-execution state, a full GC lets the context
    // cleaner drop unreferenced broadcasts and shuffles, a second one
    // collects what it released
    spark.range(1).collect()
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)

    val conf = spark.sparkContext.getConf.getAll
      .filterNot(_._1.startsWith("spark.driver.extraJava")).toMap
    val out = Map[String, Any](
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark_version" -> spark.version,
      "spark_conf" -> conf,
      "start_epoch_us" -> epochUs(tStart),
      "first_timed_epoch_us" -> epochUs(tTimed),
      "setup" -> Map(
        "session_start_s" -> secs(tStart, tSession),
        "tables_register_s" -> secs(tSession, tTables),
        "queries_prepare_s" -> secs(tTables, tPrepared),
        "warmup_s" -> secs(tPrepared, tWarm)),
      "timed_s" -> secs(tTimed, tEnd),
      "passes" -> (orders.size - warmupPasses),
      "oracle" -> named.map { case (n, q) => n -> q.oracle.orNull },
      "driver_gc_s" -> driverGcS,
      "live_heap_mb" -> heapMb,
      "warmup" -> warmRecords,
      "timed" -> timed.result())
    mapper.writeValue(new File(s"$outDir/harness.json"), out)
    spark.stop()
  }

  private def traceFields(t: StmtTrace, actionS: Double): Map[String, Any] = {
    val mb = 1024.0 * 1024.0
    Map(
      "plan_s" -> math.min(actionS, t.actionPlanMs / 1e3),
      "execute_s" -> math.max(0.0, actionS - t.actionPlanMs / 1e3),
      "catalyst_executions" -> t.executions,
      "catalyst_analysis_s" -> t.analysisMs / 1e3,
      "catalyst_optimization_s" -> t.optimizationMs / 1e3,
      "catalyst_planning_s" -> t.planningMs / 1e3,
      "catalyst_plan_nodes" -> t.planNodes,
      "jobs" -> t.jobs, "build_jobs" -> t.buildJobs,
      "stages" -> t.stages, "tasks" -> t.tasks,
      "job_s" -> t.jobSeconds,
      "task_run_s" -> t.taskRunMs / 1e3,
      "task_cpu_s" -> t.taskCpuNs / 1e9,
      "task_gc_s" -> t.taskGcMs / 1e3,
      "input_mb" -> t.inputBytes / mb,
      "shuffle_read_mb" -> t.shuffleReadBytes / mb,
      "shuffle_write_mb" -> t.shuffleWriteBytes / mb,
      "spill_mb" -> t.spillBytes / mb,
      "output_mb" -> t.outputBytes / mb)
  }

  /** JSON-safe cell: numbers, strings, booleans and nulls pass through;
    * anything else is rendered as text. */
  private def cell(v: Any): Any = v match {
    case null => null
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte | _: java.lang.Double | _: java.lang.Float |
        _: java.lang.Boolean | _: String => v
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  private def errText(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ")
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }
}
