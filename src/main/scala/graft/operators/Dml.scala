package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DML sinks over immutable Parquet — copy-on-write UPDATE / DELETE /
  * MERGE (reference: nodeModifyTable.c:1771; GP's SplitUpdate — delete+
  * insert when the distribution key changes, nodeSplitUpdate.c:124 — is
  * subsumed by the rewrite: every update rewrites the row wherever its
  * new partition lands).
  *
  * Scale notes: the rewrite is a full-table dataflow (filter/transform →
  * write), which is exactly what copy-on-write lakehouse formats do per
  * touched file; at 100 TB you'd partition the table and rewrite only
  * affected partitions (the dataflow here is identical per partition).
  * The tmp-dir + rename swap keeps readers from observing a half-written
  * table. */
object Dml {

  /** Replace the table at `path` with `next` via rename-aside swap:
    * write tmp → move live dir aside → move tmp into place → drop the
    * old copy. A crash at any step leaves either the old or the new
    * table recoverable on disk (the previous delete-then-rename lost
    * the published table if it died between the two calls).
    * `partitionCols` keeps a partitioned table's Hive directory layout
    * through the rewrite (columns no longer present are skipped, for
    * DROP COLUMN of a partition key). */
  private[graft] def overwrite(
      spark: SparkSession, path: String, next: DataFrame,
      partitionCols: Seq[String] = Seq.empty,
      validate: () => Unit = () => ()): Unit = {
    val tmp = path + ".cow-tmp"
    val old = path + ".cow-old"
    val keep = partitionCols.filter(next.columns.map(_.toLowerCase)
      .contains(_))
    val w = next.write.mode("overwrite")
    (if (keep.nonEmpty) w.partitionBy(keep: _*) else w).parquet(tmp)
    // post-write, pre-swap validation hook: a failed contract (e.g. the
    // UPDATE ... FROM multi-match guard) aborts BEFORE the rename, so the
    // published table is untouched — same visible semantics as checking
    // up front, without a second execution of the rewrite dataflow
    validate()
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(old), true) // leftover from a previous crash
    if (fs.exists(new Path(path)) && !fs.rename(new Path(path), new Path(old)))
      throw new java.io.IOException(s"rename $path -> $old failed")
    if (!fs.rename(new Path(tmp), new Path(path))) {
      fs.rename(new Path(old), new Path(path)) // roll back
      throw new java.io.IOException(s"rename $tmp -> $path failed")
    }
    // CDC-enabled tables keep the displaced pre-image (one rename, zero
    // rows copied) for Cdc.changes(); everyone else drops it
    if (!Cdc.retainPreImage(spark, path, old))
      fs.delete(new Path(old), true)
  }

  /** DELETE FROM path WHERE cond (SQL semantics: rows where cond is
    * null are kept). Returns the deleted-row count, counted by an
    * `observe()` metric riding the rewrite's own scan (r10: the caller
    * previously ran a standalone `filter(cond).count()` — a SECOND full
    * pass over the table per DELETE statement, guide §1.2/§5). */
  def deleteWhere(spark: SparkSession, path: String, cond: Column,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    // declared schema when the caller has one (the dialect catalog):
    // inference runs a one-task footer-read job per call (r10)
    val df = schema.fold(spark.read)(spark.read.schema).parquet(path)
    val matched = coalesce(cond, lit(false))
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      coalesce(sum(when(matched, 1L).otherwise(0L)), lit(0L)).as("n_hit"))
    overwrite(spark, path, observed.filter(!matched))
    obs.get("n_hit").asInstanceOf[Long]
  }

  /** UPDATE path SET assignments WHERE cond. Returns the updated-row
    * count via the same single-pass `observe()` discipline as
    * [[deleteWhere]]. */
  def updateWhere(
      spark: SparkSession, path: String,
      assignments: Map[String, Column], cond: Column,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    val df = schema.fold(spark.read)(spark.read.schema).parquet(path)
    val matched = coalesce(cond, lit(false))
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      coalesce(sum(when(matched, 1L).otherwise(0L)), lit(0L)).as("n_hit"))
    val updated = observed.select(df.columns.map { c =>
      assignments.get(c) match {
        case Some(v) => when(matched, v)
          .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    overwrite(spark, path, updated)
    obs.get("n_hit").asInstanceOf[Long]
  }

  /** VACUUM FULL analogue (commands/vacuum.c; GP reclaims AO segment
    * files the same way): rewrite the table into ~`targetBytes` files.
    * Every DML here is copy-on-write, so the small-file problem arrives
    * with frequent updates exactly like AO segment bloat — compaction is
    * the maintenance op that keeps scan task counts sane at 100 TB.
    * Returns (filesBefore, filesAfter). */
  def compact(
      spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles = fs.listStatus(new Path(path)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = dataFiles
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    overwrite(spark, path, df.coalesce(nOut))
    (before.size, dataFiles.size)
  }

  /** UPDATE path SET assignments FROM source WHERE joinCond — PG/GP's
    * correlated UPDATE ... FROM (grammar gram.y UpdateStmt from_clause;
    * executor joins the result relation to the FROM list). Implemented
    * as one left join; matched rows take the assignments (which may
    * reference source columns), unmatched rows pass through. Like PG,
    * which of several matching source rows wins is unspecified — pass a
    * deduplicated source for deterministic results. */
  def updateFrom(
      spark: SparkSession, path: String, source: DataFrame,
      joinCond: Column, assignments: Map[String, Column],
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val df = schema.fold(spark.read)(spark.read.schema).parquet(path)
    val src = source.withColumn("__matched", lit(true))
    val joined = df.join(src, joinCond, "left")
    val matched = coalesce(col("__matched"), lit(false))
    val updated = joined.select(df.columns.map { c =>
      assignments.get(c) match {
        case Some(v) => when(matched, v).otherwise(df(c)).as(c)
        case None => df(c).as(c)
      }
    }: _*)
    // Multi-match guard (r8 review): a target row matching SEVERAL
    // source rows would be MULTIPLIED by the left join and silently
    // corrupt the table (PG's UPDATE ... FROM updates such a row once,
    // from an arbitrary match — data-dependent nondeterminism we refuse
    // rather than replicate). nBefore is parquet footer metadata; the
    // join-result count rides the WRITE dataflow as an observed metric
    // (r9 optimization: the previous standalone updated.count() executed
    // the join a second time), and a violation aborts before the
    // tmp→live rename, so the published table is never touched.
    val nBefore = df.count()
    val obs = org.apache.spark.sql.Observation()
    overwrite(spark, path,
      updated.observe(obs, count(lit(1)).as("n_rows")),
      validate = () => {
        val nAfter = obs.get("n_rows").asInstanceOf[Long]
        require(nAfter == nBefore,
          s"UPDATE ... FROM matched multiple source rows for at least " +
            s"one target row ($nBefore target rows, $nAfter join results)" +
            " — PG would pick one match arbitrarily; dedup the source on" +
            " the join keys instead")
      })
  }

  /** MERGE INTO path USING source ON key: matched rows take the source's
    * values, unmatched source rows are inserted, other target rows kept.
    * Source must have the target's schema. */
  def mergeInto(
      spark: SparkSession, path: String, source: DataFrame,
      key: String): Unit = {
    val target = spark.read.parquet(path)
    val cols = target.columns
    // presence of the source key marks a matched-or-inserted row; using it
    // (not per-column coalesce) lets a source row legitimately write NULL
    val merged = target.alias("t")
      .join(source.alias("s"), target(key) === source(key), "full_outer")
      .select(cols.map { c =>
        when(col(s"s.$key").isNotNull, col(s"s.$c"))
          .otherwise(col(s"t.$c")).as(c)
      }: _*)
    overwrite(spark, path, merged)
  }

  /** `INSERT ... ON CONFLICT DO UPDATE` lowering (nodeModifyTable.c
    * speculative insertion): ONE full-outer join on the conflict keys.
    * Conflicting target rows take the assignment expressions — which may
    * reference target columns by name and the proposed source row via
    * `__exc_`-prefixed columns (the dialect rewrites `EXCLUDED.c` to
    * `__exc_c`) — unmatched source rows insert, other target rows keep.
    * NULL keys never conflict (unique-index semantics: === join). */
  def upsert(
      spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], assignments: Map[String, Column],
      partitionCols: Seq[String] = Seq.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val target = schema.fold(spark.read)(spark.read.schema).parquet(path)
    val cols = target.columns
    val tgt = target.withColumn("__t_present", lit(true))
    val exc = cols.foldLeft(source.toDF(cols.toSeq: _*))((d, c) =>
      d.withColumnRenamed(c, s"__exc_$c"))
      .withColumn("__s_present", lit(true))
    val joinCond = keys.map(k => tgt(k) === exc(s"__exc_$k")).reduce(_ && _)
    val merged = tgt.join(exc, joinCond, "full_outer")
      .select(cols.map { c =>
        when(col("__t_present") && col("__s_present"),
          assignments.getOrElse(c.toLowerCase, tgt(c)))
          .when(col("__s_present"), col(s"__exc_$c"))
          .otherwise(tgt(c))
          .cast(target.schema(c).dataType).as(c)
      }: _*)
    overwrite(spark, path, merged, partitionCols)
  }
}
