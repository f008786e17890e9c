package graft.operators

import org.apache.hadoop.fs.{LocatedFileStatus, Path}
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

  /** Where and how a table's files are written: its directory, its Hive
    * partition columns and its Parquet codec. */
  final case class Storage(
      path: String, partitionCols: Seq[String], codec: String)

  /** Replace the table at `to.path` with `next` via rename-aside swap:
    * write tmp → move live dir aside → move tmp into place → drop the
    * old copy. A crash at any step leaves either the old or the new
    * table recoverable on disk (the previous delete-then-rename lost
    * the published table if it died between the two calls).
    * `to.partitionCols` keeps a partitioned table's Hive directory layout
    * through the rewrite (columns no longer present are skipped, for
    * DROP COLUMN of a partition key); the files are written with
    * `to.codec`. */
  private[graft] def overwrite(
      spark: SparkSession, to: Storage, next: DataFrame,
      validate: () => Unit = () => ()): Unit = {
    val path = to.path
    val tmp = path + ".cow-tmp"
    val old = path + ".cow-old"
    val keep = to.partitionCols.filter(next.columns.map(_.toLowerCase)
      .contains(_))
    val w = next.write.mode("overwrite").option("compression", to.codec)
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

  /** VACUUM FULL analogue (commands/vacuum.c; GP reclaims AO segment
    * files the same way): rewrite the table into ~`targetBytes` files.
    * Every DML here is copy-on-write, so the small-file problem arrives
    * with frequent updates exactly like AO segment bloat — compaction is
    * the maintenance op that keeps scan task counts sane at 100 TB.
    * `table` is the table at `to.path` read with its declared schema;
    * the rewrite keeps its storage. Returns (filesBefore, filesAfter),
    * counting the data files of every partition. */
  def compact(
      spark: SparkSession, to: Storage, table: DataFrame,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val before = dataFiles(spark, to.path)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    overwrite(spark, to, table.coalesce(nOut))
    (before.size, dataFiles(spark, to.path).size)
  }

  /** The parquet data files under `path`, partition directories
    * included. */
  private[graft] def dataFiles(
      spark: SparkSession, path: String): Seq[LocatedFileStatus] = {
    val it = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(new Path(path), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
  }

  /** The relation a MERGE joins to its target, with its ON condition. */
  final case class Source(rows: DataFrame, on: Column)

  /** What a WHEN MATCHED clause does to the target rows it takes. */
  sealed trait MatchedAction
  /** New values by lower-case column name; other columns keep theirs. */
  final case class Update(set: Map[String, Column]) extends MatchedAction
  case object Delete extends MatchedAction
  /** The inserted row by lower-case column name; other columns are null. */
  final case class Insert(values: Map[String, Column])

  /** One WHEN clause. An absent guard always holds; a NULL guard does
    * not. */
  sealed trait When
  final case class Matched(guard: Option[Column], action: MatchedAction)
      extends When
  final case class NotMatched(guard: Option[Column], insert: Insert)
      extends When

  private val TPresent = "__t_present"
  private val SPresent = "__s_present"

  /** The one copy-on-write DML rewrite (PG 15's ExecMerge; UPDATE and
    * DELETE are the MERGE of the table with itself, GP's SplitUpdate the
    * update that re-places its row). `target` is the table at `to.path`;
    * `whens` run in order and the first clause whose guard holds takes
    * the row, as one CASE chain. The join follows from the clauses:
    *  - no source: one scan plus a filter or a projection;
    *  - only an unguarded DELETE: a left-anti join;
    *  - matched clauses only: a left join;
    *  - any NOT MATCHED clause: a full outer join.
    * A target row that two source rows match would come out twice, so
    * the joins compare their target-side rows with the target's row
    * count, both observed on the rewrite, and refuse before the swap
    * (PG: "cannot affect row a second time"). The result replaces the
    * table through [[overwrite]] with its storage.
    * Returns the affected-row count, counted by `observe()` metrics on
    * the rewrite's own dataflow, not by a second pass. */
  def merge(
      spark: SparkSession, to: Storage, target: DataFrame,
      source: Option[Source], whens: Seq[When]): Long = {
    val matched = whens.collect { case m: Matched => m }
    val inserts = whens.collect { case n: NotMatched => n }
    require(matched.nonEmpty || inserts.nonEmpty, "MERGE without WHEN clauses")
    require(source.nonEmpty || inserts.isEmpty,
      "WHEN NOT MATCHED needs a source relation")
    val obs = org.apache.spark.sql.Observation()
    // a join's target rows, observed on the rewrite. AQE drops an empty
    // target side from a full outer join, and its metric with it
    val all = org.apache.spark.sql.Observation()
    val counted = source.fold(target)(_ =>
      target.observe(all, count(lit(1)).as("n")))
    def nTarget = all.get.getOrElse("n", 0L).asInstanceOf[Long]
    source match {
      case Some(src) if whens == Seq(Matched(None, Delete)) =>
        // target rows with any match drop; counting both sides of the
        // join gives the deleted rows without a second pass
        val kept = counted.join(src.rows, src.on, "left_anti")
          .observe(obs, count(lit(1)).as("n"))
        overwrite(spark, to, kept)
        nTarget - obs.get("n").asInstanceOf[Long]
      case _ =>
        val tgt = if (inserts.isEmpty) counted
          else counted.withColumn(TPresent, lit(true))
        val rows = source.fold(tgt) { src =>
          tgt.join(src.rows.withColumn(SPresent, lit(true)), src.on,
            if (inserts.isEmpty) "left" else "full_outer")
        }
        def present(c: String) = coalesce(col(c), lit(false))
        // the row classes each clause kind can take (None: every row)
        val matchedRow = source.map(_ =>
          if (inserts.isEmpty) present(SPresent)
          else present(TPresent) && present(SPresent))
        val sourceOnly = present(SPresent) && !present(TPresent)
        def hit(scope: Option[Column], guard: Option[Column]): Column =
          (scope ++ guard.map(g => coalesce(g, lit(false))))
            .reduceOption(_ && _).getOrElse(lit(true))
        val mHits = matched.map(m => hit(matchedRow, m.guard))
        val iHits = inserts.map(n => hit(Some(sourceOnly), n.guard))
        def firstOf(arms: Seq[(Column, Column)], otherwise: Column): Column =
          arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
            case (acc, (c, v)) => acc.when(c, v) }.otherwise(otherwise)
        // dropped: the first matched clause that holds is a DELETE, or a
        // source-only row that no NOT MATCHED clause inserts
        val deleted =
          if (!matched.exists(_.action == Delete)) None
          else if (matched.forall(_.action == Delete))
            Some(mHits.reduce(_ || _))
          else Some(firstOf(
            mHits.zip(matched).map { case (h, m) => h -> lit(m.action == Delete) },
            lit(false)))
        val unInserted =
          if (inserts.isEmpty) None else Some(sourceOnly && !iHits.reduce(_ || _))
        val checked = source.map(_ =>
          (if (inserts.isEmpty) count(lit(1)) else count(col(TPresent)))
            .as("n_rows")).toSeq
        val observed = rows.observe(obs,
          coalesce(sum(when((mHits ++ iHits).reduce(_ || _), 1L)
            .otherwise(0L)), lit(0L)).as("n_hit"), checked: _*)
        val survivors = (deleted ++ unInserted).reduceOption(_ || _)
          .fold(observed)(d => observed.filter(!d))
        // a DELETE arm never shows in a surviving row's values, and the
        // arms after the last one that sets `c` all keep `c`
        val next = survivors.select(target.schema.fields.toSeq.map { f =>
          val lc = f.name.toLowerCase
          val arms = mHits.zip(matched).collect {
            case (h, Matched(_, Update(set))) => h -> set.get(lc)
          } ++ iHits.zip(inserts).map { case (h, n) =>
            h -> Some(n.insert.values.getOrElse(lc, lit(null)))
          }
          val setting = arms.take(arms.lastIndexWhere(_._2.nonEmpty) + 1)
          val old = tgt(f.name)
          if (setting.isEmpty) old
          else firstOf(setting.map { case (h, v) => h -> v.getOrElse(old) },
            old).cast(f.dataType).as(f.name)
        }: _*)
        overwrite(spark, to, next, validate = () =>
          source.foreach { _ =>
            val nRows = obs.get("n_rows").asInstanceOf[Long]
            require(nRows == nTarget,
              s"a target row matched multiple source rows ($nTarget target rows," +
                s" $nRows join results) and a command cannot affect a row" +
                " a second time; dedup the source on the join keys")
          })
        obs.get("n_hit").asInstanceOf[Long]
    }
  }
}
