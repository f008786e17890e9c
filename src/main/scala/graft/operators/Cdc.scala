package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC-style change capture over [[Dml]]'s copy-on-write writes — the
  * documented migration path for GP row triggers (reference:
  * src/backend/executor/nodeRowTrigger.c:450, commands/trigger.c).
  *
  * A Spark engine has no per-row trigger hook, and firing arbitrary
  * procedures per modified row inside a distributed rewrite would
  * serialize the write path. The lakehouse-native equivalent is a
  * post-write delta view: enable capture on a table, run the DML, then
  * read OLD/NEW row pairs — PG's statement-level transition tables
  * (CREATE TRIGGER ... REFERENCING OLD TABLE / NEW TABLE,
  * trigger.c AfterTriggerSaveEvent) rather than per-row procedure
  * calls. Audit-logging and downstream-sync triggers — the common GP
  * trigger uses — consume [[changes]] instead.
  *
  * Scale posture: capture is O(metadata). The COW swap in
  * [[Dml.overwrite]] already produces a complete pre-image directory;
  * enabling CDC just RENAMES it aside instead of deleting it — zero
  * rows copied, zero extra write amplification at any table size. The
  * delta view is one full-outer join on the table's unique key — the
  * same shuffle shape the MERGE that produced the write already paid.
  * Registration is session-local (like a temp trigger); each new write
  * replaces the captured pre-image, so disk holds at most one extra
  * table version while enabled — exactly the retention a
  * post-statement trigger needs.
  *
  * Scope: capture hooks the table-level COW swap in [[Dml.overwrite]],
  * which every copy-on-write DML statement goes through. Statements
  * that rewrite storage without it — TRUNCATE and ALTER TABLE ...
  * PARTITION, which replace or delete directories directly — do not
  * capture.
  */
object Cdc {

  private val registry =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def norm(path: String): String = path.stripSuffix("/")

  /** Pre-image directory for a CDC-enabled table. */
  def preImagePath(path: String): String = norm(path) + ".cdc-prev"

  /** Enable capture on `path` (≡ CREATE TRIGGER ... AFTER INSERT OR
    * UPDATE OR DELETE ... REFERENCING OLD/NEW TABLE): the next
    * [[Dml]] write retains its pre-image for [[changes]]. */
  def enable(path: String): Unit = registry.add(norm(path))

  /** Disable capture and drop any retained pre-image (≡ DROP TRIGGER). */
  def disable(spark: SparkSession, path: String): Unit = {
    registry.remove(norm(path))
    val prev = new Path(preImagePath(path))
    prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(prev, true)
  }

  def isEnabled(path: String): Boolean = registry.contains(norm(path))

  /** [[Dml]]-side hook: claim the COW swap's displaced old directory as
    * the pre-image (one rename). Returns true iff claimed — the caller
    * deletes the directory otherwise. */
  private[operators] def retainPreImage(
      spark: SparkSession, path: String, oldDir: String): Boolean = {
    if (!isEnabled(path)) return false
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(oldDir))) return false // fresh write: no old
    val prev = new Path(preImagePath(path))
    fs.delete(prev, true) // previous statement's capture
    fs.rename(new Path(oldDir), prev)
  }

  /** Delta view of the LAST captured write: one row per inserted,
    * deleted, or value-changed row, keyed by `keys` (the table's unique
    * key — with duplicate keys the old/new pairing is ambiguous, as in
    * PG transition tables without a key).
    *
    * Schema: keys..., op ('insert'|'update'|'delete'), old_row, new_row
    * (full-row structs; null on the absent side of insert/delete).
    * Unchanged rows are filtered with a null-safe struct compare. */
  def changes(
      spark: SparkSession, path: String, keys: Seq[String]): DataFrame = {
    val prevDir = preImagePath(path)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(prevDir)),
      s"no captured pre-image for $path — Cdc.enable() it, then run a " +
        "Dml write; changes() reads the delta of that write")
    val cur = spark.read.parquet(norm(path))
    val prev = spark.read.parquet(prevDir)
    val cols = cur.columns.toSeq
    val o = prev.select(
      (keys.map(col) :+ struct(cols.map(col): _*).as("old_row")): _*)
    val n = cur.select(
      (keys.map(col) :+ struct(cols.map(col): _*).as("new_row")): _*)
    o.join(n, keys, "full_outer")
      .filter(col("old_row").isNull || col("new_row").isNull ||
        !(col("old_row") <=> col("new_row")))
      .select((keys.map(col) :+
        when(col("old_row").isNull, lit("insert"))
          .when(col("new_row").isNull, lit("delete"))
          .otherwise(lit("update")).as("op") :+
        col("old_row") :+ col("new_row")): _*)
  }
}
