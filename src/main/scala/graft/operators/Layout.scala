package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical data layout maintenance (reference: commands/cluster.c —
  * CLUSTER reorders a table to match an index; GP's
  * `ALTER TABLE ... SET WITH (REORGANIZE=true)`). On Parquet the
  * payoff is file skipping: scans prune whole files by footer min/max,
  * so a table PHYSICALLY ordered by the filter columns turns a
  * full-table scan into a few-file read. Single-column order helps one
  * predicate; Z-ORDER (Morton interleave of the key columns' bits)
  * keeps every participating column's per-file range narrow at once,
  * which is what multi-dimensional slice-and-dice dashboards need.
  *
  * The rewrite is one range-partitioned sort by the Z-value — the same
  * shuffle a global ORDER BY costs — and the Z-value itself is pure
  * codegen'd integer arithmetic (scale each key to `bits` bits with
  * min/max from a one-pass stats scan, then interleave); no UDFs, no
  * driver data. At 100 TB you CLUSTER partition-by-partition, exactly
  * like VACUUM FULL compaction (Dml.compact). GpSqlDialect's CLUSTER
  * writes [[zorder]]'s rows through the copy-on-write swap. */
object Layout {

  /** Morton/Z value of `cols`, each min/max-scaled to `bits` bits and
    * bit-interleaved. `stats` are (min, max) per column, from any
    * stats pass (one agg scan; ANALYZE already computes them). */
  def zValue(
      cols: Seq[Column], stats: Seq[(Double, Double)],
      bits: Int = 16): Column = {
    require(cols.size == stats.size && cols.nonEmpty)
    require(cols.size * bits <= 63, "z-value must fit a signed long")
    val maxCode = (1 << bits) - 1
    val scaled = cols.zip(stats).map { case (c, (mn, mx)) =>
      val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
      least(lit(maxCode), greatest(lit(0),
        floor((c.cast("double") - mn) / span * maxCode).cast("int")))
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      scaled.zipWithIndex.foldLeft(acc) { case (a, (s, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(s, i).bitwiseAND(lit(1)).cast("long"),
          i * cols.size + j))
      }
    }
  }

  /** Order `df` by the Z-value of `colNames` (computing the min/max
    * stats in one pass) — ready to write with narrow per-file ranges
    * on every key column. */
  def zorder(df: DataFrame, colNames: Seq[String], bits: Int = 16)
      : DataFrame = {
    val aggs = colNames.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val stats = colNames.map(c =>
      (row.getAs[Double](s"mn_$c"), row.getAs[Double](s"mx_$c")))
    val z = zValue(colNames.map(col), stats, bits)
    df.withColumn("__z", z)
      .repartitionByRange(math.max(df.rdd.getNumPartitions, 1), col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
