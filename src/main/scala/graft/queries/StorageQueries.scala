package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.aggregates.GeoMean
import graft.operators.Dml
import graft.sources.{ExternalTables, ForeignTables}
import graft.sql.{GpMapReduce, GpSqlDialect}

/** SURVEY §2.1 external tables / COPY, §3 DDL dialect, §2.11 UDx surface. */
object StorageQueries {

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$name"

  /** An unpartitioned Parquet fixture directory that DML rewrites with
    * Spark's default codec. */
  private def fixture(path: String) = Dml.Storage(path, Nil, "snappy")

  /** MERGE of `source` (the target's columns) into the table at `path`
    * on `key`: matched rows take the source row, the others insert. */
  private def upsertOn(
      s: org.apache.spark.sql.SparkSession, path: String,
      source: org.apache.spark.sql.DataFrame, key: String): Unit = {
    val row = source.columns.map(c => c -> col(s"s_$c")).toMap
    Dml.merge(s, fixture(path), s.read.parquet(path),
      Some(Dml.Source(source.toDF(source.columns.map("s_" + _): _*),
        col(key) === col(s"s_$key"))),
      Seq(Dml.Matched(None, Dml.Update(row)),
        Dml.NotMatched(None, Dml.Insert(row))))
  }

  /** Shared fixture: orders partitioned by year (q_partitioned_scan, q_dpp). */
  private val writeOrdersByYear: (org.apache.spark.sql.SparkSession, String) => Unit =
    (s, dir) => {
      import org.apache.spark.sql.functions.year
      Tables.T(s, dir).orders
        .withColumn("o_year", year(org.apache.spark.sql.functions.col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(tmp("orders_by_year"))
    }

  val defs: Seq[Q] = Seq(

    // Data-quality audit — the constraint checker a warehouse runs
    // where the reference enforces NOT NULL / PK / FK / CHECK at write
    // time (AssertOp + pg_constraint): each rule is one aggregate or
    // anti-join, unioned into a violations report. Rule scans stay
    // independent so Catalyst prunes each to the columns it audits.
    Q("q_quality_audit", Some(
      """SELECT 'orders_null_cust' AS rule,
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations
        |UNION ALL SELECT 'orders_dup_pk',
        |  (SELECT count(*) FROM (SELECT o_orderkey FROM orders
        |     GROUP BY 1 HAVING count(*) > 1))
        |UNION ALL SELECT 'lineitem_orphan',
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |UNION ALL SELECT 'lineitem_qty_range',
        |  (SELECT count(*) FROM lineitem
        |     WHERE l_quantity < 1 OR l_quantity > 50)
        |UNION ALL SELECT 'orders_status_domain',
        |  (SELECT count(*) FROM orders
        |     WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
        |ORDER BY rule""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val t = Tables.T(s, dir)
      def one(rule: String, n: org.apache.spark.sql.DataFrame) =
        n.select(lit(rule).as("rule"), count(lit(1)).as("violations"))
      one("orders_null_cust", t.orders.filter($"o_custkey".isNull))
        .union(one("orders_dup_pk", t.orders.groupBy($"o_orderkey")
          .agg(count(lit(1)).as("c")).filter($"c" > 1)))
        .union(one("lineitem_orphan", t.lineitem.join(t.orders,
          $"l_orderkey" === $"o_orderkey", "left_anti")))
        .union(one("lineitem_qty_range",
          t.lineitem.filter($"l_quantity" < 1 || $"l_quantity" > 50)))
        .union(one("orders_status_domain",
          t.orders.filter(!$"o_orderstatus".isin("O", "F", "P"))))
        .orderBy("rule")
    },

    // GP DDL dialect → CTAS with distribution + storage options lowered
    // onto repartition + Parquet codec (GpSqlDialect).
    Q("q_ddl_ctas", Some(
      s"""SELECT o_orderstatus, count(*) AS n, ${Q.oSum("o_totalprice")} AS total
         |FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        val ddl = GpSqlDialect.parse(
          """CREATE TABLE orders_98
            |WITH (appendonly=true, orientation=column, compresstype=zlib)
            |DISTRIBUTED BY (o_custkey)""".stripMargin)
        assert(ddl.distributionCols == Seq("o_custkey"))
        val sel = Tables.T(s, dir).orders.filter($"o_orderdate" >= "1998-01-01")
        GpSqlDialect.readTable(s, GpSqlDialect.createTableAs(
            s, "orders_98", ddl, sel, tmp("ctas_orders98")))
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), Q.dsum($"o_totalprice").as("total"))
          .orderBy("o_orderstatus")
    },

    // External CSV round-trip with COPY reject-limit semantics
    // (writable external table → external scan → aggregate).
    Q("q_external_csv", Some(
      s"""SELECT l_returnflag, count(*) AS n, ${Q.oSum("l_quantity")} AS qty
         |FROM lineitem WHERE l_orderkey <= 1000
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        ExternalTables.writeCsv(
          Tables.T(s, dir).lineitem.filter($"l_orderkey" <= 1000)
            .select("l_orderkey", "l_returnflag", "l_quantity"),
          tmp("ext_lineitem_csv"))
      }) {
      (s, dir) =>
        import s.implicits._
        val path = tmp("ext_lineitem_csv")
        val schema = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_returnflag", StringType),
          StructField("l_quantity", DoubleType)))
        ExternalTables.readCsvWithRejectLimit(s, path, schema, rejectLimit = 0)
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"), Q.dsum($"l_quantity").as("qty"))
          .orderBy("l_returnflag")
    },

    // Hive-style partitioned table (GP range partitioning by year,
    // SURVEY §1.3, cdbpartition.c) → static partition pruning at the scan
    // (PruneFileSourcePartitions ≡ GP's static PartitionSelector).
    Q("q_partitioned_scan", Some(
      s"""SELECT o_orderstatus, count(*) AS n, ${Q.oSum("o_totalprice")} AS total
         |FROM orders WHERE year(o_orderdate) = 1998
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      prepare = Some(writeOrdersByYear)) {
      (s, dir) =>
        import s.implicits._
        s.read.parquet(tmp("orders_by_year"))
          .filter($"o_year" === 1998) // pruned to one partition directory
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), Q.dsum($"o_totalprice").as("total"))
          .orderBy("o_orderstatus")
    },

    // Dynamic partition pruning (GP: PartitionSelector + Sequence,
    // nodePartitionSelector.c:125; Spark: DPP InSubquery filter): the
    // fact's scanned partitions are decided by the filtered dim at runtime.
    Q("q_dpp", Some(
      s"""SELECT count(*) AS n, ${Q.oSum("o_totalprice")} AS total
         |FROM orders WHERE year(o_orderdate) >= 2000""".stripMargin),
      prepare = Some(writeOrdersByYear)) {
      (s, dir) =>
        import s.implicits._
        val fact = s.read.parquet(tmp("orders_by_year"))
        val dim = Tables.T(s, dir).orders
          .select(year($"o_orderdate").as("d_year")).distinct()
          .withColumn("is_recent", $"d_year" >= 2000)
        fact.join(dim.filter($"is_recent"), fact("o_year") === dim("d_year"))
          .agg(count(lit(1)).as("n"), Q.dsum($"o_totalprice").as("total"))
    },

    // Salted skew join ≡ plain join on a heavily-skewed key (3 distinct
    // values over 600k rows) — SkewJoin spreads each hot key over 8 salts.
    Q("q_skew_join", Some(
      s"""SELECT flag_label, count(*) AS n, ${Q.oSum("l_quantity")} AS qty
         |FROM lineitem JOIN (
         |  SELECT DISTINCT l_returnflag AS flag, 'flag=' || l_returnflag AS flag_label
         |  FROM lineitem) d ON lineitem.l_returnflag = d.flag
         |GROUP BY flag_label ORDER BY flag_label""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val li = Tables.T(s, dir).lineitem
      val dim = li.select($"l_returnflag".as("flag")).distinct()
        .withColumn("flag_label", concat(lit("flag="), $"flag"))
      graft.operators.SkewJoin
        .saltedInnerJoin(li.withColumnRenamed("l_returnflag", "flag"), dim,
          "flag", salts = 8)
        .groupBy($"flag_label")
        .agg(count(lit(1)).as("n"), Q.dsum($"l_quantity").as("qty"))
        .orderBy("flag_label")
    },

    // gp_toolkit skew inspection (gp_toolkit.gp_skew_coefficients /
    // gp_skew_idle_fractions — the admin views GP DBAs use to vet a
    // DISTRIBUTED BY choice): per-"segment" row counts from the
    // deterministic md5 bucket of the distribution key (32 segments —
    // the hash-distribution analogue), then the coefficient of
    // variation (skccoeff = 100·σ/μ) and the idle fraction
    // (siffraction = 1 − μ/max, the fraction of the cluster idle while
    // the hottest segment finishes). Variance is computed from EXACT
    // integer count sums ((n·Σc² − (Σc)²)/(n(n−1))) so sqrt sees the
    // identical double in both engines — no Welford/naive divergence.
    // One count-shuffle per audited table; the per-seg relation is
    // 32 rows at any data scale.
    Q("q_gp_skew", Some {
      def block(rel: String, key: String) = {
        val seg = s"CAST(('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 8))" +
          " AS BIGINT) % 32"
        s"""SELECT '$rel' AS relname, CAST(nseg AS BIGINT) AS nseg,
           |  round(100.0 * sqrt(CAST(nseg * s2 - s1 * s1 AS DOUBLE)
           |      / CAST(nseg * (nseg - 1) AS DOUBLE))
           |    / (CAST(s1 AS DOUBLE) / CAST(nseg AS DOUBLE)), 6)
           |    AS skccoeff,
           |  round(1.0 - (CAST(s1 AS DOUBLE) / CAST(nseg AS DOUBLE))
           |    / CAST(mx AS DOUBLE), 6) AS siffraction
           |FROM (SELECT count(*) AS nseg, sum(c) AS s1,
           |    sum(c * c) AS s2, max(c) AS mx
           |  FROM (SELECT seg, count(*) AS c
           |    FROM (SELECT $seg AS seg FROM $rel) GROUP BY seg))""".stripMargin
      }
      Seq(block("orders", "o_orderkey"), block("lineitem", "l_suppkey"),
        block("events", "user_id")).mkString("\nUNION ALL\n") +
        "\nORDER BY relname"
    }) { (s, dir) =>
      import s.implicits._
      def skewOf(df: org.apache.spark.sql.DataFrame, rel: String,
          key: String): org.apache.spark.sql.DataFrame = {
        val seg = conv(substring(md5(col(key).cast("string")), 1, 8),
          16, 10).cast("long") % 32
        df.select(seg.as("seg")).groupBy("seg")
          .agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("nseg"), sum($"c").as("s1"),
            sum($"c" * $"c").as("s2"), max($"c").as("mx"))
          .select(lit(rel).as("relname"), $"nseg",
            round(lit(100.0) *
              sqrt(($"nseg" * $"s2" - $"s1" * $"s1").cast("double")
                / ($"nseg" * ($"nseg" - 1)).cast("double"))
              / ($"s1".cast("double") / $"nseg".cast("double")), 6)
              .as("skccoeff"),
            round(lit(1.0) - ($"s1".cast("double") / $"nseg".cast("double"))
              / $"mx".cast("double"), 6).as("siffraction"))
      }
      val t = Tables.T(s, dir)
      skewOf(t.orders, "orders", "o_orderkey")
        .unionAll(skewOf(t.lineitem, "lineitem", "l_suppkey"))
        .unionAll(skewOf(t.events, "events", "user_id"))
        .orderBy("relname")
    },

    // pg_stats / ANALYZE statistics surface (commands/analyze.c
    // compute_scalar_stats → pg_statistic STATISTIC_KIND_MCV +
    // STATISTIC_KIND_HISTOGRAM; the dialect's ANALYZE covers
    // count/NDV/min/max and feeds the planner — this is the MCV +
    // equi-depth-histogram half, oracle-exact): per audited column,
    // null_frac, exact n_distinct, the top-3 most-common-vals rendered
    // pg-style '{a,b,c}' (ties to the smaller value), their
    // frequencies, and quartile histogram bounds for the numeric
    // column. One value-count aggregate per column; MCV/total
    // relations are catalog-scale.
    Q("q_sql_stats", Some {
      def block(tbl: String, cn: String, num: Boolean) = {
        val hist =
          if (!num) (0 to 4).map(i =>
            s"CAST(NULL AS DOUBLE) AS h$i").mkString(", ")
          else (0 to 4).map(i =>
            s"round(qs[${i + 1}], 4) AS h$i").mkString(", ")
        val histSrc =
          if (!num) "(SELECT 1 AS __d)"
          else s"(SELECT quantile_cont($cn, [0.0, 0.25, 0.5, 0.75, 1.0])" +
            s" AS qs FROM $tbl)"
        s"""SELECT '$tbl' AS tablename, '$cn' AS attname,
           |  CAST(n AS BIGINT) AS n_rows,
           |  round(CAST(nulls AS DOUBLE) / CAST(n AS DOUBLE), 6)
           |    AS null_frac,
           |  CAST(ndv AS BIGINT) AS n_distinct,
           |  '{' || mcv || '}' AS mcv,
           |  round(CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS f1,
           |  round(CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS f2,
           |  round(CAST(c3 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS f3,
           |  $hist
           |FROM (SELECT count(*) AS n,
           |    count(*) FILTER (WHERE $cn IS NULL) AS nulls,
           |    count(DISTINCT $cn) AS ndv FROM $tbl)
           |CROSS JOIN (SELECT
           |    string_agg(v, ',' ORDER BY c DESC, v) AS mcv,
           |    max(CASE WHEN rk = 1 THEN c END) AS c1,
           |    max(CASE WHEN rk = 2 THEN c END) AS c2,
           |    max(CASE WHEN rk = 3 THEN c END) AS c3
           |  FROM (SELECT v, c, row_number() OVER (ORDER BY c DESC, v)
           |      AS rk
           |    FROM (SELECT CAST($cn AS VARCHAR) AS v, count(*) AS c
           |      FROM $tbl WHERE $cn IS NOT NULL GROUP BY 1))
           |  WHERE rk <= 3)
           |CROSS JOIN $histSrc""".stripMargin
      }
      Seq(block("orders", "o_orderstatus", num = false),
        block("orders", "o_orderpriority", num = false),
        block("lineitem", "l_returnflag", num = false),
        block("lineitem", "l_quantity", num = true))
        .mkString("\nUNION ALL\n") + "\nORDER BY tablename, attname"
    }) { (s, dir) =>
      import s.implicits._
      def stats(df: org.apache.spark.sql.DataFrame, tbl: String,
          cn: String, num: Boolean): org.apache.spark.sql.DataFrame = {
        val cnts = df.groupBy(col(cn).cast("string").as("v"))
          .agg(count(lit(1)).as("c"))
        val tot = cnts.agg(sum($"c").as("n"),
          coalesce(sum(when($"v".isNull, $"c")), lit(0L)).as("nulls"),
          count(when($"v".isNotNull, lit(1))).as("ndv"))
        // top-3 MCVs: TakeOrdered → sort_array on (−c, v) pins the
        // render order without a second shuffle
        val top = cnts.filter($"v".isNotNull)
          .orderBy($"c".desc, $"v").limit(3)
          .agg(sort_array(collect_list(
            struct((-$"c").as("nc"), $"v".as("v")))).as("t"))
        val hist =
          if (num) df.agg(percentile(col(cn),
            array(lit(0.0), lit(0.25), lit(0.5), lit(0.75), lit(1.0)))
            .as("qs"))
          else df.sparkSession.range(1).select(lit(1).as("__d"))
        def f(i: Int) = round(
          when(size($"t") >= i, -element_at($"t", i)("nc"))
            .cast("double") / $"n".cast("double"), 6).as(s"f$i")
        def h(i: Int) =
          (if (num) round(element_at($"qs", i + 1), 4)
          else lit(null).cast("double")).as(s"h$i")
        tot.crossJoin(top).crossJoin(hist).select(
          lit(tbl).as("tablename"), lit(cn).as("attname"),
          $"n".as("n_rows"),
          round($"nulls".cast("double") / $"n".cast("double"), 6)
            .as("null_frac"),
          $"ndv".as("n_distinct"),
          concat(lit("{"),
            array_join(transform($"t", x => x("v")), ","),
            lit("}")).as("mcv"),
          f(1), f(2), f(3), h(0), h(1), h(2), h(3), h(4))
      }
      val t = Tables.T(s, dir)
      stats(t.orders, "orders", "o_orderstatus", num = false)
        .unionAll(stats(t.orders, "orders", "o_orderpriority", num = false))
        .unionAll(stats(t.lineitem, "lineitem", "l_returnflag", num = false))
        .unionAll(stats(t.lineitem, "lineitem", "l_quantity", num = true))
        .orderBy("tablename", "attname")
    },

    // ModifyTable / INSERT INTO (nodeModifyTable.c:1771): write a table,
    // append a second batch, scan the union back.
    Q("q_insert_append", Some(
      s"""SELECT o_orderstatus, count(*) AS n
         |FROM (SELECT * FROM orders WHERE o_orderkey <= 1000
         |      UNION ALL
         |      SELECT * FROM orders
         |      WHERE o_orderkey > 1000 AND o_orderkey <= 2000) t
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        val o = Tables.T(s, dir).orders
        val path = tmp("insert_orders")
        o.filter($"o_orderkey" <= 1000)
          .write.mode("overwrite").parquet(path)
        o.filter($"o_orderkey" > 1000 && $"o_orderkey" <= 2000)
          .write.mode("append").parquet(path)
        s.read.parquet(path)
          .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
    },

    // Bucketed co-located join (GP: both sides DISTRIBUTED BY the join key
    // → no Motion, SURVEY §2.8): bucketBy the join key at write time, the
    // sort-merge join then reads both sides shuffle-free (PlanSpec
    // asserts no Exchange).
    Q("q_bucketed_join", Some(
      s"""SELECT o.o_orderpriority, count(*) AS n,
         |  ${Q.oSum("l.l_extendedprice")} AS revenue
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderkey <= 5000
         |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        val t = Tables.T(s, dir)
        t.lineitem.filter($"l_orderkey" <= 5000)
          .write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", tmp("bkt_lineitem"))
          .saveAsTable("graft_bkt_lineitem")
        t.orders.filter($"o_orderkey" <= 5000)
          .write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", tmp("bkt_orders"))
          .saveAsTable("graft_bkt_orders")
      }) {
      (s, dir) =>
        import s.implicits._
        s.table("graft_bkt_lineitem")
          .join(s.table("graft_bkt_orders"),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), Q.dsum($"l_extendedprice").as("revenue"))
          .orderBy("o_orderpriority")
    },

    // DELETE — copy-on-write rewrite (ModifyTable delete path).
    Q("q_dml_delete", Some(
      s"""SELECT o_orderstatus, count(*) AS n, ${Q.oSum("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey <= 3000 AND NOT (o_orderstatus = 'F')
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).orders.filter($"o_orderkey" <= 3000)
          .write.mode("overwrite").parquet(tmp("dml_delete_orders"))
      }) {
      (s, dir) =>
        import s.implicits._
        val path = tmp("dml_delete_orders")
        Dml.merge(s, fixture(path), s.read.parquet(path), None,
          Seq(Dml.Matched(Some(col("o_orderstatus") === "F"), Dml.Delete)))
        s.read.parquet(path)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), Q.dsum($"o_totalprice").as("total"))
          .orderBy("o_orderstatus")
    },

    // UPDATE — copy-on-write rewrite with per-column CASE.
    Q("q_dml_update", Some(
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${Q.oSum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1 ELSE o_totalprice END")}
         |    AS total
         |FROM orders WHERE o_orderkey <= 3000
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).orders.filter($"o_orderkey" <= 3000)
          .write.mode("overwrite").parquet(tmp("dml_update_orders"))
      }) {
      (s, dir) =>
        import s.implicits._
        val path = tmp("dml_update_orders")
        Dml.merge(s, fixture(path), s.read.parquet(path), None,
          Seq(Dml.Matched(Some(col("o_orderstatus") === "O"),
            Dml.Update(Map("o_totalprice" -> (col("o_totalprice") * 1.1))))))
        s.read.parquet(path)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), Q.dsum($"o_totalprice").as("total"))
          .orderBy("o_orderstatus")
    },

    // UPDATE ... FROM (PG correlated update, gram.y UpdateStmt
    // from_clause): BUILDING-segment customers get a 10% discount on
    // their orders — one left join, matched rows take the assignment.
    Q("q_dml_update_from", Some(
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${Q.oSum("CASE WHEN o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') THEN o_totalprice * 0.9 ELSE o_totalprice END")}
         |    AS total
         |FROM orders WHERE o_orderkey <= 3000
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).orders.filter($"o_orderkey" <= 3000)
          .write.mode("overwrite").parquet(tmp("dml_updfrom_orders"))
      }) { (s, dir) =>
      import s.implicits._
      val path = tmp("dml_updfrom_orders")
      val building = Tables.T(s, dir).customer
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey")
      Dml.merge(s, fixture(path), s.read.parquet(path),
        Some(Dml.Source(building, col("o_custkey") === col("c_custkey"))),
        Seq(Dml.Matched(None,
          Dml.Update(Map("o_totalprice" -> (col("o_totalprice") * 0.9))))))
      s.read.parquet(path)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Q.dsum($"o_totalprice").as("total"))
        .orderBy("o_orderstatus")
    },

    // MERGE (upsert): keys 1501..3000 overwrite with bumped price, keys
    // 3001..4500 insert; 1..1500 untouched.
    Q("q_dml_merge", Some(
      s"""SELECT count(*) AS n, ${Q.oSum("p")} AS total FROM (
         |  SELECT o_totalprice AS p FROM orders WHERE o_orderkey <= 1500
         |  UNION ALL
         |  SELECT o_totalprice + 1000 FROM orders
         |  WHERE o_orderkey > 1500 AND o_orderkey <= 4500) t""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).orders.filter($"o_orderkey" <= 3000)
          .write.mode("overwrite").parquet(tmp("dml_merge_orders"))
      }) {
      (s, dir) =>
        import s.implicits._
        val path = tmp("dml_merge_orders")
        val o = Tables.T(s, dir).orders
        val source = o.filter($"o_orderkey" > 1500 && $"o_orderkey" <= 4500)
          .withColumn("o_totalprice", $"o_totalprice" + 1000)
        upsertOn(s, path, source, "o_orderkey")
        s.read.parquet(path)
          .agg(count(lit(1)).as("n"), Q.dsum($"o_totalprice").as("total"))
    },

    // CDC change capture (operators/Cdc) — the documented migration path
    // for row triggers (nodeRowTrigger.c:450, loudly rejected as DDL):
    // enable capture, run one MERGE, read the OLD/NEW delta view — PG's
    // statement-level transition tables. Keys 1001..2000 update (price
    // +1000), 2001..2500 insert; the oracle reconstructs exactly that
    // delta from the source table.
    Q("q_dml_cdc", Some(
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey > 2000 THEN 'insert' ELSE 'update' END AS op,
        |  CASE WHEN o_orderkey <= 2000 THEN o_totalprice END AS old_price,
        |  o_totalprice + 1000 AS new_price
        |FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2500
        |ORDER BY o_orderkey""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).orders.filter($"o_orderkey" <= 2000)
          .write.mode("overwrite").parquet(tmp("dml_cdc_orders"))
      }) { (s, dir) =>
      import s.implicits._
      val path = tmp("dml_cdc_orders")
      graft.operators.Cdc.enable(path)
      val source = Tables.T(s, dir).orders
        .filter($"o_orderkey" > 1000 && $"o_orderkey" <= 2500)
        .withColumn("o_totalprice", $"o_totalprice" + 1000)
      upsertOn(s, path, source, "o_orderkey")
      graft.operators.Cdc.changes(s, path, Seq("o_orderkey"))
        .select($"o_orderkey", $"op",
          $"old_row.o_totalprice".as("old_price"),
          $"new_row.o_totalprice".as("new_price"))
        .orderBy("o_orderkey")
    },

    // BEFORE ROW triggers (executor/nodeRowTrigger.c:450,
    // commands/trigger.c; r8): the NEW-assignment + RETURN-NULL-skip
    // plpgsql trigger body is a projection + filter, and a BEFORE ROW
    // trigger IS that projection applied to the DML source relation —
    // set-based, one codegen'd stage, zero per-row calls. INSERT fires
    // on the aligned tuples; UPDATE composes the trigger over the SET
    // clause in text space (the rewritten UPDATE stays one pass); a
    // vetoing trigger (RETURN NULL) drops the row / skips the update.
    Q("q_dml_trigger", Some(
      """WITH base AS (SELECT c_custkey AS id, c_mktsegment AS seg,
        |    (c_custkey % 7) - 1 AS qty
        |  FROM customer WHERE c_custkey <= 200),
        |ins AS (SELECT id, lower(seg) AS seg, qty, qty * 100 AS total
        |  FROM base WHERE qty > 0),
        |upd AS (SELECT id, seg,
        |    CASE WHEN id <= 50 THEN qty + 1 ELSE qty END AS qty,
        |    CASE WHEN id <= 50 THEN (qty + 1) * 100 ELSE total END AS total
        |  FROM ins)
        |SELECT CAST(id AS BIGINT) AS id, seg, CAST(qty AS BIGINT) AS qty,
        |  CAST(total AS BIGINT) AS total
        |FROM upd ORDER BY id""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("dml_trigger")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS trig_orders")
      run("""CREATE TABLE trig_orders (id bigint, seg text, qty bigint,
            |  total bigint) DISTRIBUTED BY (id)""".stripMargin)
      run("""CREATE OR REPLACE FUNCTION trig_ord() RETURNS trigger AS $$
            |BEGIN
            |  IF NEW.qty <= 0 THEN RETURN NULL; END IF;
            |  NEW.seg := lower(NEW.seg);
            |  NEW.total := NEW.qty * 100;
            |  RETURN NEW;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE TRIGGER t_ord BEFORE INSERT OR UPDATE ON trig_orders
            |FOR EACH ROW EXECUTE FUNCTION trig_ord()""".stripMargin)
      run("""INSERT INTO trig_orders
            |SELECT c_custkey, c_mktsegment, c_custkey % 7 - 1, 0
            |FROM customer WHERE c_custkey <= 200""".stripMargin)
      run("UPDATE trig_orders SET qty = qty + 1 WHERE id <= 50")
      run("SELECT id, seg, qty, total FROM trig_orders ORDER BY id")
    },

    // BEFORE UPDATE ROW trigger with OLD.* references
    // (nodeRowTrigger.c:450 binds the pre-image tuple; trigger.c fires
    // per row): the body's OLD.col binds to the pre-SET value — the
    // composed UPDATE evaluates assignments against the scanned (old)
    // relation, so the whole audit-delta/veto cascade stays ONE
    // set-based COW pass, no per-row interpreter. The veto
    // (IF NEW.qty < OLD.qty THEN RETURN NULL) ANDs into the update
    // predicate; delta := NEW.qty - OLD.qty captures the post-SET NEW.
    Q("q_dml_trigger_old", Some(
      """WITH base AS (SELECT c_custkey AS id, (c_custkey % 7) AS qty,
        |    CAST(0 AS BIGINT) AS delta
        |  FROM customer WHERE c_custkey <= 200),
        |-- UPDATE qty-2 on id<=100: NEW.qty < OLD.qty vetoes every row;
        |-- UPDATE qty+2 on id>100: applies, delta := NEW.qty - OLD.qty
        |upd AS (SELECT id,
        |    CASE WHEN id > 100 THEN qty + 2 ELSE qty END AS qty,
        |    CASE WHEN id > 100 THEN 2 ELSE delta END AS delta
        |  FROM base)
        |SELECT CAST(id AS BIGINT) AS id, CAST(qty AS BIGINT) AS qty,
        |  CAST(delta AS BIGINT) AS delta
        |FROM upd ORDER BY id""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("dml_trigger_old")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS trig_audit")
      run("""CREATE TABLE trig_audit (id bigint, qty bigint,
            |  delta bigint) DISTRIBUTED BY (id)""".stripMargin)
      run("""CREATE OR REPLACE FUNCTION trig_aud() RETURNS trigger AS $$
            |BEGIN
            |  IF NEW.qty < OLD.qty THEN RETURN NULL; END IF;
            |  NEW.delta := NEW.qty - OLD.qty;
            |  RETURN NEW;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE TRIGGER t_aud BEFORE UPDATE ON trig_audit
            |FOR EACH ROW EXECUTE FUNCTION trig_aud()""".stripMargin)
      run("""INSERT INTO trig_audit
            |SELECT c_custkey, c_custkey % 7, 0
            |FROM customer WHERE c_custkey <= 200""".stripMargin)
      // exercise BOTH branches: the decreasing update is fully vetoed
      // by the OLD-comparing skip; the increasing one applies and the
      // OLD-referencing assignment records the per-row delta
      run("UPDATE trig_audit SET qty = qty - 2 WHERE id <= 100")
      run("UPDATE trig_audit SET qty = qty + 2 WHERE id > 100")
      run("SELECT id, qty, delta FROM trig_audit ORDER BY id")
    },

    // Trigger WHEN clause (commands/trigger.c TriggerEnabled; r9): PG
    // evaluates WHEN once per row at trigger entry — false means the
    // fn does not fire and the row passes through UNCHANGED (not
    // skipped). Set-based lowering: the INSERT path pins WHEN to a
    // temp boolean and CASEs each assignment; the UPDATE path composes
    // `CASE WHEN w THEN assigned ELSE previous END` in text space —
    // both stay one codegen'd pass.
    Q("q_dml_trigger_when", Some(
      """WITH base AS (SELECT c_custkey AS id, c_mktsegment AS seg,
        |    c_custkey % 7 AS qty
        |  FROM customer WHERE c_custkey <= 200),
        |ins AS (SELECT id, seg, qty,
        |    CASE WHEN qty > 3 THEN upper(seg) ELSE 'x' END AS norm
        |  FROM base),
        |upd AS (SELECT id,
        |    CASE WHEN id <= 100 THEN seg || '!' ELSE seg END AS seg,
        |    qty,
        |    CASE WHEN id <= 100 AND qty > 3 THEN upper(seg || '!')
        |         ELSE norm END AS norm
        |  FROM ins)
        |SELECT CAST(id AS BIGINT) AS id, seg, CAST(qty AS BIGINT) AS qty,
        |  norm
        |FROM upd ORDER BY id""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("dml_trigger_when")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS trig_when")
      run("""CREATE TABLE trig_when (id bigint, seg text, qty bigint,
            |  norm text) DISTRIBUTED BY (id)""".stripMargin)
      run("""CREATE OR REPLACE FUNCTION trig_w() RETURNS trigger AS $$
            |BEGIN
            |  NEW.norm := upper(NEW.seg);
            |  RETURN NEW;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE TRIGGER t_when BEFORE INSERT OR UPDATE ON trig_when
            |FOR EACH ROW WHEN (NEW.qty > 3)
            |EXECUTE FUNCTION trig_w()""".stripMargin)
      run("""INSERT INTO trig_when
            |SELECT c_custkey, c_mktsegment, c_custkey % 7, 'x'
            |FROM customer WHERE c_custkey <= 200""".stripMargin)
      run("UPDATE trig_when SET seg = seg || '!' WHERE id <= 100")
      run("SELECT id, seg, qty, norm FROM trig_when ORDER BY id")
    },

    // Trigger arguments (commands/trigger.c tgargs → plpgsql TG_ARGV;
    // r9 closes the last trigger-family reject): one generic fn body
    // parameterized per ATTACHMENT — TG_ARGV[n] binds to the CREATE
    // TRIGGER argument literals at compose time, so the same fn tags
    // INSERTs 'web'×2 and UPDATEs 'batch'×3, all set-based.
    Q("q_dml_trigger_args", Some(
      """SELECT c_custkey AS id, (c_custkey % 10) * 2 AS v,
        |  'web' AS src
        |FROM customer WHERE c_custkey <= 100
        |UNION ALL
        |SELECT c_custkey + 1000, (c_custkey % 10) * 3, 'batch'
        |FROM customer WHERE c_custkey <= 50
        |ORDER BY id""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("dml_trigger_args")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS trg_args")
      run("CREATE TABLE trg_args (id bigint, v bigint, src text) " +
        "DISTRIBUTED BY (id)")
      run("""CREATE OR REPLACE FUNCTION tag_row() RETURNS trigger AS $$
            |BEGIN
            |  NEW.src := TG_ARGV[0];
            |  NEW.v := NEW.v * CAST(TG_ARGV[1] AS BIGINT);
            |  RETURN NEW;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE TRIGGER t_args BEFORE INSERT ON trg_args
            |FOR EACH ROW EXECUTE FUNCTION tag_row('web', '2')""".stripMargin)
      run("""INSERT INTO trg_args
            |SELECT c_custkey, c_custkey % 10, 'x'
            |FROM customer WHERE c_custkey <= 100""".stripMargin)
      // re-attach the SAME fn with different args for a second wave
      run("DROP TRIGGER t_args ON trg_args")
      run("""CREATE TRIGGER t_args2 BEFORE INSERT ON trg_args
            |FOR EACH ROW EXECUTE FUNCTION tag_row('batch', 3)""".stripMargin)
      run("""INSERT INTO trg_args
            |SELECT c_custkey + 1000, c_custkey % 10, 'x'
            |FROM customer WHERE c_custkey <= 50""".stripMargin)
      run("SELECT id, v, src FROM trg_args ORDER BY id")
    },

    // Statement-level triggers (commands/trigger.c FOR EACH STATEMENT;
    // r9): the audit-log migration shape — a trigger fn whose body is
    // straight-line DML (no NEW/OLD row context) fires ONCE per
    // statement, before or after it. Each body statement executes
    // through the dialect set-based; AFTER fires only on statement
    // success; cascades are depth-guarded. Here an AFTER INSERT OR
    // UPDATE audit snapshots the table count per statement.
    Q("q_dml_trigger_stmt", Some(
      """WITH c1 AS (SELECT count(*) AS n FROM customer
        |    WHERE c_custkey <= 120),
        |c2 AS (SELECT count(*) AS n FROM customer WHERE c_custkey <= 200)
        |SELECT 'snap' AS tag, CAST(n AS BIGINT) AS n FROM (
        |  SELECT n FROM c1 UNION ALL SELECT n FROM c2
        |  UNION ALL SELECT n FROM c2) t
        |ORDER BY n""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("dml_trigger_stmt")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS stmt_tgt")
      run("DROP TABLE IF EXISTS stmt_log")
      run("CREATE TABLE stmt_tgt (id bigint, v bigint) DISTRIBUTED BY (id)")
      run("CREATE TABLE stmt_log (tag text, n bigint) DISTRIBUTED BY (tag)")
      run("""CREATE OR REPLACE FUNCTION audit_snap() RETURNS trigger AS $$
            |BEGIN
            |  INSERT INTO stmt_log SELECT 'snap', count(*) FROM stmt_tgt;
            |  RETURN NULL;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE TRIGGER t_snap AFTER INSERT OR UPDATE ON stmt_tgt
            |FOR EACH STATEMENT EXECUTE FUNCTION audit_snap()""".stripMargin)
      run("""INSERT INTO stmt_tgt
            |SELECT c_custkey, c_custkey % 5 FROM customer
            |WHERE c_custkey <= 120""".stripMargin)
      run("""INSERT INTO stmt_tgt
            |SELECT c_custkey, c_custkey % 5 FROM customer
            |WHERE c_custkey > 120 AND c_custkey <= 200""".stripMargin)
      run("UPDATE stmt_tgt SET v = v + 1 WHERE id <= 10")
      run("SELECT tag, n FROM stmt_log ORDER BY n")
    },

    // Transition tables (trigger.c AfterTriggerSaveEvent; REFERENCING
    // OLD/NEW TABLE on AFTER STATEMENT triggers): the transition
    // relation binds as a DataFrame view over the statement's delta —
    // file-granular for appends (the freshly-written files ARE the NEW
    // TABLE, zero diff work), bag-difference over the zero-copy
    // retained pre-image for COW UPDATE/DELETE. The audit-aggregate
    // body runs set-based once per statement.
    Q("q_dml_trigger_transition", Some(
      """WITH ci AS (SELECT c_custkey AS k FROM customer
        |  WHERE c_custkey <= 120)
        |SELECT tag, CAST(n AS BIGINT) AS n, CAST(sv AS BIGINT) AS sv
        |FROM (
        |  SELECT 'new' AS tag, count(*) AS n, sum(k % 7) AS sv FROM ci
        |  UNION ALL
        |  SELECT 'new', count(*), sum(k % 7 + 100) FROM ci WHERE k <= 50
        |  UNION ALL
        |  SELECT 'old', count(*), sum(k % 7) FROM ci WHERE k <= 50
        |  UNION ALL
        |  SELECT 'old', count(*), sum(k % 7) FROM ci WHERE k > 100
        |) t ORDER BY tag, n, sv""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("dml_trigger_transition")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS tt_tgt")
      run("DROP TABLE IF EXISTS tt_log")
      run("CREATE TABLE tt_tgt (id bigint, v bigint) DISTRIBUTED BY (id)")
      run("CREATE TABLE tt_log (tag text, n bigint, sv bigint) " +
        "DISTRIBUTED BY (tag)")
      run("""CREATE OR REPLACE FUNCTION audit_new() RETURNS trigger AS $$
            |BEGIN
            |  INSERT INTO tt_log
            |  SELECT 'new', count(*), coalesce(sum(v), 0) FROM nt;
            |  RETURN NULL;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE OR REPLACE FUNCTION audit_old() RETURNS trigger AS $$
            |BEGIN
            |  INSERT INTO tt_log
            |  SELECT 'old', count(*), coalesce(sum(v), 0) FROM ot;
            |  RETURN NULL;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE TRIGGER t_new AFTER INSERT OR UPDATE ON tt_tgt
            |REFERENCING NEW TABLE AS nt
            |FOR EACH STATEMENT EXECUTE FUNCTION audit_new()""".stripMargin)
      run("""CREATE TRIGGER t_old AFTER UPDATE OR DELETE ON tt_tgt
            |REFERENCING OLD TABLE AS ot
            |FOR EACH STATEMENT EXECUTE FUNCTION audit_old()""".stripMargin)
      run("""INSERT INTO tt_tgt
            |SELECT c_custkey, c_custkey % 7 FROM customer
            |WHERE c_custkey <= 120""".stripMargin)
      run("UPDATE tt_tgt SET v = v + 100 WHERE id <= 50")
      run("DELETE FROM tt_tgt WHERE id > 100")
      run("SELECT tag, n, sv FROM tt_log ORDER BY tag, n, sv")
    },

    // INSTEAD OF INSERT triggers on views (commands/trigger.c; PG's
    // updatable-view shim, r9): the trigger fn's body is INSERT INTO
    // base VALUES(expr over NEW.col), so an INSERT INTO the view of N
    // rows lowers to those base inserts evaluated SET-BASED over the
    // aligned view-shaped source — zero per-row calls; base-table
    // row triggers still fire on the produced relation (PG nesting).
    // UPDATE/DELETE events: q_dml_trigger_instead_ud below.
    Q("q_dml_trigger_instead", Some(
      """SELECT CAST(c_custkey AS BIGINT) AS id,
        |  CAST((c_custkey % 10) * 2 AS BIGINT) AS amt
        |FROM customer WHERE c_custkey <= 150 ORDER BY id""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("dml_trigger_instead")
        def run(sql: String) = GpSqlDialect.execute(s, sql, base)
        run("DROP TABLE IF EXISTS io_base")
        run("""CREATE TABLE io_base (id bigint, amt bigint, src text)
              |DISTRIBUTED BY (id)""".stripMargin)
        run("CREATE OR REPLACE VIEW io_v AS " +
          "SELECT id, amt FROM io_base WHERE src = 'view'")
        run("""CREATE OR REPLACE FUNCTION io_route() RETURNS trigger AS $$
              |BEGIN
              |  INSERT INTO io_base VALUES (NEW.id, NEW.amt * 2, 'view');
              |  RETURN NEW;
              |END $$ LANGUAGE plpgsql""".stripMargin)
        run("""CREATE TRIGGER t_io INSTEAD OF INSERT ON io_v
              |FOR EACH ROW EXECUTE FUNCTION io_route()""".stripMargin)
        run("""INSERT INTO io_v
              |SELECT c_custkey, c_custkey % 10 FROM customer
              |WHERE c_custkey <= 150""".stripMargin)
        run("SELECT id, amt FROM io_v ORDER BY id")
    },

    // INSTEAD OF UPDATE/DELETE triggers on views (commands/trigger.c;
    // completes the updatable-view shim, r9): the affected view rows
    // bind OLD (and, for UPDATE, NEW = OLD with the statement's SET
    // applied) as columns of ONE derived relation; the body's
    // UPDATE/DELETE/INSERT statements against base tables run
    // SET-BASED over it — the update is one equi-join
    // (Dml.merge), the delete one left-anti join, the audit
    // insert one projection. Zero per-row calls at any row count.
    Q("q_dml_trigger_instead_ud", Some(
      """WITH ins AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |    CAST(c_custkey % 10 AS BIGINT) AS amt
        |  FROM customer WHERE c_custkey <= 200),
        |upd AS (SELECT id,
        |    CASE WHEN id % 7 = 0 THEN amt + 100 ELSE amt END AS amt
        |  FROM ins),
        |fin AS (SELECT id, amt FROM upd WHERE id <= 180),
        |lg AS (SELECT id, amt AS before_amt, amt + 100 AS after_amt
        |  FROM ins WHERE id % 7 = 0)
        |SELECT tag, id, a, b FROM (
        |  SELECT 'view' AS tag, id, amt AS a, CAST(NULL AS BIGINT) AS b
        |  FROM fin
        |  UNION ALL
        |  SELECT 'log', id, before_amt, after_amt FROM lg)
        |ORDER BY tag, id""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("dml_trigger_instead_ud")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS io2_base")
      run("DROP TABLE IF EXISTS io2_log")
      run("""CREATE TABLE io2_base (id bigint, amt bigint, src text)
            |DISTRIBUTED BY (id)""".stripMargin)
      run("""CREATE TABLE io2_log (id bigint, before_amt bigint,
            |after_amt bigint) DISTRIBUTED BY (id)""".stripMargin)
      run("CREATE OR REPLACE VIEW io2_v AS " +
        "SELECT id, amt FROM io2_base WHERE src = 'view'")
      run("""CREATE OR REPLACE FUNCTION io2_upd() RETURNS trigger AS $$
            |BEGIN
            |  INSERT INTO io2_log VALUES (OLD.id, OLD.amt, NEW.amt);
            |  UPDATE io2_base SET amt = NEW.amt
            |    WHERE id = OLD.id AND src = 'view';
            |  RETURN NEW;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE OR REPLACE FUNCTION io2_del() RETURNS trigger AS $$
            |BEGIN
            |  DELETE FROM io2_base WHERE id = OLD.id AND src = 'view';
            |  RETURN OLD;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("""CREATE TRIGGER t_io2u INSTEAD OF UPDATE ON io2_v
            |FOR EACH ROW EXECUTE FUNCTION io2_upd()""".stripMargin)
      run("""CREATE TRIGGER t_io2d INSTEAD OF DELETE ON io2_v
            |FOR EACH ROW EXECUTE FUNCTION io2_del()""".stripMargin)
      run("""INSERT INTO io2_base
            |SELECT c_custkey, c_custkey % 10, 'view' FROM customer
            |WHERE c_custkey <= 200""".stripMargin)
      run("UPDATE io2_v SET amt = amt + 100 WHERE id % 7 = 0")
      run("DELETE FROM io2_v WHERE id > 180")
      run("""SELECT tag, id, a, b FROM (
            |  SELECT 'view' AS tag, id, amt AS a,
            |    CAST(NULL AS BIGINT) AS b FROM io2_v
            |  UNION ALL
            |  SELECT 'log', id, before_amt, after_amt FROM io2_log)
            |ORDER BY tag, id""".stripMargin)
    },

    // contrib/tablefunc crosstab (tablefunc.c:50): the 2-arg form —
    // categories from the second query, values matched by category
    // (get_crosstab_tuplestore's hash). Lowers to groupBy(row).pivot:
    // one hash shuffle on the row key, map-side partials; the category
    // list is bounded by the declared output width by construction.
    Q("q_sql_crosstab", Some(
      """WITH src AS (SELECT o_orderstatus AS status,
        |    year(o_orderdate) AS y, count(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT status,
        |  max(CASE WHEN y = 1995 THEN n END) AS y1995,
        |  max(CASE WHEN y = 1996 THEN n END) AS y1996,
        |  max(CASE WHEN y = 1997 THEN n END) AS y1997
        |FROM src GROUP BY status ORDER BY status""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        GpSqlDialect.execute(s,
          """SELECT * FROM crosstab(
            |  'SELECT o_orderstatus, year(o_orderdate) AS y, count(*) AS n
            |   FROM orders GROUP BY 1, 2 ORDER BY 1, 2',
            |  'SELECT y FROM (SELECT DISTINCT year(o_orderdate) AS y
            |   FROM orders) t WHERE y BETWEEN 1995 AND 1997 ORDER BY 1'
            |) AS ct(status text, y1995 bigint, y1996 bigint, y1997 bigint)
            |ORDER BY status""".stripMargin, tmp("crosstab"))
    },

    // contrib/tablefunc connectby (tablefunc.c:996): hierarchical
    // traversal over a parent/child relation — here the decimal-digit
    // trie over customer keys (parent = key DIV 10), descendants of
    // '1' to depth 3 with '/'-joined branch paths. Lowers to the
    // recursive-CTE loop: per level one equi-join of the checkpointed
    // frontier against the relation.
    Q("q_sql_connectby", Some(
      """WITH tr AS (SELECT CAST(c_custkey AS VARCHAR) AS keyid,
        |    CAST(c_custkey // 10 AS VARCHAR) AS parent FROM customer),
        |l0 AS (SELECT '1' AS keyid, CAST(NULL AS VARCHAR) AS parent_keyid,
        |    0 AS level, '1' AS branch),
        |l1 AS (SELECT tr.keyid, tr.parent AS parent_keyid, 1 AS level,
        |    l0.branch || '/' || tr.keyid AS branch
        |  FROM tr JOIN l0 ON tr.parent = l0.keyid),
        |l2 AS (SELECT tr.keyid, tr.parent AS parent_keyid, 2 AS level,
        |    l1.branch || '/' || tr.keyid AS branch
        |  FROM tr JOIN l1 ON tr.parent = l1.keyid),
        |l3 AS (SELECT tr.keyid, tr.parent AS parent_keyid, 3 AS level,
        |    l2.branch || '/' || tr.keyid AS branch
        |  FROM tr JOIN l2 ON tr.parent = l2.keyid)
        |SELECT * FROM (SELECT * FROM l0 UNION ALL SELECT * FROM l1
        |  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)
        |ORDER BY level, keyid""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      def run(sql: String) = GpSqlDialect.execute(s, sql, tmp("connectby"))
      run("""CREATE OR REPLACE VIEW cust_tree AS
            |SELECT CAST(c_custkey AS STRING) AS k,
            |  CAST(c_custkey DIV 10 AS STRING) AS pk
            |FROM customer""".stripMargin)
      run("""SELECT * FROM connectby('cust_tree', 'k', 'pk', '1', 3, '/')
            |AS t(keyid text, parent_keyid text, level int, branch text)
            |ORDER BY level, keyid""".stripMargin)
    },

    // gpmapreduce YAML job (gpcontrib/gpmapreduce/demo/2_wordcount.yml):
    // the classic wordcount — INPUT table, MAP to (key, value) pairs,
    // builtin REDUCE: SUM. The runner lowers the whole job to one
    // declarative plan (explode → partial/final hash agg), so Catalyst
    // owns the combine strategy the reference's MR executor hand-rolls.
    Q("q_sql_mapreduce", Some(
      """WITH tok AS (SELECT t2 AS key FROM (SELECT unnest(
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> len(t) > 0)) AS t2 FROM documents))
        |SELECT key, CAST(count(*) AS BIGINT) AS value
        |FROM tok GROUP BY key ORDER BY key""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      GpMapReduce.run(s,
        """VERSION: 1.0.0.1
          |DEFINE:
          |  - INPUT:
          |      NAME: docs
          |      TABLE: documents
          |  - MAP:
          |      NAME: wordsplit
          |      LANGUAGE: sql
          |      FUNCTION: |
          |        SELECT key, 1 AS value FROM (
          |          SELECT explode(filter(split(lower(trim(text)), '\\s+'),
          |                                t -> length(t) > 0)) AS key
          |          FROM docs)
          |      RETURNS:
          |        - key text
          |        - value integer
          |EXECUTE:
          |  - RUN:
          |      SOURCE: docs
          |      MAP: wordsplit
          |      REDUCE: SUM""".stripMargin, tmp("mapreduce"))
        .selectExpr("key", "CAST(value AS BIGINT) AS value")
        .orderBy("key")
    },

    // contrib/intagg + gpcontrib/gp_array_agg + gp_legacy_string_agg
    // (intagg--1.0.sql:22,32): int_array_aggregate/gp_array_agg lower
    // to array_agg, int_array_enum to explode, one-arg string_agg to
    // the SORTED no-delimiter concat (GP's order is unspecified —
    // sorted is the deterministic strengthening).
    Q("q_sql_intagg", Some(
      """WITH a AS (SELECT n_regionkey AS rk,
        |    list_sort(list(CAST(n_nationkey AS INT))) AS arr,
        |    array_to_string(list_sort(list(substr(n_name, 1, 2))), '')
        |      AS names2
        |  FROM nation GROUP BY 1),
        |e AS (SELECT rk, unnest(arr) AS nk FROM a)
        |SELECT e.rk, e.nk, a.names2
        |FROM e JOIN a ON a.rk = e.rk ORDER BY e.rk, e.nk""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        GpSqlDialect.execute(s,
          """WITH a AS (SELECT n_regionkey AS rk,
            |    array_sort(int_array_aggregate(CAST(n_nationkey AS INT)))
            |      AS arr,
            |    string_agg(substr(n_name, 1, 2)) AS names2
            |  FROM nation GROUP BY n_regionkey),
            |e AS (SELECT rk, int_array_enum(arr) AS nk FROM a)
            |SELECT e.rk, e.nk, a.names2
            |FROM e JOIN a ON a.rk = e.rk ORDER BY rk, nk""".stripMargin,
          tmp("intagg"))
    },

    // contrib/dblink: the remote side runs the query text verbatim —
    // here a jdbc: connstr against the embedded Derby "remote" (its
    // dialect applies on that side), record shape declared by the AS
    // clause exactly like dblink. Loopback (dbname=) connstrs execute
    // against this engine (spec-covered).
    Q("q_sql_dblink", Some(
      """SELECT n_regionkey AS rk, count(*) AS n,
        |  min(n_name) AS first_name
        |FROM nation WHERE n_nationkey >= 2
        |GROUP BY n_regionkey ORDER BY rk""".stripMargin),
      prepare = Some { (s, dir) =>
        ForeignTables.resetDb(tmp("derby_dblink"))
        ForeignTables.writeForeign(
          Tables.T(s, dir).nation,
          ForeignTables.derbyUrl(tmp("derby_dblink")), "NATION_DL")
      }) { (s, dir) =>
      Tables.registerAll(s, dir)
      GpSqlDialect.execute(s,
        s"""SELECT rk, count(*) AS n, min(nm) AS first_name
           |FROM dblink('${ForeignTables.derbyUrl(tmp("derby_dblink"))}',
           |  'SELECT "n_nationkey", "n_regionkey", "n_name" FROM NATION_DL
           |   WHERE "n_nationkey" >= 2')
           |AS t(nk bigint, rk bigint, nm text)
           |GROUP BY rk ORDER BY rk""".stripMargin, tmp("dblink"))
    },

    // ForeignScan (nodeForeignscan.c:89): nation published to an embedded
    // Derby "foreign server", bound back as a partitioned JDBC scan with
    // the filter pushed into the remote WHERE. Oracle runs on the local
    // parquet nation — values must round-trip exactly.
    Q("q_foreign_scan", Some(
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation WHERE n_nationkey >= 2
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
      prepare = Some { (s, dir) =>
        // wipe first: an embedded-Derby dir left by a killed JVM can be
        // unbootable (stale db.lck), and overwrite can't recover that
        ForeignTables.resetDb(tmp("derby_nation"))
        ForeignTables.writeForeign(
          Tables.T(s, dir).nation,
          ForeignTables.derbyUrl(tmp("derby_nation")), "NATION_FT")
      }) { (s, dir) =>
      import s.implicits._
      ForeignTables.readForeign(s,
        ForeignTables.derbyUrl(tmp("derby_nation")), "NATION_FT",
        partitionCol = Some("n_nationkey"), lower = 0L, upper = 25L,
        numPartitions = 4)
        .filter($"n_nationkey" >= 2)
        .groupBy($"n_regionkey")
        .agg(count(lit(1)).as("n"), min($"n_name").as("first_name"))
        .orderBy("n_regionkey")
    },

    // GP partitioned-table DDL from SQL TEXT (parse_partition.c): CREATE
    // TABLE with column defs + DISTRIBUTED BY + PARTITION BY RANGE, then
    // INSERT INTO, then a pruned scan — all through GpSqlDialect.
    Q("q_sql_ddl_partition", Some(
      s"""SELECT o_year, count(*) AS n, ${Q.oSum("o_totalprice")} AS total
         |FROM (SELECT year(o_orderdate) AS o_year, o_totalprice FROM orders) t
         |WHERE o_year >= 1997
         |GROUP BY o_year ORDER BY o_year""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("sqlddl")
      GpSqlDialect.execute(s,
        """CREATE TABLE orders_sqlpart (
          |  o_orderkey bigint,
          |  o_totalprice double precision,
          |  o_year int)
          |WITH (appendonly=true, orientation=column, compresstype=zstd)
          |DISTRIBUTED BY (o_orderkey)
          |PARTITION BY RANGE (o_year)
          |  (START (1992) END (1999) EVERY (1))""".stripMargin, base)
      GpSqlDialect.execute(s,
        """INSERT INTO orders_sqlpart
          |SELECT o_orderkey, o_totalprice, year(o_orderdate) FROM orders""".stripMargin,
        base)
      GpSqlDialect.execute(s,
        s"""SELECT o_year, count(*) AS n,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS total
           |FROM orders_sqlpart WHERE o_year >= 1997
           |GROUP BY o_year ORDER BY o_year""".stripMargin, base)
    },

    // Multi-level (sub)partitioned DDL (cdbpartition.c nesting): LIST
    // outer × RANGE inner lowers to two nested Hive partition levels;
    // the filtered scan prunes on BOTH columns (PlanSpec asserts).
    Q("q_sql_ddl_subpartition", Some(
      s"""SELECT o_year, count(*) AS n, ${Q.oSum("o_totalprice")} AS total
         |FROM (SELECT o_orderstatus, year(o_orderdate) AS o_year,
         |        o_totalprice FROM orders) t
         |WHERE o_orderstatus = 'F' AND o_year BETWEEN 1995 AND 1997
         |GROUP BY o_year ORDER BY o_year""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("sqlsubpart")
      GpSqlDialect.execute(s,
        """CREATE TABLE orders_subpart (
          |  o_orderkey bigint,
          |  o_totalprice double precision,
          |  o_orderstatus text,
          |  o_year int)
          |DISTRIBUTED BY (o_orderkey)
          |PARTITION BY LIST (o_orderstatus)
          |  SUBPARTITION BY RANGE (o_year)
          |  SUBPARTITION TEMPLATE (START (1992) END (1999) EVERY (1))
          |  (PARTITION pf VALUES ('F'),
          |   PARTITION po VALUES ('O'),
          |   PARTITION pp VALUES ('P'))""".stripMargin, base)
      GpSqlDialect.execute(s,
        """INSERT INTO orders_subpart
          |SELECT o_orderkey, o_totalprice, o_orderstatus,
          |  year(o_orderdate) FROM orders""".stripMargin, base)
      GpSqlDialect.execute(s,
        s"""SELECT o_year, count(*) AS n,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS total
           |FROM orders_subpart
           |WHERE o_orderstatus = 'F' AND o_year BETWEEN 1995 AND 1997
           |GROUP BY o_year ORDER BY o_year""".stripMargin, base)
    },

    // CREATE EXTERNAL TABLE from SQL TEXT (pg_exttable.h:124): binds the
    // CSV fixture with COPY reject semantics, then aggregates through the
    // registered view.
    Q("q_sql_external", Some(
      s"""SELECT l_returnflag, count(*) AS n, ${Q.oSum("l_quantity")} AS qty
         |FROM lineitem WHERE l_orderkey <= 1000
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        ExternalTables.writeCsv(
          Tables.T(s, dir).lineitem.filter($"l_orderkey" <= 1000)
            .select("l_orderkey", "l_returnflag", "l_quantity"),
          tmp("ext_lineitem_csv"))
      }) { (s, dir) =>
      GpSqlDialect.execute(s,
        s"""CREATE EXTERNAL TABLE ext_li_sql (
           |  l_orderkey bigint,
           |  l_returnflag text,
           |  l_quantity double precision)
           |LOCATION ('file://${tmp("ext_lineitem_csv")}')
           |FORMAT 'CSV' SEGMENT REJECT LIMIT 5""".stripMargin,
        tmp("sqlext"))
      GpSqlDialect.execute(s,
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS qty
          |FROM ext_li_sql GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
        tmp("sqlext"))
    },

    // PXF-style self-describing external formats (gpcontrib pxf_fdw:
    // the reference federates parquet/orc/json through PXF; here
    // Spark's native readers bind them directly). Same oracle trick as
    // q_sql_external: the fixture file is an exact subset of lineitem,
    // so DuckDB aggregates the registered table.
    Q("q_sql_external_parquet", Some(
      s"""SELECT l_returnflag, count(*) AS n, ${Q.oSum("l_quantity")} AS qty
         |FROM lineitem WHERE l_orderkey <= 1200
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem.filter($"l_orderkey" <= 1200)
          .select("l_orderkey", "l_returnflag", "l_quantity")
          .write.mode("overwrite").parquet(tmp("ext_lineitem_parquet"))
      }) { (s, dir) =>
      GpSqlDialect.execute(s,
        s"""CREATE EXTERNAL TABLE ext_li_parquet (
           |  l_orderkey bigint,
           |  l_returnflag text,
           |  l_quantity double precision)
           |LOCATION ('file://${tmp("ext_lineitem_parquet")}')
           |FORMAT 'PARQUET'""".stripMargin,
        tmp("sqlext"))
      GpSqlDialect.execute(s,
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS qty
          |FROM ext_li_parquet GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
        tmp("sqlext"))
    },

    Q("q_sql_external_json", Some(
      s"""SELECT l_returnflag, count(*) AS n, ${Q.oSum("l_quantity")} AS qty
         |FROM lineitem WHERE l_orderkey <= 600
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem.filter($"l_orderkey" <= 600)
          .select("l_orderkey", "l_returnflag", "l_quantity")
          .write.mode("overwrite").json(tmp("ext_lineitem_json"))
      }) { (s, dir) =>
      GpSqlDialect.execute(s,
        s"""CREATE EXTERNAL TABLE ext_li_json (
           |  l_orderkey bigint,
           |  l_returnflag text,
           |  l_quantity double precision)
           |LOCATION ('file://${tmp("ext_lineitem_json")}')
           |FORMAT 'JSON'""".stripMargin,
        tmp("sqlext"))
      GpSqlDialect.execute(s,
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS qty
          |FROM ext_li_json GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
        tmp("sqlext"))
    },

    // ORC external format (verdict r5 #6: was spec-only because DuckDB
    // lacks an ORC reader — but the oracle never needs one: the fixture
    // is an exact subset of lineitem, so DuckDB aggregates the
    // registered lineitem table while Spark reads the ORC file. A value
    // divergence in the ORC read path now fails the hash compare.
    Q("q_sql_external_orc", Some(
      s"""SELECT l_returnflag, count(*) AS n, ${Q.oSum("l_quantity")} AS qty
         |FROM lineitem WHERE l_orderkey <= 900
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem.filter($"l_orderkey" <= 900)
          .select("l_orderkey", "l_returnflag", "l_quantity")
          .write.mode("overwrite").orc(tmp("ext_lineitem_orc"))
      }) { (s, dir) =>
      GpSqlDialect.execute(s,
        s"""CREATE EXTERNAL TABLE ext_li_orc (
           |  l_orderkey bigint,
           |  l_returnflag text,
           |  l_quantity double precision)
           |LOCATION ('file://${tmp("ext_lineitem_orc")}')
           |FORMAT 'ORC'""".stripMargin,
        tmp("sqlext"))
      GpSqlDialect.execute(s,
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS qty
          |FROM ext_li_orc GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
        tmp("sqlext"))
    },

    // COPY FROM / COPY TO as dialect statements (commands/copy.c:959
    // DoCopy, :2590 DoCopyTo; reject handling cdb/cdbsreh.c:367): load a
    // CSV containing 2 malformed rows into a dialect-created table under
    // SEGMENT REJECT LIMIT 5 (bad rows dropped, limit not reached), export
    // with COPY TO, and aggregate the re-read export. Oracle runs the same
    // aggregate on the clean parquet source.
    Q("q_sql_copy", Some(
      s"""SELECT l_returnflag, count(*) AS n, ${Q.oSum("l_quantity")} AS qty
         |FROM lineitem WHERE l_orderkey <= 800
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      prepare = Some { (s, dir) =>
        import s.implicits._
        ExternalTables.writeCsv(
          Tables.T(s, dir).lineitem.filter($"l_orderkey" <= 800)
            .select("l_orderkey", "l_returnflag", "l_quantity"),
          tmp("copy_in_csv"))
        // a file of malformed rows in the same location: COPY's
        // single-row error handling must skip them without aborting
        val bad = new java.io.File(tmp("copy_in_csv"), "zz_bad.csv")
        val w = new java.io.PrintWriter(bad)
        try w.print("l_orderkey,l_returnflag,l_quantity\nnot_a_key,X,oops\n\"unterminated,Y,1.0\n")
        finally w.close()
      }) { (s, dir) =>
      val base = tmp("sqlcopy")
      GpSqlDialect.execute(s,
        """CREATE TABLE li_copy (
          |  l_orderkey bigint,
          |  l_returnflag text,
          |  l_quantity double precision)
          |DISTRIBUTED BY (l_orderkey)""".stripMargin, base)
      GpSqlDialect.execute(s,
        s"COPY li_copy FROM '${tmp("copy_in_csv")}' CSV HEADER SEGMENT REJECT LIMIT 5",
        base)
      GpSqlDialect.execute(s,
        s"COPY li_copy TO '${tmp("copy_out_csv")}' CSV HEADER", base)
      s.read.schema(StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_returnflag", StringType),
        StructField("l_quantity", DoubleType))))
        .option("header", "true").csv(tmp("copy_out_csv"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), Q.dsum(col("l_quantity")).as("qty"))
        .orderBy("l_returnflag")
    },

    // Partition maintenance (cdbpartition.c ATPExec*): the rolling-
    // warehouse idiom — EXCHANGE a partition with a loaded staging
    // table, DROP an expired partition, then query. The staging table
    // ends up holding the swapped-out rows (checked in the result).
    Q("q_sql_alter_partition", Some(
      s"""WITH exch AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
         |    'P' AS o_orderstatus
         |  FROM orders WHERE o_orderstatus = 'P' AND o_orderkey <= 2000)
         |SELECT o_orderstatus, count(*) AS n, ${Q.oSum("o_totalprice")} AS total
         |FROM (
         |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         |  WHERE o_orderstatus = 'O'
         |  UNION ALL SELECT * FROM exch)
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'staging', count(*), ${Q.oSum("o_totalprice")}
         |FROM orders WHERE o_orderstatus = 'P'
         |ORDER BY o_orderstatus""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("sqlalter")
      GpSqlDialect.execute(s,
        """CREATE TABLE orders_mnt (
          |  o_orderkey bigint,
          |  o_totalprice double precision,
          |  o_orderstatus text)
          |DISTRIBUTED BY (o_orderkey)
          |PARTITION BY LIST (o_orderstatus)
          |  (PARTITION pf VALUES ('F'),
          |   PARTITION po VALUES ('O'),
          |   PARTITION pp VALUES ('P'))""".stripMargin, base)
      GpSqlDialect.execute(s,
        """INSERT INTO orders_mnt
          |SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders""".stripMargin,
        base)
      GpSqlDialect.execute(s,
        """CREATE TABLE orders_stage (
          |  o_orderkey bigint,
          |  o_totalprice double precision,
          |  o_orderstatus text)""".stripMargin, base)
      GpSqlDialect.execute(s,
        """INSERT INTO orders_stage
          |SELECT o_orderkey, o_totalprice * 2, 'P' FROM orders
          |WHERE o_orderstatus = 'P' AND o_orderkey <= 2000""".stripMargin, base)
      GpSqlDialect.execute(s,
        "ALTER TABLE orders_mnt EXCHANGE PARTITION FOR ('P') WITH TABLE orders_stage",
        base)
      GpSqlDialect.execute(s,
        "ALTER TABLE orders_mnt DROP PARTITION FOR ('F')", base)
      GpSqlDialect.execute(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS total
           |FROM orders_mnt GROUP BY o_orderstatus
           |UNION ALL
           |SELECT 'staging', count(*),
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE)
           |FROM orders_stage
           |ORDER BY o_orderstatus""".stripMargin, base)
    },

    // SQL-language UDFs (reference: src/pl/ SQL functions; PG inlines
    // them into the caller, optimizer/util/clauses.c inline_function).
    // Three shapes: scalar expression, function-composed-of-function
    // (fixpoint expansion), and a FROM-body that becomes a correlated
    // scalar subquery. Everything stays inside whole-stage codegen —
    // no UDF registration, no serialization wall.
    Q("q_sql_udf", Some(
      s"""WITH base AS (
         |  SELECT l_returnflag,
         |         l_extendedprice * (1 - l_discount) AS dp,
         |         (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS ch,
         |         (SELECT max(o_totalprice) FROM orders o
         |            WHERE o.o_custkey = l.l_suppkey) AS topo
         |  FROM lineitem l WHERE l_orderkey <= 2000)
         |SELECT l_returnflag, count(*) AS n,
         |  ${Q.oSum("dp")} AS disc,
         |  ${Q.oSum("ch")} AS chg,
         |  ${Q.oSum("topo")} AS topo_sum
         |FROM base GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("sqludf")
        GpSqlDialect.execute(s,
          """CREATE FUNCTION disc_price(p double precision, d double precision)
            |RETURNS double precision AS $$ SELECT p * (1 - d) $$
            |LANGUAGE SQL IMMUTABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION charged(p double precision, d double precision,
            |  t double precision)
            |RETURNS double precision AS $$ SELECT disc_price(p, d) * (1 + t) $$
            |LANGUAGE SQL IMMUTABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION top_order(ck bigint) RETURNS double precision
            |AS $$ SELECT max(o_totalprice) FROM orders o
            |       WHERE o.o_custkey = ck $$
            |LANGUAGE SQL STABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """WITH base AS (
            |  SELECT l_returnflag,
            |         disc_price(l_extendedprice, l_discount) AS dp,
            |         charged(l_extendedprice, l_discount, l_tax) AS ch,
            |         top_order(l.l_suppkey) AS topo
            |  FROM lineitem l WHERE l_orderkey <= 2000)
            |SELECT l_returnflag, count(*) AS n,
            |  CAST(round(sum(CAST(dp AS DECIMAL(28,6))), 2) AS DOUBLE) AS disc,
            |  CAST(round(sum(CAST(ch AS DECIMAL(28,6))), 2) AS DOUBLE) AS chg,
            |  CAST(round(sum(CAST(topo AS DECIMAL(28,6))), 2) AS DOUBLE) AS topo_sum
            |FROM base GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
          base)
    },

    // Executable CREATE AGGREGATE over SQL-language support functions
    // (commands/aggregatecmds.c DefineAggregate, pg_aggregate.h):
    // l2norm declares sfunc/stype/initcond/combinefunc/finalfunc and
    // lowers to a native DeclarativeAggregate (update ≡ sfunc, merge ≡
    // combinefunc, evaluate ≡ finalfunc) — Spark plans it partial/final
    // across the shuffle with only the 8-byte state moving, exactly
    // GP's 2-stage agg. maxmod omits the combinefunc — PG can't
    // parallelize that either — and falls back to a sequential
    // per-group fold over the collected group. Inputs are integral so
    // every double is exact → bit-stable vs the closed-form oracle.
    Q("q_sql_create_aggregate", Some(
      """SELECT l_returnflag,
        |  sqrt(sum(l_quantity * l_quantity)) AS l2,
        |  max(CAST(l_quantity AS BIGINT) % 97) AS mm,
        |  CAST(sum(CAST(l_quantity AS BIGINT)
        |           * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS ws,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("sqlagg")
        GpSqlDialect.execute(s,
          """CREATE FUNCTION l2_step(st double precision, v double precision)
            |RETURNS double precision AS $$ SELECT st + v * v $$
            |LANGUAGE SQL IMMUTABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION l2_comb(a double precision, b double precision)
            |RETURNS double precision AS $$ SELECT a + b $$
            |LANGUAGE SQL IMMUTABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION l2_final(st double precision)
            |RETURNS double precision AS $$ SELECT sqrt(st) $$
            |LANGUAGE SQL IMMUTABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE AGGREGATE l2norm(double precision) (
            |  sfunc = l2_step, stype = double precision, initcond = '0',
            |  combinefunc = l2_comb, finalfunc = l2_final)""".stripMargin,
          base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION maxmod_step(st bigint, v bigint)
            |RETURNS bigint AS $$ SELECT greatest(st, v % 97) $$
            |LANGUAGE SQL IMMUTABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE AGGREGATE maxmod(bigint) (
            |  sfunc = maxmod_step, stype = bigint, initcond = '0')""".stripMargin,
          base)
        // multi-argument aggregate (pg_aggregate aggnumdirectargs = 0,
        // several aggregated args): weighted sum
        GpSqlDialect.execute(s,
          """CREATE FUNCTION wsum_step(st bigint, x bigint, w bigint)
            |RETURNS bigint AS $$ SELECT st + x * w $$
            |LANGUAGE SQL IMMUTABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION wsum_comb(a bigint, b bigint)
            |RETURNS bigint AS $$ SELECT a + b $$
            |LANGUAGE SQL IMMUTABLE""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE AGGREGATE wsum(bigint, bigint) (
            |  sfunc = wsum_step, stype = bigint, initcond = '0',
            |  combinefunc = wsum_comb)""".stripMargin, base)
        GpSqlDialect.execute(s,
          """SELECT l_returnflag,
            |  l2norm(l_quantity) AS l2,
            |  maxmod(CAST(l_quantity AS BIGINT)) AS mm,
            |  wsum(CAST(l_quantity AS BIGINT),
            |       CAST(l_linenumber AS BIGINT)) AS ws,
            |  count(*) AS n
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
          base)
    },

    // Generic plpgsql EXCEPTION WHEN OTHERS (pl_exec.c exec_stmt_block
    // exception section, r8 tier 5b): a set-based engine cannot trap
    // per-row errors, but when every raise site in a RETURN-expression
    // body is statically enumerable — division/modulo (zero probe),
    // cast (try_cast probe), total calls only — the handler lowers to
    // a CASE that selects the fallback BEFORE the failing site
    // evaluates. Three shapes: div-by-zero via OTHERS, cast failure
    // via OTHERS, and a body with no raise site (handler statically
    // dead). All stay inside whole-stage codegen.
    Q("q_sql_plpgsql_exception", Some(
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(round(sum(CAST(
        |    CASE WHEN CAST(l_quantity AS BIGINT) % 7 = 0 THEN -1.0
        |         ELSE (100 * l_quantity) / (CAST(l_quantity AS BIGINT) % 7)
        |    END AS DECIMAL(28,6))), 2) AS DOUBLE) AS rate_sum,
        |  CAST(sum(CASE WHEN l_linenumber <= 3
        |       THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS parsed_sum,
        |  CAST(sum(CAST(l_linenumber AS BIGINT) + 1) AS BIGINT) AS inc_sum
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("plexc")
        GpSqlDialect.execute(s,
          """CREATE FUNCTION safe_rate(num double precision, den bigint)
            |RETURNS double precision AS $$
            |BEGIN
            |  RETURN num / den;
            |EXCEPTION WHEN OTHERS THEN RETURN -1.0;
            |END $$ LANGUAGE plpgsql""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION parse_or_zero(s varchar) RETURNS bigint AS $$
            |BEGIN
            |  RETURN cast(s AS bigint);
            |EXCEPTION WHEN OTHERS THEN RETURN 0;
            |END $$ LANGUAGE plpgsql""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION inc_one(x bigint) RETURNS bigint AS $$
            |BEGIN
            |  RETURN x + 1;
            |EXCEPTION WHEN OTHERS THEN RETURN -1;
            |END $$ LANGUAGE plpgsql""".stripMargin, base)
        GpSqlDialect.execute(s,
          """SELECT l_returnflag, count(*) AS n,
            |  CAST(round(sum(CAST(
            |    safe_rate(100 * l_quantity, CAST(l_quantity AS BIGINT) % 7)
            |    AS DECIMAL(28,6))), 2) AS DOUBLE) AS rate_sum,
            |  CAST(sum(parse_or_zero(
            |    CASE WHEN l_linenumber <= 3
            |         THEN CAST(CAST(l_quantity AS BIGINT) AS STRING)
            |         ELSE l_linestatus END)) AS BIGINT) AS parsed_sum,
            |  CAST(sum(inc_one(CAST(l_linenumber AS BIGINT))) AS BIGINT)
            |    AS inc_sum
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
          base)
    },

    // Nested BEGIN/EXCEPTION blocks (pl_exec.c exec_stmt_block:99 —
    // r9 tier 5c): the "sub-transaction per row" migration shape. An
    // inner `BEGIN v := e; EXCEPTION WHEN cond THEN v := h; END;`
    // embedded in a straight-line body lowers to ONE guarded
    // conditional assignment that folds into the outer expression —
    // set-based, inside whole-stage codegen. Two inner conditions
    // exercised: WHEN OTHERS over a cast (try_cast/RLIKE probe) and
    // WHEN division_by_zero (zero probe); deeper nesting defers
    // loudly (spec-gated).
    Q("q_sql_plpgsql_nested", Some(
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_linenumber <= 3
        |       THEN CAST(l_quantity AS BIGINT) * 2 ELSE -2 END) AS BIGINT)
        |    AS parsed2,
        |  CAST(round(sum(CAST(
        |    CASE WHEN CAST(l_quantity AS BIGINT) % 7 = 0 THEN 0.0
        |         ELSE (100 * l_quantity) / (CAST(l_quantity AS BIGINT) % 7)
        |    END + 1.0 AS DECIMAL(28,6))), 2) AS DOUBLE) AS rate1_sum
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("plnest")
        GpSqlDialect.execute(s,
          """CREATE FUNCTION parse_twice(s varchar) RETURNS bigint AS $$
            |DECLARE r bigint;
            |BEGIN
            |  BEGIN
            |    r := cast(s AS bigint);
            |  EXCEPTION WHEN OTHERS THEN
            |    r := -1;
            |  END;
            |  RETURN r * 2;
            |END $$ LANGUAGE plpgsql""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE FUNCTION rate_plus1(num double precision, den bigint)
            |RETURNS double precision AS $$
            |DECLARE x double precision;
            |BEGIN
            |  BEGIN
            |    x := num / den;
            |  EXCEPTION WHEN division_by_zero THEN
            |    x := 0.0;
            |  END;
            |  RETURN x + 1.0;
            |END $$ LANGUAGE plpgsql""".stripMargin, base)
        GpSqlDialect.execute(s,
          """SELECT l_returnflag, count(*) AS n,
            |  CAST(sum(parse_twice(
            |    CASE WHEN l_linenumber <= 3
            |         THEN CAST(CAST(l_quantity AS BIGINT) AS STRING)
            |         ELSE l_linestatus END)) AS BIGINT) AS parsed2,
            |  CAST(round(sum(CAST(
            |    rate_plus1(100 * l_quantity, CAST(l_quantity AS BIGINT) % 7)
            |    AS DECIMAL(28,6))), 2) AS DOUBLE) AS rate1_sum
            |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
          base)
    },

    // Multi-statement DML loop bodies (pl_exec.c exec_stmt_fors; the
    // r7 verdict's top remaining plpgsql wall): a procedure looping
    // over a query and running an INSERT + an UPDATE per row lowers to
    // TWO set-based statements over the loop source — legal because
    // the statements are independent (distinct targets, no
    // read-after-write); dependent bodies raise loudly (spec-gated).
    Q("q_sql_dml_loop", Some(
      """SELECT CAST(n_nationkey AS BIGINT) AS k,
        |  CASE WHEN n_nationkey < 15 THEN 'seen' ELSE 'raw' END AS flag,
        |  CAST(CASE WHEN n_nationkey < 15 THEN 1 ELSE 0 END AS BIGINT)
        |    AS hits,
        |  CASE WHEN n_nationkey < 15 THEN lower(n_name) END AS nm
        |FROM nation ORDER BY k""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("dml_loop")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS etl_log")
      run("DROP TABLE IF EXISTS etl_tgt")
      run("CREATE TABLE etl_log (k bigint, nm text) DISTRIBUTED BY (k)")
      run("""CREATE TABLE etl_tgt (k bigint, flag text, hits bigint)
            |DISTRIBUTED BY (k)""".stripMargin)
      run("INSERT INTO etl_tgt SELECT n_nationkey, 'raw', 0 FROM nation")
      run("""CREATE OR REPLACE PROCEDURE sync_nat() AS $$
            |BEGIN
            |  FOR r IN SELECT n_nationkey AS k, n_name AS nm FROM nation
            |           WHERE n_nationkey < 15 LOOP
            |    INSERT INTO etl_log VALUES (r.k, lower(r.nm));
            |    UPDATE etl_tgt SET flag = 'seen', hits = hits + 1
            |      WHERE k = r.k;
            |  END LOOP;
            |END $$ LANGUAGE plpgsql""".stripMargin)
      run("CALL sync_nat()")
      run("""SELECT t.k, t.flag, t.hits, l.nm
            |FROM etl_tgt t LEFT JOIN etl_log l ON t.k = l.k
            |ORDER BY t.k""".stripMargin)
    },

    // Data-dependent WHILE in a DO block (pl_exec.c exec_stmt_while —
    // the batch-maintenance migration shape, r9): scalar variables
    // (`batch`, `remaining`) live in a driver-side literal env updated
    // by `v := e` / SELECT ... INTO; the loop condition re-evaluates
    // per iteration as a 1-row query; every statement over DATA stays
    // one set-based SQL statement (the per-batch DELETE is a COW
    // rewrite of the work table, the log INSERT a 1-row append).
    // Driver work is catalog-scale — iteration count × scalar queries,
    // independent of row count. The key cap (<= 1500) pins batch count
    // across SFs. Oracle: the same recursion as a DuckDB WITH
    // RECURSIVE unroll.
    Q("q_sql_while_data", Some(
      """WITH RECURSIVE it AS (
        |  SELECT CAST(0 AS BIGINT) AS batch,
        |    (SELECT count(*) FROM customer WHERE c_custkey <= 1500)
        |      AS n
        |  UNION ALL
        |  SELECT batch + 1,
        |    (SELECT count(*) FROM customer WHERE c_custkey <= 1500
        |       AND c_custkey > 300 * (batch + 1))
        |  FROM it WHERE n > 0
        |)
        |SELECT batch, n FROM it WHERE n > 0 ORDER BY batch""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("while_data")
        def run(sql: String) = GpSqlDialect.execute(s, sql, base)
        run("DROP TABLE IF EXISTS wq")
        run("DROP TABLE IF EXISTS wlog")
        run("""CREATE TABLE wq AS SELECT c_custkey AS k FROM customer
              |WHERE c_custkey <= 1500""".stripMargin)
        run("CREATE TABLE wlog (batch bigint, n bigint) " +
          "DISTRIBUTED BY (batch)")
        run("""DO $$
              |DECLARE
              |  remaining bigint;
              |  batch bigint := 0;
              |BEGIN
              |  SELECT count(*) INTO remaining FROM wq;
              |  WHILE remaining > 0 LOOP
              |    INSERT INTO wlog VALUES (batch, remaining);
              |    DELETE FROM wq WHERE k <= (batch + 1) * 300;
              |    batch := batch + 1;
              |    SELECT count(*) INTO remaining FROM wq;
              |  END LOOP;
              |END $$""".stripMargin)
        run("SELECT batch, n FROM wlog ORDER BY batch")
    },

    // Labeled loops (pl_exec.c exec_stmt_exit with stmt->label):
    // <<outer>>/<<inner>> nested LOOPs where EXIT outer / CONTINUE
    // outer unwind PAST the inner loop — the signal climbs to the
    // matching label. CONTINUE outer truncates each inner scan at the
    // first i*j > 5, so the reached (i, j) set is exactly i*j <= 5.
    // (Driver-side interpreter contract — each iteration costs Spark
    // jobs, so the fixture is the smallest lattice that exercises
    // both labeled signals.)
    Q("q_sql_loop_label", Some(
      """SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j
        |FROM generate_series(1, 4) s(i)
        |CROSS JOIN generate_series(1, 4) t(j)
        |WHERE i * j <= 5 ORDER BY i, j""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("loop_label")
      def run(sql: String) = GpSqlDialect.execute(s, sql, base)
      run("DROP TABLE IF EXISTS lbl_out")
      run("CREATE TABLE lbl_out (i bigint, j bigint) DISTRIBUTED BY (i)")
      run("""DO $$
            |DECLARE
            |  i bigint := 0;
            |  j bigint := 0;
            |BEGIN
            |  <<outer>>
            |  LOOP
            |    i := i + 1;
            |    EXIT outer WHEN i > 4;
            |    j := 0;
            |    <<inner>>
            |    LOOP
            |      j := j + 1;
            |      EXIT inner WHEN j > 4;
            |      CONTINUE outer WHEN i * j > 5;
            |      INSERT INTO lbl_out VALUES (i, j);
            |    END LOOP inner;
            |  END LOOP outer;
            |END $$""".stripMargin)
      run("SELECT i, j FROM lbl_out ORDER BY i, j")
    },

    // PG DISTINCT ON — first row per group in ORDER BY order (gram.y
    // distinct_clause): each customer's highest-value order. Lowered to
    // one row_number window = one hash shuffle on the ON exprs.
    Q("q_sql_distinct_on", Some(
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        GpSqlDialect.execute(s,
          """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
            |FROM orders
            |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
          tmp("distinct_on"))
    },

    // SQL:2008 FETCH FIRST ... WITH TIES (PG 13 limit_clause): LIMIT that
    // never cuts a tie group. Spark has no native WITH TIES; the dialect
    // ranks on the sort key and Catalyst's InferWindowGroupLimit keeps it
    // a bounded per-partition top-n, not a global sort.
    Q("q_sql_limit_ties", Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    rank() OVER (ORDER BY l_quantity DESC) AS rk
        |  FROM lineitem WHERE l_orderkey <= 2000) t
        |WHERE rk <= 10 ORDER BY l_quantity DESC, l_orderkey, l_linenumber""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        GpSqlDialect.execute(s,
          """SELECT l_orderkey, l_linenumber, l_quantity
            |FROM lineitem WHERE l_orderkey <= 2000
            |ORDER BY l_quantity DESC
            |FETCH FIRST 10 ROWS WITH TIES""".stripMargin,
          tmp("limit_ties"))
    },

    // CREATE VIEW (commands/view.c) — define once, compose in later
    // statements; the body goes through the full dialect.
    Q("q_sql_view", Some(
      """WITH cust_sales AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS total
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.c_mktsegment, count(*) AS n_cust,
        |  CAST(round(sum(CAST(v.total AS DECIMAL(28,6))), 2) AS DOUBLE) AS seg_total
        |FROM cust_sales v JOIN customer c ON c.c_custkey = v.o_custkey
        |WHERE v.n_orders >= 5
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("sqlview")
        GpSqlDialect.execute(s,
          """CREATE OR REPLACE VIEW cust_sales AS
            |SELECT o_custkey, count(*) AS n_orders,
            |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS total
            |FROM orders GROUP BY o_custkey""".stripMargin, base)
        GpSqlDialect.execute(s,
          """SELECT c.c_mktsegment, count(*) AS n_cust,
            |  CAST(round(sum(CAST(v.total AS DECIMAL(28,6))), 2) AS DOUBLE) AS seg_total
            |FROM cust_sales v JOIN customer c ON c.c_custkey = v.o_custkey
            |WHERE v.n_orders >= 5
            |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin, base)
    },

    // PG pattern/null-comparison surface through the dialect: ILIKE and
    // IS DISTINCT FROM pass to Spark natively; SIMILAR TO (full-anchored
    // SQL-wildcard regex, similar_escape) and BETWEEN SYMMETRIC are
    // textual rewrites (Spark's parser lacks both).
    Q("q_sql_pattern", Some(
      """SELECT n_name,
        |  n_name ILIKE '%an%' AS ilike_an,
        |  n_name SIMILAR TO '(A|I|U)%' AS sim_aiu,
        |  n_name NOT SIMILAR TO '%(A|N)' AS nsim_an,
        |  regexp_matches(n_name, 'IA') AS re_ia,
        |  regexp_matches(n_name, '(?i)^i.*a') AS re_ci,
        |  NOT regexp_matches(n_name, 'A') AS nre_a,
        |  NOT regexp_matches(n_name, '(?i)n$') AS nre_ci,
        |  n_regionkey IS DISTINCT FROM (n_nationkey % 5) AS key_differs,
        |  (n_nationkey BETWEEN least(20, 10) AND greatest(20, 10)) AS in_band
        |FROM nation ORDER BY n_name""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      GpSqlDialect.execute(s,
        """SELECT n_name,
          |  n_name ILIKE '%an%' AS ilike_an,
          |  n_name SIMILAR TO '(A|I|U)%' AS sim_aiu,
          |  n_name NOT SIMILAR TO '%(A|N)' AS nsim_an,
          |  n_name ~ 'IA' AS re_ia,
          |  n_name ~* '^i.*a' AS re_ci,
          |  n_name !~ 'A' AS nre_a,
          |  n_name !~* 'n$' AS nre_ci,
          |  n_regionkey IS DISTINCT FROM (n_nationkey % 5) AS key_differs,
          |  n_nationkey BETWEEN SYMMETRIC 20 AND 10 AS in_band
          |FROM nation ORDER BY n_name""".stripMargin, tmp("pattern"))
    },

    // CREATE MATERIALIZED VIEW / REFRESH (commands/matview.c): the
    // materialization is STALE after base-table inserts until REFRESH
    // re-runs the definition — PG's non-incremental semantics, shown in
    // one result (phase column): stale counts, then refreshed counts.
    Q("q_sql_matview", Some(
      s"""SELECT 'stale' AS phase, o_orderstatus, count(*) AS n,
         |  ${Q.oSum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey <= 2000 GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'fresh', o_orderstatus, count(*), ${Q.oSum("o_totalprice")}
         |FROM orders WHERE o_orderkey <= 2500 GROUP BY o_orderstatus
         |ORDER BY phase, o_orderstatus""".stripMargin)) { (s, dir) =>
      import s.implicits._
      Tables.registerAll(s, dir)
      val base = tmp("matview")
      GpSqlDialect.execute(s,
        """CREATE TABLE mvbase AS
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |FROM orders WHERE o_orderkey <= 2000""".stripMargin, base)
      GpSqlDialect.execute(s,
        """CREATE MATERIALIZED VIEW mv_sales AS
          |SELECT o_orderstatus, count(*) AS n,
          |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS total
          |FROM mvbase GROUP BY o_orderstatus""".stripMargin, base)
      GpSqlDialect.execute(s,
        """INSERT INTO mvbase
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |FROM orders WHERE o_orderkey > 2000 AND o_orderkey <= 2500""".stripMargin,
        base)
      // still the pre-insert materialization — snapshot it (rows are
      // aggregate-sized) before REFRESH overwrites the backing parquet
      val staleRows = s.table("mv_sales").collect().toSeq
      val stale = s.createDataFrame(
        s.sparkContext.parallelize(staleRows), s.table("mv_sales").schema)
      GpSqlDialect.execute(s, "REFRESH MATERIALIZED VIEW mv_sales", base)
      stale.select(lit("stale").as("phase"), $"o_orderstatus", $"n", $"total")
        .unionAll(s.table("mv_sales")
          .select(lit("fresh").as("phase"), $"o_orderstatus", $"n", $"total"))
        .orderBy("phase", "o_orderstatus")
    },

    // INSERT ... ON CONFLICT DO UPDATE (gram.y on_conflict, executor
    // speculative insertion): overlapping load windows — the second load
    // updates the overlap in place (EXCLUDED row) and inserts the rest.
    // Oracle derives the same final state arithmetically from orders.
    Q("q_sql_upsert", Some(
      """SELECT o_orderkey AS k,
        |  CAST(CASE WHEN o_orderkey > 500 THEN o_totalprice * 2
        |       ELSE o_totalprice END AS DOUBLE) AS price,
        |  CAST(CASE WHEN o_orderkey BETWEEN 501 AND 1000 THEN 2
        |       ELSE 1 END AS BIGINT) AS hits
        |FROM orders WHERE o_orderkey <= 1500
        |ORDER BY k""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("upsertq")
      GpSqlDialect.execute(s, "DROP TABLE IF EXISTS ups_orders", base)
      GpSqlDialect.execute(s,
        """CREATE TABLE ups_orders (
          |  k bigint, price double precision, hits bigint)
          |DISTRIBUTED BY (k)""".stripMargin, base)
      GpSqlDialect.execute(s,
        """INSERT INTO ups_orders
          |SELECT o_orderkey, o_totalprice, 1 FROM orders
          |WHERE o_orderkey <= 1000""".stripMargin, base)
      GpSqlDialect.execute(s,
        """INSERT INTO ups_orders
          |SELECT o_orderkey, o_totalprice * 2, 1 FROM orders
          |WHERE o_orderkey BETWEEN 501 AND 1500
          |ON CONFLICT (k) DO UPDATE SET price = EXCLUDED.price,
          |  hits = hits + EXCLUDED.hits""".stripMargin, base)
      GpSqlDialect.execute(s,
        "SELECT k, price, hits FROM ups_orders ORDER BY k", base)
    },

    // SQL MERGE statement (PG 15 / GP 7 parse_merge.c, ExecMerge): one
    // full-outer join drives all three branches — matched rows update
    // (or DELETE under a guard), source-only rows insert, target-only
    // rows keep. Oracle derives the final state arithmetically.
    Q("q_sql_merge_stmt", Some(
      """SELECT k, v, CAST(touched AS BIGINT) AS touched FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v, 0 AS touched
        |  FROM nation WHERE n_nationkey < 10
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT), concat('X-', n_name), 1
        |  FROM nation WHERE n_nationkey BETWEEN 11 AND 14
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT), concat('X-', n_name), 2
        |  FROM nation WHERE n_nationkey BETWEEN 15 AND 19
        |) ORDER BY k""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("mergestmt")
      GpSqlDialect.execute(s, "DROP TABLE IF EXISTS mq_t", base)
      GpSqlDialect.execute(s,
        """CREATE TABLE mq_t AS
          |SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v,
          |  CAST(0 AS BIGINT) AS touched
          |FROM nation WHERE n_nationkey < 15""".stripMargin, base)
      s.sql(
        """SELECT CAST(n_nationkey AS BIGINT) AS k,
          |  concat('X-', n_name) AS v FROM nation
          |WHERE n_nationkey BETWEEN 10 AND 19""".stripMargin)
        .createOrReplaceTempView("mq_s")
      GpSqlDialect.execute(s,
        """MERGE INTO mq_t USING mq_s ON mq_t.k = mq_s.k
          |WHEN MATCHED AND mq_s.k = 10 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = mq_s.v, touched = 1
          |WHEN NOT MATCHED THEN INSERT (k, v, touched)
          |  VALUES (mq_s.k, mq_s.v, 2)""".stripMargin, base)
      GpSqlDialect.execute(s,
        "SELECT k, v, touched FROM mq_t ORDER BY k", base)
    },

    // Incremental matview REFRESH (IVM decomposition for distributive
    // aggs; matview.c itself is recompute-only): after an append-only
    // INSERT, REFRESH aggregates only the NEW parquet files and merges
    // into the stored matview (count⊕=sum, sum⊕=sum, min⊕=min,
    // max⊕=max) — O(delta) instead of O(base) at 100 TB. The require()
    // makes the query fail loudly if the delta-merge path didn't fire.
    Q("q_sql_matview_inc", Some(
      s"""SELECT o_orderstatus, count(*) AS n, ${Q.oSum("o_totalprice")} AS total,
         |  min(o_custkey) AS lo, max(o_custkey) AS hi
         |FROM orders WHERE o_orderkey <= 4000
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("ivmq")
        GpSqlDialect.execute(s, "DROP TABLE IF EXISTS ivmq_base", base)
        GpSqlDialect.execute(s,
          """CREATE TABLE ivmq_base AS
            |SELECT o_orderstatus, o_custkey,
            |  CAST(o_totalprice AS DECIMAL(28,6)) AS price
            |FROM orders WHERE o_orderkey <= 2000""".stripMargin, base)
        GpSqlDialect.execute(s,
          """CREATE MATERIALIZED VIEW ivmq_mv AS
            |SELECT o_orderstatus, count(*) AS n, sum(price) AS total_raw,
            |  min(o_custkey) AS lo, max(o_custkey) AS hi
            |FROM ivmq_base GROUP BY o_orderstatus""".stripMargin, base)
        GpSqlDialect.execute(s,
          """INSERT INTO ivmq_base
            |SELECT o_orderstatus, o_custkey,
            |  CAST(o_totalprice AS DECIMAL(28,6))
            |FROM orders
            |WHERE o_orderkey > 2000 AND o_orderkey <= 4000""".stripMargin,
          base)
        GpSqlDialect.execute(s, "REFRESH MATERIALIZED VIEW ivmq_mv", base)
        require(GpSqlDialect.lastRefreshIncremental,
          "expected the delta-merge refresh path")
        GpSqlDialect.execute(s,
          """SELECT o_orderstatus, n,
            |  CAST(round(total_raw, 2) AS DOUBLE) AS total, lo, hi
            |FROM ivmq_mv ORDER BY o_orderstatus""".stripMargin, base)
    },

    // Sequences (commands/sequence.c; GP's master seqserver is the
    // documented bulk-load bottleneck — cdb/cdbvars.c). Bulk nextval
    // reserves ONE contiguous block and assigns ids distributed
    // (range-partition + per-partition offsets, SequenceOps.assignIds):
    // no per-row driver traffic, no single-partition window.
    Q("q_sql_sequence", Some(
      """SELECT CAST(998 + 2 * row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS seq_id,
        |  c_custkey, c_name
        |FROM customer WHERE c_custkey <= 60
        |ORDER BY c_custkey""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        GpSqlDialect.execute(s, "DROP SEQUENCE IF EXISTS cust_seq", tmp("seq"))
        GpSqlDialect.execute(s,
          "CREATE SEQUENCE cust_seq START WITH 1000 INCREMENT BY 2",
          tmp("seq"))
        GpSqlDialect.execute(s,
          """SELECT nextval('cust_seq') AS seq_id, c_custkey, c_name
            |FROM customer WHERE c_custkey <= 60
            |ORDER BY c_custkey""".stripMargin, tmp("seq"))
          .orderBy("c_custkey")
    },

    // Cursors (portalcmds.c; GP gp_parallel_retrieve_cursor): DECLARE
    // spools the query once into an indexed parquet (PG WITH HOLD
    // tuplestore), FETCH is a pruned range read — paged retrieval of a
    // huge result without re-running the query per page. Batch 3 (r8)
    // exercises the positioned/backward directions (PerformPortalFetch
    // grammar): LAST → BACKWARD 3 → ABSOLUTE 25 → RELATIVE −5 → PRIOR,
    // each a __pos range predicate, no scrollback buffer.
    Q("q_sql_cursor", Some(
      """WITH r AS (SELECT c_custkey, c_name,
        |    row_number() OVER (ORDER BY c_custkey) AS rn,
        |    count(*) OVER () AS cnt
        |  FROM customer WHERE c_custkey <= 40)
        |SELECT * FROM (
        |  SELECT 1 AS batch, c_custkey, c_name FROM r WHERE rn <= 10
        |  UNION ALL
        |  SELECT 2 AS batch, c_custkey, c_name FROM r
        |    WHERE rn > 10 AND rn <= 20
        |  UNION ALL
        |  SELECT 3 AS batch, c_custkey, c_name FROM r
        |    WHERE rn IN (cnt, cnt-1, cnt-2, cnt-3, 25, 20, 19)
        |) ORDER BY batch, c_custkey""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("cursor")
        GpSqlDialect.execute(s,
          """DECLARE top_cust CURSOR FOR
            |SELECT c_custkey, c_name FROM customer
            |WHERE c_custkey <= 40 ORDER BY c_custkey""".stripMargin, base)
        val b1 = GpSqlDialect.execute(s, "FETCH 10 FROM top_cust", base)
        val b2 = GpSqlDialect.execute(s, "FETCH FORWARD 10 FROM top_cust", base)
        val b3 = Seq(
          GpSqlDialect.execute(s, "FETCH LAST FROM top_cust", base),
          GpSqlDialect.execute(s, "FETCH BACKWARD 3 FROM top_cust", base),
          GpSqlDialect.execute(s, "FETCH ABSOLUTE 25 FROM top_cust", base),
          GpSqlDialect.execute(s, "FETCH RELATIVE -5 FROM top_cust", base),
          GpSqlDialect.execute(s, "FETCH PRIOR FROM top_cust", base))
          .reduce(_ unionAll _)
        GpSqlDialect.execute(s, "CLOSE top_cust", base)
        b1.select(lit(1).as("batch"), col("c_custkey"), col("c_name"))
          .unionAll(
            b2.select(lit(2).as("batch"), col("c_custkey"), col("c_name")))
          .unionAll(
            b3.select(lit(3).as("batch"), col("c_custkey"), col("c_name")))
          .orderBy("batch", "c_custkey")
    },

    // Schemas + search_path (commands/schemacmds.c, namespace.c
    // RangeVarGetRelid): CREATE SCHEMA, schema-qualified CTAS, then an
    // unqualified reference resolved through search_path joining back
    // to a default-schema relation. Oracle replays the equivalent
    // SELECT over the base tables.
    Q("q_sql_schema", Some(
      """SELECT r_name, count(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE n_nationkey < 20
        |GROUP BY r_name ORDER BY r_name""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      val base = tmp("sqlschema")
      GpSqlDialect.execute(s, "CREATE SCHEMA IF NOT EXISTS staging", base)
      GpSqlDialect.execute(s,
        """CREATE TABLE staging.nat AS
          |SELECT * FROM nation WHERE n_nationkey < 20""".stripMargin, base)
      GpSqlDialect.execute(s, "SET search_path TO staging, public", base)
      val out = GpSqlDialect.execute(s,
        """SELECT r_name, count(*) AS n
          |FROM nat JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin, base)
      GpSqlDialect.execute(s, "RESET search_path", base)
      out
    },

    // Resource queues (commands/queue.c; gram.y:1301 CreateQueueStmt):
    // CREATE RESOURCE QUEUE + role binding + SET ROLE, a statement
    // admitted through the queue's slot, then pg_resqueue /
    // gp_toolkit.gp_resqueue_status introspection. Admission maps to a
    // counting semaphore + fair-scheduler pool (ResourceQueues); the
    // oracle replays the aggregation and pins the catalog constants.
    Q("q_sql_resqueue", Some(
      """SELECT 'etl_q' AS rsqname, 2 AS limit_n, 0 AS active_n,
        |  n_regionkey, count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        val base = tmp("resq")
        GpSqlDialect.execute(s, "RESET ROLE", base)
        GpSqlDialect.execute(s, "DROP ROLE IF EXISTS etl_user", base)
        try GpSqlDialect.execute(s, "DROP RESOURCE QUEUE etl_q", base)
        catch { case _: IllegalArgumentException => } // first run
        GpSqlDialect.execute(s,
          "CREATE RESOURCE QUEUE etl_q ACTIVE THRESHOLD 2 " +
            "COST THRESHOLD 1000000.0 NOOVERCOMMIT", base)
        GpSqlDialect.execute(s,
          "CREATE ROLE etl_user LOGIN RESOURCE QUEUE etl_q", base)
        GpSqlDialect.execute(s, "SET ROLE etl_user", base)
        val agg = GpSqlDialect.execute(s,
          """SELECT n_regionkey, count(*) AS n
            |FROM nation GROUP BY n_regionkey""".stripMargin, base)
        GpSqlDialect.execute(s, "RESET ROLE", base)
        val meta = GpSqlDialect.execute(s,
          """SELECT q.rsqname, CAST(q.rsqcountlimit AS INT) AS limit_n,
            |  s.rsqcountvalue AS active_n
            |FROM pg_resqueue q
            |JOIN gp_toolkit.gp_resqueue_status s ON q.rsqname = s.rsqname
            |WHERE q.rsqname = 'etl_q'""".stripMargin, base)
        meta.crossJoin(agg)
          .select("rsqname", "limit_n", "active_n", "n_regionkey", "n")
          .orderBy("n_regionkey")
    },

    // UDAF via Aggregator (sfunc/combinefunc/finalfunc ≡ reduce/merge/
    // finish) — geometric mean, planned partial/final across the shuffle.
    Q("q_udaf_geomean", Some(
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_quantity))), 4) AS geo_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem
          .groupBy($"l_returnflag")
          .agg(round(GeoMean.asColumn($"l_quantity"), 4).as("geo_qty"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
    }
  )
}
