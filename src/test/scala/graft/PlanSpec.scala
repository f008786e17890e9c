package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the 100 TB design gates (SURVEY §7 / prompt):
  * filters and projections reach the Parquet scan, small dims broadcast,
  * aggregation is partial/final, expressions stay in whole-stage codegen. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize so AQE reaches its final plan (codegen visible)
    df.queryExecution.executedPlan.toString
  }

  test("q_scan_filter pushes predicates and prunes columns at the scan") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("GreaterThan(l_discount"), p)
    // projection pruning: quantity columns only, no l_returnflag in schema
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_returnflag"), "scan reads pruned column")
  }

  test("q_join_multiway broadcasts the small dimensions") {
    val p = plan("q_join_multiway")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q1_agg is a partial/final hash aggregate inside codegen") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), "no partial (map-side) aggregation")
    // '*(n)' is the whole-stage-codegen marker in AQE final plans
    assert(p.contains("*("), s"no whole-stage codegen span: $p")
  }

  test("q_join_semi plans a semi join, q_join_anti an anti join") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("q_topk is TakeOrderedAndProject (bounded heap, no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_sort_multikey (orderBy+limit) avoids a global sort too") {
    assert(plan("q_sort_multikey").contains("TakeOrderedAndProject"))
  }

  test("q_limit_offset does not scan-and-sort the world twice") {
    assert(plan("q_limit_offset").contains("TakeOrderedAndProject"))
  }

  test("q_partitioned_scan prunes partitions at the scan") {
    val p = plan("q_partitioned_scan")
    assert(p.contains("PartitionFilters: [") &&
      p.contains("(o_year"), p.linesIterator.filter(_.contains("FileScan"))
        .mkString("\n"))
  }

  test("q_bucketed_join joins without shuffling either side") {
    val p = plan("q_bucketed_join") // creates the bucketed tables
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      "lineitem side re-shuffled despite bucketing")
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
      "orders side re-shuffled despite bucketing")
    // with broadcast off, the bucketed sort-merge join is co-located:
    // no exchange under the join (GP: no Motion when both sides are
    // DISTRIBUTED BY the join key)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.table("graft_bkt_lineitem")
        .join(spark.table("graft_bkt_orders"),
          spark.table("graft_bkt_lineitem")("l_orderkey") ===
            spark.table("graft_bkt_orders")("o_orderkey"))
      df.collect()
      val p2 = df.queryExecution.executedPlan.toString
      assert(p2.contains("SortMergeJoin"), p2)
      assert(!p2.contains("Exchange"), s"co-located join still shuffled: $p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_sql_ddl_subpartition prunes on both partition levels") {
    val p = plan("q_sql_ddl_subpartition")
    assert(p.contains("PartitionFilters: ["), p)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("o_orderstatus") && pf.contains("o_year"),
      s"expected both-level pruning, got: $pf")
  }

  test("q_dpp plans dynamic partition pruning on the fact scan") {
    val p = plan("q_dpp")
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("q_range_join meets through an equi-join on bins, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"interval join fell back to a nested loop: $p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q_sql_limit_ties plans a bounded WindowGroupLimit, not rank-everything") {
    val p = plan("q_sql_limit_ties")
    assert(p.contains("WindowGroupLimit"),
      s"rank()<=n not rewritten to a group-limit: $p")
  }

  test("q_pipeline_domain_cap bounds hot domains pre-shuffle (WindowGroupLimit)") {
    val p = plan("q_pipeline_domain_cap")
    // a hot domain must move ≤ cap·partitions rows, not its full page
    // set: the rank filter has to lower to the partial group-limit
    assert(p.contains("WindowGroupLimit"),
      s"row_number()<=cap not rewritten to a group-limit: $p")
  }

  test("q_pipeline_dsir keeps via distributed top-k, not a global sort") {
    val p = plan("q_pipeline_dsir")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 keep did not plan as TakeOrderedAndProject: $p")
  }

  test("q_dedup_bloom screens at the scan; only suspects reach the anti-join") {
    val p = plan("q_dedup_bloom")
    // the might_contain predicate must sit in the probe's filter stage
    // (fresh rows never shuffle), and the exact re-check is a LeftAnti
    assert(p.contains("might_contain"),
      s"bloom prefilter missing from the executed plan: $p")
    assert(p.contains("LeftAnti"), s"exact anti-join re-check missing: $p")
  }

  /** Hash-shuffle count in the FINAL plan (AQE's toString appends the
    * initial plan too — counting that would double every exchange).
    * rangepartitioning (the presentation ORDER BY for the oracle
    * compare) is not a dataflow shuffle and is not counted. */
  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r
      .findAllIn(p.split("== Initial Plan ==").head).length

  test("q_sql_distinct_on keeps one shuffle on the ON exprs") {
    val p = plan("q_sql_distinct_on")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"),
      s"DISTINCT ON did not lower to a window: $p")
    assert(hashExchanges(p) <= 1,
      s"expected at most 1 hash shuffle, got ${hashExchanges(p)}:\n$p")
  }

  test("q_window_groups broadcasts the collapsed groups, no global window") {
    val p = plan("q_window_groups")
    assert(p.contains("BroadcastHashJoin"),
      s"collapsed-group join did not broadcast: $p")
    // the window runs over the tiny collapsed relation, partitioned by
    // nation — never an empty-PARTITION BY (single-partition) window
    assert(!p.contains("SinglePartition"), s"single-partition window: $p")
  }

  test("q_window_exclude computes all three modes in ONE window shuffle") {
    val p = plan("q_window_exclude")
    assert(hashExchanges(p) <= 1,
      s"frame+peer windows should share one hash partitioning, got ${hashExchanges(p)}:\n$p")
  }

  test("q_fn_range predicates stay in whole-stage codegen (no UDFs)") {
    val p = plan("q_fn_range")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    assert(p.contains("*("), s"no codegen span: $p")
  }

  test("q_text_redact scrub stage never hash-shuffles") {
    val p = plan("q_text_redact")
    // only the presentation ORDER BY (rangepartitioning) may appear
    assert(hashExchanges(p) == 0, s"a scrub stage must not shuffle: $p")
  }

  test("q_fn_ts_headline snippet pass never hash-shuffles") {
    val p = plan("q_fn_ts_headline")
    // cover selection + markup is ONE codegen'd scalar per row — only
    // the presentation ORDER BY (rangepartitioning) may appear
    assert(hashExchanges(p) == 0,
      s"ts_headline must stay inside the scan stage: $p")
  }

  test("q_pipeline_url_dedup shuffles canonical keys only") {
    val p = plan("q_pipeline_url_dedup")
    // canonicalization is map-only; the single hash exchange is the
    // dedup groupBy on canon_url, with a map-side partial before it
    assert(hashExchanges(p) == 1,
      s"expected exactly the dedup shuffle: $p")
    assert(p.contains("partial_"), s"dedup needs a map-side partial: $p")
  }

  test("q_ml_dbscan generates ε-candidates by grid equi-join") {
    val p = plan("q_ml_dbscan")
    // the 3×3 cell probe must be an equi-join on cell keys — DBSCAN's
    // classic grid optimization; a point×point plan would be the
    // O(n²) scale-killer this kernel exists to avoid
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dedup_substr matches grams by equi-join, never doc×doc") {
    val p = plan("q_dedup_substr")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // pair generation must be the gram-hash equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q_agg_groupingsets scans the base relation once (multi-phase)") {
    val p = plan("q_agg_groupingsets")
    // the finest-group aggregate is cached; every grouping set re-reads
    // the in-memory intermediate (InMemoryTableScan — the plan string
    // re-renders the cached build plan per branch, so FileScan text
    // counts are not meaningful), and the Expand operator (native
    // grouping-sets ×sets row blowup) is absent
    assert(!p.contains("Expand"), s"multi-phase plan must not Expand:\n$p")
    assert(p.contains("InMemoryTableScan"), p)
    graft.operators.KernelCaches.releaseAll()
  }

  test("q_text_bm25 joins stats and df by broadcast, never sort-merge") {
    val p = plan("q_text_bm25")
    // df is a ≤|terms|-row broadcast, corpus stats a 1-row broadcast
    // nested loop; the only shuffles are the posting/doc aggregates
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"bm25 scorer must not sort-merge join: $p")
  }

  test("ANALYZE stats reach the planner: compressed table stops broadcasting") {
    import graft.sql.GpSqlDialect
    graft.plans.AnalyzedStats.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString
    // low-cardinality key bitpacks + constant pad RLE-compresses: 1M
    // rows land near 1 MB on disk — the file-size heuristic calls that
    // broadcastable; the true in-memory size is ~30 MB (the classic
    // hazardous broadcast of a well-compressed table)
    spark.range(1000000L)
      .selectExpr("id % 100 AS k", "repeat('c', 64) AS pad")
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/puffy")
    // incompressible md5 strings: several MB on disk, so only the
    // compressed side is ever the broadcast candidate
    spark.range(200000L)
      .selectExpr("id % 100 AS k", "md5(cast(id AS string)) AS h")
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/probe")
    def dirBytes(p: String): Long =
      new java.io.File(p).listFiles().filter(_.isFile).map(_.length).sum
    spark.read.parquet(s"$dir/puffy").createOrReplaceTempView("stats_puffy")
    spark.read.parquet(s"$dir/probe").createOrReplaceTempView("stats_probe")
    def joined = spark.table("stats_probe").join(spark.table("stats_puffy"), "k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // threshold between the two measured disk sizes: without stats,
      // only the compressed table qualifies for broadcast
      val threshold = dirBytes(s"$dir/puffy") * 2
      assert(threshold < dirBytes(s"$dir/probe"),
        "fixture sizes drifted — compressed side no longer the only candidate")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      val before = joined.queryExecution.sparkPlan.toString
      assert(before.contains("BroadcastHashJoin"),
        s"without stats the file-size heuristic should broadcast:\n$before")
      GpSqlDialect.executeAnalyze(spark, "stats_puffy")
      // a fresh resolution of the same view now plans with rowCount/NDV
      assert(spark.table("stats_puffy")
        .queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1000000)),
        "ANALYZE row count did not reach plan statistics")
      val after = joined.queryExecution.sparkPlan.toString
      assert(!after.contains("BroadcastHashJoin"),
        s"stats say 1M rows (~30 MB in memory) — must not broadcast:\n$after")
      assert(after.contains("SortMergeJoin") || after.contains("ShuffledHashJoin"),
        after)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.plans.AnalyzedStats.clear()
    }
  }

  test("ANALYZE stats drive cost-based join ORDER, not just broadcast") {
    import graft.sql.GpSqlDialect
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    graft.plans.AnalyzedStats.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft_reord").toString
    // big ⋈ mid on a (est. 200k·50k/1000 = 10M rows) vs big ⋈ tiny on b
    // (est. 200k·10/500 = 4k rows): the written order leads with the
    // expensive pair; only NDV-driven cardinality estimates can tell
    spark.range(200000L)
      .selectExpr("id % 1000 AS a", "id % 500 AS b", "id AS v")
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/big")
    spark.range(50000L).selectExpr("id % 1000 AS a", "id AS mv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/mid")
    spark.range(10L).selectExpr("id AS b", "id AS sv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/tiny")
    Seq("big", "mid", "tiny").foreach { t =>
      spark.read.parquet(s"$dir/$t").createOrReplaceTempView(s"reord_$t")
    }
    def q = spark.sql(
      """SELECT count(*) AS n FROM reord_big b
        |JOIN reord_mid m ON b.a = m.a
        |JOIN reord_tiny t ON b.b = t.b""".stripMargin)
    def deepestJoinPaths: Set[String] = {
      val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.size == 2, s"expected a 2-join tree:\n${q.queryExecution.optimizedPlan}")
      joins.last.collectLeaves().flatMap {
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
        case _ => Seq.empty
      }.toSet
    }
    try {
      // without stats CostBasedJoinReorder skips (no rowCounts): the
      // deepest join is the pair as written — big ⋈ mid
      val before = deepestJoinPaths
      assert(before.exists(_.endsWith("/mid")) && !before.exists(_.endsWith("/tiny")),
        s"pre-stats join order should follow the query text: $before")
      val expected = q.head.getLong(0)
      Seq("reord_big", "reord_mid", "reord_tiny")
        .foreach(GpSqlDialect.executeAnalyze(spark, _))
      // with rowCount+NDV on every side, the DP reorder leads with the
      // selective tiny join — costsize.c's join-ordering role, not just
      // the broadcast-threshold flip
      val after = deepestJoinPaths
      assert(after.exists(_.endsWith("/tiny")),
        s"post-ANALYZE the selective join must run first: $after")
      assert(q.head.getLong(0) == expected, "reorder changed the result")
    } finally graft.plans.AnalyzedStats.clear()
  }

  test("q_agg_percentile_user: the window's hash exchange serves the final agg too") {
    val p = plan("q_agg_percentile_user")
    assert(p.contains("Window"), p)
    // rank-selection promise: ONE hash shuffle total — the final
    // group-by reuses the window's partitioning on the same key (the
    // only other exchange is the output sort's rangepartitioning).
    // AQE prints Final + Initial plans; count the final section only.
    val finalSection = p.split("== Initial Plan ==").head
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(finalSection).length
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges:\n$p")
  }

  test("q_text_rank / q_text_rank_cd stay map-only (no hash shuffle)") {
    // both ranks are per-document scalars inside the scan stage — a
    // hash exchange would mean the ranking shuffled the corpus
    for (name <- Seq("q_text_rank", "q_text_rank_cd")) {
      val p = plan(name)
      val finalSection = p.split("== Initial Plan ==").head
      assert(!finalSection.contains("Exchange hashpartitioning"),
        s"$name hash-shuffles: $p")
    }
  }

  test("q_percentile_bigrow: rank selection with no per-group buffer") {
    val p = plan("q_percentile_bigrow")
    // the few-groups × huge-rows regime (verdict r7 #2): NO buffered
    // percentile aggregate (unbounded per-group value array) and NO
    // per-group window sort (|groups|-task parallelism collapse) —
    // rank selection runs on range-partitioned cumulative counts
    assert(!p.toLowerCase.contains("percentile"),
      s"buffered percentile aggregate in plan: $p")
    assert(!p.contains("Window"), s"per-group window sort in plan: $p")
    // aggregation must partial-aggregate map-side (the (group, value)
    // count agg itself sits inside the cached prefix-sum relation,
    // whose subtree the plan string elides), and the partition bases
    // join as a broadcast
    assert(p.contains("partial_"), s"no map-side combine: $p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"partition-base join did not broadcast: $p")
  }

  test("q_pipeline_mixture keep-filter never hash-shuffles the corpus") {
    val p = plan("q_pipeline_mixture")
    // thresholds are a separate catalog-scale job; the output plan is
    // scan → filter (→ output sort) — a hash exchange would mean the
    // mixture filter shuffled 100 TB for a map-only decision
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the 100 TB lever GP spells as a hash-join prefilter: when a dim
    // carries a selective predicate and the join must shuffle, Catalyst
    // injects a bloom_filter_agg on the dim and a BloomFilterMightContain
    // under the fact scan, so most fact rows die before the exchange.
    // Local data is far below the size thresholds, so the test pins the
    // at-scale settings explicitly; the default confs keep the same rule
    // armed for genuinely large scans (SCALING.md knobs).
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t = Tables.T(spark, sf)
      val dim = t.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val j = t.lineitem.select(col("l_orderkey"), col("l_quantity"))
        .join(dim, col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("bloom"),
        s"expected an injected runtime bloom filter:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("distribution-key equality prunes buckets (direct dispatch)") {
    // GP's direct dispatch: a distribution-key = constant predicate
    // routes the query to ONE segment (cdbmutate.c directDispatch).
    // Spark analogue: an equality filter on the bucket column reads
    // only the matching bucket files — SelectedBucketsCount 1 of 8.
    SparkEntry.queries("q_bucketed_join")(spark, sf).collect() // fixture
    // autoBucketedScan drops bucketed reading for plans with no
    // interesting-partitioning consumer — which also forfeits bucket
    // PRUNING; a pure point lookup must pin it on (the conf a
    // point-lookup-heavy deployment sets)
    val prev = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      spark.conf
        .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val df = spark.table("graft_bkt_orders")
        .filter(org.apache.spark.sql.functions.col("o_orderkey") === 1L)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket-key equality must prune to one bucket:\n$p")
    } finally spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
  }

  test("q_dedup_incremental: batch meets reference only through equi-joins") {
    val p = plan("q_dedup_incremental")
    // candidates = band equi-join, admit = fingerprint anti-join; a
    // nested-loop anywhere would mean batch×corpus materialized
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup must never go doc×doc:\n$p")
    assert(p.contains("LeftAnti"), s"admit decision must be an anti-join:\n$p")
  }

  test("q_text_tfidf: postings equi-join with partial pair aggregation") {
    val p = plan("q_text_tfidf")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"tf-idf pairs must come from the token postings join:\n$p")
    // the pair dot-product aggregate must combine map-side
    assert(p.contains("partial_sum") || p.contains("partial sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      s"pair aggregate should have a partial phase:\n$p")
  }

  test("q_dedup_containment: prefix-vs-index equi-join, never doc×doc") {
    val p = plan("q_dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment candidates must come from the shingle-id join:\n$p")
  }

  test("q_dedup_semantic: centroids broadcast, pairs meet on cluster id") {
    val p = plan("q_dedup_semantic")
    // the only nested-loop is the corpus × k-centroid broadcast
    // (assignment, linear); the within-cluster pair join and the final
    // anti-join are equi-joins — a CartesianProduct would mean the
    // doc×doc pair space materialized
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"),
      s"semantic dedup must never go doc×doc:\n$p")
  }

  test("q_embed_project: the JL projection is map-only — zero shuffles") {
    val p = plan("q_embed_project")
    // the matrix lives in the plan as literal rows; any Exchange would
    // mean the projection shuffled the corpus it should only map over.
    // (the final orderBy is the harness sort — a range exchange for
    // output ordering is the one allowed shuffle)
    val shuffles = "Exchange (?!rangepartitioning)".r.findAllIn(p).length
    assert(shuffles == 0,
      s"random projection must not hash-shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ann_hard_negatives: anchors broadcast, corpus never shuffled " +
    "into pairs by sort-merge") {
    val p = plan("q_ann_hard_negatives")
    // candidate generation is corpus × broadcast(anchors) — linear in
    // the corpus; a SortMergeJoin would mean both sides shuffled full
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"hard negatives must not shuffle the corpus into a merge join:\n$p")
  }

  test("q_dedup_boilerplate: span verdicts meet docs on an equi-join") {
    val p = plan("q_dedup_boilerplate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"boilerplate strip must stay on the (source, span) equi-join:\n$p")
    // the doc-frequency aggregate must combine map-side
    assert(p.contains("partial_"), s"dfq aggregate needs a partial phase:\n$p")
  }

  test("pageRank rounds are equi-joins with map-side partial sums") {
    // each round runs as its own execution (the checkpoints and the
    // collected contribution sums cut the lineage), so assert over the
    // executed plan of every execution the kernel spawns
    import org.apache.spark.sql.functions.col
    val t = graft.Tables.T(spark, sf)
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("src"),
        (col("o_custkey") + 1000000L).as("dst"))
    val ps = TestSpark.plans {
      graft.operators.Components.pageRank(edges, "src", "dst",
        iterations = 2).collect()
    }
    assert(ps.nonEmpty)
    ps.foreach { p =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"pagerank must never materialize node×node:\n$p")
    }
    assert(ps.exists(_.contains("partial_sum")),
      s"contribution aggregate needs map-side combine:\n${ps.mkString("\n")}")
    // the round's state ships as a broadcast variable, not a plan
    ps.filter(_.contains("partial_sum")).foreach { p =>
      assert(!p.contains("BroadcastExchange"),
        s"a round must not broadcast its state through a job:\n$p")
    }
  }

  test("q_ml_assoc: candidate pairs come from the txn equi-join, " +
    "never item×item") {
    val p = plan("q_ml_assoc")
    assert(!p.contains("CartesianProduct"),
      s"assoc mining must never cross items:\n$p")
    // item/pair counts must combine map-side
    assert(p.contains("partial_count"),
      s"support counts need a partial phase:\n$p")
    // the global-N single row joins in as a broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"n_txn scalar should broadcast:\n$p")
  }

  test("q_ts_anomaly: per-type stats broadcast back; no corpus window") {
    val p = plan("q_ts_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      s"median/MAD stats should broadcast onto the corpus:\n$p")
    assert(!p.contains("Window"),
      s"anomaly flags must not run a window over the corpus:\n$p")
  }

  test("q_ml_target_enc: the global prior joins as a broadcast") {
    val p = plan("q_ml_target_enc")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row prior must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ml_corr: the whole correlation matrix reads one scan") {
    val p = plan("q_ml_corr").split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected ONE lineitem scan, got $scans:\n$p")
    assert(p.contains("partial_"), s"moment aggregate needs a partial phase:\n$p")
  }

  test("q_sql_create_aggregate: user aggregate plans partial/final") {
    val p = plan("q_sql_create_aggregate")
    // the combinefunc-backed aggregate (l2norm) must split into a
    // map-side partial + final HashAggregate like any built-in — only
    // its 8-byte state crosses the shuffle
    assert(p.contains("partial_l2norm"),
      s"user-defined aggregate did not plan a partial phase:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_profile_summary: one scan profiles every column") {
    val p = plan("q_profile_summary")
    // exactly one parquet scan of lineitem — the whole point of the
    // single-pass profile (an Expand for the multi-distinct NDVs still
    // reads the scan once). AQE's toString repeats the tree under
    // "== Initial Plan ==" — count the final section only.
    val finalPlan = p.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(finalPlan).length
    assert(scans == 1, s"expected ONE lineitem scan, got $scans:\n$p")
  }

  test("q_ann_rrf: both rankers broadcast the query side; fusion joins " +
    "are query-scale equi-joins") {
    val p = plan("q_ann_rrf")
    // candidate generation = corpus scan × broadcast queries (the two
    // BroadcastNestedLoopJoins); a CartesianProduct would mean a
    // corpus×corpus pair space
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"),
      s"RRF candidate generation must broadcast the query side:\n$p")
  }

  test("q_text_ctfidf: vocabulary-scale aggregates with map-side partials") {
    val p = plan("q_text_ctfidf")
    assert(p.contains("partial_count"),
      s"c-TF-IDF term counts need map-side partial aggregation:\n$p")
    // the one nested-loop allowed is the 1-row totals broadcast; the
    // (cls, tok) × marginals joins must be hash equi-joins
    assert(!p.contains("CartesianProduct"),
      s"c-TF-IDF must never cartesian the vocabulary:\n$p")
  }

  test("q_sql_mapreduce: the MR job lowers to one partial/final " +
    "hash aggregate") {
    val p = plan("q_sql_mapreduce")
    assert(p.contains("partial_"),
      s"builtin REDUCE must plan a map-side combine:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_graph_hits: score joins are equi-joins, never node×node") {
    val p = plan("q_graph_hits")
    assert(!p.contains("CartesianProduct"),
      s"HITS rounds must join scores by node id:\n$p")
  }

  test("q_graph_triangles: wedge and closing joins are hash equi-joins") {
    val p = plan("q_graph_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration must never materialize vertex pairs:\n$p")
  }

  test("q_ml_crossval: k-fold CV is ONE corpus aggregate, not k passes") {
    val p = plan("q_ml_crossval").split("== Initial Plan ==").head
    assert(p.contains("partial_"),
      s"per-fold moments need map-side partial aggregation:\n$p")
    // leave-fold-out by subtraction: exactly one corpus shuffle (the
    // fold groupBy); the totals window runs over the 5-row fold
    // relation (SinglePartition — post-aggregate catalog scale)
    assert(hashExchanges(p) <= 1,
      s"CV must not retrain per fold — expected 1 corpus shuffle, " +
        s"got ${hashExchanges(p)}:\n$p")
    assert("Scan parquet|FileScan".r.findAllIn(p).length <= 1,
      s"CV must scan the corpus once:\n$p")
  }

  test("q_ml_als: ALS half-rounds are equi-joins + partial aggregates") {
    val p = plan("q_ml_als")
    assert(p.contains("partial_"),
      s"ALS moment aggregates need map-side partials:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ratings ⨝ factors must be an equi-join on the entity id:\n$p")
  }

  test("q_ml_als_k: rank-3 ALS keeps the als2 plan shape — equi-joins" +
    " + partial aggregates, solve is row-local algebra") {
    val p = plan("q_ml_als_k")
    assert(p.contains("partial_"),
      s"ALS moment aggregates need map-side partials:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ratings ⨝ factors must be an equi-join on the entity id:\n$p")
  }

  test("q_ts_ar: lag features and moments never cartesian the series") {
    val p = plan("q_ts_ar")
    assert(p.contains("partial_"),
      s"AR moment aggregate needs map-side partials:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"AR fit joins by series key:\n$p")
  }

  test("q_ml_spearman: rank joins are value equi-joins with partial " +
    "count aggregates; no corpus window") {
    val p = plan("q_ml_spearman").split("== Initial Plan ==").head
    assert(p.contains("partial_"),
      s"per-value counts need map-side partials:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"midranks join back by value:\n$p")
    // ranking rides the distributed prefix (RDD mapPartitions), not a
    // global window over the corpus
    assert(!p.contains("WindowExec") && !p.contains(" Window "),
      s"ranking must ride the distributed prefix, not a window:\n$p")
  }

  test("q_ml_kendall: the quadratic work is cell-scale, one corpus scan") {
    val p = plan("q_ml_kendall").split("== Initial Plan ==").head
    assert("Scan parquet|FileScan".r.findAllIn(p).length <= 1,
      s"one aggregate builds the contingency cells:\n$p")
    assert(p.contains("partial_"),
      s"cell counts need map-side partials:\n$p")
  }

  test("q_ml_boost: each round is histogram aggregates, no cartesian, " +
    "no corpus collect") {
    val p = plan("q_ml_boost")
    assert(!p.contains("CartesianProduct"),
      s"boosting joins nothing row-to-row:\n$p")
  }

  test("q_ml_poisson: IRLS rounds are moment aggregates over the " +
    "broadcast coefficient row") {
    val p = plan("q_ml_poisson").split("== Initial Plan ==").head
    assert(p.contains("partial_"),
      s"weighted moments need map-side partials:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row coefficient state must broadcast:\n$p")
  }

  test("q_graph_betweenness: BFS levels and dependency flows are " +
    "equi-joins, never node×node") {
    val p = plan("q_graph_betweenness")
    assert(!p.contains("CartesianProduct"),
      s"Brandes levels join by (source, node):\n$p")
  }

  test("q_agg_cmsketch: the sketch broadcasts into the probe; counters " +
    "aggregate with map-side partials") {
    val p = plan("q_agg_cmsketch")
    assert(p.contains("partial_"),
      s"CM counters need map-side combine (mergeable-sketch contract):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 1024-cell sketch must broadcast into the key probe:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"CM probe is an equi-join on (row, bucket):\n$p")
  }

  test("q_graph_kcore: peel rounds are semi-joins on the alive set, " +
    "never node×node") {
    val p = plan("q_graph_kcore")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"k-core peeling joins endpoints by id:\n$p")
  }

  test("q_ann_pq: queries broadcast into the ADC scan; encode argmin " +
    "adds no extra corpus shuffle") {
    val p = plan("q_ann_pq")
    assert(p.contains("Broadcast"),
      s"the 8-query probe side must broadcast:\n$p")
    // one exchange for the per-query top-k window; the map-only encode
    // and reconstruct must not add corpus shuffles
    assert(hashExchanges(p) <= 1,
      s"PQ encode/reconstruct are map-only — expected ≤1 shuffle " +
        s"(top-k window), got ${hashExchanges(p)}:\n$p")
  }

  test("q_ann_ivfpq: candidates come from the cell equi-join, " +
    "never corpus×corpus") {
    val p = plan("q_ann_ivfpq").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"),
      s"IVF-PQ probe must equi-join on cell:\n$p")
    // the only nested-loop joins are the broadcast-centroid assigns
    // (bounded: nCells rows); the candidate join is hash/sort on cell
    assert("(?i)join.*\\bcell\\b".r.findFirstIn(p).isDefined ||
      p.contains("cell"),
      s"probe joins the coded index on cell:\n$p")
  }

  test("q_events_path: symbol sequences build from one user-keyed " +
    "aggregate; no cartesian") {
    val p = plan("q_events_path").split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"),
      s"path matching is per-user, never user×user:\n$p")
    assert("Scan parquet|FileScan".r.findAllIn(p).length <= 1,
      s"one corpus scan builds the sequences:\n$p")
  }

  test("q_text_bpe_encode: merge application is map-only; token counts " +
    "aggregate with partials") {
    val p = plan("q_text_bpe_encode").split("== Initial Plan ==").head
    assert(p.contains("partial_"),
      s"per-doc token counts need map-side partials:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"encode never joins the corpus to itself:\n$p")
  }

  test("PLSA normalizers (initPhi + φ M-step) are scalar aggregates " +
    "broadcast back — never a partition-less window over the vocab") {
    import spark.implicits._
    import graft.operators.TopicModel
    // the q_ml_lda entry plan can't show these: localCheckpoint per EM
    // round truncates lineage, so gate the un-checkpointed builders
    val vocab = Seq("alpha", "beta", "gamma").toDF("w")
    val pInit = TopicModel.initPhi(vocab)
      .queryExecution.executedPlan.toString
    assert(!pInit.contains("WindowExec") && !pInit.contains(" Window "),
      s"initPhi must normalize via scalar agg + broadcast:\n$pInit")
    assert(pInit.contains("Broadcast"),
      s"initPhi totals must broadcast back over the vocab:\n$pInit")
    val e = Seq(("a", 1L, 2L), ("b", 3L, 4L)).toDF("w", "m1", "m2")
    // per-doc raw masses as the θ step materializes them (r9: the φ
    // normalizer totals aggregate THIS doc-scale relation, not e)
    val perDoc = Seq((1L, 4L, 6L, 10L)).toDF("d", "s1", "s2", "sm")
    val pPhi = TopicModel.phiStep(e, perDoc)
      .queryExecution.executedPlan.toString
    assert(!pPhi.contains("WindowExec") && !pPhi.contains(" Window "),
      s"φ M-step must normalize via scalar agg + broadcast:\n$pPhi")
    assert(pPhi.contains("Broadcast"),
      s"φ per-topic totals must broadcast back:\n$pPhi")
    assert(pPhi.contains("partial_"),
      s"per-word masses need map-side partials:\n$pPhi")
    // plsaEmT keeps the same contract at any T: gate the T=3 φ/θ
    // relations it produces (one un-checkpointed EM round would hide
    // behind localCheckpoint, so probe the returned frames' plans via
    // a fresh un-checkpointed init equivalent — the builders above
    // are shared text; here just assert the T=3 run yields
    // window-free plans end-to-end on a tiny corpus)
    val dwc3 = Seq((1L, "a", 2.0), (2L, "b", 1.0), (3L, "c", 1.0))
      .toDF("d", "w", "c")
    val (th3, ph3) = TopicModel.plsaEmT(dwc3, topics = 3, iterations = 1)
    Seq(th3, ph3).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("WindowExec"),
        s"plsaEmT relations must stay window-free:\n$p")
    }
  }

  test("q_ml_svm_k / q_ml_cox_k: state relations broadcast; " +
    "aggregates keep map-side partials; never cartesian") {
    // (q_ml_mlp_k's returned frame is a localCheckpoint scan — its
    // round shape is gated by the builder probe below instead)
    Seq("q_ml_svm_k", "q_ml_cox_k").foreach { q =>
      val p = plan(q).split("== Initial Plan ==").head
      assert(p.contains("partial_"),
        s"$q: moment/gradient aggregates need map-side partials:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: the 1-row state must broadcast, never cartesian:\n$p")
      if (q == "q_ml_cox_k")
        // coxFitK projects its 1-row β as literals: nothing joins it back
        assert(!p.contains("Join"), s"$q: β must not join back:\n$p")
      else
        assert(p.contains("Broadcast"),
          s"$q: expected the broadcast state join:\n$p")
    }
  }

  test("mlpFitK round: one gradient aggregate over the broadcast " +
    "1-row weight state — partials present, never cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.NeuralNet.KText
    val (k, hidden) = (2, 2)
    val rows = Seq((0.1, 0.2, 0.3), (0.4, 0.5, 0.6))
      .toDF("x1", "x2", "y")
    val names = KText.wNames(k, hidden)
    val w = Seq(1).toDF("__one").select(
      names.zip(KText.wInit(k, hidden)).map { case (nm, v) =>
        lit(v).as(nm) }: _*)
    val aggs = expr("CAST(count(*) AS DOUBLE)").as("n") +:
      KText.grads(k, hidden).map { case (g, t) => expr(t).as(g) }
    val p = rows.crossJoin(broadcast(w))
      .groupBy(names.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_"),
      s"gradient aggregate needs map-side partials:\n$p")
    assert(!p.contains("CartesianProduct") && p.contains("Broadcast"),
      s"the weight state must broadcast:\n$p")
  }

  test("q_ml_enet_k: the whole CD path reads ONE moment aggregate — " +
    "no join, no window in the scan plan") {
    // enetPathK's collect() is the single Gram-moment row (catalog
    // scale); the returned frame is literal rows, so gate the moment
    // scan the way the operator builds it
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1.0, 2.0, 3.0), (2.0, 1.0, 0.5), (3.0, 4.0, 1.0))
      .toDF("y", "x1", "x2")
    val xs = Seq(col("x1").cast("double"), col("x2").cast("double"))
    val y = col("y").cast("double")
    val aggs = count(lit(1)).cast("double").as("n") +:
      (xs.zipWithIndex.map { case (x, i) =>
        graft.queries.Q.dsum(x, 6).as(s"sx_$i") } ++
        (for { i <- 0 until 2; j <- i until 2 }
          yield graft.queries.Q.dsum(xs(i) * xs(j), 6)
            .as(s"sx_${i}_$j")) ++
        Seq(graft.queries.Q.dsum(y * y, 6).as("syy")))
    val p = df.agg(aggs.head, aggs.tail: _*)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert(!p.contains("Join") && !p.contains("WindowExec"),
      s"the Gram scan must be one aggregate:\n$p")
  }

  test("q_ml_ols_k: one moment aggregate, Gauss-Jordan is scalar " +
    "algebra — no join, no window, no second scan") {
    val p = plan("q_ml_ols_k")
    // the whole fit is ONE partial/final aggregate over the corpus;
    // the generated solve is per-group column algebra on the
    // aggregated row — any join/window here means the solve leaked
    // back into a data-scale operator
    assert(p.contains("partial_"), s"no map-side combine: $p")
    assert(!p.contains("Join"), s"olsFitK must not join: $p")
    assert(!p.contains("WindowExec") && !p.contains(" Window "),
      s"olsFitK must not window: $p")
    // exactly one hash Exchange in the FINAL plan: the group-by
    // shuffle (the trailing range exchange is the orderBy for
    // deterministic output; AQE's echoed Initial Plan is excluded)
    val finalPlan = p.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(finalPlan).length
    assert(exchanges <= 1, s"extra shuffles in olsFitK plan: $p")
  }
}
