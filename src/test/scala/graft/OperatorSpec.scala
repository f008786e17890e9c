package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Semantics unit tests for the custom operators. */
class OperatorSpec extends AnyFunSuite {
  import TestSpark._

  test("RecursiveCte.unionDistinct reaches the fixpoint") {
    import spark.implicits._
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 1)).toDF("src", "dst")
    val seed = Seq(0).toDF("node")
    val out = RecursiveCte.unionDistinct(seed, d =>
      edges.join(d, edges("src") === d("node")).select(edges("dst").as("node")))
      .as[Int].collect().sorted
    assert(out.toSeq == Seq(0, 1, 2, 3)) // cycle 1→2→3→1 terminates
  }

  test("RecursiveCte survives depth-50 recursion (lineage stays bounded)") {
    import spark.implicits._
    // a 51-node chain: 0→1→…→50; reachability from 0 needs 50 iterations
    val edges = (0 until 50).map(i => (i, i + 1)).toDF("src", "dst")
    val seed = Seq(0).toDF("node")
    val out = RecursiveCte.unionDistinct(seed, d =>
      edges.join(d, edges("src") === d("node"))
        .select(edges("dst").as("node")),
      maxIterations = 60)
    assert(out.count() == 51)
    // distinct variant dedupes a diamond: both paths reach the same node
    val all = RecursiveCte.unionAll(seed, d =>
      edges.join(d, edges("src") === d("node"))
        .select(edges("dst").as("node")),
      maxIterations = 60)
    assert(all.count() == 51)
  }

  test("RecursiveCte.unionAll bounds runaway recursion") {
    import spark.implicits._
    val seed = Seq(1).toDF("n")
    intercept[IllegalStateException] {
      RecursiveCte.unionAll(seed, d => d.select(($"n" + 1).as("n")),
        maxIterations = 5)
    }
  }

  test("RecursiveCte.fixpoint numbers its rounds and fails at the cap") {
    // every round changes the state; a round past 100 means the cap was
    // never applied, and fails the test instead of looping on
    def rounds(cap: Int): Seq[Int] = {
      val seen = Seq.newBuilder[Int]
      intercept[IllegalStateException] {
        RecursiveCte.fixpoint(0, cap, "never") { (n, round) =>
          assert(round <= 100)
          seen += round
          (n + 1, true)
        }
      }
      seen.result()
    }
    assert(rounds(3) == Seq(1, 2, 3))
    // a cap of zero or less still ends the loop after its first round
    assert(rounds(0) == Seq(1))
    assert(rounds(-1) == Seq(1))
  }

  test("AsOfJoin.leftAsOf picks latest right row at-or-before left time") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 20L, 100L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 100L, 1.0), (10L, 200L, 2.0), (10L, 300L, 3.0))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.leftAsOf(left, right, "k", "t", "rt", Seq("rt", "v"))
      .select("id", "rt", "v").as[(Long, Option[Long], Option[Double])]
      .collect().sortBy(_._1)
    assert(out(0) == ((1L, Some(100L), Some(1.0)))) // exactly-at matches
    assert(out(1) == ((2L, Some(200L), Some(2.0)))) // latest ≤ 250
    assert(out(2) == ((3L, None, None)))            // no right rows for key
  }

  test("AsOfJoin: null keys never match (PG equality semantics)") {
    import spark.implicits._
    val left = Seq((1L, Option.empty[Long], 100L), (2L, Option(10L), 100L))
      .toDF("id", "k", "t")
    val right = Seq((Option.empty[Long], 50L, 9.0), (Option(10L), 50L, 1.0))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.leftAsOf(left, right, "k", "t", "rt", Seq("v"))
      .select("id", "v").as[(Long, Option[Double])].collect().sortBy(_._1)
    assert(out(0) == ((1L, None)))      // null key matched nothing
    assert(out(1) == ((2L, Some(1.0))))
  }

  test("Dedup.minhashCandidates finds word-order shuffles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "zeta epsilon delta gamma beta alpha"), // same token set
      (3L, "totally different words entirely here now")).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("Dedup.simhash32 identical token sets have hamming 0") {
    import spark.implicits._
    val df = Seq(("a b c d e f", "f e d c b a"), ("a b c", "x y z"))
      .toDF("t1", "t2")
      .select(Dedup.hamming32(Dedup.simhash32(col("t1")),
        Dedup.simhash32(col("t2"))).as("h")).as[Int].collect()
    assert(df(0) == 0)
    assert(df(1) > 0)
  }

  test("Dedup.jaccardPairs exact set jaccard") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 1)
    assert(pairs(0)._1 == 1L && pairs(0)._2 == 2L)
    assert(math.abs(pairs(0)._3 - 3.0 / 5.0) < 1e-12) // |∩|=3, |∪|=5
  }

  test("Dedup.jaccardPairs bitmask and general paths agree (vocab > 64)") {
    import spark.implicits._
    // 80-token vocabulary forces the array/prefix general path; the same
    // docs restricted to a small vocab take the 64-bit mask path. Build
    // overlapping docs from sliding windows so several pairs qualify.
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 3 + j) % 80}").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, "text", "doc_id", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // reference: brute-force token-set jaccard in memory
    val sets = (0 until 30).map { i =>
      i.toLong -> (0 until 12).map(j => s"w${(i * 3 + j) % 80}").toSet
    }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= 0.5
    } yield (ia, ib, j)).toSet
    assert(got == want)
  }

  test("Dedup.jaccardPairs df cutoff: subset of exact, scores exact") {
    import spark.implicits._
    // >64 vocab (general path). Docs share a hot token "hot" (df = all
    // docs) plus sliding-window rare tokens; with maxDf pruning the hot
    // token, pairs can only meet on rare shared prefix tokens.
    val docs = (0 until 30).map { i =>
      (i.toLong,
        ("hot" +: (0 until 11).map(j => s"w${(i * 3 + j) % 80}"))
          .mkString(" "))
    }.toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(docs, "text", "doc_id", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // generous cutoff (≥ every df) — lossless, identical to exact
    val loose = Dedup.jaccardPairs(docs, "text", "doc_id", 0.5, Some(100L))
      .as[(Long, Long, Double)].collect().toSet
    assert(loose == exact)
    // tight cutoff (prunes the df=30 hot token) — a subset, and every
    // emitted score matches the exact score for that pair
    val tight = Dedup.jaccardPairs(docs, "text", "doc_id", 0.5, Some(5L))
      .as[(Long, Long, Double)].collect().toSet
    assert(tight.subsetOf(exact))
    val exactByPair = exact.map(p => (p._1, p._2) -> p._3).toMap
    tight.foreach { case (a, b, j) => assert(exactByPair((a, b)) == j) }
  }

  test("Similarity.cosine on known vectors") {
    import spark.implicits._
    val v = Seq((Array(1f, 0f), Array(0f, 1f), Array(2f, 0f)))
      .toDF("a", "b", "c")
    val row = v.select(
      Similarity.cosine(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("a"), col("c")).as("ac")).head()
    assert(math.abs(row.getDouble(0)) < 1e-12)       // orthogonal
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12) // parallel
  }

  test("Similarity.bruteForceTopK ranks by cosine") {
    import spark.implicits._
    val queries = Seq((0L, Array(1f, 0f))).toDF("q_id", "q_vec")
    val corpus = Seq(
      (1L, Array(1f, 0.1f)), (2L, Array(0f, 1f)), (3L, Array(1f, 0.5f)))
      .toDF("c_id", "c_vec")
    val top = Similarity.bruteForceTopK(queries, corpus, 2, dim = 2)
      .orderBy("rk").select("c_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 3L))
  }

  test("Similarity.kmeansCentroids trains a codebook that beats sampled IVF recall floor") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val cents = Similarity.kmeansCentroids(corpus, k = 8, iters = 3)
      .cache()
    val got = cents.collect()
    assert(got.length >= 4 && got.length <= 8,
      s"expected 4..8 surviving centroids, got ${got.length}")
    assert(got.forall(_.getSeq[Float](1).length == 64))

    def topkSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, arr) => q -> arr.map(_._2).toSet }
    val exact = topkSet(
      Similarity.bruteForceTopK(queries, corpus, k = 3, dim = 64))
    val ivf = topkSet(Similarity.ivfTopKWith(
      queries, corpus, cents, k = 3, nProbe = 2))
    val recall = exact.map { case (q, want) =>
      ivf.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }.sum / exact.size
    cents.unpersist()
    assert(recall >= 0.4, f"kmeans-IVF recall@3 too low: $recall%.2f")
  }

  test("Similarity.kmeansCentroids init is deterministic across partitionings") {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    // iters = 0 exposes the seed selection itself; the doc contract says
    // runs are reproducible, so the same corpus under any partitioning
    // must yield the identical centroid set
    def seeds(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Float])] =
      Similarity.kmeansCentroids(df, k = 8, iters = 0)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1).toSeq
    val a = seeds(emb.repartition(1))
    val b = seeds(emb.repartition(17, col("c_id")))
    assert(a.nonEmpty && a == b,
      s"centroid seeds differ across partitionings: ${a.map(_._1)} vs ${b.map(_._1)}")
  }

  test("TextAnalysis basics") {
    import spark.implicits._
    val df = Seq("The quick brown fox, the lazy dog! 42 times.")
      .toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.stopwordRatio(col("text")).as("sw"),
      TextAnalysis.digitRatio(col("text")).as("dr"),
      TextAnalysis.fingerprint(col("text")).as("fp")).head()
    assert(r.getAs[Int]("n") == 9)
    assert(r.getAs[Double]("sw") > 0.2) // 'the' twice / 9
    assert(r.getAs[Double]("dr") > 0)
    assert(r.getAs[String]("fp").length == 32)
  }

  test("TextAnalysis.langId picks marker-dominant language") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog is in that house with it",
      "der hund und die katze ist nicht mit auf",
      "el perro es un animal que vive por la casa").toDF("text")
    val out = df.select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "es"))
  }

  test("SkewJoin.saltedInnerJoin equals the plain inner join") {
    import spark.implicits._
    val big = Seq((1, "a"), (1, "b"), (2, "c"), (1, "d"), (3, "e"))
      .toDF("k", "v")
    val small = Seq((1, "one"), (2, "two")).toDF("k", "label")
    val salted = operators.SkewJoin.saltedInnerJoin(big, small, "k", salts = 4)
      .select("k", "v", "label").as[(Int, String, String)].collect().toSet
    val plain = big.join(small, "k")
      .select("k", "v", "label").as[(Int, String, String)].collect().toSet
    assert(salted == plain)
    assert(salted.size == 4) // key 3 unmatched
  }

  test("StatefulOps.userStats accumulates per-key streaming state") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StatefulOps.EventIn]
    mem.addData(
      StatefulOps.EventIn(1L, "click", 1.0),
      StatefulOps.EventIn(1L, "purchase", 5.0),
      StatefulOps.EventIn(2L, "view", 2.0))
    val out = StatefulOps.runUserStats(spark, mem.toDS(), "graft_user_stats")
      .collect().map(u => u.user_id -> u).toMap
    assert(out(1L).n_events == 2 && out(1L).n_purchases == 1
      && math.abs(out(1L).total_value - 6.0) < 1e-12)
    assert(out(2L).n_events == 1 && out(2L).n_purchases == 0)
  }

  test("EventStreams.incrementalLoad drains the source via AvailableNow") {
    import org.apache.hadoop.fs.Path
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_incr_load"
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(out), true)
    fs.delete(new Path(out + ".ckpt"), true)
    graft.streaming.EventStreams.incrementalLoad(spark, sf, out)
    val loaded = spark.read.parquet(out)
    assert(loaded.columns.toSet == Set("event_type", "n", "total"))
    assert(loaded.select("event_type").distinct().count() == 5)
    // second run: checkpoint says nothing new is pending → no duplicates
    graft.streaming.EventStreams.incrementalLoad(spark, sf, out)
    assert(spark.read.parquet(out).count() == loaded.count())
  }

  test("approx_percentile accuracy gate vs exact (the 100 TB quantile path)") {
    import spark.implicits._
    // exact percentile buffers values per group (ObjectHashAggregate) —
    // at 100 TB the quantile path is the mergeable approx sketch; this
    // gate bounds its error so swapping it in is a measured trade
    val li = Tables.T(spark, sf).lineitem
    val r = li.agg(
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)"),
      expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)"),
      expr("approx_percentile(l_extendedprice, 0.95, 1000)")).head
    val (e50, a50, e95, a95) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(math.abs(a50 - e50) / e50 < 0.02, s"p50 exact=$e50 approx=$a50")
    assert(math.abs(a95 - e95) / e95 < 0.02, s"p95 exact=$e95 approx=$a95")
  }

  test("ANN quality gate: LSH recall@5 vs brute force stays usable") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.T(spark, sf).embeddings
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, 5))
    val single = pairs(Similarity.lshTopK(queries, corpus, 5, planes = 6,
      dim = 64))
    val multi = pairs(Similarity.lshTopKMulti(queries, corpus, 5,
      planes = 6, tables = 8, dim = 64))
    def recall(a: Set[(Long, Long)]) =
      (exact intersect a).size.toDouble / exact.size
    // this corpus is weakly correlated (near-random): per-plane match
    // ~0.6 ⇒ single-table recall ~0.6^6 ≈ 0.05 — the gate is that 8
    // tables lift it by the 1-(1-p)^T law, not that one table is good
    assert(recall(multi) >= 4 * recall(single).max(0.01),
      f"multi ${recall(multi)}%.2f vs single ${recall(single)}%.2f")
    assert(recall(multi) >= 0.2, f"multi-table recall@5 = ${recall(multi)}%.2f")
    assert(exact.size == 100) // 20 queries × k=5, sanity
  }

  test("ANN quality gate: PQ recall@5 on clustered vectors; codebook " +
    "vectors code to themselves") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.expressions.DotFExpr.dotf
    // 8 clusters × 8 members in 64 dims: cluster c lights dims
    // [8c, 8c+8) with a small deterministic per-member perturbation.
    // vec_id = c*8 + j, so the modulus-8 codebook sample picks exactly
    // one vector per cluster — PQ must then keep neighbors in-cluster.
    // (The parquet fixture is near-random noise where 256
    // reconstructions can't preserve cosine order — the LSH gate hit
    // the same wall; structure is what PQ exploits.)
    // The background phase depends on the CLUSTER (d + j + c), not just
    // the member: with a j-only background every codebook vector is
    // bit-identical to every other centroid in its non-hot subspaces,
    // the sub-distance argmin ties at 0, and ties break to the lowest
    // cid — making "codes to itself" unachievable by construction.
    // Modulus 11 > 8 clusters so no two cluster phases alias (mod 5
    // would make c and c+5 share a background and re-introduce ties).
    val vecs = (0 until 64).map { id =>
      val c = id / 8; val j = id % 8
      val v = Array.tabulate(64) { d =>
        if (d / 8 == c) 1.0f + 0.01f * j + 0.001f * d
        else 0.02f * ((d + j + c) % 11)
      }
      (id.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" % 8 === 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = vecs.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.pqCodebook(vecs, "vec_id", "embedding", k = 8)
    val codes = Similarity.pqCodes(vecs, "vec_id", "embedding", cents, 4)
    val recon = codes.select($"vec_id".as("c_id"),
      Similarity.pqReconstruct($"codes", cents, 4).as("rv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy($"raw".desc, $"c_id")
    val approx = recon.crossJoin(broadcast(
      queries.select($"q_id", $"q_vec".cast("array<double>").as("qv"))))
      .filter($"c_id" =!= $"q_id")
      .select($"q_id", $"c_id",
        (dotf($"qv", $"rv") /
          (sqrt(dotf($"qv", $"qv")) * sqrt(dotf($"rv", $"rv")))).as("raw"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // members of one cluster share codes, so reconstructions tie and
    // within-cluster order is c_id-arbitrary: recall@5 over 7 tied
    // candidates can't be 1.0 — the real contract of 4-byte codes is
    // cluster-level resolution, gated exactly below
    assert(recall >= 0.5, f"PQ recall@5 on clustered data = $recall%.2f")
    assert(approx.forall { case (q, c) => q / 8 == c / 8 },
      s"every PQ hit must stay in the query's cluster: " +
        s"${approx.filterNot { case (q, c) => q / 8 == c / 8 }}")
    // codebook vectors (ids 0, 8, ..., 56) must code to themselves
    val selfCodes = codes.filter($"vec_id" % 8 === 0)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    (0 until 8).foreach { c =>
      assert(selfCodes(c * 8L) == Seq(c, c, c, c),
        s"codebook vector ${c * 8} should code to ($c,$c,$c,$c): " +
          s"${selfCodes(c * 8L)}")
    }
  }

  test("Components: multi-hop chains, rings, and canonicalization") {
    import spark.implicits._
    // chain 1-2-3-4, ring 10-11-12-10, isolated edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (21L, 20L)).toDF("a", "b")
    val comps = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(comps(20L) == 20L && comps(21L) == 20L)
    // canonicalize: singleton docs become their own cluster
    val docs = (1L to 6L).toDF("doc_id")
    val canon = Components
      .canonicalize(docs, "doc_id", Seq((1L, 2L), (2L, 3L)).toDF("a", "b"),
        "a", "b")
      .select($"doc_id", $"cluster", $"is_canonical")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(canon.toSeq == Seq((1L, 1L, true), (2L, 1L, false),
      (3L, 1L, false), (4L, 4L, true), (5L, 5L, true), (6L, 6L, true)))
    // unconverged graphs fail loudly rather than returning wrong labels
    // (depth 1000: even with the init pull and double pointer jump —
    // reach ≈ 4r+3 per round — 3 rounds cover ≪ 1000 hops)
    val chain = (1L to 1000L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a", "b")
    intercept[IllegalStateException] {
      Components.connectedComponents(chain, "a", "b", maxIter = 3)
    }
  }

  test("SequenceOps.assignIds is dense, ordered, distributed") {
    import spark.implicits._
    val df = spark.range(0, 1000).select(
      (lit(999) - $"id").as("key"), ($"id" % 7).as("v"))
      .repartition(8) // scrambled input partitions
    val out = SequenceOps.assignIds(df, "seq", 100L, Seq($"key"))
    val rows = out.select("key", "seq").as[(Long, Long)].collect().sortBy(_._1)
    // key k (0..999) gets id 100+k — dense, in key order, regardless of
    // input partitioning; no single-partition window involved
    assert(rows.zipWithIndex.forall { case ((k, s), i) =>
      k == i && s == 100L + i })
    graft.operators.KernelCaches.releaseAll()
  }

  test("SequenceOps nextval/currval/reserve semantics") {
    SequenceOps.create("t_seq", start = 5, increment = 3)
    intercept[IllegalStateException](SequenceOps.currval("t_seq"))
    assert(SequenceOps.nextval("t_seq") == 5)   // first call = START
    assert(SequenceOps.nextval("t_seq") == 8)
    assert(SequenceOps.currval("t_seq") == 8)
    val base = SequenceOps.reserve("t_seq", 4)  // block 11,14,17,20
    assert(base == 11)
    assert(SequenceOps.nextval("t_seq") == 23)  // continues past block
    SequenceOps.setval("t_seq", 100, isCalled = false)
    assert(SequenceOps.nextval("t_seq") == 100) // is_called=false → next returns v
    SequenceOps.drop("t_seq")
    intercept[IllegalArgumentException](SequenceOps.nextval("t_seq"))
  }

  test("MultiPhaseAgg matches native Expand-based grouping sets") {
    import spark.implicits._
    val df = Seq(
      ("a", "x", 1.25), ("a", "x", 2.50), ("a", "y", 0.75),
      ("b", "x", 4.00), ("b", null, 3.125))
      .toDF("k1", "k2", "v")
    val aggs = Seq(
      MultiPhaseAgg.countAll("n"),
      MultiPhaseAgg.splitSum($"v", "s", 4),
      MultiPhaseAgg.minOf($"v", "lo"),
      MultiPhaseAgg.maxOf($"v", "hi"))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"k1".asc_nulls_first, $"k2".asc_nulls_first,
        $"n", $"s").collect().toSeq
    val twoPhaseRollup =
      MultiPhaseAgg.rollup(df, Seq("k1", "k2"), aggs)
    val nativeRollup = df.rollup($"k1", $"k2")
      .agg(count(lit(1)).as("n"), round(sum($"v".cast("decimal(28,6)")), 4)
        .cast("double").as("s"), min($"v").as("lo"), max($"v").as("hi"))
    assert(canon(twoPhaseRollup) == canon(nativeRollup))
    val twoPhaseCube = MultiPhaseAgg.cube(df, Seq("k1", "k2"), aggs)
    val nativeCube = df.cube($"k1", $"k2")
      .agg(count(lit(1)).as("n"), round(sum($"v".cast("decimal(28,6)")), 4)
        .cast("double").as("s"), min($"v").as("lo"), max($"v").as("hi"))
    assert(canon(twoPhaseCube) == canon(nativeCube))
    // caveat case: data NULL in k2 and rolled-up NULL coexist — both
    // formulations produce the same (ambiguous) rows
    assert(twoPhaseCube.filter($"k1" === "b" && $"k2".isNull).count() == 2)
    KernelCaches.releaseAll()
  }

  test("Packing.packSequences offsets are a gapless prefix sum") {
    import spark.implicits._
    // 10, 0, 5, 512, 1 tokens with budget 8: exercises zero-token docs,
    // exact-boundary landings, and multi-sequence straddles
    val docs = Seq((1L, 10L), (2L, 0L), (3L, 5L), (4L, 512L), (5L, 1L))
      .toDF("doc_id", "n")
    val out = Packing.packSequences(docs, "doc_id", col("n"), budget = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_tok", "tok_start", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 10L, 0L, 0L, 1L),     // tokens 0..9 → seqs 0,1
      (2L, 0L, 10L, 1L, 1L),     // empty doc pins to seq at offset 10
      (3L, 5L, 10L, 1L, 1L),     // 10..14 inside seq 1
      (4L, 512L, 15L, 1L, 65L),  // long doc straddles 65 sequences
      (5L, 1L, 527L, 65L, 65L)))
    // offsets are gapless: tok_start == prior cumulative size
    assert(out.scanLeft(0L)((acc, r) => acc + r._2).init == out.map(_._3))
    KernelCaches.releaseAll()
  }

  test("Mixture.resample hits the target mix and is partitioning-stable") {
    import spark.implicits._
    val docs = Tables.T(spark, sf).documents
    val weights = Map("en" -> 0.5, "de" -> 0.3, "zh" -> 0.2)
    val kept = Mixture.resample(docs, $"lang", $"doc_id", weights)
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    // classes outside the target mixture drop entirely
    assert(!kept.contains("fr") && !kept.contains("es"))
    // achieved mix tracks the target: each class within hash-noise of
    // its weight (small corpus → generous ±0.15 absolute tolerance)
    val total = kept.values.sum.toDouble
    weights.foreach { case (c, w) =>
      assert(math.abs(kept(c) / total - w) < 0.15,
        s"$c: ${kept(c) / total} vs target $w")
    }
    // the binding class keeps ~everything (rate 1): thresholds say which
    val thr = Mixture.thresholds(docs, $"lang", weights)
    assert(thr.values.max == 1000000L)
    // same verdicts under a different physical partitioning
    val kept2 = Mixture.resample(docs.repartition(7, $"source"),
      $"lang", $"doc_id", weights)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val kept1 = Mixture.resample(docs, $"lang", $"doc_id", weights)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept1 == kept2 && kept1.nonEmpty)
  }

  test("Quantiles rank selection ≡ Spark's buffered exact percentile") {
    import spark.implicits._
    // continuous column + skewed group sizes (incl. a 1-row group):
    // the rank-selection path must be bit-identical to the aggregate-
    // buffer form it replaces for scale reasons
    val df = Tables.T(spark, sf).events
      .select(($"event_id" % 7).as("g"), $"value")
      .union(Seq((99L, 3.25)).toDF("g", "value"))
    val buffered = df.groupBy($"g")
      .agg(percentile($"value", array(lit(0.25), lit(0.5), lit(0.9)))
        .as("ps"))
      .select($"g", $"ps"(0).as("p25"), $"ps"(1).as("p50"),
        $"ps"(2).as("p90"))
      .as[(Long, Double, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val ranked = Quantiles.exactCont(df, $"g", $"value",
      Seq(0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90"))
      .select($"__gout", $"p25", $"p50", $"p90")
      .as[(Long, Double, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(ranked == buffered && ranked.size >= 8)

    val bufferedDisc = df.groupBy($"g")
      .agg(expr("percentile_disc(0.33) WITHIN GROUP (ORDER BY value)")
        .as("d"))
      .as[(Long, Double)].collect().toMap
    val rankedDisc = Quantiles.exactDisc(df, $"g", $"value",
      Seq(0.33 -> "d"))
      .as[(Long, Double)].collect().toMap
    assert(rankedDisc == bufferedDisc)
  }

  test("containmentPairs is asymmetric: quote ⊂ superset, not back") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),              // 3 shingles, all inside doc 2
      (2L, "a b c d e f g h"),        // 6 shingles
      (3L, "x y z w v")               // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id",
        minContain = 0.8, shingleWords = 3)
      .select($"id_a", $"id_b", $"containment")
      .as[(Long, Long, Double)].collect().toSeq.sorted
    graft.operators.KernelCaches.releaseAll()
    // forward containment 3/3 = 1.0 emits; backward 3/6 = 0.5 does not
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("dedupIncremental screens near-dups of the reference, admits fresh docs") {
    import spark.implicits._
    val ref = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "entirely different reference material about databases")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // word-order shuffle of ref 10 → identical token set, est 1.0
      (20L, "quick brown fox jumps over the lazy dog tonight the"),
      // fresh content, shares nothing rare with ref
      (21L, "completely novel subject matter regarding astronomy stars"),
      // empty text: no signature rows — always admitted
      (22L, "")
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(ref, "text", "doc_id", k = 16, bands = 4)
    val admitted = Dedup.dedupIncremental(
      batch, idx, "text", "doc_id", k = 16, bands = 4,
      minEstJaccard = 0.5)
      .select($"doc_id").as[Long].collect().sorted
    assert(admitted.toSeq == Seq(21L, 22L))
    // reference bucket cap: capping every bucket away disables matching
    // (recall trade is explicit + logged), everything admits
    val all = Dedup.dedupIncremental(
      batch, idx, "text", "doc_id", k = 16, bands = 4,
      minEstJaccard = 0.5, maxBucketSize = Some(0))
      .select($"doc_id").as[Long].collect().sorted
    assert(all.toSeq == Seq(20L, 21L, 22L))
  }

  test("tfidfCosinePairs: identical docs score 1.0, df cap drops stop words") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),          // identical → sim 1.0
      (3L, "epsilon zeta eta theta"),          // disjoint from 1/2
      (4L, "alpha beta unrelated words here")  // partial overlap
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.tfidfCosinePairs(
      docs, "text", "doc_id", minSim = 0.05, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    assert(pairs((1L, 4L)) > 0 && pairs((1L, 4L)) < 1.0)
    // cap at df <= 1 removes every shared token: no pairs at all
    val capped = TextAnalysis.tfidfCosinePairs(
      docs, "text", "doc_id", minSim = 0.05, maxDf = 1)
    assert(capped.count() == 0)
  }

  test("vocabCoverage: two-pass prefix ranks match hand-computed curve") {
    import spark.implicits._
    // freq: a=3, b=2, c=1; total 6. share .5 → need 3 → rank 1;
    // share .9 → need ⌈5.4⌉=6 → rank 3 (ties broken by token)
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val curve = TextAnalysis.vocabCoverage(docs, "text", Seq(0.5, 0.9))
      .as[(Double, Long)].collect().toMap
    assert(curve(0.5) == 1L && curve(0.9) == 3L)
  }

  test("dsirWeights favors docs drawn from the target distribution") {
    import spark.implicits._
    val raw = Seq(
      (1L, "alpha alpha beta"),   // target-like tokens
      (2L, "alpha beta beta"),
      (3L, "noise junk clutter"), // proposal-only tokens
      (4L, "alpha noise beta")    // mixed
    ).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha beta alpha")).toDF("doc_id", "text")
    val w = TextAnalysis.dsirWeights(raw, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(4L) && w(2L) > w(4L),
      s"target-like docs must outscore the mixed doc: $w")
    assert(w(4L) > w(3L), s"mixed doc must outscore pure-noise: $w")
    assert(w(3L) < 0, s"proposal-only doc must carry negative weight: $w")
  }

  test("ccnetBuckets: per-language terciles, head is best-scored") {
    import spark.implicits._
    val docs = Tables.T(spark, sf).documents
    val b = TextAnalysis.ccnetBuckets(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
      "text", "doc_id", "lang")
    val rows = b.select($"lang", $"lp", $"bucket")
      .as[(String, Double, String)].collect()
    val byLang = rows.groupBy(_._1)
    byLang.foreach { case (lang, rs) =>
      val n = rs.length
      val sizes = rs.groupBy(_._3).view.mapValues(_.length).toMap
      // cutoff rule gives each bucket between n/3−ties and n/3+ties docs;
      // with distinct scores the split is exact thirds (±1)
      Seq("tail", "middle", "head").foreach { bk =>
        assert(sizes.getOrElse(bk, 0) > 0, s"$lang missing bucket $bk")
      }
      val headMin = rs.filter(_._3 == "head").map(_._2).min
      val midMax = rs.filter(_._3 == "middle").map(_._2).max
      val tailMax = rs.filter(_._3 == "tail").map(_._2).max
      assert(headMin > midMax && midMax > tailMax,
        s"$lang bucket ordering violated (n=$n sizes=$sizes)")
    }
  }

  test("knnClassify: majority vote, ties break to the smallest label") {
    import spark.implicits._
    // 1 query at origin-ish; 4 neighbors: labels 2,2,1,1 among k=4 → tie
    // → pred 1. With k=3 the nearest three are 2,2,1 → pred 2.
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val q = Seq((100L, vec(1, 0))).toDF("q_id", "q_vec")
    val c = Seq(
      (1L, vec(1, 0.01), 2),  // nearest
      (2L, vec(1, 0.02), 2),
      (3L, vec(1, 0.03), 1),
      (4L, vec(1, 0.04), 1)
    ).toDF("c_id", "c_vec", "label")
    val k4 = Similarity.knnClassify(q, c, 4).head()
    assert(k4.getAs[Int]("pred_label") == 1 && k4.getAs[Long]("votes") == 2L)
    val k3 = Similarity.knnClassify(q, c, 3).head()
    assert(k3.getAs[Int]("pred_label") == 2 && k3.getAs[Long]("votes") == 2L)
  }

  test("Corpus.domainCap keeps at most cap per key, deterministically") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val capped = Corpus.domainCap(df, "src", "id", 7)
    val sizes = capped.groupBy("src").count().as[(String, Long)]
      .collect().toMap
    assert(sizes.values.forall(_ == 7L), s"cap violated: $sizes")
    // determinism: same keep set on a different partitioning
    val again = Corpus.domainCap(df.repartition(13), "src", "id", 7)
    assert(capped.select("id").as[Long].collect().sorted.toSeq ==
      again.select("id").as[Long].collect().sorted.toSeq)
  }

  test("bloomScreenExact ≡ plain anti-join, on any partitioning") {
    import spark.implicits._
    val ref = (1L to 400L).map(i => (i, s"doc text $i")).toDF("id", "text")
    val probe = (300L to 700L).map(i => (i, s"doc text $i")).toDF("id", "text")
    val expected = probe.join(ref.select("text"), Seq("text"), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq
    val got = Dedup.bloomScreenExact(ref, probe, "text", 400L, 0.03)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == expected, "bloom screen must be exact (no lost rows)")
    // exactness survives an adversarially tiny filter (high fp rate):
    // every suspect is re-checked by the anti-join
    val tiny = Dedup.bloomScreenExact(ref.repartition(7), probe, "text", 4L, 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(tiny == expected, "high-fpp bloom must still be exact")
  }

  test("Cdc.changes captures insert/update/delete per statement") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc")
      .toString + "/t"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v").write.parquet(dir)
    Cdc.enable(dir)
    // statement 1: UPDATE — one changed row, old/new pair
    def table = spark.read.parquet(dir)
    val to = Dml.Storage(dir, Nil, "snappy")
    Dml.merge(spark, to, table, None, Seq(Dml.Matched(Some(col("id") === 2),
      Dml.Update(Map("v" -> (col("v") * 2))))))
    val d1 = Cdc.changes(spark, dir, Seq("id")).collect()
    assert(d1.length == 1)
    assert(d1.head.getAs[String]("op") == "update")
    assert(d1.head.getAs[Row]("old_row").getAs[Double]("v") == 20.0)
    assert(d1.head.getAs[Row]("new_row").getAs[Double]("v") == 40.0)
    // statement 2: MERGE — insert id=4, update id=1; id=3 written back
    // unchanged and filtered by the null-safe struct compare
    val src = Seq((1L, "a", 11.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "name", "v")
    val row = src.columns.map(c => c -> col(s"s_$c")).toMap
    Dml.merge(spark, to, table, Some(Dml.Source(
      src.toDF(src.columns.map("s_" + _): _*), col("id") === col("s_id"))),
      Seq(Dml.Matched(None, Dml.Update(row)),
        Dml.NotMatched(None, Dml.Insert(row))))
    val d2 = Cdc.changes(spark, dir, Seq("id")).orderBy("id")
      .select($"id", $"op").as[(Long, String)].collect().toSeq
    assert(d2 == Seq((1L, "update"), (4L, "insert")))
    // statement 3: DELETE — captured as op=delete with null new_row
    Dml.merge(spark, to, table, None,
      Seq(Dml.Matched(Some(col("id") === 2), Dml.Delete)))
    val d3 = Cdc.changes(spark, dir, Seq("id")).collect()
    assert(d3.length == 1 && d3.head.getAs[String]("op") == "delete")
    assert(d3.head.getAs[Row]("new_row") == null)
    // DROP TRIGGER analogue: capture gone, changes() rejects loudly
    Cdc.disable(spark, dir)
    intercept[IllegalArgumentException](Cdc.changes(spark, dir, Seq("id")))
  }

  test("Multimodal.featurize round-trips payload sizes") {
    import spark.implicits._
    val docs = Seq((7L, "hello", "src0")).toDF("doc_id", "text", "source")
    val f = graft.multimodal.Multimodal
      .featurize(spark, graft.multimodal.Multimodal.mediaTable(docs)).head()
    assert(f.n_bytes == 5L)
    assert(f.width == 8 && f.height == 8) // 7 % 640 + 1
    assert(f.mime == "image/png;src=src0")
  }

  test("Funnels.funnel counts are monotone and window-bounded") {
    import spark.implicits._
    // u1 completes in order; u2 clicks BEFORE viewing (no conversion);
    // u3 purchases outside the 2h window (no step 3)
    def t(h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      (1L, "view", t(1)), (1L, "click", t(1, 30)), (1L, "purchase", t(2)),
      (2L, "click", t(1)), (2L, "view", t(2)), (2L, "purchase", t(3)),
      (3L, "view", t(1)), (3L, "click", t(1, 10)), (3L, "purchase", t(9)))
      .toDF("user_id", "event_type", "ts")
    val f = Funnels.funnel(ev, Seq("view", "click", "purchase"),
      windowHours = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(f(1) == 3L) // all three users viewed
    // u1 and u3 clicked after their first view within 2h; u2's click
    // preceded the view
    assert(f(2) == 2L)
    assert(f(3) == 1L) // only u1 purchased inside the window
  }

  test("trigramSimPairs matches the scalar pg_trgm similarity") {
    import spark.implicits._
    val names = Seq((1L, "maroon widget"), (2L, "maroon widgit"),
      (3L, "aquamarine gear")).toDF("id", "s")
    val pairs = Dedup.trigramSimPairs(names, "id", "s", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // scalar reference: pg_trgm-normalized trigram sets
    def tgs(s: String): Set[String] =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
        .flatMap((w: String) => ("  " + w + " ").sliding(3).toSet)
    def sim(a: String, b: String): Double = {
      val (ta, tb) = (tgs(a), tgs(b))
      ta.intersect(tb).size.toDouble / ta.union(tb).size
    }
    assert(math.abs(pairs((1L, 2L)) - sim("maroon widget", "maroon widgit"))
      < 1e-12)
    // 1-3 share 'mar'/'aro' trigrams → present with a low score
    assert(pairs.contains((1L, 3L)) &&
      math.abs(pairs((1L, 3L)) - sim("maroon widget", "aquamarine gear"))
        < 1e-12)
  }

  test("weightedSample oversamples high-weight rows deterministically") {
    import spark.implicits._
    // weights: ids 0..99 weight 1, ids 100..199 weight 50 — the heavy
    // half should dominate the top-20 under u^(1/w)
    val df = (0L until 200L).map(i => (i, if (i < 100) 1.0 else 50.0))
      .toDF("id", "w")
    val s1 = Corpus.weightedSample(df, "id", "w", 20)
      .collect().map(_.getLong(0)).toSet
    val s2 = Corpus.weightedSample(df, "id", "w", 20)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // deterministic
    assert(s1.count(_ >= 100L) >= 15, s"heavy rows: ${s1.count(_ >= 100L)}")
  }

  test("naiveBayesScores ranks a training doc's own class highest") {
    import spark.implicits._
    val train = Seq(
      (1L, "a", "apple banana apple fruit"),
      (2L, "a", "banana apple cherry"),
      (3L, "b", "gear widget bolt"),
      (4L, "b", "widget gear flange bolt"))
      .toDF("doc_id", "lang", "text")
    val test = Seq((9L, "apple banana"), (10L, "bolt widget"))
      .toDF("doc_id", "text")
    val scores = graft.operators.TextAnalysis
      .naiveBayesScores(train, test, "text", "doc_id", "lang")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(scores((9L, "a")) > scores((9L, "b")))
    assert(scores((10L, "b")) > scores((10L, "a")))
  }

  test("Association.assocRules: exact support/confidence/lift") {
    import spark.implicits._
    // 4 txns: {a,b,c} {a,b} {a,c} {b}; N=4
    val t = Seq((1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"),
      (3, "a"), (3, "c"), (4, "b")).toDF("txn", "item")
    val rules = Association.assocRules(t, "txn", "item",
        minSupport = 0.0, minConfidence = 0.0)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toMap
    // a→b: pair 2, supp 0.5, conf 2/3, lift (2/3)/(3/4)=8/9
    val (pn, sp, cf, lf) = rules(("a", "b"))
    assert(pn == 2L && sp == 0.5)
    assert(math.abs(cf - 2.0 / 3) < 1e-15)
    assert(math.abs(lf - 8.0 / 9) < 1e-15)
    // symmetric support, asymmetric confidence: b→a conf 2/3, lift same
    assert(rules(("b", "a"))._2 == 0.5)
    // c→b never co-occur... c,b co-occur in txn1: pair 1, conf 1/2
    assert(rules(("c", "b"))._1 == 1L && rules(("c", "b"))._3 == 0.5)
  }

  test("Association.assocRules: maxBasket excludes oversized baskets") {
    import spark.implicits._
    val big = (1 to 20).map(i => (1, s"i$i")) ++ Seq((2, "x"), (2, "y"))
    val t = big.toDF("txn", "item")
    val rules = Association.assocRules(t, "txn", "item", 0.0, 0.0,
      maxBasket = Some(5)).collect()
    // only txn 2 survives → exactly the two x/y rules
    assert(rules.length == 2)
    assert(rules.forall(r => Set("x", "y")(r.getString(0))))
  }

  test("Pca.gramStats matches a hand covariance; eigen is sound") {
    import spark.implicits._
    // strongly correlated dim0/dim1, independent dim2
    val data = Seq(
      Array(1.0f, 2.0f, 0.5f), Array(2.0f, 4.1f, -0.3f),
      Array(3.0f, 5.9f, 0.8f), Array(4.0f, 8.2f, -0.1f),
      Array(5.0f, 9.8f, 0.4f), Array(6.0f, 12.1f, 0.0f))
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").repartition(3)
    val (n, s, g) = Pca.gramStats(df, "embedding", 3)
    assert(n == 6L)
    val cov = Pca.covariance(n, s, g, 3)
    // hand value: cov(d0,d0) over 1..6 = 3.5
    assert(math.abs(cov(0)(0) - 3.5) < 1e-9)
    // symmetric
    assert(cov(0)(1) == cov(1)(0))
    val (vals, vecs) = Pca.jacobiEigen(cov)
    // eigenvalues descending, trace preserved
    assert(vals.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(math.abs(vals.sum - (cov(0)(0) + cov(1)(1) + cov(2)(2))) < 1e-9)
    // orthonormal loadings
    for (a <- vecs; b <- vecs) {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val want = if (a eq b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9)
    }
    // Av = λv residual
    for (c <- vals.indices) {
      val av = (0 until 3).map(i =>
        (0 until 3).map(j => cov(i)(j) * vecs(c)(j)).sum)
      val res = (0 until 3).map(i =>
        math.abs(av(i) - vals(c) * vecs(c)(i))).max
      assert(res < 1e-9, s"eigenpair $c residual $res")
    }
    // top component loads dim0+dim1 (the correlated pair), not dim2
    assert(math.abs(vecs(0)(2)) < 0.1)
  }

  test("Ranks.cumBelow ≡ the unpartitioned window prefix sum") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val per = (0 until 500).map(_ => (rnd.nextInt(80).toDouble,
      1L + rnd.nextInt(5)))
      .groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }.toSeq
      .toDF("score", "cnt").repartition(7)
    val got = Ranks.cumBelow(per, "score", "cnt")
      .select("score", "below").as[(Double, Long)].collect().toMap
    val want = per.withColumn("below", coalesce(
        sum($"cnt").over(org.apache.spark.sql.expressions.Window
          .orderBy($"score").rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select("score", "below").as[(Double, Long)].collect().toMap
    assert(got == want)
    // all pass-through columns survive
    assert(Ranks.cumBelow(per, "score", "cnt").columns.toSeq ==
      Seq("score", "cnt", "below"))
  }

  test("Components.sssp relaxes to exact shortest paths") {
    import spark.implicits._
    // 0→1 (5), 0→2 (1), 2→1 (2), 1→3 (1), 2→3 (10): best 0→2→1→3 = 4
    val edges = Seq((0L, 1L, 5L), (0L, 2L, 1L), (2L, 1L, 2L),
      (1L, 3L, 1L), (2L, 3L, 10L), (4L, 0L, 1L)).toDF("src", "dst", "w")
    val d = Components.sssp(edges, "src", "dst", "w", source = 0L,
      iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 4L))
    // node 4 only has an OUT edge to the source — never reached
    assert(!d.contains(4L))
  }

  test("Regression.svmFitK learns a separating direction at k=2") {
    import spark.implicits._
    // separable on x1: positives at x1≈+1, negatives at x1≈−1
    val pts = (1 to 40).map { i =>
      val y = if (i % 2 == 0) 1.0 else -1.0
      (y, y * (0.8 + 0.01 * (i % 5)), 0.1 * ((i % 3) - 1))
    }
    val df = pts.toDF("y", "x1", "x2").repartition(4)
    val w = Regression.svmFitK(df, "y", Seq("x1", "x2"),
      lambda = 0.01, iterations = 8,
      sumExact = graft.queries.Q.dsum(_, 6)).head
    val (w1, sv, n) = (w.getDouble(1), w.getLong(3), w.getLong(4))
    assert(n == 40L)
    assert(w1 > 0.5, s"x1 weight should dominate: $w")
    // the learned margin classifies every training point correctly
    val w0 = w.getDouble(0); val w2 = w.getDouble(2)
    assert(pts.forall { case (y, x1, x2) =>
      y * (w0 + w1 * x1 + w2 * x2) > 0 })
  }

  test("Stats.ksTest computes the exact two-sample D and location") {
    import spark.implicits._
    // A = {1,2,3,4}, B = {3,4,5,6}: D = |F_a - F_b| peaks at x=2
    // (F_a=0.5, F_b=0) and x=4 (F_a=1, F_b=0.5) → ties at 0.5,
    // smallest x wins
    val df = (Seq(1, 2, 3, 4).map(v => (v.toDouble, "a")) ++
      Seq(3, 4, 5, 6).map(v => (v.toDouble, "b")))
      .toDF("value", "grp").repartition(3)
    val r = Stats.ksTest(df, "value", "grp", "a", "b").head
    assert(r.getDouble(0) == 0.5)
    assert(r.getDouble(1) == 2.0)
    assert(r.getLong(2) == 4L && r.getLong(3) == 4L)
  }

  test("Trees.decisionStump finds the separating dimension") {
    import spark.implicits._
    // dim1 separates classes perfectly at 0.0; dim0 is noise
    val data = Seq(
      (0L, Array(0.1f, -0.5f)), (0L, Array(-0.2f, -0.4f)),
      (0L, Array(0.3f, -0.3f)), (0L, Array(-0.1f, -0.2f)),
      (1L, Array(0.2f, 0.2f)), (1L, Array(-0.3f, 0.3f)),
      (1L, Array(0.1f, 0.4f)), (1L, Array(-0.2f, 0.5f)))
    val df = data.toDF("label", "embedding").repartition(3)
    val r = Trees.decisionStump(df, "embedding", "label", 2,
      Seq(-0.25, 0.0, 0.25)).head
    assert(r.getInt(0) == 1, s"expected dim 1, got $r")
    assert(r.getDouble(1) == 0.0)
    assert(r.getLong(2) == 4L && r.getLong(3) == 4L)
    // perfect split → zero weighted Gini
    assert(r.getDouble(4) == 0.0)
  }

  test("Pca.pcaProject: projected variance equals the eigenvalue") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = (0 until 200).map { i =>
      val t = rnd.nextGaussian()
      (i.toLong, Array((2 * t + 0.1 * rnd.nextGaussian()).toFloat,
        (-t + 0.1 * rnd.nextGaussian()).toFloat,
        (0.3 * rnd.nextGaussian()).toFloat))
    }
    val df = data.toDF("vec_id", "embedding").repartition(4)
    val (nAll, s, g) = Pca.gramStats(df, "embedding", 3)
    val means = s.map(_ / nAll)
    val (vals, vecs) = Pca.pcaTop(df, "embedding", 3, 2)
    val proj = Pca.pcaProject(df, "vec_id", "embedding", vecs, means)
    val varByC = proj.groupBy("c")
      .agg(variance(col("score")).as("v")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(varByC(0) / vals(0) - 1.0) < 1e-6)
    assert(math.abs(varByC(1) / vals(1) - 1.0) < 1e-6)
  }

  test("Dml.updateFrom refuses multi-match sources (row multiplication)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_updfrom_spec"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.mode("overwrite").parquet(path)
    def updateFrom(src: org.apache.spark.sql.DataFrame) =
      Dml.merge(spark, Dml.Storage(path, Nil, "snappy"),
        spark.read.parquet(path),
        Some(Dml.Source(src, col("id") === col("sid"))),
        Seq(Dml.Matched(None, Dml.Update(Map("v" -> col("sv"))))))
    // 1:1 source updates normally
    updateFrom(Seq((1L, 100L)).toDF("sid", "sv"))
    val after = spark.read.parquet(path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq == Seq((1L, 100L), (2L, 20L)))
    // a source matching one target row TWICE would multiply it through
    // the left join — must refuse loudly, never corrupt
    val e = intercept[IllegalArgumentException] {
      updateFrom(Seq((1L, 7L), (1L, 8L)).toDF("sid", "sv"))
    }
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    // table unchanged after the refused update
    assert(spark.read.parquet(path).count() == 2)
  }

  test("Dml.merge inserts into an empty target") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_merge_empty"
    Seq((1L, 10L)).toDF("id", "v").filter(lit(false))
      .write.mode("overwrite").parquet(path)
    // the full outer join's empty target side carries the target-count
    // metric of the multi-match check; AQE may drop both
    val n = Dml.merge(spark, Dml.Storage(path, Nil, "snappy"),
      spark.read.parquet(path),
      Some(Dml.Source(Seq((1L, 100L)).toDF("sid", "sv"),
        col("id") === col("sid"))),
      Seq(Dml.Matched(None, Dml.Update(Map("v" -> col("sv")))),
        Dml.NotMatched(None,
          Dml.Insert(Map("id" -> col("sid"), "v" -> col("sv"))))))
    assert(n == 1)
    assert(spark.read.parquet(path).as[(Long, Long)].collect().toSeq ==
      Seq((1L, 100L)))
  }

  test("Trees.decisionTree: broadcast-join reassignment ≡ CASE chain") {
    import spark.implicits._
    // the r8 depth guard switches frontier reassignment from a CASE
    // chain (janino-bounded, NOTES ~100-term wall ≈ 16 arms) to a
    // broadcast join past caseChainMax winners — both paths must grow
    // the identical tree. caseChainMax=0 forces the join path on every
    // level; the default exercises the CASE path at this depth.
    val rnd = new scala.util.Random(11)
    val data = (0 until 240).map { i =>
      val v = Array(rnd.nextDouble().toFloat, rnd.nextDouble().toFloat)
      (i.toLong, v, (if (v(0) + 0.3 * v(1) > 0.6) 1 else 0).toLong)
    }.toDF("id", "vec", "label")
    val thr = Seq(0.2, 0.4, 0.6, 0.8)
    val t0 = System.nanoTime()
    val caseRows = Trees.decisionTree(data, "vec", "label", 2, thr, 4)
      .collect().map(_.toSeq)
    val joinRows = Trees.decisionTree(data, "vec", "label", 2, thr, 4,
      caseChainMax = 0).collect().map(_.toSeq)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(caseRows.nonEmpty && caseRows.toSeq == joinRows.toSeq)
    // boundedness: two depth-4 trains, all levels, well under the
    // janino-wall regime (~5 s per job once a chain passes ~100 terms)
    assert(secs < 120, f"tree training took $secs%.1f s")
  }

  test("Clustering.dbscan dense blob: grid join stays exact at max density") {
    import spark.implicits._
    // the SCALING.md density contract's worst case: every point within
    // eps of every other (candidate relation degenerates to all-pairs).
    // Correctness must hold — one cluster, all cores — and the far
    // point stays noise; the contract documents the COST regime, the
    // grid join itself is exact at any density.
    val blob = (0L until 40L).map(i => (i, i % 7, i / 7)) :+ (99L, 500L, 500L)
    val df = blob.toDF("id", "x", "y")
    val out = Clustering.dbscan(df, "id", "x", "y", eps = 20L, minPts = 5)
      .collect()
    val byId = out.map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert((0L until 40L).forall(byId(_)._1), "all blob points are cores")
    assert((0L until 40L).map(byId(_)._2).distinct.size == 1, "one cluster")
    assert(byId(99L) == (false, -1L), "isolated point is noise")
  }

  test("Clustering.kmeans drops a cluster emptied by the assignment") {
    import spark.implicits._
    // duplicate seed vectors: the two lowest-id points coincide, so both
    // centroids start identical and the strict-< argmin sends every tied
    // point to the lower cluster — cluster 1 receives ZERO points. A
    // normal Lloyd outcome that must yield a dropped output row
    // (matching the oracle's inner join on sizes), not a
    // NoSuchElementException from sizes(c).
    val pts = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(0.0, 0.0)),
      (2L, Array(10.0, 10.0)), (3L, Array(10.0, 10.0)),
      (4L, Array(0.5, 0.5))).toDF("id", "vec")
    // iters=0 keeps both (identical) seed centroids in the map while the
    // final assignment empties cluster 1 — the exact crash shape
    val out = Clustering.kmeans(pts, "id", "vec", dim = 2, k = 2, iters = 0)
      .collect()
    assert(out.map(_.getInt(0)).distinct.toSeq == Seq(0))
    assert(out.forall(_.getLong(3) == 5L)) // all five points in cluster 0
    // and with iterations the run still completes and covers every point
    val out2 = Clustering.kmeans(pts, "id", "vec", dim = 2, k = 2, iters = 2)
      .collect()
    assert(out2.forall(_.getLong(3) > 0L))
    assert(out2.filter(_.getInt(1) == 0).map(_.getLong(3)).sum == 5L)
  }

  test("Components.triangles: each triangle exactly once, sorted, " +
    "regardless of input orientation/duplication") {
    import spark.implicits._
    // K4 on {1,2,3,4} plus a pendant 5 and an isolated edge (6,7);
    // edges given in mixed orientation with duplicates and a self-loop
    val edges = Seq(
      (1L, 2L), (2L, 1L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L),
      (3L, 4L), (4L, 3L), (4L, 5L), (6L, 7L), (6L, 6L)).toDF("src", "dst")
    val tri = Components.triangles(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // K4 has exactly C(4,3)=4 triangles
    assert(tri == Seq((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L),
      (2L, 3L, 4L)))
  }

  test("TextAnalysis.bpeMerges learns the Sennrich-fixture merge table") {
    import spark.implicits._
    // word frequencies: low:5 lower:2 newest:6 widest:3 — the BPE
    // paper's running example (no EOW marker); merges hand-derived
    val docs = Seq(
      "low low low low low lower lower",
      "newest newest newest newest newest newest widest widest widest")
      .toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", 200, 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "e s", 9L), (2, "es t", 9L), (3, "l o", 7L),
      (4, "lo w", 7L), (5, "e w", 6L)))
  }

  test("TextAnalysis.bpeMerges space-doubling merges back-to-back pairs " +
    "greedily left-to-right") {
    import spark.implicits._
    // 'aaaa': chars a a a a — merge (a,a) must produce 'aa aa' (two
    // non-overlapping merges), not 'aa a a' (the shared-separator bug)
    val docs = Seq("aaaa aaaa b").toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", 10, 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // round 1: pairs of 'a a a a' ×2 words = 6 occurrences of (a, a)
    // round 2: 'aa aa' ×2 → (aa, aa) count 2
    assert(out == Seq((1, "a a", 6L), (2, "aa aa", 2L)))
  }

  test("Components.labelPropagation separates two cliques; bridge does " +
    "not bleed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val out = Components.labelPropagation(edges, "src", "dst",
      iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)))
  }

  test("Factorization.als2 reconstructs an exact rank-1 matrix") {
    import spark.implicits._
    // r_ui = a_u * b_i is rank 1 — rank-2 ALS with tiny λ must drive
    // the reconstruction SSE to ~0 within 2 rounds
    val as = Map(1L -> 2.0, 2L -> 3.0, 3L -> 5.0)
    val bs = Map(10L -> 1.0, 11L -> 4.0, 12L -> 2.0)
    val ratings = (for (u <- as.keys; i <- bs.keys)
      yield (u, i, as(u) * bs(i))).toSeq.toDF("u", "i", "r")
    val (users, items) = Factorization.als2(ratings, lambda = 1e-4,
      iterations = 2)
    val sse = Factorization.sseByUser(ratings, users, items)
      .agg(sum("sse")).head().getDouble(0)
    assert(sse < 1e-3, s"rank-1 matrix not recovered: sse=$sse")
    assert(users.count() == 3 && items.count() == 3)
  }

  test("Regression.enetPathK is bit-equal to enetPath2 at k=2 and " +
    "sparsifies with lambda at k=4") {
    import spark.implicits._
    val df = (1 to 400).map { i =>
      val x1 = (i % 10) / 10.0; val x2 = (i % 7) / 7.0
      val x3 = (i % 5) / 5.0; val x4 = (i % 3) / 3.0
      (1.0 + 2.0 * x1 - 1.0 * x2 + 0.05 * x3 +
        ((i * 13) % 11 - 5) / 50.0, x1, x2, x3, x4)
    }.toDF("y", "x1", "x2", "x3", "x4")
    val k2 = graft.operators.Regression.enetPathK(df, "y",
      Seq("x1", "x2"), lambdas = Seq(0.05), alpha = 0.5, sweeps = 6)
      .collect()(0)
    // identical recursion at k=2: the standardized coefs are bit-equal
    // to the ones the retired 2-feature enetPath2 produced on this data
    assert(k2.getAs[Double]("bstd_0") == 0.845307 &&
      k2.getAs[Double]("bstd_1") == -0.403233, k2.toString)
    // heavier penalty keeps fewer features; weak x3/x4 die first
    val path = graft.operators.Regression.enetPathK(df, "y",
      Seq("x1", "x2", "x3", "x4"), lambdas = Seq(0.01, 0.4),
      alpha = 1.0, sweeps = 6).collect()
    val nzSmall = path(0).getAs[Long]("n_nonzero")
    val nzBig = path(1).getAs[Long]("n_nonzero")
    assert(nzBig < nzSmall, s"path did not sparsify: $nzSmall -> $nzBig")
    assert(path(1).getAs[Double]("bstd_0") != 0.0,
      "the strongest feature should survive lambda=0.4")
  }

  test("Survival.coxFitK is bit-equal to coxFit1 at p=1 and fits " +
    "a 3-covariate hazard") {
    import spark.implicits._
    val df = (1 to 400).map { i =>
      val x1 = (i % 5).toDouble; val x2 = (i % 3).toDouble
      val x3 = (i % 2).toDouble
      // event time shrinks with risk; ~25% censored
      val t = 100.0 - 8.0 * x1 - 3.0 * x2 + (i % 13).toDouble
      (if (i % 7 == 0) "a" else "b", t, if (i % 4 == 0) 0L else 1L,
        x1, x2, x3)
    }.toDF("g", "t", "ev", "x1", "x2", "x3")
    val k1 = graft.operators.Survival.coxFitK(df, "g", "t", $"ev",
      Seq($"x1"), iterations = 3).collect()(0)
    // the retired single-covariate coxFit1 produced exactly this row on
    // this data (the identical Newton recursion at p=1)
    assert(k1.getDouble(0) == 1.764249, s"p=1 beta ${k1.getDouble(0)}")
    assert(k1.getLong(1) == 300L && k1.getLong(2) == 400L, k1.toString)
    val k3 = graft.operators.Survival.coxFitK(df, "g", "t", $"ev",
      Seq($"x1", $"x2", $"x3"), iterations = 3).collect()(0)
    (0 to 2).foreach { i =>
      val bi = k3.getDouble(i)
      assert(!bi.isNaN && math.abs(bi) < 10.0, s"beta$i = $bi")
    }
    // the strongest hazard covariate carries the largest |beta|
    assert(math.abs(k3.getDouble(0)) > math.abs(k3.getDouble(2)),
      k3.toString)
  }

  test("NeuralNet.mlpFitK learns a nonlinear target (loss shrinks " +
    "with iterations) at 3-3-1") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      val x1 = (i % 10) / 10.0; val x2 = (i % 7) / 7.0
      val x3 = (i % 4) / 4.0
      (math.tanh(x1 - x2) * 0.8 + 0.2 * x3, x1, x2, x3)
    }.toDF("y", "x1", "x2", "x3")
    def mseAt(iters: Int): Double =
      graft.operators.NeuralNet.mlpFitK(df, "y", Seq("x1", "x2", "x3"),
        hidden = 3, eta = "0.5", iterations = iters)
        .collect()(0).getAs[Double]("mse")
    val (m1, m8) = (mseAt(1), mseAt(8))
    assert(m8 < m1, s"GD failed to reduce pre-update MSE: $m1 -> $m8")
    assert(m8 > 0 && !m8.isNaN)
  }

  test("Regression.robustSeK agrees with robustSe2 at k=2 and is " +
    "finite/positive at k=4") {
    import spark.implicits._
    val df = (1 to 500).map { i =>
      val x1 = (i % 23) / 23.0; val x2 = (i % 7) / 7.0
      val x3 = (i % 11) / 11.0; val x4 = (i % 5) / 5.0
      // heteroskedastic noise: scale grows with x1
      val eps = ((i * 37) % 19 - 9) / 9.0 * (0.1 + x1)
      (2.0 + 1.5 * x1 - 0.8 * x2 + 0.3 * x3 + eps, x1, x2, x3, x4)
    }.toDF("y", "x1", "x2", "x3", "x4")
    val k2 = graft.operators.Regression.robustSeK(df, "y",
      Seq("x1", "x2")).collect()(0)
    val two = graft.operators.Regression.robustSe2(df, "y", "x1", "x2")
      .collect()(0)
    // coefs both micros-quantized from the same moments (Cramer vs
    // Gauss-Jordan solve paths — equal to a quantization step)
    (1 to 3).foreach(i =>
      assert(math.abs(k2.getDouble(i) - two.getDouble(i)) < 2e-6,
        s"b${i - 1}: ${k2.getDouble(i)} vs ${two.getDouble(i)}"))
    // sandwich paths (adjugate/det vs explicit inverse) agree to fp
    (4 to 6).foreach { i =>
      val (a, b) = (k2.getDouble(i), two.getDouble(i))
      assert(math.abs(a - b) / math.max(b, 1e-12) < 1e-6,
        s"se_b${i - 4}: $a vs $b")
    }
    val k4 = graft.operators.Regression.robustSeK(df, "y",
      Seq("x1", "x2", "x3", "x4")).collect()(0)
    (5 to 9).foreach { i =>
      val se = k4.getDouble(i)
      assert(se > 0 && se < 1.0 && !se.isNaN, s"se#${i - 5} = $se")
    }
  }

  test("Factorization.alsK recovers a rank-2 matrix at rank 2 and 3") {
    import spark.implicits._
    // r_ui = a_u*b_i + c_u*d_i is rank 2 — alsK at rank 2 and 3 must
    // both drive reconstruction SSE to ~0; rank-2 alsK must also
    // agree with als2 (same init, gjBatches vs Cramer solve paths
    // agree within the micros quantization granularity)
    val as = Map(1L -> 2.0, 2L -> 3.0, 3L -> 5.0, 4L -> 1.0)
    val cs = Map(1L -> 1.0, 2L -> -2.0, 3L -> 0.5, 4L -> 3.0)
    val bs = Map(10L -> 1.0, 11L -> 4.0, 12L -> 2.0, 13L -> 0.5)
    val ds = Map(10L -> 2.0, 11L -> -1.0, 12L -> 0.0, 13L -> 1.5)
    val ratings = (for (u <- as.keys; i <- bs.keys)
      yield (u, i, as(u) * bs(i) + cs(u) * ds(i))).toSeq.toDF("u", "i", "r")
    def sseOf(users: org.apache.spark.sql.DataFrame,
        items: org.apache.spark.sql.DataFrame, rank: Int): Double = {
      val rec = (0 until rank).map(f =>
        col(s"u$f") * col(s"v$f")).reduce(_ + _)
      val res = col("r") - rec
      ratings.join(users, "u").join(items, "i")
        .agg(sum(res * res)).head().getDouble(0)
    }
    val (u2, i2) = Factorization.alsK(ratings, rank = 2,
      lambda = 1e-4, iterations = 3)
    assert(sseOf(u2, i2, 2) < 1e-3, "rank-2 alsK missed a rank-2 matrix")
    val (u3, i3) = Factorization.alsK(ratings, rank = 3,
      lambda = 1e-4, iterations = 3)
    assert(sseOf(u3, i3, 3) < 1e-3, "rank-3 alsK missed a rank-2 matrix")
    // cross-check against als2 on its own fixture (both quantize to
    // micros per round; solve-path fp differences stay ~1e-6)
    val (ua, ia) = Factorization.als2(ratings, lambda = 1e-4,
      iterations = 3)
    val aMap = ua.collect().map(r =>
      r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    u2.collect().foreach { r =>
      val (a1, a2) = aMap(r.getLong(0))
      assert(math.abs(r.getDouble(1) - a1) < 1e-4 &&
        math.abs(r.getDouble(2) - a2) < 1e-4,
        s"alsK(rank=2) diverged from als2 at u=${r.getLong(0)}")
    }
  }

  test("TopicModel.plsaEmT separates a three-cluster corpus at T=3") {
    import spark.implicits._
    val docs =
      (0 until 5).map(i => (i.toLong, "apple banana cherry apple")) ++
        (5 until 10).map(i => (i.toLong, "xray yankee zulu xray")) ++
        (10 until 15).map(i => (i.toLong, "mango nectar olive mango"))
    val tk = docs.toDF("d", "text")
      .select($"d", explode(split($"text", " ")).as("w"))
    val dwc = tk.groupBy("d", "w").agg(count(lit(1)).cast("double").as("c"))
    val (theta, phi) = graft.operators.TopicModel.plsaEmT(dwc,
      topics = 3, iterations = 10)
    // each doc cluster concentrates on ONE topic, and the three
    // clusters claim three DISTINCT topics
    val th = theta.collect().map(r => r.getLong(0) ->
      (1 to 3).map(r.getDouble).zipWithIndex.maxBy(_._1)._2).toMap
    val cl = Seq(0L, 5L, 10L).map(th)
    assert(cl.distinct.length == 3,
      s"clusters collapsed onto topics $cl")
    (0 until 15).foreach(d => assert(th(d.toLong) == cl(d / 5),
      s"doc $d strayed from its cluster topic"))
    // φ rows are distributions: each topic column sums to ~1
    val sums = phi.agg(sum($"p_0"), sum($"p_1"), sum($"p_2"))
      .collect()(0)
    (0 to 2).foreach(t =>
      assert(math.abs(sums.getDouble(t) - 1.0) < 1e-3, sums.toString))
  }

  test("TopicModel.plsaEm2 separates a two-cluster corpus") {
    import spark.implicits._
    // two disjoint-vocab doc groups — EM must converge to near-pure
    // doc mixes and topic-aligned word distributions
    val docs = (0 until 5).map(i => (i.toLong, "apple banana cherry apple banana")) ++
      (5 until 10).map(i => (i.toLong, "xray yankee zulu xray zulu"))
    val tk = docs.toDF("d", "text")
      .select($"d", explode(split($"text", " ")).as("w"))
    val dwc = tk.groupBy("d", "w").agg(count(lit(1)).cast("double").as("c"))
    val (theta, phi) = TopicModel.plsaEm2(dwc, iterations = 8)
    val th = theta.collect().map(r =>
      r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // every doc confident in one topic
    th.values.foreach { case (t1, t2) =>
      assert(math.max(t1, t2) > 0.9, s"unconverged doc mix ($t1, $t2)")
    }
    // the two groups land on OPPOSITE topics
    val aTopic = th(0L)._1 > th(0L)._2
    (1L to 4L).foreach(d => assert((th(d)._1 > th(d)._2) == aTopic))
    (5L to 9L).foreach(d => assert((th(d)._1 > th(d)._2) != aTopic))
    // φ columns are distributions (micros-quantized → within 1e-4)
    val sums = phi.agg(sum("p1"), sum("p2")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-4)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-4)
  }

  test("Trees.randomForest: splits honor each tree's feature bag") {
    val emb = TestSpark.spark.read
      .parquet(s"${TestSpark.sf}/embeddings.parquet")
    val out = Trees.randomForest(emb, "vec_id", "embedding", "label",
      64, Seq(-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3),
      depth = 2, trees = 3).collect()
    assert(out.map(_.getInt(0)).distinct.sorted.toSeq == Seq(0, 1, 2),
      "every tree must contribute splits")
    out.foreach { r =>
      val (t, d) = (r.getInt(0), r.getInt(3))
      assert(Trees.forestDims(t, 64).contains(d),
        s"tree $t split on dim $d outside its feature bag")
    }
    // bagging is effective: not every tree picks the same root split
    val roots = out.filter(_.getInt(1) == 0)
      .map(r => (r.getInt(3), r.getDouble(4))).distinct
    assert(roots.length > 1, "feature/row bagging produced clone trees")
  }

  test("NeuralNet.mlpFit221: GD reduces MSE on a learnable target") {
    import spark.implicits._
    val data = (0 until 200).map { i =>
      val x1 = (i % 20) / 20.0; val x2 = (i / 20) / 10.0
      (x1, x2, 0.4 * x1 - 0.3 * x2 + 0.2)
    }.toDF("x1", "x2", "y")
    def mseAt(iters: Int) = NeuralNet.mlpFit221(
      data, col("x1"), col("x2"), col("y"), eta = 0.5,
      iterations = iters).head().getAs[Double]("mse")
    val (early, late) = (mseAt(1), mseAt(6))
    assert(late < early,
      s"training did not reduce MSE: round1=$early round6=$late")
  }

  test("IsolationForest: an isolated point outscores the cluster") {
    import spark.implicits._
    // a tight cluster near the origin plus one far outlier
    val rows = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(4)(d => ((i + d) % 7) / 100.0f))
    } :+ (999L, Array(9.0f, -9.0f, 9.0f, -9.0f))
    val df = rows.toDF("vec_id", "embedding")
    val out = IsolationForest.scores(df, "vec_id", "embedding",
      dim = 4, psi = 64, depth = 4, trees = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val outlier = out(999L)
    val inliers = (out - 999L).values
    assert(inliers.forall(_ < outlier),
      s"outlier=$outlier, max inlier=${inliers.max}")
  }

  test("Similarity.rrfFuse: absent systems contribute 0; term order is " +
    "pinned for 3+ systems") {
    import spark.implicits._
    val r1 = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("q_id", "c_id", "rk")
    val r2 = Seq((1L, 11L, 1)).toDF("q_id", "c_id", "rk")
    val r3 = Seq((1L, 12L, 1), (1L, 10L, 3)).toDF("q_id", "c_id", "rk")
    val out = Similarity.rrfFuse(Seq(r1, r2, r3), k = 60)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    // pinned left-to-right addition: (t1 + t2) + t3
    assert(out(10L) == (1.0 / 61 + 0.0) + 1.0 / 63)
    assert(out(11L) == (1.0 / 62 + 1.0 / 61) + 0.0)
    assert(out(12L) == (0.0 + 0.0) + 1.0 / 61)
  }

  test("Stats.spearman is 1 on any monotone map, sign-flips on reversal") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toDouble, math.exp(i / 10.0)))
      .toDF("x", "y")
    val up = Stats.spearman(df, "x", "y").collect()(0)
    assert(up.getLong(0) == 100L && up.getDouble(1) == 1.0)
    val down = Stats.spearman(
      df.withColumn("y", -$"y"), "x", "y").collect()(0)
    assert(down.getDouble(1) == -1.0)
  }

  test("Stats.kendallTauB: ±1 on monotone data, tie-corrected between") {
    import spark.implicits._
    val up = (1 to 50).map(i => (i.toDouble, (i * 2).toDouble))
      .toDF("x", "y")
    assert(Stats.kendallTauB(up, "x", "y").collect()(0).getDouble(3) == 1.0)
    val down = (1 to 50).map(i => (i.toDouble, (-i).toDouble))
      .toDF("x", "y")
    assert(Stats.kendallTauB(down, "x", "y").collect()(0)
      .getDouble(3) == -1.0)
    // heavy ties: x in {0,1}, y follows x except one discordant cell —
    // C/D count cell-pair products, not row pairs
    val t = (Seq.fill(10)((0.0, 0.0)) ++ Seq.fill(10)((1.0, 1.0)) ++
      Seq((1.0, -1.0))).toDF("x", "y")
    val r = Stats.kendallTauB(t, "x", "y").collect()(0)
    assert(r.getDouble(1) == 100.0 && r.getDouble(2) == 10.0)
    assert(r.getDouble(3) > 0.5 && r.getDouble(3) < 1.0)
  }

  test("Stats.mwTest: identical groups give U = n1*n2/2 and z = 0") {
    import spark.implicits._
    val df = ((1 to 60).map(i => ("a", (i % 10).toDouble)) ++
      (1 to 60).map(i => ("b", (i % 10).toDouble))).toDF("g", "v")
    val r = Stats.mwTest(df, "v", "g", "a", "b").collect()(0)
    assert(r.getLong(0) == 60L && r.getLong(1) == 60L)
    assert(r.getDouble(2) == 60.0 * 60.0 / 2.0, s"u=${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3)) < 1e-12, s"z=${r.getDouble(3)}")
    // one-sided shift: group a strictly larger → U_a = n1*n2, z > 0
    val sh = ((1 to 20).map(i => ("a", 100.0 + i)) ++
      (1 to 20).map(i => ("b", i.toDouble))).toDF("g", "v")
    val s2 = Stats.mwTest(sh, "v", "g", "a", "b").collect()(0)
    assert(s2.getDouble(2) == 400.0 && s2.getDouble(3) > 5.0)
  }

  test("Stats.wsrTest: symmetric differences give z near 0; positive " +
    "shift drives W+ to the max") {
    import spark.implicits._
    // d alternates ±k symmetrically → W+ = half the rank sum, z = 0
    val sym = (1 to 40).map { i =>
      val k = ((i - 1) / 2 + 1).toDouble
      if (i % 2 == 0) (k, 0.0) else (0.0, k)
    }.toDF("x", "y")
    val r = Stats.wsrTest(sym, "x", "y").collect()(0)
    assert(r.getLong(0) == 40L)
    assert(math.abs(r.getDouble(2)) < 1e-12, s"z=${r.getDouble(2)}")
    // all-positive differences: W+ = n(n+1)/2
    val pos = (1 to 30).map(i => (i.toDouble + 10.0, i.toDouble))
      .toDF("x", "y")
    val p = Stats.wsrTest(pos, "x", "y").collect()(0)
    assert(p.getDouble(1) == 30.0 * 31.0 / 2.0 && p.getDouble(2) > 4.0)
  }

  test("Regression.poissonFit2 recovers log-link coefficients") {
    import spark.implicits._
    // y = round(exp(1 + 0.5 x1 - 0.3 x2)) — noiseless counts; 5 Newton
    // rounds from ln(mean) reach the generating coefficients
    val df = (for (i <- 1 to 400) yield {
      val x1 = (i % 20) / 10.0; val x2 = ((i / 20) % 20) / 10.0
      (math.floor(math.exp(1.0 + 0.5 * x1 - 0.3 * x2) + 0.5), x1, x2)
    }).toDF("y", "x1", "x2")
    val r = Regression.poissonFit2(df, "y", "x1", "x2", iterations = 5)
      .collect()(0)
    assert(math.abs(r.getDouble(1) - 1.0) < 0.05, s"b0=${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 0.5) < 0.05, s"b1=${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) + 0.3) < 0.05, s"b2=${r.getDouble(3)}")
  }

  test("Trees.boostedStumps recovers a step function and shrinks MSE") {
    import spark.implicits._
    // y = 10 when x1 <= 5 else 20; one stump at thr=5 nails it
    val df = (1 to 100).map { i =>
      val x1 = (i % 10).toDouble
      (x1, i.toDouble, if (x1 <= 5) 10.0 else 20.0)
    }.toDF("x1", "x2", "y")
    val out = Trees.boostedStumps(df,
      Seq(("x1", Seq(3.0, 5.0, 7.0)), ("x2", Seq(25.0, 50.0, 75.0))),
      "y", rounds = 2, eta = 0.5).collect()
    assert(out(0).getString(1) == "x1" && out(0).getDouble(2) == 5.0)
    val mse1 = out(0).getDouble(7); val mse2 = out(1).getDouble(7)
    assert(mse2 < mse1, s"boosting must shrink MSE: $mse1 -> $mse2")
    // eta=0.5 twice on the same split: residual scale 25 -> 6.25 -> 1.5625
    assert(mse2 < 2.0, s"two rounds should reach <2: $mse2")
  }

  test("TextAnalysis.bpeEncode applies merges greedily left-to-right") {
    import spark.implicits._
    // merge (a,a): 'aaaa' -> [aa, aa]; 'aaa' -> [aa, a]; chained merge
    // (aa,aa): 'aaaa' -> [aaaa]
    val docs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val one = TextAnalysis.bpeEncode(docs, "text", "doc_id", Seq("a a"))
      .collect()(0)
    assert((one.getLong(1), one.getLong(2), one.getLong(3)) == (2L, 4L, 7L))
    val two = TextAnalysis.bpeEncode(docs, "text", "doc_id",
      Seq("a a", "aa aa")).collect()(0)
    // 'aaaa' -> [aaaa] (1 tok), 'aaa' -> [aa, a] (2 toks)
    assert((two.getLong(1), two.getLong(2), two.getLong(3)) == (2L, 3L, 7L))
  }

  test("Components.betweenness: star hub carries all pair dependencies") {
    import spark.implicits._
    // star K1,4: hub 0; bc(hub) = C(4,2) = 6 exact; leaves 0
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
      .toDF("src", "dst")
    val bc = Components.betweenness(star, "src", "dst", levels = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(bc(0L) == 6.0, s"hub: ${bc(0L)}")
    assert(Seq(1L, 2L, 3L, 4L).forall(bc(_) == 0.0))
    // path 1-2-3: bc(2) = 1 (the 1-3 pair)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val bp = Components.betweenness(path, "src", "dst", levels = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(bp(2L) == 1.0 && bp(1L) == 0.0 && bp(3L) == 0.0)
  }

  test("Components.kCore peels a pendant chain off a 4-clique") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + chain 4-5-6: the 3-core is exactly the
    // clique (5 and 6 peel in rounds 1-2, which drops 4's degree to 3)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val out = Components.kCore(edges, "src", "dst", k = 3, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // k above the max core: empty, not an error
    assert(Components.kCore(edges, "src", "dst", k = 4, rounds = 4)
      .count() == 0L)
  }

  test("Sketches.countMin never underestimates and is exact when " +
    "collision-free") {
    import spark.implicits._
    val rows = (Seq.fill(10)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
      .toDF("k")
    val sk = Sketches.countMin(rows, "k", depth = 4, width = 64)
    val keys = Seq("a", "b", "c", "never-seen").toDF("k")
    val est = Sketches.cmEstimate(sk, keys, "k", depth = 4, width = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est("a") >= 10L && est("b") >= 3L && est("c") >= 1L)
    // 3 keys in 4×64 cells: min over 4 rows is collision-free here
    assert(est("a") == 10L && est("b") == 3L && est("c") == 1L)
    assert(est("never-seen") == 0L)
  }

  test("Sketches.fmSketch estimates 1k distinct within PCSA m=16 error") {
    import spark.implicits._
    val rows = (1 to 1000).map(i => i % 997).toDF("k") // 997 distinct
    val out = Sketches.fmSketch(rows, "k").collect()(0)
    val est = out.getDouble(1)
    // FM85 σ/n ≈ 0.78/√16 ≈ 20%; allow 3σ
    assert(est > 997 * 0.4 && est < 997 * 1.6, s"est=$est")
  }

  test("Regression.enetPathK at alpha=0.5 shrinks harder than the lasso") {
    import spark.implicits._
    val df = (1 to 200).map { i =>
      val x1 = i.toDouble; val x2 = (i % 7).toDouble
      (2.0 * x1 - 3.0 * x2 + 5.0 + (i % 11) * 0.1, x1, x2)
    }.toDF("y", "x1", "x2")
    def b1Std(lambda: Double, alpha: Double): Double =
      Regression.enetPathK(df, "y", Seq("x1", "x2"), Seq(lambda),
        alpha = alpha, sweeps = 6)
        .select("bstd_0").collect()(0).getDouble(0)
    // alpha=0.5 at lambda=0.05 carries the lasso's l1 weight at 0.025
    // plus an l2 shrink, so it keeps less of the coefficient
    val h = b1Std(0.05, 0.5)
    val lb = b1Std(0.025, 1.0)
    assert(math.abs(h) <= math.abs(lb) + 1e-9, s"$h vs lasso $lb")
  }

  test("Regression.olsFitK recovers exact coefficients at k=4 and " +
    "NULLs singular groups") {
    import spark.implicits._
    // exact linear target: y = 2 + 3x1 - x2 + 0.5x3 + 4x4, no noise
    val df = (1 to 400).map { i =>
      val x1 = (i % 13).toDouble; val x2 = (i % 7).toDouble
      val x3 = (i % 5).toDouble; val x4 = (i % 3).toDouble
      ("g", 2.0 + 3.0 * x1 - x2 + 0.5 * x3 + 4.0 * x4, x1, x2, x3, x4)
    }.toDF("grp", "y", "x1", "x2", "x3", "x4")
    val r = Regression.olsFitK(df, "grp", "y",
      Seq("x1", "x2", "x3", "x4")).collect()(0)
    assert(r.getLong(1) == 400L)
    val got = (2 to 6).map(r.getDouble)
    val want = Seq(2.0, 3.0, -1.0, 0.5, 4.0)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-3, s"got $got want $want")
    }
    assert(math.abs(r.getDouble(7) - 1.0) < 1e-6, s"r2=${r.getDouble(7)}")
    // constant feature → singular normal matrix → NULL coefficients
    val sing = (1 to 50).map(i =>
      ("g", i.toDouble, 1.0, 1.0, 1.0, 1.0))
      .toDF("grp", "y", "x1", "x2", "x3", "x4")
    val rs = Regression.olsFitK(sing, "grp", "y",
      Seq("x1", "x2", "x3", "x4")).collect()(0)
    assert(rs.isNullAt(2) && rs.isNullAt(6), rs.toString)
    // matches olsFit2 on the 2-feature case (same moments, same fit)
    val two = Regression.olsFitK(df, "grp", "y", Seq("x1", "x2"))
      .collect()(0)
    val old = Regression.olsFit2(df, "grp", "y", "x1", "x2").collect()(0)
    assert(math.abs(two.getDouble(2) - old.getDouble(2)) < 1e-4)
    assert(math.abs(two.getDouble(3) - old.getDouble(3)) < 1e-4)
  }

  test("Regression.logregFitK tracks logregFit2 at k=2 and recovers " +
    "coefficient signs") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      val x1 = (i % 10).toDouble / 10.0
      val x2 = (i % 7).toDouble / 7.0
      val y = if (2.0 * x1 - 1.5 * x2 + 0.2 > 0.5) 1.0 else 0.0
      ("g", y, x1, x2)
    }.toDF("grp", "y", "x1", "x2")
    val k = Regression.logregFitK(df, "grp", "y", Seq("x1", "x2"))
      .collect()(0)
    val two = Regression.logregFit2(df, "grp", "y", "x1", "x2")
      .collect()(0)
    // the same IRLS recursion modulo exp micro-quantization
    assert(math.abs(k.getDouble(2) - two.getDouble(2)) < 1e-2,
      s"b0 ${k.getDouble(2)} vs ${two.getDouble(2)}")
    assert(math.abs(k.getDouble(3) - two.getDouble(3)) < 1e-2)
    assert(k.getDouble(3) > 0 && k.getDouble(4) < 0, k.toString)
    assert(k.getLong(1) == 300L)
  }

  test("Regression.poissonFitK recovers a log-linear rate at k=3") {
    import spark.implicits._
    // exact log link: log(y) = 0.4 + 0.8x1 - 0.5x2 + 0.2x3, y = e^z
    val df = (1 to 600).map { i =>
      val x1 = (i % 10) / 10.0; val x2 = (i % 7) / 7.0
      val x3 = (i % 4) / 4.0
      ("g", math.exp(0.4 + 0.8 * x1 - 0.5 * x2 + 0.2 * x3), x1, x2, x3)
    }.toDF("grp", "y", "x1", "x2", "x3")
    val r = graft.operators.Regression
      .poissonFitK(df, "grp", "y", Seq("x1", "x2", "x3"), iterations = 6)
      .collect()(0)
    assert(r.getLong(1) == 600L)
    val got = (2 to 5).map(r.getDouble)
    val want = Seq(0.4, 0.8, -0.5, 0.2)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 5e-3, s"got $got want $want")
    }
  }

  test("Regression.ridgeFitK matches olsFitK as lambda -> 0 and " +
    "shrinks slopes at large lambda") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      val x1 = (i % 13).toDouble; val x2 = (i % 7).toDouble
      ("g", 1.0 + 2.0 * x1 - 3.0 * x2, x1, x2)
    }.toDF("grp", "y", "x1", "x2")
    val ols = graft.operators.Regression
      .olsFitK(df, "grp", "y", Seq("x1", "x2")).collect()(0)
    val r0 = graft.operators.Regression
      .ridgeFitK(df, "grp", "y", Seq("x1", "x2"), lambda = 0.0)
      .collect()(0)
    assert(math.abs(r0.getDouble(2) - ols.getDouble(2)) < 1e-9)
    assert(math.abs(r0.getDouble(3) - ols.getDouble(3)) < 1e-9)
    val rBig = graft.operators.Regression
      .ridgeFitK(df, "grp", "y", Seq("x1", "x2"), lambda = 1e7)
      .collect()(0)
    assert(math.abs(rBig.getDouble(3)) < math.abs(r0.getDouble(3)),
      s"slope did not shrink: ${rBig.getDouble(3)} vs ${r0.getDouble(3)}")
    assert(math.abs(rBig.getDouble(4)) < math.abs(r0.getDouble(4)))
  }

  test("Regression.svmFitK matches svmFit2 at k=2 and separates at k=3") {
    import spark.implicits._
    import graft.queries.Q
    val df = (1 to 400).map { i =>
      val x1 = (i % 10) / 10.0; val x2 = (i % 7) / 7.0
      val y = if (x1 - x2 > 0.1) 1.0 else -1.0
      (y, x1, x2)
    }.toDF("y", "x1", "x2")
    val k = graft.operators.Regression.svmFitK(df, "y", Seq("x1", "x2"),
      lambda = 0.01, iterations = 4, sumExact = Q.dsum(_, 6)).collect()(0)
    // w0*1.0 is IEEE-exact, so the recursion is the one the retired
    // 2-feature svmFit2 ran: these are its weights on this data
    val two = Seq(1.5624999999999982, 11.03125, -9.250004937500002)
    (0 to 2).foreach(i => assert(k.getDouble(i) == two(i),
      s"w$i ${k.getDouble(i)} != ${two(i)}"))
    assert(k.getLong(3) == 165L && k.getLong(4) == 400L, k.toString)
    // 3-feature margin: the informative feature gets the largest |w|
    val df3 = (1 to 400).map { i =>
      val x1 = (i % 10) / 10.0; val x2 = (i % 7) / 7.0
      val x3 = (i % 3) / 3.0
      (if (x1 > 0.5) 1.0 else -1.0, x1, x2, x3)
    }.toDF("y", "x1", "x2", "x3")
    val k3 = graft.operators.Regression.svmFitK(df3, "y",
      Seq("x1", "x2", "x3"), lambda = 0.01, iterations = 8,
      sumExact = Q.dsum(_, 6)).collect()(0)
    assert(k3.getDouble(1) > math.abs(k3.getDouble(2)) &&
      k3.getDouble(1) > math.abs(k3.getDouble(3)), k3.toString)
  }

  test("Regression.multinomFitK is bit-equal to multinomFit2 at 3x2") {
    import spark.implicits._
    val df = (1 to 240).map { i =>
      val x1 = (i % 10) / 10.0
      val x2 = (i % 7) / 7.0
      val lbl = if (x1 + x2 > 1.2) "b" else if (x1 > 0.5) "c" else "a"
      (lbl, x1, x2)
    }.toDF("lbl", "x1", "x2")
    val k = Regression.multinomFitK(df, "lbl", Seq("a", "b", "c"),
      Seq("x1", "x2"), epochs = 5, eta = 1.0).collect()
    // the SAME quantized recursion in the same op order as the retired
    // 3x2 multinomFit2 — bit-equal to the rows it produced on this data
    val two = Seq((1, 240L, Seq(-0.474145, 0.083481, 0.10556)),
      (2, 240L, Seq(-0.404668, 0.122104, -0.396114)))
    assert(k.length == two.length)
    k.zip(two).foreach { case (kr, (cls, n, bs)) =>
      assert(kr.getInt(0) == cls)
      assert(kr.getLong(1) == n)
      (2 to 4).foreach(j => assert(kr.getDouble(j) == bs(j - 2),
        s"col $j: $kr vs $bs"))
    }
  }

  test("alsK SMJ regime (broadcast off) is bit-identical and " +
      "pre-partitions the ratings by each half-round's join key") {
    import spark.implicits._
    val ratings = (1 to 400).map { n =>
      (n % 23L, n % 17L, (n % 5) + 1.0)
    }.toDF("u", "i", "r")
    val (bu, bi) = graft.operators.Factorization
      .alsK(ratings, rank = 3, lambda = 0.1, iterations = 2)
    val bUsers = bu.orderBy("u").collect().map(_.toString)
    val bItems = bi.orderBy("i").collect().map(_.toString)
    graft.operators.KernelCaches.releaseAll()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // SMJ regime: the kernel must build co-partitioned copies ...
      val (byI, byU, bc) = graft.operators.Factorization
        .prepSides(ratings, rank = 3)
      assert(!bc, "threshold -1 must select the SMJ regime")
      def repartKey(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.analyzed match {
          case r: org.apache.spark.sql.catalyst.plans.logical
              .RepartitionByExpression =>
            r.partitionExpressions.map(_.sql).mkString(",")
          case other => s"NOT-REPART: ${other.nodeName}"
        }
      assert(repartKey(byI).contains("i"),
        s"i-copy not hash-partitioned by i: ${repartKey(byI)}")
      assert(repartKey(byU).contains("u"),
        s"u-copy not hash-partitioned by u: ${repartKey(byU)}")
      graft.operators.KernelCaches.releaseAll()
      // ... and the factors must come out bit-identical to the
      // broadcast regime (partitioning moves rows, never values)
      val (su, si) = graft.operators.Factorization
        .alsK(ratings, rank = 3, lambda = 0.1, iterations = 2)
      assert(su.orderBy("u").collect().map(_.toString).sameElements(bUsers))
      assert(si.orderBy("i").collect().map(_.toString).sameElements(bItems))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.operators.KernelCaches.releaseAll()
    }
  }

  test("harness table schemas come from the footer, with no job") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (dir <- Seq(sf, sf01); name <- Tables.all) {
      val p = Tables.path(dir, name)
      assert(Tables.footerSchema(spark, p) == spark.read.parquet(p).schema, p)
    }
    // a directory no earlier read has cached: loading every table,
    // events' nanos included, runs no job
    val fresh = java.nio.file.Files.createTempDirectory("graft_tables")
    Tables.all.foreach(n => java.nio.file.Files.copy(
      java.nio.file.Paths.get(Tables.path(sf, n)),
      fresh.resolve(s"$n.parquet")))
    assert(jobs(Tables.all.foreach(Tables.load(spark, fresh.toString, _))) == 0)
  }

  test("pageRank and hits pay at most three jobs per score update") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 2L),
      (2L, 5L)).toDF("src", "dst")
    def pr(k: Int) = jobs(Components.pageRank(edges, "src", "dst",
      iterations = k).collect())
    def hits(k: Int) = jobs(Components.hits(edges, "src", "dst",
      iterations = k).collect())
    // one more round adds exactly the round: the aggregate's map stage
    // and its collect (the state ships as a broadcast variable, no job)
    val prRound = pr(3) - pr(2)
    assert(prRound > 0 && prRound <= 2, s"pageRank round: $prRound jobs")
    // a HITS iteration is two such half-rounds (authority, then hub)
    val hitsRound = hits(3) - hits(2)
    assert(hitsRound > 0 && hitsRound <= 4,
      s"hits iteration: $hitsRound jobs")
  }
}
