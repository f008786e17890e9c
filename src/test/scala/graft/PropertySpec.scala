package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators._

/** Property tests (SURVEY §5): operator equivalences on ScalaCheck-
  * generated data, sampled with fixed seeds for reproducibility. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen(Gen.Parameters.default.withSize(30), Seed(42L + i)))

  private val kvGen = Gen.nonEmptyListOf(
    Gen.zip(Gen.choose(1, 5), Gen.alphaStr.map(_.take(6))))

  test("gjInvBatches yields a true inverse on random SPD moment rows") {
    import spark.implicits._
    // random PD matrices via A = B·Bᵀ + I over generated B entries;
    // evaluate the generated batch text on a 1-row frame and check
    // A·A⁻¹ ≈ I (the same expression path robustSeK uses)
    val entryGen = Gen.choose(-30, 30).map(_ / 7.0)
    for (p <- 2 to 4) {
      val bs = samples(Gen.listOfN(p * p, entryGen), 3)
        .filter(_.length == p * p)
      bs.take(3).foreach { flat =>
        val b = Array.tabulate(p, p)((i, j) => flat(i * p + j))
        val a = Array.tabulate(p, p)((i, j) =>
          (0 until p).map(l => b(i)(l) * b(j)(l)).sum +
            (if (i == j) 1.0 else 0.0))
        val momentCols = for { i <- 0 until p; j <- i until p }
          yield lit(a(i)(j)).as(s"m_${i}_$j")
        val (batches, _) = Regression.gjInvBatches(p)
        val solved = batches.foldLeft(
          Seq(1).toDF("__one").select(momentCols: _*)) { (d, batch) =>
          d.select(col("*") +: batch.map { case (n, e) =>
            expr(e).as(n) }: _*)
        }
        val inv = solved.select((for { i <- 0 until p; q <- 0 until p }
          yield col(s"iv${p - 1}_${i}_$q")): _*).collect()(0)
        def invAt(i: Int, q: Int) = inv.getDouble(i * p + q)
        for (i <- 0 until p; j <- 0 until p) {
          val prod = (0 until p).map(l => a(i)(l) * invAt(l, j)).sum
          val expect = if (i == j) 1.0 else 0.0
          assert(math.abs(prod - expect) < 1e-8,
            s"p=$p (A*Ainv)($i,$j) = $prod")
        }
      }
    }
  }

  test("range algebra invariants on arbitrary integer ranges") {
    import spark.implicits._
    import graft.functions.RangeFunctions._
    val rangeGen = Gen.zip(Gen.choose(-20, 20), Gen.choose(-20, 20),
      Gen.choose(-20, 20), Gen.choose(-20, 20))
    val cases = samples(Gen.nonEmptyListOf(rangeGen), 4).flatten.distinct
    val df = cases.toDF("alo", "ahi", "blo", "bhi")
      .select(range($"alo", $"ahi").as("a"), range($"blo", $"bhi").as("b"))
    val rows = df.select(
      // set-model reference: containment/overlap via element sets
      overlaps($"a", $"b"), containsRange($"a", $"b"),
      upperBound(intersect($"a", $"b")) - lowerBound(intersect($"a", $"b")),
      lowerBound($"a"), upperBound($"a"), lowerBound($"b"), upperBound($"b"))
      .collect()
    rows.foreach { r =>
      val (alo, ahi, blo, bhi) =
        (r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))
      val sa = (alo until math.max(alo, ahi)).toSet
      val sb = (blo until math.max(blo, bhi)).toSet
      assert(r.getBoolean(0) == sa.intersect(sb).nonEmpty,
        s"overlaps [$alo,$ahi) [$blo,$bhi)")
      assert(r.getBoolean(1) == sb.subsetOf(sa),
        s"contains [$alo,$ahi) [$blo,$bhi)")
      // intersection width (clamped at 0) equals the set model's size
      assert(math.max(0, r.getInt(2)) == sa.intersect(sb).size ||
        sa.isEmpty || sb.isEmpty,
        s"intersect width [$alo,$ahi) [$blo,$bhi)")
    }
  }

  test("salted join ≡ plain join on arbitrary key distributions") {
    import spark.implicits._
    for ((big, smallKeys) <- samples(Gen.zip(kvGen, Gen.someOf(1 to 5)), 5)
         if big.nonEmpty) {
      val b = big.toList.toDF("k", "v")
      val sm = smallKeys.toList.map(k => (k, s"label$k")).toDF("k", "label")
      val plain = b.join(sm, "k").select("k", "v", "label")
        .as[(Int, String, String)].collect().sorted.toSeq
      val salted = SkewJoin.saltedInnerJoin(b, sm, "k", salts = 3)
        .select("k", "v", "label")
        .as[(Int, String, String)].collect().sorted.toSeq
      assert(salted == plain, s"big=$big small=$smallKeys")
    }
  }

  test("decimal dsum ≡ exact rational sum for 2-decimal money values") {
    import spark.implicits._
    for (cents <- samples(Gen.nonEmptyListOf(Gen.choose(-99999L, 99999L)), 5)
         if cents.nonEmpty) {
      val df = cents.map(c => c / 100.0).toDF("v")
      val got = df.agg(graft.queries.Q.dsum(col("v"))).head.getDouble(0)
      val want = cents.map(BigDecimal(_) / 100).sum
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got == want, s"$got != $want for $cents")
    }
  }

  test("tokenCount ≡ reference tokenizer") {
    import spark.implicits._
    val textGen = Gen.listOf(Gen.oneOf("the", "cat", "42", "x!", " ", "dog"))
      .map(_.mkString(" "))
    for (text <- samples(textGen, 10)) {
      val got = Seq(text).toDF("t")
        .select(TextAnalysis.tokenCount(col("t"))).head.getInt(0)
      val want = text.toLowerCase.trim.split("\\s+").count(_.nonEmpty)
      assert(got == want, s"'$text'")
    }
  }

  test("recursive closure ≡ in-memory BFS") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(8, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 5)))
    for (edges <- samples(edgeGen, 4)) {
      val reach = scala.collection.mutable.Set(0)
      var grew = true
      while (grew) {
        grew = false
        edges.foreach { case (s2, d) =>
          if (reach(s2) && !reach(d)) { reach += d; grew = true }
        }
      }
      val df = edges.toDF("src", "dst")
      val got = RecursiveCte.unionDistinct(
        Seq(0).toDF("node"),
        delta => df.join(delta, df("src") === delta("node"))
          .select(df("dst").as("node")))
        .as[Int].collect().toSet
      assert(got == reach.toSet, s"edges=$edges")
    }
  }

  test("heavyHitters ≡ exact group-count at the threshold") {
    import spark.implicits._
    val docGen = Gen.listOfN(40,
      Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "hot"))
        .map(_.mkString(" ")))
    for (docs <- samples(docGen, 3)) {
      val df = docs.toDF("text").repartition(7) // candidates must survive
      val den = 10L                             // any partitioning
      val got = TextAnalysis.heavyHitters(df, "text", den)
        .as[(String, Long)].collect().toMap
      val toks = docs.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * den >= toks.size }.toMap
      assert(got == exact, s"den=$den n=${toks.size}")
    }
  }

  test("corpus split is a partition-independent function of (seed, id)") {
    import spark.implicits._
    val ids = (0L until 300L).toDF("doc_id")
    def assign(df: org.apache.spark.sql.DataFrame) =
      Corpus.splitAssign(df, "doc_id", "s1",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .as[(Long, String)].collect().toMap
    val a = assign(ids)
    val b = assign(ids.repartition(13))
    assert(a == b)
    // every row gets a split and all three appear at these sizes
    assert(a.size == 300 && a.values.toSet == Set("train", "val", "test"))
    // the hash buckets are ~uniform: train must dominate at 80 %
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
  }

  test("corpus shuffle is a seed-stable permutation of 0 until n") {
    import spark.implicits._
    val ids = (0L until 200L).toDF("doc_id")
    def perm(df: org.apache.spark.sql.DataFrame) =
      Corpus.shuffle(df, "doc_id", "7").as[(Long, Long)].collect().toMap
    val p1 = perm(ids)
    val p2 = perm(ids.repartition(11))
    graft.operators.KernelCaches.releaseAll()
    assert(p1 == p2, "permutation must not depend on input partitioning")
    assert(p1.values.toSeq.sorted == (0L until 200L),
      "positions must be exactly 0 until n")
    // a different seed is a different epoch order
    val p3 = (0L until 200L).toDF("doc_id")
    val other = Corpus.shuffle(p3, "doc_id", "8").as[(Long, Long)]
      .collect().toMap
    graft.operators.KernelCaches.releaseAll()
    assert(other != p1)
  }

  test("dedupIncremental: empty reference admits all, self-reference none") {
    import spark.implicits._
    val wordGen = Gen.listOfN(8,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta"))
      .map(_.mkString(" "))
    val docs = samples(wordGen, 12).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val emptyRef = Dedup.minhashIndex(
      docs.filter(lit(false)), "text", "doc_id")
    assert(Dedup.dedupIncremental(docs, emptyRef, "text", "doc_id")
      .count() == docs.count())
    // every doc matches itself in the self-index with estimate 1.0
    val selfRef = Dedup.minhashIndex(docs, "text", "doc_id")
    assert(Dedup.dedupIncremental(docs, selfRef, "text", "doc_id")
      .count() == 0)
  }

  test("tfidfCosinePairs ≡ brute-force cosine on a small corpus") {
    import spark.implicits._
    val wordGen = Gen.listOfN(6,
      Gen.oneOf("red", "blue", "green", "gold", "gray"))
      .map(_.mkString(" "))
    val raw = samples(wordGen, 8).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val docs = raw.toDF("doc_id", "text")
    val got = TextAnalysis.tfidfCosinePairs(
      docs, "text", "doc_id", minSim = 0.0, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // brute force: same tf-idf weighting computed in plain Scala
    val n = raw.size
    val tfs = raw.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).map { case (k, v) =>
        k -> v.length.toDouble }
    }.toMap
    val dfm = tfs.values.flatMap(_.keys).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    def wvec(id: Long): Map[String, Double] = tfs(id).map { case (t, f) =>
      t -> f * (math.log((n + 1.0) / (dfm(t) + 1.0)) + 1.0)
    }
    for (a <- raw.map(_._1); b <- raw.map(_._1) if a < b) {
      val (wa, wb) = (wvec(a), wvec(b))
      val dot = wa.keySet.intersect(wb.keySet).toSeq
        .map(t => wa(t) * wb(t)).sum
      if (dot > 0) {
        val sim = dot / (math.sqrt(wa.values.map(x => x * x).sum) *
          math.sqrt(wb.values.map(x => x * x).sum))
        assert(math.abs(got((a, b)) - sim) < 1e-9, s"pair ($a,$b)")
      } else assert(!got.contains((a, b)))
    }
  }

  test("meanPool of identical vectors is the vector itself") {
    import spark.implicits._
    val v = Array(1.0f, -2.5f, 0.25f, 4.0f)
    val emb = Seq((1, v), (1, v), (1, v), (2, v.map(_ * 2)))
      .toDF("label", "embedding")
    val pooled = Similarity.meanPool(emb, "label", "embedding")
      .collect().map(r => r.getInt(0) ->
        r.getSeq[Double](1).toArray).toMap
    assert(pooled(1).zip(v).forall { case (m, x) =>
      math.abs(m - x) < 1e-9 })
    assert(pooled(2).zip(v).forall { case (m, x) =>
      math.abs(m - 2.0 * x) < 1e-9 })
  }

  test("svec dot ≡ dense dot over thresholded random vectors") {
    import spark.implicits._
    import graft.functions.SvecFunctions._
    val vecGen = Gen.listOfN(16, Gen.choose(-1.0, 1.0).map(_.toFloat))
    for ((va, vb) <- samples(Gen.zip(vecGen, vecGen), 6)) {
      val df = Seq((va, vb)).toDF("a", "b")
      val (ai, av) = svecFromDense($"a", 0.3)
      val (bi, bv) = svecFromDense($"b", 0.3)
      val got = df.select(svecDot(ai, av, bi, bv)).head.getDouble(0)
      val want = va.zip(vb).map { case (x, y) =>
        val xd = if (math.abs(x.toDouble) > 0.3) x.toDouble else 0.0
        val yd = if (math.abs(y.toDouble) > 0.3) y.toDouble else 0.0
        xd * yd
      }.foldLeft(0.0)(_ + _)
      assert(got == want, s"a=$va b=$vb")
    }
  }

  test("boilerplateStrip removes ALL within-source repeats, keeps " +
    "cross-source repeats and null-text docs") {
    import spark.implicits._
    val boiler = "the site cookie banner text"       // 5 words, src A ×2
    val cross = "unique enough shared across sources" // src A + src B
    val docs = Seq(
      (1L, "A", s"$boiler alpha beta gamma delta one"),
      (2L, "A", s"$boiler $cross"),
      (3L, "B", cross),
      (4L, "B", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    val out = Dedup.boilerplateStrip(docs, "text", "doc_id", "source",
      spanWords = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // boiler span removed from BOTH A-docs (no survivor)
    assert(out(1L) == (("alpha beta gamma delta one", 1L, 1L)))
    assert(out(2L) == ((cross, 1L, 1L)))
    // same span across different sources is NOT boilerplate
    assert(out(3L) == ((cross, 1L, 0L)))
    // null text survives with empty clean_text and zero counters
    assert(out(4L) == (("", 0L, 0L)))
  }

  test("randomProjection preserves pairwise distance within JL bounds " +
    "and is deterministic") {
    import spark.implicits._
    val dim = 64; val outDim = 16
    val vecGen = Gen.listOfN(dim, Gen.choose(-1.0, 1.0).map(_.toFloat))
    val vecs = samples(vecGen, 8).map(_.toArray)
    val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val rp = Similarity.randomProjection(emb, "vec_id", "embedding",
      dim, outDim)
      .groupBy("vec_id")
      .agg(transform(sort_array(collect_list(struct(col("j"), col("rp")))),
        s => s.getField("rp")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (i <- vecs.indices; k <- vecs.indices if i < k) {
      val orig = d2(vecs(i).map(_.toDouble), vecs(k).map(_.toDouble))
      val proj = d2(rp(i.toLong), rp(k.toLong))
      // ε here is loose (outDim=16 is a smoke dimension, not a JL
      // guarantee dimension) — the test asserts order-of-magnitude
      // preservation plus exact determinism via the matrix formula
      assert(proj > orig * 0.2 && proj < orig * 3.0,
        s"pair ($i,$k): orig=$orig proj=$proj")
    }
    val m1 = Similarity.jlMatrix(dim, outDim)
    val m2 = Similarity.jlMatrix(dim, outDim)
    assert(m1.flatten.toSeq == m2.flatten.toSeq)
    val nz = m1.flatten.count(_ != 0.0).toDouble / (dim * outDim)
    assert(nz > 0.2 && nz < 0.45, s"nonzero fraction $nz far from 1/3")
  }

  test("pageRank: uniform on a cycle, mass-conserving when no dangling") {
    import spark.implicits._
    // directed 6-cycle: every node has in/out degree 1 → stationary
    // distribution is uniform 1/6 and every iterate stays there
    val n = 6
    val cyc = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val pr = Components.pageRank(cyc, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == n)
    pr.values.foreach(v => assert(math.abs(v - 1.0 / n) < 1e-12))
    // star graph a->c, b->c: hub c accumulates, total mass conserved
    // (no dangling leak only when every node has out-edges — c->a closes it)
    val star = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val ps = Components.pageRank(star, "src", "dst", iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ps.values.sum - 1.0) < 1e-9)
    assert(ps(3L) > ps(1L) && ps(1L) > ps(2L))
  }

  // 1 is a pure source (no in-edges), 5 a pure sink (no out-edges)
  private val srcSinkEdges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
    (4L, 2L), (2L, 5L), (3L, 5L))

  test("hits: matches a driver power iteration, normalized every round") {
    import spark.implicits._
    val iters = 4
    val ids = srcSinkEdges.flatMap(e => Seq(e._1, e._2)).distinct
    def unit(v: Map[Long, Double]): Map[Long, Double] = {
      val norm = math.sqrt(v.values.map(x => x * x).sum)
      v.map { case (k, x) => k -> x / norm }
    }
    var hub = ids.map(_ -> 1.0).toMap
    var auth = ids.map(_ -> 0.0).toMap
    for (_ <- 0 until iters) {
      auth = unit(ids.map(v => v -> srcSinkEdges.collect {
        case (u, `v`) => hub(u) }.sum).toMap)
      hub = unit(ids.map(u => u -> srcSinkEdges.collect {
        case (`u`, v) => auth(v) }.sum).toMap)
    }
    val rows = Components.hits(srcSinkEdges.toDF("src", "dst"), "src",
      "dst", iterations = iters).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows.keySet == ids.toSet)
    rows.foreach { case (id, (h, a)) =>
      assert(math.abs(h - hub(id)) < 1e-12, s"hub($id) $h vs ${hub(id)}")
      assert(math.abs(a - auth(id)) < 1e-12, s"auth($id) $a vs ${auth(id)}")
    }
    assert(rows(5L)._1 == 0.0, "a sink has no hub score")
    assert(rows(1L)._2 == 0.0, "a source has no authority")
    assert(math.abs(rows.values.map(v => v._1 * v._1).sum - 1.0) < 1e-12)
    assert(math.abs(rows.values.map(v => v._2 * v._2).sum - 1.0) < 1e-12)
  }

  test("pageRank: a node with no in-edges ranks exactly (1-d)/n") {
    import spark.implicits._
    val d = 0.85
    val ids = srcSinkEdges.flatMap(e => Seq(e._1, e._2)).distinct
    val n = ids.size.toDouble
    val outDeg = srcSinkEdges.groupBy(_._1).map { case (k, v) => k -> v.size }
    // driver power iteration of the same simplified model (sink mass
    // leaks, not redistributed)
    var rank = ids.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until 6)
      rank = ids.map(v => v -> ((1.0 - d) / n + d * srcSinkEdges.collect {
        case (u, `v`) => rank(u) / outDeg(u) }.sum)).toMap
    val pr = Components.pageRank(srcSinkEdges.toDF("src", "dst"), "src",
      "dst", iterations = 6, damping = d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(1L) == (1.0 - d) / n)
    assert(pr.keySet == ids.toSet)
    pr.foreach { case (id, r) =>
      assert(math.abs(r - rank(id)) < 1e-12, s"rank($id) $r vs ${rank(id)}")
    }
  }

  test("olsFit2 recovers exact coefficients from noiseless linear data") {
    import spark.implicits._
    val rows = for (i <- 1 to 40) yield {
      val x1 = (i % 7).toDouble
      val x2 = (i % 5).toDouble / 4.0
      ("g", 2.5 + 1.25 * x1 - 3.0 * x2, x1, x2)
    }
    val fit = Regression.olsFit2(rows.toDF("g", "y", "x1", "x2"),
      "g", "y", "x1", "x2").head
    assert(fit.getLong(1) == 40L)
    assert(math.abs(fit.getDouble(2) - 2.5) < 1e-4, s"b0=${fit.getDouble(2)}")
    assert(math.abs(fit.getDouble(3) - 1.25) < 1e-4)
    assert(math.abs(fit.getDouble(4) + 3.0) < 1e-4)
    assert(math.abs(fit.getDouble(5) - 1.0) < 1e-6) // perfect fit → R²=1
    // singular design (constant x2) must yield NULLs, not a crash
    val sing = (1 to 10).map(i => ("g", i.toDouble, i.toDouble, 1.0))
      .toDF("g", "y", "x1", "x2")
    val fs = Regression.olsFit2(sing, "g", "y", "x1", "x2").head
    assert(fs.isNullAt(2) && fs.isNullAt(3) && fs.isNullAt(4))
  }

  test("logregFit2 satisfies the score equations at the fitted point") {
    import spark.implicits._
    // non-separable labeled points: the MLE exists, and Newton from 0
    // must drive the gradient Σ(y−μ̂)·xj to ~0 — the defining property
    // of a converged logistic fit, checkable without knowing the truth
    val pts = Seq(
      (-2.0, 0.0), (-1.5, 0.0), (-1.0, 1.0), (-0.5, 0.0), (0.0, 1.0),
      (0.5, 0.0), (1.0, 1.0), (1.5, 1.0), (2.0, 1.0), (2.5, 0.0))
    val df = pts.zipWithIndex.map { case ((x1, y), i) =>
      ("g", y, x1, ((i % 3) - 1).toDouble / 2.0) }
      .toDF("g", "y", "x1", "x2")
    val f = Regression.logregFit2(df, "g", "y", "x1", "x2", iterations = 8)
      .head
    val (b0, b1, b2) = (f.getDouble(2), f.getDouble(3), f.getDouble(4))
    val grads = pts.zipWithIndex.map { case ((x1, y), i) =>
      val x2 = ((i % 3) - 1).toDouble / 2.0
      val mu = 1.0 / (1.0 + math.exp(-(b0 + b1 * x1 + b2 * x2)))
      (y - mu, (y - mu) * x1, (y - mu) * x2)
    }
    assert(math.abs(grads.map(_._1).sum) < 1e-6)
    assert(math.abs(grads.map(_._2).sum) < 1e-6)
    assert(math.abs(grads.map(_._3).sum) < 1e-6)
    assert(b1 > 0.0) // labels trend up in x1
  }

  test("SqlLex: quoted separators, escapes and bodies never split a piece") {
    import graft.sql.SqlLex
    // text that holds every separator the splitters look for
    val inner = Gen.listOf(Gen.oneOf("a", "b", " ", ",", ";", "(", ")"))
      .map(_.mkString)
    val word = Gen.nonEmptyListOf(Gen.alphaChar).map(_.take(6).mkString)
    val literal = Gen.listOf(Gen.oneOf(inner, Gen.const("''"),
      Gen.const("\""))).map(_.mkString("'", "", "'"))
    val ident = Gen.listOf(Gen.oneOf(inner, Gen.const("\"\""),
      Gen.const("'"))).map(_.mkString("\"", "", "\""))
    val dollar = Gen.listOf(Gen.oneOf(inner, Gen.const("'"),
      Gen.const("\""))).map(_.mkString("$$", "", "$$"))
    val comment = Gen.zip(inner, word).map { case (c, w) => s"-- $c\n$w" }
    val atom = Gen.oneOf(word, literal, ident, dollar, comment)
    val group = Gen.nonEmptyListOf(atom).map(_.take(3).mkString("(", ", ", ")"))
    val frag = Gen.zip(word, Gen.listOf(Gen.oneOf(atom, group)))
      .map { case (w, rest) => (w +: rest.take(4)).mkString(" ") }
    for (frags <- samples(Gen.nonEmptyListOf(frag).map(_.take(5)), 200)) {
      val commas = frags.mkString(",")
      assert(SqlLex.split(commas, ',') == frags, commas)
      assert(SqlLex.split(frags.mkString(";"), ';') == frags)
      assert(SqlLex.mapCode(commas)(identity) == commas)
      assert(SqlLex.mask(commas).length == commas.length)
    }
  }
}
