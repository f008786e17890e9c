package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines — exact,
  * MinHash+LSH, SimHash, n-gram Jaccard (extension beyond the reference).
  *
  * Scale design: every variant is a pure dataflow — per-row signature
  * expressions (codegen'd, computed in one scan), then a shuffle keyed on
  * the signature/band/token. No driver-side state, no O(n²) comparisons:
  * candidate generation is always an equi-join (hash shuffle ≡ GP's
  * redistribute Motion), so the plan scales with data × bands, not data².
  */
object Dedup {

  /** Hand a kernel's cached intermediates to the pipeline-scope owner
    * ([[KernelCaches]]) and return the result lazily. The caches stay
    * alive through the caller's consuming action (both self-join sides
    * read them once) and are released by the driver's
    * `KernelCaches.releaseAll()` afterwards — no eager extra
    * materialization of the (possibly huge) pair-set result, no storage
    * accretion across repeated sweeps. */
  private def finishKernel(result: DataFrame, caches: DataFrame*): DataFrame = {
    KernelCaches.register(caches: _*)
    result
  }

  // ---- exact -------------------------------------------------------

  /** Exact duplicates on a dedup key (e.g. TextAnalysis.fingerprint or
    * bowFingerprint): hash-groupBy. Returns (fp, n, canonical_id, ids)
    * per duplicate group. */
  def exactGroups(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.select(key.as("fp"), col(idCol))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"),
        min(idCol).as("canonical_id"),
        array_sort(collect_list(idCol)).as("ids"))
      .filter(col("n") > 1)

  /** Keep one row per key (lowest id wins) — the dedup sink. */
  def exactDedup(df: DataFrame, key: Column, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---- MinHash + LSH ----------------------------------------------

  /** Candidate near-duplicate pairs via MinHash LSH, with the estimated
    * Jaccard (fraction of matching signature components).
    *
    * Plan shape: scan → explode/agg signatures → explode bands (×bands
    * rows) → shuffle on band key (the only shuffle) → self-join within
    * buckets → distinct pairs. At 100 TB the band-key shuffle partitions
    * evenly (md5 keys), and bucket skew is bounded because identical docs
    * share all bands but still join within one partition.
    *
    * `maxBucketSize` is the scale guard (opt-in; None = exact): a
    * pathological band key (boilerplate-heavy shard) makes the
    * within-bucket join quadratic, so buckets above the cap are DROPPED
    * from candidate generation, with the drop count logged. Capping
    * trades recall on mega-clusters for a hard per-bucket work bound —
    * at 100 TB run with a cap sized so cap² × buckets fits the shuffle
    * budget; leave None when exact parity with the LSH spec is required.
    */
  def minhashCandidates(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, minEstJaccard: Double = 0.5,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val rowsPerBand = k / bands
    // MinHash depends only on the token SET, so docs with identical sets
    // (word-order shuffles — the common near-dup) collapse to one
    // representative before any signature or band work. Identical-set
    // pairs are emitted directly with est = 1.0 (their signatures are
    // equal by construction); distinct sets go through LSH and the
    // resulting set-pairs expand back to doc pairs.
    // group key = 60-bit prefix of the bow fingerprint as LONG (same
    // grouping w.h.p., 8-byte join/compare keys on the huge pair set)
    val withFp = df.select(col(idCol).as("id"),
      conv(substring(TextAnalysis.bowFingerprint(col(textCol)), 1, 15),
        16, 10).cast("long").as("fp"),
      TextAnalysis.tokenSet(col(textCol)).as("ts"))
    val groups = withFp.groupBy("fp")
      .agg(array_sort(collect_list(col("id"))).as("ids"),
        first(col("ts")).as("ts"))
      .cache()
    // signatures per distinct token set. Components are the md5's first
    // 15 hex chars as a 60-bit LONG: min/equality agree with the full
    // md5 string (lexicographic = numeric on fixed-width lowercase hex;
    // disagreement needs a 60-bit prefix collision, ~2^-60) while the
    // per-pair match loop and the shuffles move 8-byte longs instead of
    // 32-char strings
    val sigs = groups.select(col("fp"), explode(col("ts")).as("tok"))
      .select(col("fp"), col("tok"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
      .groupBy("fp", "i")
      .agg(min(conv(substring(
          md5(concat(col("i"), lit(":"), col("tok")).cast("binary")), 1, 15),
        16, 10).cast("long")).as("mh"))
      .groupBy("fp")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("mh")))),
        s => s.getField("mh")).as("sig"))
      .cache()
    // long band keys (xxhash64 over the band's slice) — band membership is
    // equality-only, so any injective-w.h.p. hash of the slice works
    val bandKeyArr = array((0 until bands).map { bnd =>
      xxhash64((lit(bnd) +: (1 to rowsPerBand).map(r =>
        element_at(col("sig"), bnd * rowsPerBand + r))): _*)
    }: _*)
    // the banded relation stays small (distinct sets × bands) — carry the
    // signature AND the full band-key array through the explode so the
    // band join emits pairs WITH both signatures inline: the (huge) pair
    // set never has to shuffle-join back to the signature table
    val banded0 = sigs
      .select(col("fp"), col("sig"), bandKeyArr.as("bks"))
      .select(col("fp"), col("sig"), col("bks"),
        posexplode(col("bks")).as(Seq("band", "band_key")))
    val banded = maxBucketSize match {
      case None => banded0
      case Some(cap) =>
        val sized = banded0.join(
          banded0.groupBy("band", "band_key")
            .agg(count(lit(1)).as("__bsz")),
          Seq("band", "band_key"))
        val dropped = sized.filter(col("__bsz") > cap)
          .select(countDistinct(col("band"), col("band_key"))).first().getLong(0)
        if (dropped > 0)
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"minhashCandidates: dropped $dropped band buckets over cap=$cap")
        sized.filter(col("__bsz") <= cap).drop("__bsz")
    }
    val a = banded.select(col("fp").as("fp_a"), col("sig").as("sig_a"),
      col("bks").as("bks_a"), col("band"), col("band_key"))
    val b = banded.select(col("fp").as("fp_b"), col("sig").as("sig_b"),
      col("bks").as("bks_b"), col("band"), col("band_key"))
    // emit each pair from its FIRST matching band only (all earlier band
    // keys must differ) — replaces a distinct() shuffle of the whole
    // candidate set with codegen'd per-row comparisons
    val firstMatch = (0 until bands - 1).map { bp =>
      col("band") <= bp ||
        element_at(col("bks_a"), bp + 1) =!= element_at(col("bks_b"), bp + 1)
    }.reduce(_ && _)
    // native fixed-k match count (one plan node, primitive loop — the
    // unrolled when-chain and higher-order spellings both lose: the
    // former to per-element null-checked codegen and plan-tree size,
    // the latter to interpreted per-pair evaluation)
    val matches =
      graft.expressions.ArrEqCountExpr.arrEqCount(col("sig_a"), col("sig_b"))
    val crossSetPairs = a.join(b, Seq("band", "band_key"))
      .filter(col("fp_a") < col("fp_b"))
      .filter(firstMatch)
      .select(col("fp_a"), col("fp_b"),
        (matches.cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .join(groups.select(col("fp").as("fp_a"), col("ids").as("ids_a")), "fp_a")
      .join(groups.select(col("fp").as("fp_b"), col("ids").as("ids_b")), "fp_b")
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("est_jaccard"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("est_jaccard"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("est_jaccard"))
    val withinSetPairs = groups.filter(size(col("ids")) > 1)
      .select(posexplode(col("ids")).as(Seq("pa", "id_a")), col("ids"))
      .select(col("pa"), col("id_a"), posexplode(col("ids")).as(Seq("pb", "id_b")))
      .filter(col("pa") < col("pb"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("est_jaccard"))
    finishKernel(
      crossSetPairs.unionByName(withinSetPairs)
        .filter(col("est_jaccard") >= minEstJaccard),
      groups, sigs)
  }

  // ---- asymmetric containment (quote / boilerplate supersets) ------

  /** Exact containment pairs over w-word shingle sets:
    * C(A→B) = |S(A) ∩ S(B)| / |S(A)| ≥ minContain — the ASYMMETRIC
    * near-dup relation (a short doc quoted inside a long one scores
    * 1.0 forward and low backward, which symmetric Jaccard misses).
    * The standard quote / boilerplate-superset detector.
    *
    * Scale design (prefix filtering, adapted to containment — PPJoin's
    * symmetric length pruning is UNSOUND here, a tiny doc can be fully
    * contained in a huge one): shingles map to rare-first long ids;
    * doc A explodes only its prefix of |A| − ⌊t·|A|⌋ + 1 rarest ids
    * (pigeonhole: any B with C(A→B) ≥ t must share a prefix id), doc B
    * indexes ALL ids; candidates are that asymmetric equi-join,
    * deduped as long pairs, then verified exactly with one
    * array_intersect over the full id arrays. `maxDf` drops
    * boilerplate shingles from candidate GENERATION only (verification
    * stays exact; logged recall trade, the [[minhashCandidates]]
    * contract). */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      minContain: Double, shingleWords: Int = 3,
      maxDf: Option[Long] = None): DataFrame = {
    // shingles via the exploded token stream + window leads (the
    // q_text_ngrams discipline): posexplode → w−1 leads over the per-doc
    // window → concat. Stays in whole-stage codegen, unlike a
    // transform()-lambda spelling whose interpreted per-element slices
    // dominated this kernel's runtime (~6 s of a 15 s run at sf0.1, paid
    // three times through the uncached lineage).
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("id").orderBy("pos")
    val tokRows = df.select(col(idCol).cast("long").as("id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "w")))
    val withLeads = (1 until shingleWords).foldLeft(tokRows)((d, j) =>
      d.withColumn(s"__w$j", lead(col("w"), j).over(win)))
    // (id, shingle) DISTINCT rows — per-doc set semantics; docs shorter
    // than w words contribute nothing (no full shingle exists)
    val inv = withLeads
      .filter(col(s"__w${shingleWords - 1}").isNotNull)
      .select(col("id"), concat_ws(" ",
        (col("w") +: (1 until shingleWords).map(j => col(s"__w$j"))): _*)
        .as("tok"))
      .distinct()
    val dfreq = inv.groupBy("tok").agg(count(lit(1)).as("dfq"))
    // rare-first long ids (orderBy → monotonically_increasing_id is
    // order-preserving across the sorted range partitions); ids
    // ascending in df means the capped (boilerplate) shingles form a
    // SUFFIX — the cap becomes one driver-scalar tid threshold
    val dict = dfreq.orderBy("dfq", "tok")
      .select(col("tok"), col("dfq"),
        monotonically_increasing_id().as("tid"))
      .cache()
    val capTid: Option[Long] = maxDf.flatMap { cap =>
      val r = dict.filter(col("dfq") > cap)
        .agg(min(col("tid")), count(lit(1))).head
      if (r.isNullAt(0)) None
      else {
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"containmentPairs: ${r.getLong(1)} shingles over df " +
            s"cap $cap excluded from candidate generation")
        Some(r.getLong(0))
      }
    }
    // FULL sorted long-id array per doc: candidate keys AND the exact
    // verification both run on 8-byte longs (a string-array
    // array_intersect at verify time dominated the kernel runtime)
    val tids = inv.join(dict.select("tok", "tid"), "tok")
      .groupBy("id").agg(sort_array(collect_list(col("tid"))).as("tids"))
      .withColumn("n", size(col("tids")))
      .cache() // read 3×: prefix side, index side, verification
    // prefix bound: floor (not ceil) only lengthens the prefix — a
    // 1-ulp-low product can add candidates, never drop one
    val prefLen = greatest(lit(1),
      (col("n") - floor(lit(minContain) * col("n")) + 1).cast("int"))
    def capped(c: org.apache.spark.sql.DataFrame) = capTid match {
      case Some(t) => c.filter(col("tid") < t)
      case None => c
    }
    val aPref = capped(tids.select(col("id").as("id_a"),
      explode(slice(col("tids"), lit(1), prefLen)).as("tid")))
    val bAll = capped(tids.select(col("id").as("id_b"),
      explode(col("tids")).as("tid")))
    val pairs = aPref.join(bAll, "tid")
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    // exact verification over the FULL (uncapped) id arrays
    val verified = pairs
      .join(tids.select(col("id").as("id_a"), col("tids").as("t_a"),
        col("n").as("na")), "id_a")
      .join(tids.select(col("id").as("id_b"), col("tids").as("t_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("t_a"), col("t_b"))).as("inter"),
        col("na"))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .filter(col("containment") >= minContain)
    finishKernel(verified, dict, tids)
  }

  // ---- incremental (cross-corpus) MinHash dedup --------------------

  /** Reusable MinHash LSH index over a corpus: one row per (distinct
    * token set) × band, carrying the 60-bit-long signature and the band
    * key. The production shape for CONTINUOUS ingest: build (or load)
    * the index of the kept corpus once, then screen every incoming
    * batch against it with [[dedupIncremental]] — the index is
    * distinct-sets × bands rows (≪ corpus text) and is exactly what
    * you'd persist to parquet between batches instead of re-signing
    * 100 TB per crawl. Same signature/banding spelling as
    * [[minhashCandidates]], so estimates agree across the two kernels. */
  def minhashIndex(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4): DataFrame = {
    val rowsPerBand = k / bands
    val withFp = df.select(
      conv(substring(TextAnalysis.bowFingerprint(col(textCol)), 1, 15),
        16, 10).cast("long").as("fp"),
      TextAnalysis.tokenSet(col(textCol)).as("ts"))
    val sets = withFp.groupBy("fp").agg(first(col("ts")).as("ts"))
    val sigs = sets.select(col("fp"), explode(col("ts")).as("tok"))
      .select(col("fp"), col("tok"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
      .groupBy("fp", "i")
      .agg(min(conv(substring(
          md5(concat(col("i"), lit(":"), col("tok")).cast("binary")), 1, 15),
        16, 10).cast("long")).as("mh"))
      .groupBy("fp")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("mh")))),
        s => s.getField("mh")).as("sig"))
    val bandKeyArr = array((0 until bands).map { bnd =>
      xxhash64((lit(bnd) +: (1 to rowsPerBand).map(r =>
        element_at(col("sig"), bnd * rowsPerBand + r))): _*)
    }: _*)
    sigs.select(col("fp"), col("sig"),
      posexplode(bandKeyArr).as(Seq("band", "band_key")))
  }

  /** Incremental dedup: admit only the `newDocs` that are NOT a
    * near-duplicate (estimated Jaccard ≥ `minEstJaccard`) of anything
    * in `refIndex` (a [[minhashIndex]] of the kept corpus). Returns the
    * admitted rows of `newDocs` unchanged.
    *
    * Scale design: candidate generation is ONE equi-join of the new
    * batch's banded sets against the reference index on (band,
    * band_key) — never doc×doc; the admit decision is a left-anti join
    * on the set fingerprint (duplicate-matched fps need no distinct
    * pass — anti join tolerates them). Identical cross-corpus sets need
    * no separate exact path: equal sets have equal signatures, hence
    * equal band keys and estimate 1.0. Documents with an EMPTY token
    * set produce no signature rows and are always admitted (no content
    * to match). `maxBucketSize` drops over-cap reference buckets
    * (boilerplate shards) from matching with the drop logged — the
    * [[minhashCandidates]] contract: bounded bucket work, logged recall
    * trade. */
  def dedupIncremental(
      newDocs: DataFrame, refIndex: DataFrame, textCol: String,
      idCol: String, k: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val ref = maxBucketSize match {
      case None => refIndex
      case Some(cap) =>
        val sized = refIndex.join(
          refIndex.groupBy("band", "band_key")
            .agg(count(lit(1)).as("__bsz")),
          Seq("band", "band_key"))
        val dropped = sized.filter(col("__bsz") > cap)
          .select(countDistinct(col("band"), col("band_key")))
          .first().getLong(0)
        if (dropped > 0)
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"dedupIncremental: dropped $dropped ref band buckets " +
              s"over cap=$cap")
        sized.filter(col("__bsz") <= cap).drop("__bsz")
    }
    val withFp = newDocs.select(col(idCol).as("id"),
      conv(substring(TextAnalysis.bowFingerprint(col(textCol)), 1, 15),
        16, 10).cast("long").as("fp"))
    val newBanded = minhashIndex(newDocs, textCol, idCol, k, bands)
    val matchedFp = newBanded
      .select(col("fp"), col("sig").as("sig_n"), col("band"), col("band_key"))
      .join(ref.select(col("sig").as("sig_r"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(graft.expressions.ArrEqCountExpr
        .arrEqCount(col("sig_n"), col("sig_r"))
        .cast("double") / k >= minEstJaccard)
      .select(col("fp"))
    val admitted = withFp.join(matchedFp, Seq("fp"), "left_anti")
      .select(col("id").as("__adm_id"))
    newDocs.join(admitted, col(idCol) === col("__adm_id"), "left_semi")
  }

  // ---- SimHash -----------------------------------------------------

  /** 32-bit SimHash over distinct tokens: token hash = first 8 md5 hex
    * chars as int; simhash bit j set iff more token hashes have bit j set
    * than not. Pure expression (32-way bit fold). */
  def simhash32(text: Column): Column = {
    val toks = TextAnalysis.tokenSet(text)
    val hashes = transform(toks,
      t => conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long"))
    (0 until 32).map { j =>
      val votes = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1)
          .otherwise(-1))
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a + b)
  }

  /** SimHash signatures via explode → codegen'd bit votes: same values as
    * [[simhash32]] without the interpreted nested-aggregate path. */
  def simhashSignatures(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hashed = df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokenSet(col(textCol))).as("tok"))
      .select(col("id"),
        conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("long").as("h"))
    val votes = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$j")
    }
    hashed.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 32).map { j =>
          when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce((a, b) => a + b).as("simhash"))
  }

  /** Hamming distance between two simhash values (popcount of xor). */
  def hamming32(a: Column, b: Column): Column =
    (0 until 32).map { j =>
      when(shiftright(a.bitwiseXOR(b), j).bitwiseAND(1) === 1, 1).otherwise(0)
    }.reduce((x, y) => x + y)

  /** All pairs (id_a < id_b) of signatures within `maxDist` Hamming
    * distance — EXACT, via multi-index banding: the signature is split
    * into maxDist+1 disjoint bit bands; any pair with ≤ maxDist differing
    * bits leaves at least one band untouched (pigeonhole), so an equi-join
    * on (band, band bits) generates a complete candidate set, verified by
    * popcount. One shuffle on the band key; no driver state — the 100 TB
    * formulation (GP analogue: redistribute Motion on a computed key).
    * Bucket fan-out is 2^(bits/bands) per band — use wider signatures
    * (e.g. 64-bit) at larger corpus sizes to keep buckets sparse. */
  def hammingPairsBanded(
      sigs: DataFrame, idCol: String, sigCol: String,
      maxDist: Int, bits: Int = 32): DataFrame = {
    val bands = maxDist + 1
    val base = bits / bands
    val extra = bits % bands
    val widths = (0 until bands).map(b => base + (if (b < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // the signature expression (e.g. SimHash over full text) is the
    // expensive per-row work — cache it so the self-join's two sides
    // don't recompute it (at 100 TB: persist the signature table)
    val s = sigs.select(
      col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .cache()
    val bandKeys = array((0 until bands).map { b =>
      shiftrightunsigned(col("sig"), offsets(b))
        .bitwiseAND((1L << widths(b)) - 1)
    }: _*)
    val banded = s
      .select(col("id"), col("sig"), posexplode(bandKeys).as(Seq("band", "bkey")))
    val a = banded.select(
      col("id").as("id_a"), col("sig").as("sig_a"), col("band"), col("bkey"))
    val b = banded.select(
      col("id").as("id_b"), col("sig").as("sig_b"), col("band"), col("bkey"))
    def bandBits(sig: Column, bp: Int): Column =
      shiftrightunsigned(sig, offsets(bp)).bitwiseAND((1L << widths(bp)) - 1)
    // emit each pair from its FIRST matching band only (all earlier bands
    // must differ) — replaces a distinct() shuffle of the whole candidate
    // set with a few codegen'd shift/mask comparisons per joined row
    val firstMatch = (0 until bands - 1).map { bp =>
      col("band") <= bp ||
        bandBits(col("sig_a"), bp) =!= bandBits(col("sig_b"), bp)
    }.reduce(_ && _)
    // shuffled hash join: ~2^(bits/bands) distinct keys per band keep the
    // per-partition hash maps shallow, and SHJ avoids SMJ's sort + per-key
    // group buffering (measured 3.7× on this join); neither side fits a
    // broadcast at scale
    finishKernel(
      a.join(b.hint("SHUFFLE_HASH"), Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .filter(firstMatch)
        .select(col("id_a"), col("id_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int")
            .as("hamming"))
        .filter(col("hamming") <= maxDist),
      s)
  }

  // ---- n-gram Jaccard (prefix-filtered inverted-index join) --------

  /** Exact all-pairs token-set Jaccard ≥ threshold — the scale
    * formulation (AllPairs/PPJoin prefix filtering, Bayardo et al. WWW'07):
    *
    *  1. identical token sets collapse to one representative (word-order
    *     shuffles — the dominant near-dup class — never reach the join);
    *  2. each distinct set indexes only its PREFIX under a global
    *     rare-token-first order: p = n − floor(t·n) + 1 tokens. Two sets
    *     with J ≥ t provably share a prefix token, so the inverted-index
    *     join over prefixes alone is a complete candidate generator —
    *     and hot (stop-word-like) tokens sit at the END of sets, mostly
    *     outside prefixes, bounding per-token bucket blowup;
    *  3. candidates verify with one codegen'd array_intersect.
    *
    * Exact same result set as a naive full inverted-index join; shuffles
    * on token and pair keys only, zero driver state.
    *
    * `maxDf` (opt-in, general path) is the 100 TB stop-word guard: tokens
    * appearing in more than `maxDf` distinct sets are excluded from
    * CANDIDATE GENERATION — their inverted-index buckets are the O(hot²)
    * blowup — while verification still scores the FULL token sets, so
    * every emitted jaccard is exact. The trade is recall-only and
    * one-sided: a pair whose shared prefix tokens are all hotter than
    * `maxDf` is never considered (standard stop-word pruning in
    * set-similarity search). Because the dictionary is rare-first, the
    * cutoff is one scalar count and a codegen'd `tid < cutoff` filter;
    * the emit-once minimum-shared-token rule needs no change (a shared
    * token below the cutoff implies the minimum shared token is too). */
  def jaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double, maxDf: Option[Long] = None): DataFrame = {
    val withFp = df.select(col(idCol).cast("long").as("id"),
      conv(substring(TextAnalysis.bowFingerprint(col(textCol)), 1, 15),
        16, 10).cast("long").as("fp"),
      TextAnalysis.tokenSet(col(textCol)).as("ts"))
    val groups = withFp.groupBy("fp")
      .agg(array_sort(collect_list(col("id"))).as("ids"),
        first(col("ts")).as("ts"))
      .cache()
    // global rare-first order: (set frequency, token) — any total order
    // works for correctness; rare-first minimizes candidate volume.
    // Tokens are replaced by LONG ids that preserve that order (orderBy →
    // monotonically_increasing_id is order-preserving across the sorted
    // range partitions, no single-partition window): the prefix join keys
    // and the verify-time array_intersect then run on fixed-width longs
    // instead of strings.
    val inv = groups.select(col("fp"), explode(col("ts")).as("tok"))
    val dictBase = inv.groupBy("tok").agg(count(lit(1)).as("dfq")).cache()
    val kernelCaches =
      scala.collection.mutable.ArrayBuffer[DataFrame](groups, dictBase)
    // floor (not ceil) of t·n guards against fp error in the prefix bound:
    // a 1-ulp-low product only lengthens the prefix (more candidates,
    // never a miss)
    def plen(n: Column): Column = greatest(lit(1),
      (n - floor(lit(minJaccard) * n) + 1).cast("int"))
    // pair-level length pruning (safe BEFORE the emit-once filter: na/nb
    // are constant across a pair's joined rows, so it drops all of a
    // pair's rows or none): J ≥ t ⇒ |A∩B| ≤ min ⇒ min(n) ≥ t·max(n)
    val lengthOk = least(col("na"), col("nb")).cast("double") >=
      lit(minJaccard) * greatest(col("na"), col("nb"))
    // vocabulary size decides the verify representation. This one count
    // is catalog-scale metadata (the dict aggregate is needed anyway and
    // is cached); it does NOT collect the dictionary itself.
    val vocab = dictBase.count()
    val crossSet0 = if (vocab <= 64) {
      // ---- dense/small-vocabulary fast path --------------------------
      // Every token set is one LONG bitmask (bit = rare-first rank), so
      // the 10⁷-scale joined-row hot loop runs pure integer ops:
      // |A∩B| = bit_count(mask&mask), and the emit-once filter compares
      // the join token's bit against the lowest shared prefix bit —
      // no array slices, no array_intersect, no array_min.
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("dfq"), col("tok")) // ≤64 rows: 1-partition window ok
      val dict = dictBase
        .withColumn("tid", row_number().over(w).cast("long") - 1)
        .select(col("tok"), col("tid"))
      val ordered = inv.join(dict, "tok")
        .groupBy("fp")
        .agg(array_sort(collect_list(col("tid"))).as("toks"))
        .withColumn("n", size(col("toks")))
        .select(col("fp"), col("n"),
          aggregate(col("toks"), lit(0L),
            (acc, t) => acc.bitwiseOR(
              call_function("shiftleft", lit(1L), t.cast("int"))))
            .as("mask"),
          aggregate(slice(col("toks"), lit(1), plen(col("n"))), lit(0L),
            (acc, t) => acc.bitwiseOR(
              call_function("shiftleft", lit(1L), t.cast("int"))))
            .as("pmask"), // interpreted HOF, but over sets × ≤64 only
          explode(slice(col("toks"), lit(1), plen(col("n")))).as("tok"))
        .cache() // both self-join sides; released in finishKernel
      kernelCaches += ordered
      val pa = ordered.select(col("fp").as("fp_a"), col("mask").as("m_a"),
        col("pmask").as("pm_a"), col("n").as("na"), col("tok"))
      val pb = ordered.select(col("fp").as("fp_b"), col("mask").as("m_b"),
        col("pmask").as("pm_b"), col("n").as("nb"), col("tok"))
      val sharedPrefix = col("pm_a").bitwiseAND(col("pm_b"))
      val lowestSharedBit = sharedPrefix.bitwiseAND(-sharedPrefix)
      val emitOnce =
        call_function("shiftleft", lit(1L), col("tok").cast("int")) ===
          lowestSharedBit
      val inter = bit_count(col("m_a").bitwiseAND(col("m_b")))
      // grid salt: with ≤64 distinct join keys the per-token buckets are
      // few and fat — a plain hash join runs the whole n² hot loop on
      // ≤64 tasks no matter how many cores exist. Split each bucket into
      // a GRID×GRID task grid (a replicated to its row, b to every
      // column): joined-row volume is unchanged, task count × GRID²,
      // so the integer hot loop actually spreads across the cluster.
      val GRID = 8
      val gridIdx = explode(array((0 until GRID).map(lit): _*))
      val paS = pa.withColumn("ga", pmod(hash(col("fp_a")), lit(GRID)))
        .withColumn("gb", gridIdx)
      val pbS = pb.withColumn("gb", pmod(hash(col("fp_b")), lit(GRID)))
        .withColumn("ga", gridIdx)
      paS.join(pbS.hint("SHUFFLE_HASH"), Seq("tok", "ga", "gb"))
        .filter(col("fp_a") < col("fp_b") && lengthOk)
        .filter(emitOnce)
        .select(col("fp_a"), col("fp_b"),
          (inter.cast("double") /
            (col("na") + col("nb") - inter)).as("jaccard"))
    } else {
      // ---- general path (web-scale vocabulary) -----------------------
      // Tokens are replaced by LONG ids preserving the rare-first order
      // (orderBy → monotonically_increasing_id is order-preserving across
      // the sorted range partitions, no single-partition window): join
      // keys and verify-time array_intersect run on fixed-width longs.
      val dict0 = dictBase
        .orderBy(col("dfq"), col("tok"))
        .withColumn("tid", monotonically_increasing_id())
        .select(col("tok"), col("tid"), col("dfq"))
      // with a df cutoff the dict is read twice (tid assignment + the
      // threshold scalar) — cache so both reads see ONE id assignment
      val dict = if (maxDf.isDefined) {
        val d = dict0.cache(); kernelCaches += d; d
      } else dict0
      val ordered = inv.join(dict.select(col("tok"), col("tid")), "tok")
        .groupBy("fp")
        .agg(array_sort(collect_list(col("tid"))).as("toks"))
        .withColumn("n", size(col("toks")))
        .cache() // consumed by both self-join sides; released in finishKernel
      kernelCaches += ordered
      // the prefix relation is small (distinct sets × prefix tokens) —
      // carry the full token array through the explode so the prefix join
      // emits candidates WITH both sets inline: no distinct() shuffle and
      // no re-join of the (huge) candidate set back to the sets table
      // df cutoff: rare-first ordering puts every "df ≤ maxDf" token
      // below every hotter one, so pruning is one catalog-scale scalar
      // (the max allowed tid) plus a codegen'd filter on the exploded
      // prefix tokens. None → lossless PPJoin.
      val cutoff = maxDf.map { m =>
        val r = dict.filter(col("dfq") <= m).agg(max(col("tid"))).head
        if (r.isNullAt(0)) 0L else r.getLong(0) + 1L
      }
      val prefix0 = ordered.select(col("fp"), col("toks"), col("n"),
        explode(slice(col("toks"), lit(1), plen(col("n")))).as("tok"))
      val prefix = cutoff.fold(prefix0)(c => prefix0.filter(col("tok") < c))
      val pa = prefix.select(col("fp").as("fp_a"), col("toks").as("ts_a"),
        col("n").as("na"), col("tok"))
      val pb = prefix.select(col("fp").as("fp_b"), col("toks").as("ts_b"),
        col("n").as("nb"), col("tok"))
      // a pair joins once per shared prefix token; keep only the row whose
      // join token is the MINIMUM shared prefix token (tids are totally
      // ordered longs) — codegen'd emit-once filter instead of distinct()
      val emitOnce = col("tok") === array_min(array_intersect(
        slice(col("ts_a"), lit(1), plen(col("na"))),
        slice(col("ts_b"), lit(1), plen(col("nb")))))
      pa.join(pb.hint("SHUFFLE_HASH"), Seq("tok"))
        .filter(col("fp_a") < col("fp_b") && lengthOk)
        .filter(emitOnce)
        .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))))
        .select(col("fp_a"), col("fp_b"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter"))).as("jaccard"))
    }
    val crossSet = crossSet0
      .filter(col("jaccard") >= minJaccard)
      .join(groups.select(col("fp").as("fp_a"), col("ids").as("ids_a")), "fp_a")
      .join(groups.select(col("fp").as("fp_b"), col("ids").as("ids_b")), "fp_b")
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("jaccard"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    val withinSet = groups.filter(size(col("ids")) > 1)
      .select(posexplode(col("ids")).as(Seq("pa", "id_a")), col("ids"))
      .select(col("pa"), col("id_a"),
        posexplode(col("ids")).as(Seq("pb", "id_b")))
      .filter(col("pa") < col("pb"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    finishKernel(
      crossSet.unionByName(withinSet).filter(col("jaccard") >= minJaccard),
      kernelCaches.toSeq: _*)
  }

  // ---- duplicated-span removal (C4-style) ---------------------------

  /** Remove duplicated spans of `spanWords` consecutive words across the
    * corpus, keeping only the globally-first occurrence (lowest
    * (doc_id, span index)) — the C4 "deduplicate repeated spans" rule
    * re-expressed over fixed word windows, since the synthetic corpus has
    * no sentence boundaries. Returns one row per doc:
    * (doc_id, clean_text, kept_spans, dropped_spans).
    *
    * Scale design: one explode pass (doc → spans, built inside the
    * projection so the word array is never shuffled per span), then a
    * groupBy(span) computing the global owner as min(struct(doc, idx)).
    * The owner aggregate has map-side partial aggregation, so a
    * boilerplate span duplicated millions of times ("click here to…")
    * collapses to one row per map partition BEFORE the shuffle — the
    * reason this is an agg+join and not the single-shuffle window
    * row_number() formulation, which would gather every instance of a
    * hot span into one partition. The join back on span is an equi-join
    * against the (distinct-span) owner side; AQE handles residual skew.
    * Reassembly is one groupBy(doc) with an ordered in-row sort. Total
    * shuffle volume is O(corpus text), never O(pairs). */
  def dedupSpans(
      docs: DataFrame, textCol: String, idCol: String,
      spanWords: Int = 10): DataFrame = {
    // materialize the word array BEFORE the span lambda: expression
    // references inside transform() re-evaluate per element (no CSE
    // through lambdas), so an inline split() would re-tokenize the
    // document once per span (the containmentPairs lesson)
    val worded = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("__words"))
    val nSpans = ceil(size(col("__words")) / lit(spanWords.toDouble))
      .cast("int")
    val spanArr = transform(sequence(lit(0), nSpans - 1),
      i => concat_ws(" ",
        slice(col("__words"), i * spanWords + 1, lit(spanWords))))
    // posexplode_outer + left join: a NULL-text document survives with
    // empty clean_text and zero span counts instead of silently vanishing
    // from the output (its single null-span row never matches the
    // equi-join, so `kept` stays null and both counters stay 0).
    val spans = worded.select(col("doc_id"),
      posexplode_outer(spanArr).as(Seq("idx", "span")))
    val owner = spans.filter(col("span").isNotNull).groupBy(col("span"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    spans.join(owner, Seq("span"), "left")
      .withColumn("kept", struct(col("doc_id"), col("idx")) === col("first"))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(
          when(col("kept"), struct(col("idx"), col("span"))))).as("ks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_spans"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("dropped_spans"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("ks"), s => s("span"))).as("clean_text"),
        col("kept_spans"), col("dropped_spans"))
  }

  /** pg_trgm `word_similarity(query, text)` restated with WORD
    * extents (contrib/pg_trgm trgm_op.c calc_word_similarity): PG
    * maximizes trigram similarity over contiguous extents of the
    * target's trigram stream; here extents are the target's WORDS —
    * the dominant use (`query <% text`: "some word of text looks like
    * the query") — a documented narrowing like the ts_rank frequency
    * restatement. sim(word) = |Q ∩ W| / |Q ∪ W| over padded-trigram
    * SETS (exact ints → identical ratio doubles → deterministic max).
    * Map-only per word + one doc-keyed max — no join at all. */
  def wordSimilarity(
      df: DataFrame, idCol: String, strCol: String,
      query: String): DataFrame = {
    val qtg = {
      val pw = "  " + query.toLowerCase + " "
      (0 until pw.length - 2).map(i => pw.substring(i, i + 3)).distinct
    }
    val words = df.select(col(idCol).as("id"),
      explode(split(lower(col(strCol)), "[^a-z0-9]+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("id"), concat(lit("  "), col("w"), lit(" ")).as("pw"))
    val wts = array_distinct(transform(
      sequence(lit(1), length(col("pw")) - 2),
      i => col("pw").substr(i, lit(3))))
    val inter = size(array_intersect(wts, typedLit(qtg)))
    val uni = size(wts) + lit(qtg.size) - inter
    words.select(col("id"),
      (inter.cast("double") / uni.cast("double")).as("ws"))
      .groupBy("id").agg(max(col("ws")).as("wsim"))
  }

  /** Trigram similarity join — the distributed form of pg_trgm's `%`
    * join (contrib/pg_trgm/trgm_op.c similarity + trgm_gin.c: PG
    * answers `a % b` joins through the GIN trigram posting lists; this
    * IS that posting-list join as a dataflow). Normalization is
    * pg_trgm-exact: lowercase, split on non-alphanumeric, each word
    * padded '  w ', distinct trigrams; sim = |∩|/|∪|.
    *
    * Scale: candidates come from the trigram posting equi-join with a
    * `maxDf` stop-trigram cap (dropped trigrams logged — PG's GIN
    * common-entry problem, same remedy), so work is bounded by
    * Σ df² over kept trigrams, never |L|×|R|. Verification is EXACT
    * regardless of the cap: candidate pairs join back to the per-id
    * sorted trigram arrays and intersect in-row, so a capped trigram
    * still counts toward the similarity it only failed to GENERATE
    * from. Returns (id_a, id_b, sim ≥ threshold). */
  def trigramSimPairs(
      df: DataFrame, idCol: String, strCol: String,
      threshold: Double, maxDf: Int = 100000): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(split(lower(col(strCol)), "[^a-z0-9]+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("id"), concat(lit("  "), col("w"), lit(" ")).as("pw"))
    val tg = words.select(col("id"),
      explode(transform(sequence(lit(1), length(col("pw")) - 2),
        i => col("pw").substr(i, lit(3)))).as("tg"))
      .distinct()
    val dfq = tg.groupBy("tg").agg(count(lit(1)).as("df"))
    val kept = tg.join(dfq.filter(col("df") <= maxDf).select("tg"), "tg")
    val cand = kept.as("a")
      .join(kept.as("b"),
        col("a.tg") === col("b.tg") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val arrs = tg.groupBy("id")
      .agg(sort_array(collect_list(col("tg"))).as("tgs"),
        count(lit(1)).as("n"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    cand
      .join(arrs.select(col("id").as("id_a"), col("tgs").as("ta"),
        col("n").as("na")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("tgs").as("tb"),
        col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") / (col("na") + col("nb") - inter)).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Source-scoped boilerplate removal — the CCNet / RefinedWeb
    * header-footer-navbar rule (Wenzek et al. 2019; Penedo et al. 2023,
    * public methods), distinct from [[dedupSpans]]: a span repeated
    * across `minDocs`+ DISTINCT documents of the SAME source is
    * boilerplate and is removed from EVERY document (no first-occurrence
    * survivor — a site's cookie banner is noise in all its pages, not
    * content in one of them). Cross-source repeats are untouched; that
    * is [[dedupSpans]]'s job. Returns one row per doc:
    * (doc_id, clean_text, kept_spans, boiler_spans).
    *
    * Scale shape mirrors [[dedupSpans]]: spans built inside the
    * projection (word array materialized once — the lambda-CSE lesson),
    * one exploded pass, then a (source, span) doc-frequency aggregate.
    * The distinct-by-doc pre-aggregation collapses a span repeated on
    * every page of a huge site map-side BEFORE the shuffle; the verdict
    * join back is an equi-join on (source, span), so the whole operator
    * is O(corpus text) shuffle — per-source work never concentrates
    * beyond that source's own spans, and AQE splits a mega-site's
    * residual skew. */
  def boilerplateStrip(
      docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, spanWords: Int = 5, minDocs: Int = 2): DataFrame = {
    val worded = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("__src"),
      split(col(textCol), " ").as("__words"))
    val nSpans = ceil(size(col("__words")) / lit(spanWords.toDouble))
      .cast("int")
    val spanArr = transform(sequence(lit(0), nSpans - 1),
      i => concat_ws(" ",
        slice(col("__words"), i * spanWords + 1, lit(spanWords))))
    // posexplode_outer: NULL-text docs survive with empty clean_text
    // (their null-span row misses the equi-join, keep stays true-less
    // but the counters coalesce to 0)
    val spans = worded.select(col("doc_id"), col("__src"),
      posexplode_outer(spanArr).as(Seq("idx", "span")))
    val dfreq = spans.filter(col("span").isNotNull)
      .select(col("__src"), col("span"), col("doc_id")).distinct()
      .groupBy(col("__src"), col("span"))
      .agg(count(lit(1)).as("dfq"))
    spans.join(dfreq, Seq("__src", "span"), "left")
      .withColumn("keep", col("dfq") < minDocs)
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(
          when(col("keep"), struct(col("idx"), col("span"))))).as("ks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_spans"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("boiler_spans"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("ks"), s => s("span"))).as("clean_text"),
        coalesce(col("kept_spans"), lit(0L)).as("kept_spans"),
        coalesce(col("boiler_spans"), lit(0L)).as("boiler_spans"))
  }

  /** Bloom-prefiltered exact dedup against a reference corpus — the
    * ingest-time screen: keep every probe row whose `keyCol` does NOT
    * appear in `ref`. The result is EXACT (identical to a plain
    * left-anti join); the Bloom filter only cuts the work. Probe rows
    * whose key misses the filter are provably fresh (Bloom has no
    * false negatives) and flow through MAP-ONLY — only the ~fpp
    * fraction of suspects pays the anti-join shuffle.
    *
    * Spark-native build: the filter is Catalyst's own runtime-filter
    * machinery (BloomFilterAggregate / BloomFilterMightContain — what
    * InjectRuntimeFilter plants under joins), driven explicitly: one
    * aggregate over `ref` with map-side partial blooms OR-merged
    * (insertion-order independent → deterministic bits → reproducible
    * keep set), delivered to the probe scan as an uncorrelated scalar
    * subquery and reused across both branches (ReuseSubquery).
    *
    * At 100 TB: a daily crawl screened against a year's corpus reads
    * the reference once to build bits sized `optimalNumOfBits(n, fpp)`
    * (~1.1 GB at 1e9 keys / 1 % fpp — broadcastable), and the crawl
    * never shuffles except for the suspect sliver. The plain anti-join
    * alternative shuffles BOTH corpora in full. */
  def bloomScreenExact(
      ref: DataFrame, probe: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal, ScalarSubquery, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    // fresh unresolved tree per use; resolves against each side's plan
    def xxh = XxHash64(Seq(GraftColumnBridge.expression(col(keyCol))), 42L)
    val bloomDf = ref.select(GraftColumnBridge.column(
      new BloomFilterAggregate(xxh,
        Literal(expectedItems), Literal(numBits))
        .toAggregateExpression()).as("bf"))
    val might = GraftColumnBridge.column(BloomFilterMightContain(
      ScalarSubquery(bloomDf.queryExecution.analyzed),
      xxh))
    val flagged = probe.withColumn("__mc", might)
    val clean = flagged.filter(!col("__mc")).drop("__mc")
    val suspects = flagged.filter(col("__mc")).drop("__mc")
      .join(ref.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    clean.unionByName(suspects.select(clean.columns.map(col): _*))
  }

  /** Cross-document EXACT substring dedup (ExactSubstr — Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * every maximal token span of ≥ `minTokens` words shared VERBATIM
    * between two documents, as (doc_a, doc_b, start_a, start_b,
    * span_len). The paper builds a corpus suffix array; the
    * distributed re-expression is rolling L-gram matching + island
    * merge, which finds the identical maximal spans for spans ≥ L:
    *   1. every position's L-token gram (window leads — codegen, the
    *      [[containmentPairs]] discipline), L = minTokens;
    *   2. grams join doc×doc on a 64-bit hash with EXACT gram-string
    *      verification (hash collisions die before the merge; a.id <
    *      b.id so pairs emit once); `maxDf` drops boilerplate grams
    *      whose occurrence count exceeds the cap from candidate
    *      generation (logged — the standard recall trade);
    *   3. consecutive matches on one pair-diagonal (pa − pb constant,
    *      pa consecutive) ARE one maximal span: gaps-and-islands
    *      (pa − row_number) merges them, span_len = L + islandSize − 1.
    *
    * Scale: the only corpus-scale shuffle carries (hash, doc, pos)
    * gram rows; the island window partitions by (pair, diagonal) —
    * match-scale, never corpus-scale. Tokenization is a bare
    * single-space split, case-sensitive, positions 1-based — exact
    * substring means EXACT. */
  def sharedSpans(
      df: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 8, maxDf: Long = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("id").orderBy("pos")
    val toks = df.select(col(idCol).cast("long").as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos0", "w")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("w"))
    val grams = (1 until minTokens).foldLeft(toks)((d, j) =>
      d.withColumn(s"__w$j", lead(col("w"), j).over(win)))
      .filter(col(s"__w${minTokens - 1}").isNotNull)
      .select(col("id"), col("pos"), concat_ws(" ",
        (col("w") +: (1 until minTokens).map(j => col(s"__w$j"))): _*)
        .as("g"))
      .withColumn("h", xxhash64(col("g")))
    // boilerplate cap on occurrence count (candidate generation only)
    val keep = grams.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxDf).select("h")
    val g = grams.join(keep, "h")
    val a = g.select(col("h"), col("g").as("ga"), col("id").as("da"),
      col("pos").as("pa"))
    val b = g.select(col("h"), col("g").as("gb"), col("id").as("db"),
      col("pos").as("pb"))
    val m = a.join(b, Seq("h")).filter(col("da") < col("db"))
      .filter(col("ga") === col("gb")) // exact verify kills collisions
      .select("da", "db", "pa", "pb")
    val diag = (col("pa") - col("pb")).as("diag")
    val iw = Window.partitionBy(col("da"), col("db"), col("diag"))
      .orderBy(col("pa"))
    m.select(col("da"), col("db"), col("pa"), col("pb"), diag)
      .withColumn("isl", col("pa") - row_number().over(iw))
      .groupBy("da", "db", "diag", "isl")
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (count(lit(1)) + lit(minTokens - 1)).as("span_len"))
      .select("da", "db", "start_a", "start_b", "span_len")
  }
}
