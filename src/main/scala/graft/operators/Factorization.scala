package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Q

/** Low-rank matrix factorization — the MADlib `lmf` module (Hellerstein
  * et al. 2012 ships `lmf_igd_run` for collaborative-filtering
  * factorization; reference bundles MADlib). MADlib's incremental
  * gradient descent is row-ORDER-dependent (non-reproducible across
  * segment counts); this restates the same objective
  * min Σ (r_ui − u·v)² + λ(‖u‖² + ‖v‖²) as deterministic batch ALS
  * (Koren, Bell & Volinsky 2009, "Matrix Factorization Techniques for
  * Recommender Systems") — alternating ridge solves with closed-form
  * 2×2 updates, the same determinism upgrade the SVM/logreg kernels
  * make over MADlib IGD.
  *
  * One ALS half-round = ONE equi-join (ratings ⨝ other-side factors on
  * the other-side id) + ONE keyed aggregate of 5 moment sums + a
  * map-only closed-form solve; the factor relations are entity-scale
  * (users / items), never driver state. λ > 0 makes every normal
  * matrix positive definite (det ≥ λ(s11+s22+λ) by Cauchy–Schwarz), so
  * no singular guard is needed.
  *
  * Cross-engine determinism: moment sums use the [[Q.dsum]] split-sum
  * discipline; factors QUANTIZE to micros after every solve
  * (floor(x·1e6+0.5)/1e6 — two correctly-rounded IEEE ops), so both
  * engines carry bit-identical factor state into the next round and
  * the output needs only presentation rounding.
  */
object Factorization {

  /** Micros quantizer — identical in Spark and DuckDB. */
  def q6(c: Column): Column = floor(c * lit(1000000d) + lit(0.5)) / lit(1000000d)

  /** Deterministic symmetry-breaking init for item factors:
    * v1 = 1, v2 = (i mod 97)/97 − 0.5 — exact int arithmetic then two
    * correctly-rounded fp ops. */
  def initItems(ratings: DataFrame, iCol: String): DataFrame =
    ratings.select(col(iCol).as("i")).distinct()
      .select(col("i"), lit(1.0).as("v1"),
        (col("i") % 97).cast("double") / lit(97.0) - lit(0.5) as "v2")

  /** The ratings relations each ALS half-round streams, regime-adaptive
    * (r10, r9-verdict item 2). Broadcast regime (ratings under the
    * session broadcast threshold — the local-bench shape): ONE cached
    * base, both returned names alias it — the measured-fastest local
    * plan. SMJ regime (the 100 TB shape): two persisted copies
    * hash-partitioned by `i` and by `u`, so each half-round joins the
    * copy CO-PARTITIONED on its join key and the DATA-scale relation
    * never crosses the network again — only entity-scale factors
    * shuffle per half-round (guide §2.4 "remove shuffles outright",
    * §3 joins). Cost: 2× ratings cache memory, priced in SCALING.md.
    * Returns (iKeyedCopy, uKeyedCopy, broadcastRegime). */
  private[graft] def prepSides(ratings: DataFrame, rank: Int)
      : (DataFrame, DataFrame, Boolean) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = ratings.persist(lvl)
    KernelCaches.register(base)
    // one pass: materializes the cache AND yields the rowcount the
    // broadcast bound needs (the same pass the first half-round would
    // have spent building the cache)
    val n = base.count()
    val bc = broadcastRegime(ratings.sparkSession, n, rank)
    if (bc) (base, base, true)
    else {
      // SMJ regime (factors past the broadcast threshold — the 100 TB
      // shape): pre-partition the ratings by each half-round's JOIN key
      // so the DATA-scale side never shuffles again; only entity-scale
      // factors move per half-round (r9-verdict item 2; guide §2.4/§3).
      // Cost: 2× ratings cache (priced in SCALING.md). Both copies are
      // built FROM the base cache, so the ratings dataflow ran once.
      val byI = base.repartition(col("i")).persist(lvl)
      KernelCaches.register(byI)
      val byU = base.repartition(col("u")).persist(lvl)
      KernelCaches.register(byU)
      // materialize now: an UNmaterialized adaptive cached plan reports
      // unknown partitioning, so round 1's join would re-shuffle the
      // data side — the one shuffle these copies exist to remove
      byI.count(); byU.count()
      (byI, byU, false)
    }
  }

  /** Is this the broadcast-join regime? Bound the RATINGS cache size by
    * its rowcount (~8 bytes per column) against the session's own
    * broadcast threshold — when the ratings fit, the planner broadcasts
    * the cached ratings into every half-round join (measured: the
    * checkpointed factor side carries no statistics, so the planner
    * picks the side it can size) and the pre-partitioned copies would
    * only ADD two data-scale setup exchanges for per-round exchanges
    * that are already small. Past the threshold — the 100 TB shape —
    * nothing broadcasts, the join becomes sort-merge/shuffled-hash, and
    * the co-partitioned copies are what keep the DATA side of every
    * half-round shuffle-free. Deterministic per dataset, like AQE. */
  private def broadcastRegime(
      spark: org.apache.spark.sql.SparkSession, nRatings: Long,
      rank: Int): Boolean = {
    val conf = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // "-1" (broadcast disabled) is legal conf text but not a byte string
    val thresh =
      if (conf.trim.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    thresh > 0 && nRatings * 8L * (rank + 2) <= thresh
  }

  /** Ridge-solve one side given the other: for each `keyCol` entity,
    * A = Σ v vᵀ + λI, b = Σ r·v, factor = A⁻¹b in closed 2×2 form.
    * `other` must expose (joinCol, f1, f2). */
  private def solveSide(ratings: DataFrame, keyCol: String,
      joinCol: String, rCol: String, other: DataFrame,
      f1: String, f2: String, lambda: Double): DataFrame = {
    val j = ratings.join(other, joinCol)
    val agg = j.groupBy(col(keyCol)).agg(
      Q.dsum(col(f1) * col(f1), 6).as("s11"),
      Q.dsum(col(f1) * col(f2), 6).as("s12"),
      Q.dsum(col(f2) * col(f2), 6).as("s22"),
      Q.dsum(col(rCol) * col(f1), 6).as("b1"),
      Q.dsum(col(rCol) * col(f2), 6).as("b2"))
    val (s11, s12, s22) = (col("s11") + lit(lambda), col("s12"),
      col("s22") + lit(lambda))
    val det = s11 * s22 - col("s12") * col("s12")
    agg.select(col(keyCol),
      q6((col("b1") * s22 - col("b2") * s12) / det).as("f1"),
      q6((col("b2") * s11 - col("b1") * s12) / det).as("f2"))
  }

  /** `iterations` full ALS rounds (users given items, then items given
    * users) at rank 2. `ratings` must have columns (u, i, r). Returns
    * (userFactors(u, u1, u2), itemFactors(i, v1, v2)), quantized. */
  def als2(ratings: DataFrame, lambda: Double, iterations: Int)
      : (DataFrame, DataFrame) = {
    val (byI, byU, _) = prepSides(ratings, 2)
    // broadcast regime: byI = byU = the base cache — the exact r9 plan
    // (measured fastest locally); SMJ regime (scale): stream the
    // JOIN-key copy — the data side is co-partitioned, only
    // entity-scale factors shuffle per half-round
    var items = initItems(byI, "i")
    var users: DataFrame = null
    for (_ <- 0 until iterations) {
      users = solveSide(byI, "u", "i", "r",
        items.select(col("i"), col("v1"), col("v2")), "v1", "v2", lambda)
        .select(col("u"), col("f1").as("u1"), col("f2").as("u2"))
        .localCheckpoint(true)
      items = solveSide(byU, "i", "u", "r",
        users.select(col("u"), col("u1"), col("u2")), "u1", "u2", lambda)
        .select(col("i"), col("f1").as("v1"), col("f2").as("v2"))
        .localCheckpoint(true)
    }
    (users, items)
  }

  /** Per-user squared reconstruction error against the final factors —
    * one join + one [[Q.dsum]] aggregate. */
  def sseByUser(ratings: DataFrame, users: DataFrame, items: DataFrame)
      : DataFrame = {
    val res = col("r") - (col("u1") * col("v1") + col("u2") * col("v2"))
    ratings.join(users, "u").join(items, "i")
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n_i"), Q.dsum(res * res, 6).as("sse"))
  }

  /** ALS at ANY rank — lifts [[als2]]'s rank-2 closed-form ceiling
    * (MADlib `lmf_igd_run` takes an arbitrary rank). Same alternating
    * ridge objective; the per-entity r×r solve is the shared
    * [[Regression.gjBatches]] Gauss-Jordan evaluated over the ONE
    * aggregated moment row per entity — the identical expression text
    * a DuckDB oracle evaluates, so factors stay bit-identical across
    * engines at any rank (each solve quantizes to micros via [[q6]]).
    *
    * Scale: per half-round ONE equi-join (ratings ⨝ other side) + ONE
    * keyed aggregate of r(r+1)/2 + r moment sums (map-combinable
    * [[Q.dsum]]); the solve is O(r³) scalar algebra per entity ROW —
    * no driver math, no collect, factor relations stay entity-scale.
    * λ > 0 keeps every normal matrix PD, so the fixed-pivot solve
    * never needs row swaps. Lineage cut per half-round.
    *
    * Init: v_0 = 1, v_f = ((i·f) mod 97)/97 − 0.5 for f ≥ 1 —
    * exact int arithmetic then two correctly-rounded fp ops (the
    * [[initItems]] recipe at any rank, phase f breaking symmetry
    * across factors; at rank 2 this IS als2's init). Returns
    * (users(u, u0…u_{r-1}), items(i, v0…v_{r-1})), quantized. */
  def alsK(ratings: DataFrame, rank: Int, lambda: Double,
      iterations: Int): (DataFrame, DataFrame) = {
    require(rank >= 1, "alsK needs rank >= 1")
    val (byI, byU, _) = prepSides(ratings, rank)
    val (batches, _) = Regression.gjBatches(rank)
    def solveSide(keyCol: String, joinCol: String,
        other: DataFrame, fNames: Seq[String]): DataFrame = {
      // SMJ regime (scale): the JOIN-key copy keeps the data side
      // co-partitioned; broadcast regime: both names are the base cache
      val rs = if (joinCol == "i") byI else byU
      val fs = fNames.map(col)
      val aggs =
        (for { i <- 0 until rank; j <- i until rank }
          yield Q.dsum(fs(i) * fs(j), 6).as(s"rm_${i}_$j")) ++
          (0 until rank).map(i => Q.dsum(col("r") * fs(i), 6).as(s"t_$i"))
      val agg = rs.join(other, joinCol)
        .groupBy(col(keyCol))
        .agg(aggs.head, aggs.tail: _*)
        // λ on the diagonal BEFORE the shared solve text sees m_i_j
        .select(col(keyCol) +:
          (for { i <- 0 until rank; j <- i until rank } yield {
            val m = col(s"rm_${i}_$j")
            (if (i == j) m + lit(lambda) else m).as(s"m_${i}_$j")
          }) ++: (0 until rank).map(i => col(s"t_$i")): _*)
      val solved = batches.foldLeft(agg) { (d, batch) =>
        d.select(col("*") +: batch.map { case (n, e) =>
          expr(e).as(n) }: _*)
      }
      solved.select(col(keyCol) +: (0 until rank).map(i =>
        q6(col(s"b${rank - 1}_$i")).as(s"f$i")): _*)
    }
    var items = byI.select(col("i")).distinct()
      .select(col("i") +: (0 until rank).map { f =>
        if (f == 0) lit(1.0).as("v0")
        else (((col("i") * f) % 97).cast("double")
          / lit(97.0) - lit(0.5)).as(s"v$f")
      }: _*)
    var users: DataFrame = null
    for (_ <- 0 until iterations) {
      users = solveSide("u", "i", items,
        (0 until rank).map(f => s"v$f"))
        .select(col("u") +: (0 until rank).map(f =>
          col(s"f$f").as(s"u$f")): _*)
        .localCheckpoint(true)
      items = solveSide("i", "u", users,
        (0 until rank).map(f => s"u$f"))
        .select(col("i") +: (0 until rank).map(f =>
          col(s"f$f").as(s"v$f")): _*)
        .localCheckpoint(true)
    }
    (users, items)
  }

  /** DuckDB oracle fragment for ONE [[alsK]] half-round solve: the
    * same moment aggregate + the same [[Regression.gjBatches]] CTE
    * chain (MATERIALIZED — each factor relation is referenced by the
    * next half-round AND the final select, and materialization stops
    * the re-inline blowup). `prev` is the other side's factor CTE
    * name exposing `fNames` over `inK`. Emits
    * `name AS MATERIALIZED (SELECT outK, f0 … f_{r-1} …)`. */
  def alsKSolveSql(name: String, outK: String, inK: String,
      prev: String, fNames: Seq[String], rank: Int,
      lambda: Double): String = {
    val (batches, _) = Regression.gjBatches(rank)
    val moments =
      (for { i <- 0 until rank; j <- i until rank } yield {
        val s = Q.oSum(s"${fNames(i)} * ${fNames(j)}", 6)
        if (i == j) s"$s + CAST($lambda AS DOUBLE) AS m_${i}_$j"
        else s"$s AS m_${i}_$j"
      }) ++ (0 until rank).map(i =>
        s"${Q.oSum(s"r * ${fNames(i)}", 6)} AS t_$i")
    val inner = batches.foldLeft(
      s"SELECT rt.$outK,\n      ${moments.mkString(",\n      ")}\n" +
        s"    FROM rt JOIN $prev USING ($inK) GROUP BY 1") { (q, batch) =>
      s"SELECT *,\n      ${batch.map { case (n, e) => s"$e AS $n" }
        .mkString(",\n      ")}\n    FROM ($q)"
    }
    val q6s = (0 until rank).map(i =>
      s"floor(b${rank - 1}_$i * 1000000 + 0.5) / 1000000 AS f$i")
    s"""$name AS MATERIALIZED (SELECT $outK,
       |    ${q6s.mkString(",\n    ")}
       |  FROM ($inner))""".stripMargin
  }
}
