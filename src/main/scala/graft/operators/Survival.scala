package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival regression — the MADlib `coxph_train` module (Cox 1972
  * proportional hazards; reference ships MADlib's coxph for exactly
  * this time-to-event workload). */
object Survival {

  /** Cox PH over a covariate array (MADlib `coxph_train`), Breslow tie
    * handling, stratified risk sets, FIXED Newton iterations from
    * β = 0 — the deterministic batch restatement (MADlib's own default
    * is Newton on the full partial likelihood, so unlike IGD modules
    * this needs no algorithm substitution, only a fixed iteration
    * count).
    *
    * Per Newton round, everything is ONE aggregate + ONE window + ONE
    * reduce + O(p³) scalar solve algebra:
    *   1. per-(stratum, time) sums over the persisted projection:
    *      event count d, Σδx_i, and the risk moments Σe^{βx},
    *      Σx_i·e^{βx}, Σx_i·x_j·e^{βx} — each exp value quantizes to
    *      integer MICROS before summing, so the per-time relation is
    *      exact longs (order-free). Covariates must be integer-valued.
    *   2. risk-set sums S0/S1/S2 = per-stratum SUFFIX sums — a window
    *      PARTITIONED BY stratum, ORDER BY t DESC with a RANGE frame
    *      (peers at tied times included, the t' ≥ t definition), at
    *      time-cardinality scale. Long sums stay exact. For an
    *      unstratified fit at corpus scale the same suffix sums come
    *      from the `Ranks.cumBelow` range-partitioned prefix machinery
    *      instead of one window.
    *   3. score U_i = Σ_events (Σδx_i − d·S1_i/S0) and information
    *      I_ij = Σ_events d·(S2_ij/S0 − S1_i·S1_j/S0²), each event term
    *      micros-quantized pre-sum, named to feed the shared
    *      [[Regression.gjBatches]] Gauss-Jordan (`t_i` = U_i,
    *      `m_i_j` = I_ij); β_i ← q6(β_i + Δ_i). The β state is one
    *      driver-side row, projected into each round as literals.
    *
    * Cross-engine determinism: β is micros-quantized so both engines
    * call exp() on identical arguments; exp itself is the one
    * last-ulp-risk transcendental (the q_agg_logreg precedent) but its
    * output is immediately micros-quantized, so a divergence requires
    * exp(βx) to land within an ulp of a 0.5-micros boundary — ~1e-10
    * per distinct (β, x) input.
    *
    * Returns one row (beta0…beta{p-1}, n_events, n_total). */
  def coxFitK(
      df: DataFrame, stratumCol: String, timeCol: String,
      eventCol: Column, xCols: Seq[Column], iterations: Int = 3)
      : DataFrame = {
    val p = xCols.length
    require(p >= 1)
    val rows = df.select(col(stratumCol).as("g") +:
      col(timeCol).cast("double").as("t") +:
      eventCol.cast("long").as("ev") +:
      xCols.zipWithIndex.map { case (c, i) =>
        c.cast("double").as(s"x${i + 1}") }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    KernelCaches.register(rows)
    val bn = (0 until p).map(i => s"b_$i")
    // β state held on the driver between Newton rounds and projected
    // back as double literals (exact binary round-trip): a crossJoin
    // with a broadcast 1-row relation would cost a broadcast job per use
    var bRow: org.apache.spark.sql.Row =
      org.apache.spark.sql.Row.fromSeq(Seq.fill(p)(0.0))
    def b: Seq[Column] =
      bn.zipWithIndex.map { case (n, i) => lit(bRow.getDouble(i)).as(n) }
    val eTxt = s"CAST(floor(exp((${(0 until p)
      .map(i => s"b_$i * x${i + 1}").mkString(" + ")})) * 1000000" +
      " + 0.5) AS BIGINT)"
    def xl(i: Int) = s"CAST(x${i + 1} AS BIGINT)"
    val (gj, _) = Regression.gjBatches(p)
    for (_ <- 0 until iterations) {
      val perTAggs =
        expr("sum(ev)").as("d") +:
          ((0 until p).map(i =>
            expr(s"sum(ev * ${xl(i)})").as(s"sxd_$i")) ++
            Seq(expr(s"sum($eTxt)").as("se")) ++
            (0 until p).map(i =>
              expr(s"sum(${xl(i)} * $eTxt)").as(s"sxe_$i")) ++
            (for { i <- 0 until p; j <- i until p } yield
              expr(s"sum(${xl(i)} * ${xl(j)} * $eTxt)")
                .as(s"sxxe_${i}_$j")))
      val perT = rows.select(col("*") +: b: _*)
        .groupBy("g", "t").agg(perTAggs.head, perTAggs.tail: _*)
      val w = Window.partitionBy("g").orderBy(col("t").desc)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val s = perT.select(
        col("d") +: (0 until p).map(i => col(s"sxd_$i")) ++:
          (sum(col("se")).over(w).as("s0") +:
            (0 until p).map(i =>
              sum(col(s"sxe_$i")).over(w).as(s"s1_$i")) ++:
            (for { i <- 0 until p; j <- i until p } yield
              sum(col(s"sxxe_${i}_$j")).over(w).as(s"s2_${i}_$j"))): _*)
      def r1(i: Int) = s"(CAST(s1_$i AS DOUBLE) / CAST(s0 AS DOUBLE))"
      def evSum(term: String) =
        s"CAST(sum(CASE WHEN d > 0 THEN CAST(floor(($term) * 1000000" +
          s" + 0.5) AS BIGINT) ELSE CAST(0 AS BIGINT) END)" +
          " AS DOUBLE) / 1000000"
      val grAggs =
        (0 until p).map(i => expr(evSum(
          s"CAST(sxd_$i AS DOUBLE) - CAST(d AS DOUBLE) * ${r1(i)}"))
          .as(s"t_$i")) ++
          (for { i <- 0 until p; j <- i until p } yield
            expr(evSum(s"CAST(d AS DOUBLE) * (CAST(s2_${i}_$j" +
              s" AS DOUBLE) / CAST(s0 AS DOUBLE) - ${r1(i)} * ${r1(j)})"))
              .as(s"m_${i}_$j"))
      val gr = s.agg(grAggs.head, grAggs.tail: _*)
      val solved = gj.foldLeft(gr.select(col("*") +: b: _*)) { (d, batch) =>
        d.select(col("*") +: batch.map { case (n, e) =>
          expr(e).as(n) }: _*)
      }
      bRow = solved.select((0 until p).map(i =>
        expr(s"floor((b_$i + b${p - 1}_$i) * 1000000 + 0.5) / 1000000")
          .as(s"b_$i")): _*)
        .head()
    }
    val n = rows.agg(sum(col("ev")).as("ne"), count(lit(1)).as("nt"))
    n.select((0 until p).map(i => lit(bRow.getDouble(i)).as(s"beta$i")) ++
      Seq(col("ne").as("n_events"), col("nt").as("n_total")): _*)
  }

  /** DuckDB oracle for [[coxFitK]] — the q_ml_cox CTE unroll at any
    * covariate count, sharing every arithmetic string. `rowsSelect`
    * must yield columns (g, t, ev, x1…xp). */
  def coxKOracleSql(rowsSelect: String, p: Int, iterations: Int)
      : String = {
    def xl(i: Int) = s"CAST(x${i + 1} AS BIGINT)"
    val eTxt = s"CAST(floor(exp((${(0 until p)
      .map(i => s"b_$i * x${i + 1}").mkString(" + ")})) * 1000000" +
      " + 0.5) AS BIGINT)"
    def r1(i: Int) = s"(CAST(s1_$i AS DOUBLE) / CAST(s0 AS DOUBLE))"
    def evSum(term: String) =
      s"CAST(sum(CASE WHEN d > 0 THEN CAST(floor(($term) * 1000000" +
        s" + 0.5) AS BIGINT) ELSE CAST(0 AS BIGINT) END)" +
        " AS DOUBLE) / 1000000"
    val (gj, _) = Regression.gjBatches(p)
    val rounds = (1 to iterations).map { i =>
      val solveChain = gj.foldLeft(
        s"SELECT gr.*, ${(0 until p).map(q => s"b.b_$q")
          .mkString(", ")} FROM gr$i gr CROSS JOIN b${i - 1} b") {
        (q, batch) =>
          s"SELECT *, ${batch.map { case (n, e) => s"$e AS $n" }
            .mkString(", ")} FROM ($q)"
      }
      s"""p$i AS MATERIALIZED (SELECT g, t, sum(ev) AS d,
         |    ${(0 until p).map(q =>
        s"sum(ev * ${xl(q)}) AS sxd_$q").mkString(",\n    ")},
         |    sum($eTxt) AS se,
         |    ${(0 until p).map(q =>
        s"sum(${xl(q)} * $eTxt) AS sxe_$q").mkString(",\n    ")},
         |    ${(for { a <- 0 until p; c <- a until p } yield
        s"sum(${xl(a)} * ${xl(c)} * $eTxt) AS sxxe_${a}_$c")
        .mkString(",\n    ")}
         |  FROM rows CROSS JOIN b${i - 1} b GROUP BY g, t),
         |s$i AS (SELECT d,
         |    ${(0 until p).map(q => s"sxd_$q").mkString(", ")},
         |    sum(se) OVER wsuf AS s0,
         |    ${(0 until p).map(q =>
        s"sum(sxe_$q) OVER wsuf AS s1_$q").mkString(",\n    ")},
         |    ${(for { a <- 0 until p; c <- a until p } yield
        s"sum(sxxe_${a}_$c) OVER wsuf AS s2_${a}_$c")
        .mkString(",\n    ")}
         |  FROM p$i WINDOW wsuf AS (PARTITION BY g ORDER BY t DESC
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |gr$i AS (SELECT
         |    ${(0 until p).map(q => s"${evSum(
        s"CAST(sxd_$q AS DOUBLE) - CAST(d AS DOUBLE) * ${r1(q)}")
      } AS t_$q").mkString(",\n    ")},
         |    ${(for { a <- 0 until p; c <- a until p } yield
        s"${evSum(s"CAST(d AS DOUBLE) * (CAST(s2_${a}_$c AS DOUBLE)" +
          s" / CAST(s0 AS DOUBLE) - ${r1(a)} * ${r1(c)})")} AS m_${a}_$c")
        .mkString(",\n    ")}
         |  FROM s$i),
         |b$i AS MATERIALIZED (SELECT
         |    ${(0 until p).map(q =>
        s"floor((b_$q + b${p - 1}_$q) * 1000000 + 0.5) / 1000000" +
          s" AS b_$q").mkString(",\n    ")}
         |  FROM ($solveChain))""".stripMargin
    }.mkString(",\n")
    s"""WITH rows AS MATERIALIZED ($rowsSelect),
       |b0 AS (SELECT ${(0 until p)
      .map(i => s"CAST(0 AS DOUBLE) AS b_$i").mkString(", ")}),
       |$rounds
       |SELECT ${(0 until p).map(i => s"b.b_$i AS beta$i")
      .mkString(", ")},
       |  CAST(n.ne AS BIGINT) AS n_events,
       |  CAST(n.nt AS BIGINT) AS n_total
       |FROM b$iterations b CROSS JOIN
       |  (SELECT sum(ev) AS ne, count(*) AS nt FROM rows) n"""
      .stripMargin
  }
}
