package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY §2.4 aggregation: plain/hash agg, multi-stage partial/final
  * (automatic in Spark — the analogue of GP's 2-stage agg planning,
  * reference: src/backend/cdb/cdbgroup.c:116), DISTINCT aggregates,
  * grouping sets/rollup/cube (reference: optimizer/plan/plangroupext.c:97),
  * ordered-set aggs (utils/adt/orderedsetaggs.c), string_agg/array_agg
  * with ORDER BY (array_userfuncs.c).
  */
object AggregateQueries {

  // TPC-H Q1 aggregate block, shared by the DataFrame impl and oracle.
  private val q1OracleSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Q.oSum("l_quantity")} AS sum_qty,
       |  ${Q.oSum("l_extendedprice")} AS sum_base_price,
       |  ${Q.oSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${Q.oSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       |  ${Q.oAvg("l_quantity")} AS avg_qty,
       |  ${Q.oAvg("l_extendedprice")} AS avg_price,
       |  ${Q.oAvg("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val defs: Seq[Q] = Seq(

    // TPC-H Q1 — the flagship: scan → filter → partial agg → shuffle →
    // final agg → sort (GP: SeqScan → Agg → Motion → Agg, cdbgroup.c).
    Q("q1_agg", Some(q1OracleSql)) { (s, dir) =>
      import s.implicits._
      Tables.T(s, dir).lineitem
        .filter($"l_shipdate" <= "2001-09-02")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Q.dsum($"l_quantity").as("sum_qty"),
          Q.dsum($"l_extendedprice").as("sum_base_price"),
          Q.dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
          Q.dsum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax"))
            .as("sum_charge"),
          Q.davg($"l_quantity").as("avg_qty"),
          Q.davg($"l_extendedprice").as("avg_price"),
          Q.davg($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Global (no GROUP BY) agg — GP AGG_PLAIN strategy.
    Q("q_agg_global", Some(
      s"""SELECT count(*) AS n, ${Q.oSum("o_totalprice")} AS total,
         |  min(o_totalprice) AS lo, max(o_totalprice) AS hi,
         |  min(o_orderdate) AS first_d, max(o_orderdate) AS last_d
         |FROM orders""".stripMargin)) { (s, dir) =>
      import s.implicits._
      Tables.T(s, dir).orders.agg(
        count(lit(1)).as("n"),
        Q.dsum($"o_totalprice").as("total"),
        min($"o_totalprice").as("lo"),
        max($"o_totalprice").as("hi"),
        min($"o_orderdate").as("first_d"),
        max($"o_orderdate").as("last_d"))
    },

    // DISTINCT aggregates (DQA) — GP plans dedicated multi-stage DQA
    // co-plans (cdbgroup.c:150); Catalyst: RewriteDistinctAggregates.
    Q("q_agg_distinct", Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_partkey").as("n_parts"),
            countDistinct($"l_suppkey").as("n_supps"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
    },

    Q("q_agg_dqa_multi", Some(
      s"""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
         |  count(DISTINCT o_orderpriority) AS n_pri,
         |  ${Q.oSum("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).orders
          .groupBy($"o_orderstatus")
          .agg(countDistinct($"o_custkey").as("n_cust"),
            countDistinct($"o_orderpriority").as("n_pri"),
            Q.dsum($"o_totalprice").as("total"))
          .orderBy("o_orderstatus")
    },

    // GROUPING SETS → Catalyst Expand (GP: Agg/Repeat chain,
    // plangroupext.c:97, nodeRepeat.c:43). Same SQL runs on both engines.
    Q("q_agg_groupingsets", Some(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${Q.oSum("l_quantity")} AS qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        import graft.operators.MultiPhaseAgg
        // GP-style multi-phase: one finest-group agg, coarser sets
        // derived from the 6-row intermediate (vs Expand's 3× shuffle).
        MultiPhaseAgg.groupingSets(
          Tables.T(s, dir).lineitem,
          Seq("l_returnflag", "l_linestatus"),
          Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_returnflag"), Nil),
          Seq(MultiPhaseAgg.countAll("n"),
            MultiPhaseAgg.splitSum($"l_quantity", "qty")))
          .orderBy($"l_returnflag".asc_nulls_first,
            $"l_linestatus".asc_nulls_first)
    },

    // Aggregate FILTER clause (SQL:2003, PG/GP parse_agg.c aggfilter):
    // per-aggregate predicates in one pass — no self-joins, no CASE
    // boilerplate. Both Spark ≥3.0 and DuckDB accept the clause natively;
    // Catalyst folds it into the partial aggregate, so it stays a single
    // scan + one shuffle.
    Q("q_agg_filter", Some(
      s"""SELECT o_orderpriority, count(*) AS n_all,
         |  count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
         |  count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F')
         |    AS n_f_cust,
         |  ${Q.pSum("o_totalprice", 2, "o_orderstatus = 'O'")} AS sum_open
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n_all,
           |  count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           |  count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F')
           |    AS n_f_cust,
           |  ${Q.pSum("o_totalprice", 2, "o_orderstatus = 'O'")} AS sum_open
           |FROM orders GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin)
    },

    Q("q_agg_rollup", Some(
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  ${Q.oSum("o_totalprice")} AS total
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        import graft.operators.MultiPhaseAgg
        MultiPhaseAgg.rollup(
          Tables.T(s, dir).orders,
          Seq("o_orderstatus", "o_orderpriority"),
          Seq(MultiPhaseAgg.countAll("n"),
            MultiPhaseAgg.splitSum($"o_totalprice", "total")))
          .orderBy($"o_orderstatus".asc_nulls_first,
            $"o_orderpriority".asc_nulls_first)
    },

    Q("q_agg_cube", Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)) {
      (s, dir) =>
        import graft.operators.MultiPhaseAgg
        import s.implicits._
        MultiPhaseAgg.cube(
          Tables.T(s, dir).lineitem,
          Seq("l_returnflag", "l_linestatus"),
          Seq(MultiPhaseAgg.countAll("n")))
          .orderBy($"l_returnflag".asc_nulls_first,
            $"l_linestatus".asc_nulls_first)
    },

    // Statistical aggregates (pg_aggregate.h surface: stddev/var/corr/
    // covar/regr_*) — rounded: both engines use merge-based moments.
    Q("q_agg_stats", Some(
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_pop(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qe,
        |  round(covar_pop(l_quantity, l_discount), 4) AS cov_qd,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem
          .groupBy($"l_returnflag")
          .agg(
            round(stddev_samp($"l_quantity"), 4).as("sd_qty"),
            round(var_pop($"l_quantity"), 4).as("var_qty"),
            round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qe"),
            round(covar_pop($"l_quantity", $"l_discount"), 4).as("cov_qd"),
            round(regr_slope($"l_extendedprice", $"l_quantity"), 4).as("slope"),
            round(regr_intercept($"l_extendedprice", $"l_quantity"), 4).as("icept"))
          .orderBy("l_returnflag")
    },

    // Multivariate OLS (MADlib linregr_train parity): per-group
    // closed-form fit of price ~ b0 + b1*quantity + b2*discount from
    // the normal-equation moment sums — one aggregate pass, Cramer's
    // rule in column algebra, split-sum discipline so the moments (and
    // hence the coefficients) are shuffle-order exact on both engines.
    Q("q_agg_ols", Some {
      import graft.operators.Regression.Sql._
      val det = det3(c0, c1, c2)
      val (db0, db1, db2) = (det3(r, c1, c2), det3(c0, r, c2), det3(c0, c1, r))
      val (b0, b1, b2) = (s"($db0 / $det)", s"($db1 / $det)", s"($db2 / $det)")
      val sse = s"(syy - ($b0 * sy + $b1 * sx1y + $b2 * sx2y))"
      val sst = "(syy - sy * sy / n)"
      s"""WITH t AS (SELECT l_returnflag AS grp,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    ${Q.oSum("l_quantity", 6)} AS sx1,
         |    ${Q.oSum("l_discount", 6)} AS sx2,
         |    ${Q.oSum("l_extendedprice", 6)} AS sy,
         |    ${Q.oSum("l_quantity * l_quantity", 6)} AS sx11,
         |    ${Q.oSum("l_discount * l_discount", 6)} AS sx22,
         |    ${Q.oSum("l_quantity * l_discount", 6)} AS sx12,
         |    ${Q.oSum("l_quantity * l_extendedprice", 6)} AS sx1y,
         |    ${Q.oSum("l_discount * l_extendedprice", 6)} AS sx2y,
         |    ${Q.oSum("l_extendedprice * l_extendedprice", 6)} AS syy
         |  FROM lineitem GROUP BY 1)
         |SELECT grp, CAST(n AS BIGINT) AS n,
         |  round(CASE WHEN abs($det) > 1e-9 THEN $b0 END, 4) AS b0,
         |  round(CASE WHEN abs($det) > 1e-9 THEN $b1 END, 4) AS b1,
         |  round(CASE WHEN abs($det) > 1e-9 THEN $b2 END, 4) AS b2,
         |  round(CASE WHEN abs($det) > 1e-9 AND $sst > 0.0
         |    THEN 1.0 - $sse / $sst END, 6) AS r2
         |FROM t ORDER BY grp""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      graft.operators.Regression.olsFit2(Tables.T(s, dir).lineitem,
        "l_returnflag", "l_extendedprice", "l_quantity", "l_discount")
        .select($"grp", $"n", round($"b0", 4).as("b0"),
          round($"b1", 4).as("b1"), round($"b2", 4).as("b2"),
          round($"r2", 6).as("r2"))
        .orderBy("grp")
    },

    // Robust (White/HC0 sandwich) standard errors for OLS — MADlib
    // robust_variance_linregr: Var(β) = A⁻¹MA⁻¹ with meat
    // M = Σ xxᵀe². Pass 1 = the q_agg_ols moments → β (q6'd so both
    // engines compute identical residuals); pass 2 = ONE aggregate of
    // bread + six meat moments; the 3×3 inverse goes through the
    // symmetric adjugate, all pinned double algebra — unrounded
    // cross-engine.
    Q("q_ml_robust_se", Some {
      import graft.operators.Regression.Sql._
      def q6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
      val det1 = det3(c0, c1, c2)
      val (b0e, b1e, b2e) = (
        q6(s"${det3(r, c1, c2)} / $det1"),
        q6(s"${det3(c0, r, c2)} / $det1"),
        q6(s"${det3(c0, c1, r)} / $det1"))
      val det = "(n * (s11 * s22 - s12 * s12)" +
        " - s1 * (s1 * s22 - s12 * s2)" +
        " + s2 * (s1 * s12 - s11 * s2))"
      val c00 = "(s11 * s22 - s12 * s12)"
      val c01 = "((s1 * s22 - s12 * s2) * -1.0)"
      val c02 = "(s1 * s12 - s11 * s2)"
      val c11 = "(n * s22 - s2 * s2)"
      val c12 = "((n * s12 - s1 * s2) * -1.0)"
      val c22 = "(n * s11 - s1 * s1)"
      def quad(v0: String, v1: String, v2: String) =
        s"($v0 * $v0 * m0 + $v1 * $v1 * m11 + $v2 * $v2 * m22" +
          s" + ($v0 * $v1 * m01) * 2.0 + ($v0 * $v2 * m02) * 2.0" +
          s" + ($v1 * $v2 * m12) * 2.0)"
      s"""WITH src AS (SELECT
         |    CAST(l_extendedprice AS DOUBLE) / 1000.0 AS y,
         |    CAST(l_quantity AS DOUBLE) AS x1,
         |    CAST(l_discount AS DOUBLE) AS x2 FROM lineitem),
         |t AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    ${Q.oSum("x1", 6)} AS sx1, ${Q.oSum("x2", 6)} AS sx2,
         |    ${Q.oSum("y", 6)} AS sy,
         |    ${Q.oSum("x1 * x1", 6)} AS sx11,
         |    ${Q.oSum("x2 * x2", 6)} AS sx22,
         |    ${Q.oSum("x1 * x2", 6)} AS sx12,
         |    ${Q.oSum("x1 * y", 6)} AS sx1y,
         |    ${Q.oSum("x2 * y", 6)} AS sx2y,
         |    ${Q.oSum("y * y", 6)} AS syy
         |  FROM src),
         |b AS (SELECT $b0e AS b0, $b1e AS b1, $b2e AS b2 FROM t),
         |e AS (SELECT y - b.b0 - b.b1 * x1 - b.b2 * x2 AS e, x1, x2
         |  FROM src CROSS JOIN b),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    ${Q.oSum("x1", 6)} AS s1, ${Q.oSum("x2", 6)} AS s2,
         |    ${Q.oSum("x1 * x1", 6)} AS s11,
         |    ${Q.oSum("x2 * x2", 6)} AS s22,
         |    ${Q.oSum("x1 * x2", 6)} AS s12,
         |    ${Q.oSum("e * e", 6)} AS m0,
         |    ${Q.oSum("e * e * x1", 6)} AS m01,
         |    ${Q.oSum("e * e * x2", 6)} AS m02,
         |    ${Q.oSum("e * e * x1 * x1", 6)} AS m11,
         |    ${Q.oSum("e * e * x1 * x2", 6)} AS m12,
         |    ${Q.oSum("e * e * x2 * x2", 6)} AS m22
         |  FROM e)
         |SELECT CAST(m.n AS BIGINT) AS n, b.b0, b.b1, b.b2,
         |  sqrt(${quad(c00, c01, c02)}) / abs($det) AS se_b0,
         |  sqrt(${quad(c01, c11, c12)}) / abs($det) AS se_b1,
         |  sqrt(${quad(c02, c12, c22)}) / abs($det) AS se_b2
         |FROM m CROSS JOIN b""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val src = Tables.T(s, dir).lineitem.select(
        ($"l_extendedprice".cast("double") / lit(1000.0)).as("y"),
        $"l_quantity".cast("double").as("x1"),
        $"l_discount".cast("double").as("x2"))
      graft.operators.Regression.robustSe2(src, "y", "x1", "x2")
    },

    // HC0 robust SEs at ANY feature count (lifts robustSe2's 2-feature
    // adjugate ceiling): 4 features, bread via the augmented
    // Gauss-Jordan INVERSE (gjInvBatches) over the shared moment text,
    // meat in one second pass — identical expression chains both
    // engines, so the SEs compare unrounded like q_ml_robust_se.
    Q("q_ml_robust_se_k", Some {
      val src = """(SELECT
        |    CAST(l_extendedprice AS DOUBLE) / 1000.0 AS y,
        |    CAST(l_quantity AS DOUBLE) AS x1,
        |    CAST(l_discount AS DOUBLE) AS x2,
        |    CAST(l_tax AS DOUBLE) * 10.0 AS x3,
        |    CAST(l_linenumber AS DOUBLE) AS x4
        |  FROM lineitem) src""".stripMargin
      graft.operators.Regression.robustSeKOracleSql(
        src, "y", Seq("x1", "x2", "x3", "x4"))
    }) { (s, dir) =>
      import s.implicits._
      val src = Tables.T(s, dir).lineitem.select(
        ($"l_extendedprice".cast("double") / lit(1000.0)).as("y"),
        $"l_quantity".cast("double").as("x1"),
        $"l_discount".cast("double").as("x2"),
        ($"l_tax".cast("double") * lit(10.0)).as("x3"),
        $"l_linenumber".cast("double").as("x4"))
      graft.operators.Regression.robustSeK(src, "y",
        Seq("x1", "x2", "x3", "x4"))
    },

    // Arbitrary-feature OLS (MADlib linregr_train takes ANY feature
    // array — this lifts the 2-feature Cramer ceiling): 4 features +
    // intercept, ONE moment aggregate, and a generated Gauss-Jordan
    // whose expression TEXT is shared verbatim with the DuckDB oracle
    // so the 5×5 solve is bit-identical cross-engine.
    Q("q_ml_ols_k", Some(
      graft.operators.Regression.olsKOracleSql(
        "lineitem", "l_returnflag",
        "l_extendedprice / 1000.0e0",
        Seq("l_quantity", "l_discount", "l_tax", "l_linenumber")))) {
      (s, dir) =>
        import s.implicits._
        val src = Tables.T(s, dir).lineitem.withColumn(
          "y1000", $"l_extendedprice".cast("double") / lit(1000.0))
        graft.operators.Regression.olsFitK(src, "l_returnflag",
          "y1000",
          Seq("l_quantity", "l_discount", "l_tax", "l_linenumber"))
          .orderBy("grp")
    },

    // Arbitrary-feature logistic regression (MADlib logregr_train at
    // any feature count): IRLS with the SAME generated Gauss-Jordan
    // as q_ml_ols_k per Newton round — moments split-sum exact, exp
    // outputs micros-quantized, the solve text shared verbatim with
    // the oracle's unrolled CTE chain. 4 features + intercept.
    Q("q_ml_logreg_k", Some(
      graft.operators.Regression.logregKOracleSql(
        "lineitem", "l_returnflag",
        "CASE WHEN l_discount > 0.05 THEN 1.0e0 ELSE 0.0e0 END",
        Seq("l_quantity / 50.0e0", "l_tax * 10.0e0",
          "l_linenumber / 7.0e0", "l_extendedprice / 100000.0e0")))) {
      (s, dir) =>
        import s.implicits._
        val src = Tables.T(s, dir).lineitem.select(
          $"l_returnflag",
          when($"l_discount" > 0.05, 1.0).otherwise(0.0).as("y"),
          ($"l_quantity".cast("double") / lit(50.0)).as("f1"),
          ($"l_tax".cast("double") * lit(10.0)).as("f2"),
          ($"l_linenumber".cast("double") / lit(7.0)).as("f3"),
          ($"l_extendedprice".cast("double") / lit(100000.0)).as("f4"))
        graft.operators.Regression.logregFitK(src, "l_returnflag", "y",
          Seq("f1", "f2", "f3", "f4"))
          .orderBy("grp")
    },

    // Arbitrary-feature Poisson regression (MADlib glm family=poisson
    // at any feature count — lifts poissonFit2's 2-feature ceiling):
    // count response l_linenumber, 3 scaled features + intercept,
    // IRLS with μ-weighted moments and the same generated Gauss-Jordan
    // text as q_ml_ols_k shared verbatim with the oracle.
    Q("q_ml_poisson_k", Some(
      graft.operators.Regression.poissonKOracleSql(
        "lineitem", "l_returnflag", "l_linenumber",
        Seq("l_quantity / 50.0e0", "l_discount", "l_tax")))) {
      (s, dir) =>
        import s.implicits._
        val src = Tables.T(s, dir).lineitem.select(
          $"l_returnflag",
          $"l_linenumber".cast("double").as("y"),
          ($"l_quantity".cast("double") / lit(50.0)).as("f1"),
          $"l_discount".cast("double").as("f2"),
          $"l_tax".cast("double").as("f3"))
        graft.operators.Regression.poissonFitK(src, "l_returnflag", "y",
          Seq("f1", "f2", "f3"))
          .orderBy("grp")
    },

    // Ridge at 4 features (MADlib elastic_net α=0 over a feature
    // array; q_ml_ridge runs the same kernel at 2): the q_ml_ols_k moment
    // pass with λ=250 on the slope diagonal before the shared
    // Gauss-Jordan solve; intercept unpenalized.
    Q("q_ml_ridge_k", Some(
      graft.operators.Regression.ridgeKOracleSql(
        "lineitem", "l_returnflag",
        "l_extendedprice / 1000.0e0",
        Seq("l_quantity", "l_discount", "l_tax", "l_linenumber"),
        "250.0e0"))) { (s, dir) =>
      import s.implicits._
      val src = Tables.T(s, dir).lineitem.withColumn(
        "y1000", $"l_extendedprice".cast("double") / lit(1000.0))
      graft.operators.Regression.ridgeFitK(src, "l_returnflag",
        "y1000", Seq("l_quantity", "l_discount", "l_tax", "l_linenumber"),
        lambda = 250.0)
        .orderBy("grp")
    },

    // Ridge regression (MADlib elastic_net α=0): the SAME one-pass
    // moment aggregate as q_agg_ols with λ on the slope diagonals of
    // the normal equations (intercept unpenalized) — regularization
    // costs zero extra passes at any scale. The oracle solves by
    // Cramer's rule, the engine by ridgeFitK's Gauss-Jordan: the two
    // may differ in the last ulps and agree after the 4-dp rounding.
    Q("q_ml_ridge", Some {
      import graft.operators.Regression.Sql._
      val lam = "250.0"
      val c1r = Seq("sx1", s"(sx11 + $lam)", "sx12")
      val c2r = Seq("sx2", "sx12", s"(sx22 + $lam)")
      val det = det3(c0, c1r, c2r)
      val (db0, db1, db2) =
        (det3(r, c1r, c2r), det3(c0, r, c2r), det3(c0, c1r, r))
      s"""WITH t AS (SELECT l_returnflag AS grp,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    ${Q.oSum("l_quantity", 6)} AS sx1,
         |    ${Q.oSum("l_discount", 6)} AS sx2,
         |    ${Q.oSum("l_extendedprice", 6)} AS sy,
         |    ${Q.oSum("l_quantity * l_quantity", 6)} AS sx11,
         |    ${Q.oSum("l_discount * l_discount", 6)} AS sx22,
         |    ${Q.oSum("l_quantity * l_discount", 6)} AS sx12,
         |    ${Q.oSum("l_quantity * l_extendedprice", 6)} AS sx1y,
         |    ${Q.oSum("l_discount * l_extendedprice", 6)} AS sx2y
         |  FROM lineitem GROUP BY 1)
         |SELECT grp, CAST(n AS BIGINT) AS n,
         |  round(CASE WHEN abs($det) > 1e-9 THEN ($db0 / $det) END, 4)
         |    AS b0,
         |  round(CASE WHEN abs($det) > 1e-9 THEN ($db1 / $det) END, 4)
         |    AS b1,
         |  round(CASE WHEN abs($det) > 1e-9 THEN ($db2 / $det) END, 4)
         |    AS b2
         |FROM t ORDER BY grp""".stripMargin
    }) { (s, dir) =>
      graft.operators.Regression.ridgeFitK(Tables.T(s, dir).lineitem,
        "l_returnflag", "l_extendedprice", Seq("l_quantity", "l_discount"),
        lambda = 250.0)
        .orderBy("grp")
    },

    // k-fold cross-validation of ridge (MADlib cross_validation_general
    // parity): ONE corpus aggregate of per-fold moments; training
    // moments per fold = window totals − fold (leave-fold-out by
    // subtraction), held-out MSE evaluated from the fold's own moments
    // (SSE = syy − 2b'X'y + b'X'Xb) — one scan + one 5-row exchange
    // where MADlib retrains k times. Folds from the deterministic md5
    // uniform; moment doubles built by identical int→double ÷1e6 ops on
    // both engines so the solve is bit-reproducible.
    Q("q_ml_crossval", Some {
      import graft.operators.Regression.Sql.det3
      val lam = "250.0"
      val ms = Seq("sx1", "sx2", "sy", "sx11", "sx22", "sx12",
        "sx1y", "sx2y", "syy")
      val ex = Map("sx1" -> "x1", "sx2" -> "x2", "sy" -> "y",
        "sx11" -> "x1 * x1", "sx22" -> "x2 * x2", "sx12" -> "x1 * x2",
        "sx1y" -> "x1 * y", "sx2y" -> "x2 * y", "syy" -> "y * y")
      def vE(e: String) = s"CAST(floor(($e) * 1000000 + 0.5) AS BIGINT)"
      def hiE(e: String) = s"CAST(floor(${vE(e)} / 1000000.0) AS BIGINT)"
      def loE(e: String) = s"(${vE(e)} - ${hiE(e)} * 1000000)"
      val aggs = ms.map(m => s"sum(${hiE(ex(m))}) AS ${m}_hi," +
        s" sum(${loE(ex(m))}) AS ${m}_lo").mkString(",\n    ")
      val tots = ms.map(m => s"sum(${m}_hi) OVER () AS ${m}_hit," +
        s" sum(${m}_lo) OVER () AS ${m}_lot").mkString(",\n    ")
      def asD(h: String, l: String) =
        s"CAST(($h * 1000000 + $l) AS DOUBLE) / 1000000.0"
      val trs = ms.map(m =>
        s"${asD(s"(${m}_hit - ${m}_hi)", s"(${m}_lot - ${m}_lo)")} AS tr_$m")
        .mkString(",\n    ")
      val tes = ms.map(m => s"${asD(s"${m}_hi", s"${m}_lo")} AS te_$m")
        .mkString(",\n    ")
      val c0 = Seq("ntr", "tr_sx1", "tr_sx2")
      val c1 = Seq("tr_sx1", s"(tr_sx11 + $lam)", "tr_sx12")
      val c2 = Seq("tr_sx2", "tr_sx12", s"(tr_sx22 + $lam)")
      val r = Seq("tr_sy", "tr_sx1y", "tr_sx2y")
      val fold = "CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)" +
        " || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 5"
      s"""WITH src AS (SELECT $fold AS fold,
         |    CAST(l_extendedprice AS DOUBLE) AS y,
         |    CAST(l_quantity AS DOUBLE) AS x1,
         |    CAST(l_discount AS DOUBLE) AS x2 FROM lineitem),
         |f AS (SELECT fold, count(*) AS nf,
         |    $aggs
         |  FROM src GROUP BY fold),
         |t AS (SELECT *, sum(nf) OVER () AS nt,
         |    $tots
         |  FROM f),
         |t2 AS (SELECT fold, CAST(nt - nf AS BIGINT) AS n_train,
         |    CAST(nf AS BIGINT) AS n_test,
         |    CAST(nt - nf AS DOUBLE) AS ntr, CAST(nf AS DOUBLE) AS nte,
         |    $trs,
         |    $tes
         |  FROM t),
         |t3 AS (SELECT *, ${det3(c0, c1, c2)} AS det FROM t2),
         |t4 AS (SELECT *, ${det3(r, c1, c2)} / det AS b0,
         |    ${det3(c0, r, c2)} / det AS b1,
         |    ${det3(c0, c1, r)} / det AS b2 FROM t3)
         |SELECT fold, n_train, n_test,
         |  round(CASE WHEN abs(det) > 1e-9 THEN b0 END, 4) AS b0,
         |  round(CASE WHEN abs(det) > 1e-9 THEN b1 END, 4) AS b1,
         |  round(CASE WHEN abs(det) > 1e-9 THEN b2 END, 4) AS b2,
         |  round(CASE WHEN abs(det) > 1e-9 THEN
         |    (te_syy - 2.0 * (b0 * te_sy + b1 * te_sx1y + b2 * te_sx2y)
         |     + (b0 * b0 * nte + b1 * b1 * te_sx11 + b2 * b2 * te_sx22
         |        + 2.0 * b0 * b1 * te_sx1 + 2.0 * b0 * b2 * te_sx2
         |        + 2.0 * b1 * b2 * te_sx12)) / nte END, 2) AS mse
         |FROM t4 ORDER BY fold""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val foldCol = (conv(substring(md5(concat(
        $"l_orderkey".cast("string"), lit(":"),
        $"l_linenumber".cast("string"))), 1, 8), 16, 10)
        .cast("long") % 5)
      graft.operators.Regression.crossValRidge(Tables.T(s, dir).lineitem,
        foldCol, "l_extendedprice", "l_quantity", "l_discount",
        lambda = 250.0)
        .select($"fold", $"n_train", $"n_test",
          round($"b0", 4).as("b0"), round($"b1", 4).as("b1"),
          round($"b2", 4).as("b2"), round($"mse", 2).as("mse"))
        .orderBy("fold")
    },

    // Lasso regularization path (MADlib elastic_net α=1, standardized
    // — the glmnet coordinate descent, Friedman et al. 2010): ONE
    // 10-moment corpus aggregate, then the whole λ path is
    // catalog-scale correlation algebra — MADlib's IGD re-scans per λ
    // per epoch. CD updates micros-quantize and the soft-threshold is
    // branch-exact, so the oracle's chained-CTE replay of the same 6
    // sweeps (3 λs carried as rows) is bit-equal.
    Q("q_ml_lasso", Some {
      val sweeps = 6
      def q6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
      def soft(z: String) =
        s"CASE WHEN ($z) > lam THEN ($z) - lam " +
          s"WHEN ($z) < -lam THEN ($z) + lam ELSE CAST(0 AS DOUBLE) END"
      val cd = (1 to sweeps).map { k =>
        s"""a$k AS (SELECT * REPLACE (
           |    ${q6(soft("c1 - r12 * b2"))} AS b1) FROM s${k - 1}),
           |s$k AS (SELECT * REPLACE (
           |    ${q6(soft("c2 - r12 * b1"))} AS b2) FROM a$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    ${Q.oSum("l_quantity", 6)} AS sx1,
         |    ${Q.oSum("l_discount", 6)} AS sx2,
         |    ${Q.oSum("l_extendedprice", 6)} AS sy,
         |    ${Q.oSum("l_quantity * l_quantity", 6)} AS sx11,
         |    ${Q.oSum("l_discount * l_discount", 6)} AS sx22,
         |    ${Q.oSum("l_quantity * l_discount", 6)} AS sx12,
         |    ${Q.oSum("l_quantity * l_extendedprice", 6)} AS sx1y,
         |    ${Q.oSum("l_discount * l_extendedprice", 6)} AS sx2y,
         |    ${Q.oSum("l_extendedprice * l_extendedprice", 6)} AS syy
         |  FROM lineitem),
         |m AS (SELECT *, sx1 / n AS mu1, sx2 / n AS mu2, sy / n AS muy
         |  FROM t),
         |m2 AS (SELECT *, sqrt(sx11 / n - mu1 * mu1) AS s1,
         |    sqrt(sx22 / n - mu2 * mu2) AS s2,
         |    sqrt(syy / n - muy * muy) AS sy_d FROM m),
         |m3 AS (SELECT *, (sx12 / n - mu1 * mu2) / (s1 * s2) AS r12,
         |    (sx1y / n - mu1 * muy) / (s1 * sy_d) AS c1,
         |    (sx2y / n - mu2 * muy) / (s2 * sy_d) AS c2 FROM m2),
         |l AS (SELECT lam FROM (VALUES (CAST(0.01 AS DOUBLE)), (0.05),
         |    (0.2)) v(lam)),
         |s0 AS (SELECT l.lam, m3.r12, m3.c1, m3.c2, m3.mu1, m3.mu2,
         |    m3.muy, m3.s1, m3.s2, m3.sy_d,
         |    CAST(0 AS DOUBLE) AS b1, CAST(0 AS DOUBLE) AS b2
         |  FROM l CROSS JOIN m3),
         |$cd
         |SELECT lam AS lambda, b1 AS b1_std, b2 AS b2_std,
         |  round(b1 * sy_d / s1, 6) AS b1o,
         |  round(b2 * sy_d / s2, 6) AS b2o,
         |  round(muy - b1 * sy_d / s1 * mu1 - b2 * sy_d / s2 * mu2, 6)
         |    AS b0,
         |  (CASE WHEN b1 <> 0 THEN 1 ELSE 0 END
         |   + CASE WHEN b2 <> 0 THEN 1 ELSE 0 END) AS n_nonzero
         |FROM s$sweeps ORDER BY lambda""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      graft.operators.Regression.enetPathK(Tables.T(s, dir).lineitem,
        "l_extendedprice", Seq("l_quantity", "l_discount"),
        lambdas = Seq(0.01, 0.05, 0.2), alpha = 1.0, sweeps = 6)
        .select($"lambda", $"bstd_0".as("b1_std"), $"bstd_1".as("b2_std"),
          round($"b_0", 6).as("b1o"), round($"b_1", 6).as("b2o"),
          round($"b0", 6).as("b0"), $"n_nonzero".cast("int").as("n_nonzero"))
        .orderBy("lambda")
    },

    // Elastic net path (MADlib elastic_net_train, 0 < α < 1): the
    // glmnet CD update S(c − r·b, λα)/(1 + λ(1−α)) — ℓ1 soft threshold
    // plus ℓ2 denominator shrink. Same one-scan moment dataflow as
    // q_ml_lasso; the oracle replays the identical micros-quantized
    // recursion with (l1, l2) carried per λ row.
    Q("q_ml_elasticnet", Some {
      val sweeps = 6
      val alpha = 0.5
      def q6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
      def soft(z: String) =
        s"CASE WHEN ($z) > l1 THEN ($z) - l1 " +
          s"WHEN ($z) < -l1 THEN ($z) + l1 ELSE CAST(0 AS DOUBLE) END"
      val cd = (1 to sweeps).map { k =>
        s"""a$k AS (SELECT * REPLACE (
           |    ${q6(s"(${soft("c1 - r12 * b2")}) / (1.0 + l2)")} AS b1)
           |  FROM s${k - 1}),
           |s$k AS (SELECT * REPLACE (
           |    ${q6(s"(${soft("c2 - r12 * b1")}) / (1.0 + l2)")} AS b2)
           |  FROM a$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    ${Q.oSum("l_quantity", 6)} AS sx1,
         |    ${Q.oSum("l_discount", 6)} AS sx2,
         |    ${Q.oSum("l_extendedprice", 6)} AS sy,
         |    ${Q.oSum("l_quantity * l_quantity", 6)} AS sx11,
         |    ${Q.oSum("l_discount * l_discount", 6)} AS sx22,
         |    ${Q.oSum("l_quantity * l_discount", 6)} AS sx12,
         |    ${Q.oSum("l_quantity * l_extendedprice", 6)} AS sx1y,
         |    ${Q.oSum("l_discount * l_extendedprice", 6)} AS sx2y,
         |    ${Q.oSum("l_extendedprice * l_extendedprice", 6)} AS syy
         |  FROM lineitem),
         |m AS (SELECT *, sx1 / n AS mu1, sx2 / n AS mu2, sy / n AS muy
         |  FROM t),
         |m2 AS (SELECT *, sqrt(sx11 / n - mu1 * mu1) AS s1,
         |    sqrt(sx22 / n - mu2 * mu2) AS s2,
         |    sqrt(syy / n - muy * muy) AS sy_d FROM m),
         |m3 AS (SELECT *, (sx12 / n - mu1 * mu2) / (s1 * s2) AS r12,
         |    (sx1y / n - mu1 * muy) / (s1 * sy_d) AS c1,
         |    (sx2y / n - mu2 * muy) / (s2 * sy_d) AS c2 FROM m2),
         |l AS (SELECT lam, lam * $alpha AS l1,
         |    lam * (1.0 - $alpha) AS l2
         |  FROM (VALUES (CAST(0.01 AS DOUBLE)), (0.05), (0.2)) v(lam)),
         |s0 AS (SELECT l.lam, l.l1, l.l2, m3.r12, m3.c1, m3.c2, m3.mu1,
         |    m3.mu2, m3.muy, m3.s1, m3.s2, m3.sy_d,
         |    CAST(0 AS DOUBLE) AS b1, CAST(0 AS DOUBLE) AS b2
         |  FROM l CROSS JOIN m3),
         |$cd
         |SELECT lam AS lambda, CAST($alpha AS DOUBLE) AS alpha,
         |  b1 AS b1_std, b2 AS b2_std,
         |  round(b1 * sy_d / s1, 6) AS b1o,
         |  round(b2 * sy_d / s2, 6) AS b2o,
         |  round(muy - b1 * sy_d / s1 * mu1 - b2 * sy_d / s2 * mu2, 6)
         |    AS b0,
         |  (CASE WHEN b1 <> 0 THEN 1 ELSE 0 END
         |   + CASE WHEN b2 <> 0 THEN 1 ELSE 0 END) AS n_nonzero
         |FROM s$sweeps ORDER BY lambda""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      graft.operators.Regression.enetPathK(Tables.T(s, dir).lineitem,
        "l_extendedprice", Seq("l_quantity", "l_discount"),
        lambdas = Seq(0.01, 0.05, 0.2), alpha = 0.5, sweeps = 6)
        .select($"lambda", $"alpha",
          $"bstd_0".as("b1_std"), $"bstd_1".as("b2_std"),
          round($"b_0", 6).as("b1o"), round($"b_1", 6).as("b2o"),
          round($"b0", 6).as("b0"), $"n_nonzero".cast("int").as("n_nonzero"))
        .orderBy("lambda")
    },

    // Elastic net at 4 features (q_ml_elasticnet and q_ml_lasso run the
    // same kernel at 2): standardized features, cyclic glmnet CD, the whole
    // (λ × sweeps × k) path driver algebra over ONE Gram-moment scan.
    // The oracle replays the identical recursion (generated nested
    // selects, one branch per λ).
    Q("q_ml_enet_k", Some {
      val inner = graft.operators.Regression.enetKOracleSql(
        "lineitem", "l_extendedprice / 100000.0",
        Seq("l_quantity / 50.0", "l_discount * 10.0", "l_tax * 10.0",
          "l_linenumber / 7.0"),
        lambdas = Seq(0.02, 0.1), alpha = 0.5, sweeps = 4)
      s"""SELECT lambda, alpha,
         |  bstd_0, bstd_1, bstd_2, bstd_3,
         |  round(b_0, 6) AS bo_0, round(b_1, 6) AS bo_1,
         |  round(b_2, 6) AS bo_2, round(b_3, 6) AS bo_3,
         |  round(b0, 6) AS b0, n_nonzero
         |FROM ($inner) ORDER BY lambda""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val li = Tables.T(s, dir).lineitem.select(
        ($"l_extendedprice" / lit(100000.0)).as("yy"),
        ($"l_quantity" / lit(50.0)).as("f1"),
        ($"l_discount" * lit(10.0)).as("f2"),
        ($"l_tax" * lit(10.0)).as("f3"),
        ($"l_linenumber" / lit(7.0)).as("f4"))
      graft.operators.Regression.enetPathK(li, "yy",
        Seq("f1", "f2", "f3", "f4"),
        lambdas = Seq(0.02, 0.1), alpha = 0.5, sweeps = 4)
        .select($"lambda", $"alpha",
          $"bstd_0", $"bstd_1", $"bstd_2", $"bstd_3",
          round($"b_0", 6).as("bo_0"), round($"b_1", 6).as("bo_1"),
          round($"b_2", 6).as("bo_2"), round($"b_3", 6).as("bo_3"),
          round($"b0", 6).as("b0"), $"n_nonzero")
        .orderBy("lambda")
    },

    // Cox proportional hazards (MADlib coxph_train; Cox 1972; Breslow
    // ties, stratified by event type, 3 fixed Newton rounds from β=0 —
    // MADlib's own optimizer is Newton, so only the iteration count is
    // pinned). Risk-set sums are per-stratum SUFFIX sums (t DESC RANGE
    // window, peers included = the t' ≥ t risk set); every exp value
    // and event term quantizes to integer micros pre-sum so the score/
    // information reduce is order-free; β micros-quantizes per round so
    // both engines call exp on identical arguments. The oracle unrolls
    // the Newton rounds as MATERIALIZED CTEs.
    Q("q_ml_cox", Some {
      val iters = 3
      val e = "CAST(floor(exp(b.beta * x) * 1000000 + 0.5) AS BIGINT)"
      val r1 = "(CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))"
      val ut = s"(CAST(sxd AS DOUBLE) - CAST(d AS DOUBLE) * $r1)"
      val it = s"(CAST(d AS DOUBLE) * (CAST(s2 AS DOUBLE)" +
        s" / CAST(s0 AS DOUBLE) - $r1 * $r1))"
      def evSum(term: String) =
        s"CAST(sum(CASE WHEN d > 0 THEN CAST(floor($term * 1000000" +
          s" + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE) / 1000000"
      val head =
        """WITH rows AS MATERIALIZED (SELECT event_type AS g,
          |    CAST(value AS DOUBLE) AS t,
          |    CASE WHEN event_id % 4 = 0 THEN 0 ELSE 1 END AS ev,
          |    CAST(user_id % 5 AS DOUBLE) AS x
          |  FROM events),
          |b0 AS (SELECT CAST(0 AS DOUBLE) AS beta)""".stripMargin
      val rounds = (1 to iters).map { i =>
        s"""p$i AS MATERIALIZED (SELECT g, t, sum(ev) AS d,
           |    sum(ev * CAST(x AS BIGINT)) AS sxd,
           |    sum($e) AS se,
           |    sum(CAST(x AS BIGINT) * $e) AS sxe,
           |    sum(CAST(x AS BIGINT) * CAST(x AS BIGINT) * $e) AS sxxe
           |  FROM rows CROSS JOIN b${i - 1} b GROUP BY g, t),
           |s$i AS (SELECT d, sxd, sum(se) OVER wsuf AS s0,
           |    sum(sxe) OVER wsuf AS s1, sum(sxxe) OVER wsuf AS s2
           |  FROM p$i WINDOW wsuf AS (PARTITION BY g ORDER BY t DESC
           |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |gr$i AS (SELECT ${evSum(ut)} AS u, ${evSum(it)} AS i
           |  FROM s$i),
           |b$i AS MATERIALIZED (SELECT
           |    floor((b.beta + g.u / g.i) * 1000000 + 0.5) / 1000000
           |      AS beta
           |  FROM b${i - 1} b CROSS JOIN gr$i g)""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$rounds
         |SELECT b.beta, CAST(n.ne AS BIGINT) AS n_events,
         |  CAST(n.nt AS BIGINT) AS n_total
         |FROM b$iters b CROSS JOIN
         |  (SELECT sum(ev) AS ne, count(*) AS nt FROM rows) n"""
        .stripMargin
    }) { (s, dir) =>
      import s.implicits._
      graft.operators.Survival.coxFitK(Tables.T(s, dir).events,
        "event_type", "value",
        eventCol = when($"event_id" % 4 === 0, 0).otherwise(1),
        xCols = Seq(($"user_id" % 5).cast("double")), iterations = 3)
        .select($"beta0".as("beta"), $"n_events", $"n_total")
    },

    // Cox PH at 3 covariates (q_ml_cox runs the same kernel at 1):
    // integer-valued covariates, stratified Breslow,
    // Newton via the shared gjBatches solve, β a 1-row broadcast
    // relation — no driver collect.
    Q("q_ml_cox_k", Some(
      graft.operators.Survival.coxKOracleSql(
        """SELECT event_type AS g, CAST(value AS DOUBLE) AS t,
          |    CASE WHEN event_id % 4 = 0 THEN 0 ELSE 1 END AS ev,
          |    CAST(user_id % 5 AS DOUBLE) AS x1,
          |    CAST(event_id % 3 AS DOUBLE) AS x2,
          |    CAST(user_id % 2 AS DOUBLE) AS x3
          |  FROM events""".stripMargin, p = 3, iterations = 3))) {
      (s, dir) =>
        import s.implicits._
        graft.operators.Survival.coxFitK(Tables.T(s, dir).events,
          "event_type", "value",
          eventCol = when($"event_id" % 4 === 0, 0).otherwise(1),
          xCols = Seq(($"user_id" % 5).cast("double"),
            ($"event_id" % 3).cast("double"),
            ($"user_id" % 2).cast("double")), iterations = 3)
    },

    // MLP regression (MADlib mlp_regression): a 2-2-1 tanh network
    // trained by 3 full-batch GD rounds — the deterministic batch
    // restatement of MADlib's minibatch IGD (the SVM/logreg/ALS
    // substitution). Each round is ONE corpus aggregate: forward pass
    // + all 9 gradients in codegen, per-row terms micros-quantized
    // pre-sum; weights micros-quantize per update so both engines call
    // tanh on identical arguments (the Cox exp discipline). The oracle
    // unrolls the rounds as MATERIALIZED 1-row weight CTEs.
    Q("q_ml_mlp", Some {
      val iters = 3
      val eta = "0.5"
      def a(h: Int) = {
        val (wa, wb, bb) =
          if (h == 1) ("w.w11", "w.w12", "w.b1")
          else ("w.w21", "w.w22", "w.b2")
        // tanh via the exp identity — mirrors NeuralNet.tanhE exactly
        val e2 = s"exp(2.0 * ($wa * x1 + $wb * x2 + $bb))"
        s"(floor(($e2 - 1.0) / ($e2 + 1.0) * 1000000 + 0.5) / 1000000)"
      }
      val o = s"(w.v1 * ${a(1)} + w.v2 * ${a(2)} + w.c)"
      val r = s"($o - y)"
      def dh(h: Int) = {
        val v = if (h == 1) "w.v1" else "w.v2"
        s"($r * $v * (1.0 - ${a(h)} * ${a(h)}))"
      }
      def mic(e: String) =
        s"CAST(sum(CAST(floor(($e) * 1000000 + 0.5) AS BIGINT))" +
          " AS DOUBLE) / 1000000"
      def upd(wn: String, g: String) =
        s"floor((w.$wn - $eta * ($g / n)) * 1000000 + 0.5) / 1000000" +
          s" AS $wn"
      val w0 = graft.operators.NeuralNet.names
        .zip(graft.operators.NeuralNet.init)
        .map { case (nm, v) => s"CAST($v AS DOUBLE) AS $nm" }
        .mkString(", ")
      val rounds = (1 to iters).map { i =>
        s"""g$i AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |    ${mic(s"${dh(1)} * x1")} AS gw11,
           |    ${mic(s"${dh(1)} * x2")} AS gw12,
           |    ${mic(dh(1))} AS gb1,
           |    ${mic(s"${dh(2)} * x1")} AS gw21,
           |    ${mic(s"${dh(2)} * x2")} AS gw22,
           |    ${mic(dh(2))} AS gb2,
           |    ${mic(s"$r * ${a(1)}")} AS gv1,
           |    ${mic(s"$r * ${a(2)}")} AS gv2,
           |    ${mic(r)} AS gc,
           |    ${mic(s"$r * $r")} AS loss
           |  FROM rows CROSS JOIN w${i - 1} w),
           |w$i AS MATERIALIZED (SELECT
           |    ${upd("w11", "gw11")}, ${upd("w12", "gw12")},
           |    ${upd("b1", "gb1")}, ${upd("w21", "gw21")},
           |    ${upd("w22", "gw22")}, ${upd("b2", "gb2")},
           |    ${upd("v1", "gv1")}, ${upd("v2", "gv2")},
           |    ${upd("c", "gc")},
           |    loss / n AS mse, CAST(n AS BIGINT) AS nn
           |  FROM w${i - 1} w CROSS JOIN g$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH rows AS MATERIALIZED (SELECT
         |    l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2,
         |    l_extendedprice / 100000.0 AS y FROM lineitem),
         |w0 AS (SELECT $w0),
         |$rounds
         |SELECT w11, w12, b1, w21, w22, b2, v1, v2, c, mse, nn AS n
         |FROM w$iters""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      graft.operators.NeuralNet.mlpFit221(Tables.T(s, dir).lineitem,
        $"l_quantity" / lit(50.0), $"l_discount" * lit(10.0),
        $"l_extendedprice" / lit(100000.0), eta = 0.5, iterations = 3)
    },

    // MLP at ANY topology (lifts mlpFit221's 2-2-1 ceiling): 3 inputs
    // → 3 tanh hidden → 1 linear, weight state a 1-row broadcast
    // relation (no driver collect). KText shares every forward/
    // backward expression string with the oracle verbatim.
    Q("q_ml_mlp_k", Some(
      graft.operators.NeuralNet.mlpKOracleSql(
        "lineitem", "l_extendedprice / 100000.0",
        Seq("l_quantity / 50.0", "l_discount * 10.0", "l_tax * 10.0"),
        hidden = 3, eta = "0.5", iterations = 2))) { (s, dir) =>
      import s.implicits._
      val li = Tables.T(s, dir).lineitem.select(
        ($"l_quantity" / lit(50.0)).as("f1"),
        ($"l_discount" * lit(10.0)).as("f2"),
        ($"l_tax" * lit(10.0)).as("f3"),
        ($"l_extendedprice" / lit(100000.0)).as("yy"))
      graft.operators.NeuralNet.mlpFitK(li, "yy",
        Seq("f1", "f2", "f3"), hidden = 3, eta = "0.5",
        iterations = 2)
    },

    // Logistic regression (MADlib logregr_train parity): per-group
    // Newton/IRLS with 4 fixed iterations — each round ONE aggregate of
    // weighted moments + the same Cramer 3×3 solve as q_agg_ols. The
    // oracle unrolls the identical iteration as chained CTEs; round(4)
    // absorbs fp summation order and last-ulp exp() differences.
    Q("q_agg_logreg", Some {
      import graft.operators.Regression.Sql.det3
      val c0 = Seq("sw", "swx1", "swx2")
      val c1 = Seq("swx1", "swx11", "swx12")
      val c2 = Seq("swx2", "swx12", "swx22")
      val g = Seq("g0", "g1", "g2")
      val det = det3(c0, c1, c2)
      def upd(b: String, dn: String) =
        s"CASE WHEN abs($det) > 1e-12 THEN $b + $dn / $det ELSE $b END"
      val rounds = (1 to 4).map { i =>
        s"""m$i AS (SELECT grp, b0, b1, b2, count(*) AS n,
           |    sum(w) AS sw, sum(w * x1) AS swx1, sum(w * x2) AS swx2,
           |    sum(w * x1 * x1) AS swx11, sum(w * x2 * x2) AS swx22,
           |    sum(w * x1 * x2) AS swx12,
           |    sum(res) AS g0, sum(res * x1) AS g1, sum(res * x2) AS g2
           |  FROM (SELECT grp, b0, b1, b2, mu * (1.0 - mu) AS w,
           |      y - mu AS res, x1, x2
           |    FROM (SELECT r.grp, c.b0, c.b1, c.b2, r.y, r.x1, r.x2,
           |        1.0 / (1.0 + exp(-(c.b0 + c.b1 * r.x1 + c.b2 * r.x2)))
           |          AS mu
           |      FROM rr r JOIN it${i - 1} c USING (grp)) s1) s2
           |  GROUP BY 1, 2, 3, 4),
           |it$i AS (SELECT grp, n,
           |    ${upd("b0", det3(g, c1, c2))} AS b0,
           |    ${upd("b1", det3(c0, g, c2))} AS b1,
           |    ${upd("b2", det3(c0, c1, g))} AS b2
           |  FROM m$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH rr AS (SELECT l_returnflag AS grp,
         |    CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS y,
         |    CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
         |    CAST(l_tax AS DOUBLE) * 10.0 AS x2
         |  FROM lineitem),
         |it0 AS (SELECT DISTINCT grp, 0.0 AS b0, 0.0 AS b1, 0.0 AS b2
         |  FROM rr),
         |$rounds
         |SELECT grp, CAST(n AS BIGINT) AS n, round(b0, 4) AS b0,
         |  round(b1, 4) AS b1, round(b2, 4) AS b2
         |FROM it4 ORDER BY grp""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val rows = Tables.T(s, dir).lineitem.select(
        $"l_returnflag".as("grp"),
        when($"l_discount" > 0.05, 1.0).otherwise(0.0).as("y"),
        ($"l_quantity".cast("double") / lit(50.0)).as("x1"),
        ($"l_tax".cast("double") * lit(10.0)).as("x2"))
      graft.operators.Regression.logregFit2(rows, "grp", "y", "x1", "x2",
        iterations = 4)
        .select($"grp", $"n", round($"b0", 4).as("b0"),
          round($"b1", 4).as("b1"), round($"b2", 4).as("b2"))
        .orderBy("grp")
    },

    // Poisson regression (MADlib glm family=poisson link=log — the
    // third GLM member beside OLS and logistic): Newton/IRLS with
    // W = diag(μ), one moment aggregate per fixed round, Cramer 3×3
    // solve. Init b0 = ln(avg y) micros-quantized (from β=0 the first
    // step overflows exp); outputs compare at round(4), the smooth-
    // IRLS discipline of q_agg_logreg.
    Q("q_ml_poisson", Some {
      import graft.operators.Regression.Sql.det3
      val c0 = Seq("sw", "swx1", "swx2")
      val c1 = Seq("swx1", "swx11", "swx12")
      val c2 = Seq("swx2", "swx12", "swx22")
      val g = Seq("g0", "g1", "g2")
      val det = det3(c0, c1, c2)
      def upd(b: String, dn: String) =
        s"CASE WHEN abs($det) > 1e-12 THEN $b + $dn / $det ELSE $b END"
      val rounds = (1 to 3).map { i =>
        s"""m$i AS (SELECT b0, b1, b2, count(*) AS n,
           |    sum(w) AS sw, sum(w * x1) AS swx1, sum(w * x2) AS swx2,
           |    sum(w * x1 * x1) AS swx11, sum(w * x2 * x2) AS swx22,
           |    sum(w * x1 * x2) AS swx12,
           |    sum(res) AS g0, sum(res * x1) AS g1, sum(res * x2) AS g2
           |  FROM (SELECT b0, b1, b2, mu AS w, y - mu AS res, x1, x2
           |    FROM (SELECT c.b0, c.b1, c.b2, r.y, r.x1, r.x2,
           |        exp(c.b0 + c.b1 * r.x1 + c.b2 * r.x2) AS mu
           |      FROM r CROSS JOIN it${i - 1} c) s1) s2
           |  GROUP BY 1, 2, 3),
           |it$i AS (SELECT n,
           |    ${upd("b0", det3(g, c1, c2))} AS b0,
           |    ${upd("b1", det3(c0, g, c2))} AS b1,
           |    ${upd("b2", det3(c0, c1, g))} AS b2
           |  FROM m$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS y,
         |    CAST(l_discount AS DOUBLE) * 10.0 AS x1,
         |    CAST(l_tax AS DOUBLE) * 10.0 AS x2
         |  FROM lineitem),
         |c0i AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    ${Q.oSum("y", 6)} AS sy FROM r),
         |it0 AS (SELECT floor(ln(sy / n) * 1000000 + 0.5) / 1000000
         |    AS b0, CAST(0 AS DOUBLE) AS b1, CAST(0 AS DOUBLE) AS b2
         |  FROM c0i),
         |$rounds
         |SELECT CAST(n AS BIGINT) AS n, round(b0, 4) AS b0,
         |  round(b1, 4) AS b1, round(b2, 4) AS b2
         |FROM it3""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val rows = Tables.T(s, dir).lineitem.select(
        $"l_quantity".cast("double").as("y"),
        ($"l_discount".cast("double") * lit(10.0)).as("x1"),
        ($"l_tax".cast("double") * lit(10.0)).as("x2"))
      graft.operators.Regression.poissonFit2(rows, "y", "x1", "x2",
        iterations = 3)
        .select($"n", round($"b0", 4).as("b0"),
          round($"b1", 4).as("b1"), round($"b2", 4).as("b2"))
    },

    // Multinomial softmax regression (MADlib multinom — true softmax,
    // class 'A' the zero-parameter reference): 5 fixed full-batch GD
    // epochs, one 6-gradient aggregate each. exp OUTPUTS quantize to
    // micros immediately (NOTES transcendental discipline), gradient
    // terms quantize pre-sum, β quantizes per epoch — the oracle's
    // unrolled epochs are bit-equal unrounded.
    Q("q_ml_multinom", Some {
      val epochs = 5
      def q6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
      val e1 = q6("exp(a0 + a1 * x1 + a2 * x2)")
      val e2 = q6("exp(c0 + c1 * x1 + c2 * x2)")
      def g(k: Int, p: String, x: String) = Q.oSum(
        q6(s"((CASE WHEN yk = $k THEN 1.0 ELSE 0.0 END) - $p) * $x"), 6)
      def upd(b: String, gc: String) =
        s"${q6(s"$b + 1.0 * $gc / CAST(n AS DOUBLE)")} AS $b"
      val rounds = (1 to epochs).map { i =>
        s"""m$i AS (SELECT a0, a1, a2, c0, c1, c2, count(*) AS n,
           |    ${g(1, "p1", "1.0")} AS g10, ${g(1, "p1", "x1")} AS g11,
           |    ${g(1, "p1", "x2")} AS g12,
           |    ${g(2, "p2", "1.0")} AS g20, ${g(2, "p2", "x1")} AS g21,
           |    ${g(2, "p2", "x2")} AS g22
           |  FROM (SELECT s.*,
           |      e1 / (1.0 + e1 + e2) AS p1, e2 / (1.0 + e1 + e2) AS p2
           |    FROM (SELECT st.*, r2.yk, r2.x1, r2.x2,
           |        $e1 AS e1, $e2 AS e2
           |      FROM r r2 CROSS JOIN st${i - 1} st) s) q
           |  GROUP BY 1, 2, 3, 4, 5, 6),
           |st$i AS (SELECT ${upd("a0", "g10")}, ${upd("a1", "g11")},
           |    ${upd("a2", "g12")}, ${upd("c0", "g20")},
           |    ${upd("c1", "g21")}, ${upd("c2", "g22")}, n
           |  FROM m$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (SELECT
         |    CASE WHEN l_returnflag = 'R' THEN 1
         |         WHEN l_returnflag = 'N' THEN 2 ELSE 0 END AS yk,
         |    CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
         |    CAST(l_discount AS DOUBLE) * 10.0 AS x2
         |  FROM lineitem),
         |st0 AS (SELECT CAST(0 AS DOUBLE) AS a0, CAST(0 AS DOUBLE) AS a1,
         |  CAST(0 AS DOUBLE) AS a2, CAST(0 AS DOUBLE) AS c0,
         |  CAST(0 AS DOUBLE) AS c1, CAST(0 AS DOUBLE) AS c2),
         |$rounds
         |SELECT 1 AS cls, CAST(n AS BIGINT) AS n, a0 AS b0, a1 AS b1,
         |  a2 AS b2 FROM st$epochs
         |UNION ALL
         |SELECT 2, CAST(n AS BIGINT), c0, c1, c2 FROM st$epochs
         |ORDER BY cls""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      graft.operators.Regression.multinomFitK(
        Tables.T(s, dir).lineitem
          .select($"l_returnflag".as("lbl"),
            ($"l_quantity".cast("double") / lit(50.0)).as("x1"),
            ($"l_discount".cast("double") * lit(10.0)).as("x2")),
        "lbl", Seq("A", "R", "N"), Seq("x1", "x2"), epochs = 5, eta = 1.0)
        .orderBy("cls")
    },

    // Multinomial softmax at ANY class/feature count (lifts the 3×2
    // contract of q_ml_multinom): 4 classes × 3 features, the same
    // full-batch GD + transcendental discipline, gradient sums
    // generated per (class, feature), oracle the identical unroll.
    Q("q_ml_multinom_k", Some(
      graft.operators.Regression.multinomKOracleSql(
        "lineitem",
        "CASE WHEN l_linenumber % 4 = 1 THEN 1 " +
          "WHEN l_linenumber % 4 = 2 THEN 2 " +
          "WHEN l_linenumber % 4 = 3 THEN 3 ELSE 0 END",
        Seq("l_quantity / 50.0e0", "l_discount * 10.0e0",
          "l_tax * 10.0e0"),
        numClasses = 4, epochs = 5))) { (s, dir) =>
      import s.implicits._
      val src = Tables.T(s, dir).lineitem.select(
        when($"l_linenumber" % 4 === 1, "c1")
          .when($"l_linenumber" % 4 === 2, "c2")
          .when($"l_linenumber" % 4 === 3, "c3")
          .otherwise("c0").as("lbl"),
        ($"l_quantity".cast("double") / lit(50.0)).as("f1"),
        ($"l_discount".cast("double") * lit(10.0)).as("f2"),
        ($"l_tax".cast("double") * lit(10.0)).as("f3"))
      graft.operators.Regression.multinomFitK(src, "lbl",
        Seq("c0", "c1", "c2", "c3"), Seq("f1", "f2", "f3"),
        epochs = 5, eta = 1.0)
        .orderBy("cls")
    },

    // Linear SVM (MADlib svm_classification parity): full-batch Pegasos
    // subgradient, 4 fixed epochs, one aggregate per epoch (see
    // Regression.svmFitK). The margin indicator is discontinuous, so
    // gradient sums use split-sum discipline and the η/decay constants
    // are precomputed doubles embedded identically on both sides —
    // iteration state stays bit-identical, no output rounding needed.
    Q("q_ml_svm", Some {
      val lambda = 0.01
      val mar = "(y * (w0 + w1 * x1 + w2 * x2) < 1)"
      val rounds = (1 to 4).map { t =>
        val eta = 1.0 / (lambda * t)
        val decay = 1.0 - eta * lambda
        def upd(wc: String, g: String) =
          s"$wc * CAST($decay AS DOUBLE) + CAST($eta AS DOUBLE) " +
            s"* coalesce($g, 0.0) / CAST(n AS DOUBLE) AS $wc"
        s"""a$t AS (SELECT w0, w1, w2, count(*) AS n,
           |    ${Q.pSum("y", 6, mar)} AS g0,
           |    ${Q.pSum("y * x1", 6, mar)} AS g1,
           |    ${Q.pSum("y * x2", 6, mar)} AS g2,
           |    CAST(sum(CASE WHEN $mar THEN 1 ELSE 0 END) AS BIGINT)
           |      AS sv
           |  FROM r CROSS JOIN st${t - 1} GROUP BY 1, 2, 3),
           |st$t AS (SELECT ${upd("w0", "g0")}, ${upd("w1", "g1")},
           |    ${upd("w2", "g2")}, sv, n FROM a$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (SELECT
         |    CAST(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE -1.0 END
         |      AS DOUBLE) AS y,
         |    CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
         |    CAST(l_discount AS DOUBLE) * 10.0 AS x2
         |  FROM lineitem),
         |st0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
         |  CAST(0 AS DOUBLE) AS w2),
         |$rounds
         |SELECT w0, w1, w2, sv, CAST(n AS BIGINT) AS n FROM st4"""
        .stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val rows = Tables.T(s, dir).lineitem.select(
        when($"l_returnflag" === "R", 1.0).otherwise(-1.0).as("y"),
        ($"l_quantity".cast("double") / lit(50.0)).as("x1"),
        ($"l_discount".cast("double") * lit(10.0)).as("x2"))
      graft.operators.Regression.svmFitK(rows, "y", Seq("x1", "x2"),
        lambda = 0.01, iterations = 4, sumExact = Q.dsum(_, 6))
        .select($"w0", $"w1", $"w2", $"sv", $"n")
    },

    // Linear SVM at 4 features (MADlib svm_classification over a
    // feature array; q_ml_svm runs the same kernel at 2): 4 scaled
    // features + intercept, full-batch Pegasos, one gradient
    // aggregate per round against the 1-row broadcast weight state.
    Q("q_ml_svm_k", Some(
      graft.operators.Regression.svmKOracleSql(
        "lineitem",
        "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE -1.0 END",
        Seq("l_quantity / 50.0e0", "l_discount * 10.0e0",
          "l_tax * 10.0e0", "l_linenumber / 7.0e0"),
        lambda = 0.01, iterations = 4))) { (s, dir) =>
      import s.implicits._
      val rows = Tables.T(s, dir).lineitem.select(
        when($"l_returnflag" === "R", 1.0).otherwise(-1.0).as("y"),
        ($"l_quantity".cast("double") / lit(50.0)).as("f1"),
        ($"l_discount".cast("double") * lit(10.0)).as("f2"),
        ($"l_tax".cast("double") * lit(10.0)).as("f3"),
        ($"l_linenumber".cast("double") / lit(7.0)).as("f4"))
      graft.operators.Regression.svmFitK(rows, "y",
        Seq("f1", "f2", "f3", "f4"),
        lambda = 0.01, iterations = 4, sumExact = Q.dsum(_, 6))
        .select($"w0", $"w1", $"w2", $"w3", $"w4", $"sv", $"n")
    },

    // min_by/max_by ≡ DuckDB arg_min/arg_max.
    Q("q_agg_minmax_by", Some(
      """SELECT o_orderstatus,
        |  arg_max(o_orderkey, o_totalprice) AS top_order,
        |  arg_min(o_orderkey, o_totalprice) AS bottom_order,
        |  max(o_totalprice) AS top_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).orders
          .groupBy($"o_orderstatus")
          .agg(max_by($"o_orderkey", $"o_totalprice").as("top_order"),
            min_by($"o_orderkey", $"o_totalprice").as("bottom_order"),
            max($"o_totalprice").as("top_price"))
          .orderBy("o_orderstatus")
    },

    // bool_and/or + bit_and/or/xor (pg_aggregate.h DATA lines).
    Q("q_agg_bool_bit", Some(
      """SELECT l_returnflag,
        |  bool_and(l_discount < 0.1) AS all_small_disc,
        |  bool_or(l_quantity > 49) AS any_bulk,
        |  bit_and(l_linenumber) AS band,
        |  bit_or(l_linenumber) AS bor,
        |  bit_xor(l_linenumber) AS bxor
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem
          .groupBy($"l_returnflag")
          .agg(bool_and($"l_discount" < 0.1).as("all_small_disc"),
            bool_or($"l_quantity" > 49).as("any_bulk"),
            bit_and($"l_linenumber").as("band"),
            bit_or($"l_linenumber").as("bor"),
            bit_xor($"l_linenumber").as("bxor"))
          .orderBy("l_returnflag")
    },

    // string_agg(x, ',' ORDER BY x) — ordered-input agg (GP: ordered
    // transition, array_userfuncs.c). Spark: sort_array(collect_list).
    // GROUPING()/GROUPING_ID() — the report idiom that labels subtotal
    // rows in ROLLUP output (reference: parse_agg.c GroupingFunc; GP
    // planner Repeat node emits the grouping bitmap).
    Q("q_agg_grouping", Some(
      """SELECT n_regionkey, n_nationkey,
        |  CAST(GROUPING(n_regionkey) AS INT) AS g_region,
        |  CAST(GROUPING(n_regionkey, n_nationkey) AS INT) AS gid,
        |  CASE CAST(GROUPING(n_regionkey, n_nationkey) AS INT)
        |    WHEN 0 THEN 'detail' WHEN 1 THEN 'region total'
        |    ELSE 'grand total' END AS row_kind,
        |  count(*) AS n
        |FROM nation GROUP BY ROLLUP (n_regionkey, n_nationkey)
        |ORDER BY gid, n_regionkey NULLS FIRST, n_nationkey NULLS FIRST""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).nation
          .rollup($"n_regionkey", $"n_nationkey")
          .agg(
            grouping($"n_regionkey").cast("int").as("g_region"),
            grouping_id().cast("int").as("gid"),
            when(grouping_id() === 0, "detail")
              .when(grouping_id() === 1, "region total")
              .otherwise("grand total").as("row_kind"),
            count(lit(1)).as("n"))
          .orderBy($"gid", $"n_regionkey".asc_nulls_first,
            $"n_nationkey".asc_nulls_first)
    },

    Q("q_string_agg", Some(
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).nation
          .groupBy($"n_regionkey")
          .agg(array_join(array_sort(collect_list($"n_name")), ",").as("names"))
          .orderBy("n_regionkey")
    },

    // DISTINCT-modified ordered-input aggregates (PG allows
    // string_agg(DISTINCT x, sep ORDER BY x) — parse_agg.c enforces the
    // ORDER BY ⊆ DISTINCT args rule): collect_set + array_sort gives
    // identical semantics with partial/final planning, where a naive
    // global DISTINCT pre-shuffle would not.
    Q("q_agg_distinct_ordered", Some(
      """SELECT c_mktsegment,
        |  string_agg(DISTINCT CAST(c_nationkey AS VARCHAR) ORDER BY CAST(c_nationkey AS VARCHAR)) AS nations,
        |  count(DISTINCT c_nationkey) AS n_nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).customer
          .groupBy($"c_mktsegment")
          .agg(
            array_join(array_sort(
              collect_set($"c_nationkey".cast("string"))), ",").as("nations"),
            countDistinct($"c_nationkey").as("n_nations"))
          .orderBy("c_mktsegment")
    },

    // array_agg output serialized to CSV text so the pandas compare never
    // sees ndarray cells (driver gate can't sort those).
    Q("q_array_agg", Some(
      """SELECT c_mktsegment,
        |  array_to_string(array_agg(c_custkey ORDER BY c_custkey), ',') AS custs
        |FROM customer WHERE c_custkey <= 60
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).customer
          .filter($"c_custkey" <= 60)
          .groupBy($"c_mktsegment")
          .agg(array_join(array_sort(collect_list($"c_custkey")), ",").as("custs"))
          .orderBy("c_mktsegment")
    },

    // Ordered-set aggregates: percentile_cont/median (orderedsetaggs.c:542).
    // Spark `percentile` is the exact interpolated quantile = quantile_cont.
    Q("q_percentile", Some(
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  median(l_extendedprice) AS med_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        // buffered exact percentile: the right algorithm HERE — 3
        // groups means the window/rank-selection alternative
        // (Quantiles.exactCont, used by q_agg_percentile_user) would
        // collapse parallelism to 3 partitions; the value buffer
        // partial-aggregates on every core and merges 3 small maps.
        // One array buffer serves all three quantiles.
        Tables.T(s, dir).lineitem
          .groupBy($"l_returnflag")
          .agg(percentile($"l_quantity",
              array(lit(0.25), lit(0.5), lit(0.75))).as("ps"),
            median($"l_extendedprice").as("med_price"))
          .select($"l_returnflag", $"ps"(0).as("p25"), $"ps"(1).as("p50"),
            $"ps"(2).as("p75"), $"med_price")
          .orderBy("l_returnflag")
    },

    // Exact per-entity quantiles — the many-groups regime where the
    // aggregate value-buffer flips from friend to foe: thousands of
    // buffers merging through the shuffle vs ONE spillable window sort
    // whose parallelism ∝ group count (Quantiles.exactCont; see the
    // operator's Scaladoc for the regime matrix).
    Q("q_agg_percentile_user", Some(
      """SELECT user_id,
        |  quantile_cont(value, 0.5) AS med_value,
        |  quantile_cont(value, 0.9) AS p90_value
        |FROM events WHERE user_id < 4000
        |GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, dir) =>
      import s.implicits._
      import graft.operators.Quantiles
      Quantiles.exactCont(
        Tables.T(s, dir).events.filter($"user_id" < 4000),
        $"user_id", $"value",
        Seq(0.5 -> "med_value", 0.9 -> "p90_value"))
        .select($"__gout".as("user_id"), $"med_value", $"p90_value")
        .orderBy("user_id")
    },

    // percentile_disc(f) WITHIN GROUP (orderedsetaggs.c:404-454): the
    // discrete quantile — smallest value whose cume_dist ≥ f. Spark 3.4+
    // ships the SQL-standard WITHIN GROUP form; DuckDB's quantile_disc
    // has identical semantics (probed: sorted[ceil(f*n)]).
    Q("q_percentile_disc", Some(
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS p25,
        |  quantile_disc(l_quantity, 0.5) AS p50,
        |  quantile_disc(l_quantity, 0.75) AS p75,
        |  quantile_disc(l_extendedprice, 0.9) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        // buffered WITHIN GROUP form — few groups, small NDV: the
        // array buffer wins (see q_percentile / q_agg_percentile_user)
        Tables.T(s, dir).lineitem
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile_disc(array(0.25, 0.5, 0.75)) " +
              "WITHIN GROUP (ORDER BY l_quantity)").as("ps"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)")
              .as("p90_price"))
          .select($"l_returnflag", $"ps"(0).as("p25"), $"ps"(1).as("p50"),
            $"ps"(2).as("p75"), $"p90_price")
          .orderBy("l_returnflag")
    },

    // Exact quantiles, few-groups × huge-rows regime (verdict r7 #2):
    // the buffered aggregate above holds every group value in one
    // executor — fine for 3 groups × 50 NDV, fatal at 100 TB where a
    // group's buffer is billions of doubles. VALUE-RANGE rank selection
    // (Quantiles.rangeCont/rangeDisc) keeps memory bounded and
    // parallelism ∝ value spread: per-(group, value) counts, a
    // range-partitioned streaming prefix sum (Ranks.cumBelowGrouped),
    // and only rank-straddling rows reach the final interpolation.
    // Plan-gated in PlanSpec: no percentile buffer, no window.
    Q("q_percentile_bigrow", Some(
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS med_price,
        |  quantile_cont(l_extendedprice, 0.95) AS p95_price,
        |  quantile_disc(l_extendedprice, 0.99) AS p99_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        import graft.operators.Quantiles
        Quantiles.rangeQuantiles(
          Tables.T(s, dir).lineitem, $"l_returnflag", $"l_extendedprice",
          cont = Seq(0.5 -> "med_price", 0.95 -> "p95_price"),
          disc = Seq(0.99 -> "p99_price"))
          .select($"__gout".as("l_returnflag"),
            $"med_price", $"p95_price", $"p99_price")
          .orderBy("l_returnflag")
    },

    Q("q_agg_mode", Some(
      "SELECT mode(l_returnflag) AS modal_flag, count(*) AS n FROM lineitem")) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem
          .agg(mode($"l_returnflag").as("modal_flag"), count(lit(1)).as("n"))
    },

    // HAVING — filter over agg output.
    Q("q_agg_having", Some(
      s"""SELECT o_custkey, count(*) AS n_orders,
         |  ${Q.oSum("o_totalprice")} AS spend
         |FROM orders GROUP BY o_custkey HAVING count(*) >= 17
         |ORDER BY o_custkey""".stripMargin)) { (s, dir) =>
      import s.implicits._
      Tables.T(s, dir).orders
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"), Q.dsum($"o_totalprice").as("spend"))
        .filter($"n_orders" >= 17)
        .orderBy("o_custkey")
    },

    // PIVOT — GP ships pivot_accum helper UDFs (utils/adt/pivot.c); Spark's
    // relational pivot is the upgrade. Oracle: conditional aggregation.
    Q("q_pivot", Some(
      s"""SELECT l_returnflag,
         |  ${Q.oSum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
         |  ${Q.oSum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).lineitem
          .groupBy($"l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(Q.dsum($"l_quantity"))
          .orderBy("l_returnflag")
    },

    // Hypothetical-set aggregate rank(x) WITHIN GROUP (orderedsetaggs.c):
    // the rank a hypothetical value would take — count(v < x) + 1.
    Q("q_agg_hypothetical_rank", Some(
      """SELECT c_nationkey,
        |  count(CASE WHEN c_acctbal < 5000.0 THEN 1 END) + 1 AS rank_5000,
        |  count(*) AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).customer
          .groupBy($"c_nationkey")
          .agg((count(when($"c_acctbal" < 5000.0, 1)) + 1).as("rank_5000"),
            count(lit(1)).as("n"))
          .orderBy("c_nationkey")
    },

    // json_agg (utils/adt/json.c) → to_json(collect_list(struct)), with a
    // sort for determinism; both engines emit compact JSON.
    Q("q_json_agg", Some(
      """SELECT n_regionkey,
        |  to_json(list({'k': n_nationkey, 'n': n_name} ORDER BY n_nationkey))
        |    AS nations_json
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)) {
      (s, dir) =>
        import s.implicits._
        Tables.T(s, dir).nation
          .groupBy($"n_regionkey")
          .agg(to_json(array_sort(collect_list(
            struct($"n_nationkey".as("k"), $"n_name".as("n")))))
            .as("nations_json"))
          .orderBy("n_regionkey")
    },

    // HLL cardinality estimation (GP: gp_hyperloglog.c). Raw HLL values
    // differ across engines by design, so the oracle checks the *error
    // bound* instead: each engine asserts its own approx is within 5% of
    // the exact count — a boolean that hash-matches when both HLLs meet
    // the published accuracy, which they do at these cardinalities.
    // Sketch-based quantiles (the scale path next to the exact
    // ordered-set aggs): each engine checks its own approximate median
    // against its own exact one — same bounded-error oracle contract
    // as q_agg_approx_distinct (HLL). Sketches differ (Spark GK /
    // DuckDB t-digest), so the compared columns are the exact value
    // and the in-bound verdict.
    Q("q_agg_approx_percentile", Some(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 2) AS exact_median,
        |  abs(approx_quantile(l_extendedprice, 0.5)
        |      - quantile_cont(l_extendedprice, 0.5))
        |    / quantile_cont(l_extendedprice, 0.5) < 0.02 AS approx_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      import s.implicits._
      Tables.T(s, dir).lineitem
        .groupBy($"l_returnflag")
        .agg(
          round(percentile($"l_extendedprice", lit(0.5)), 2)
            .as("exact_median"),
          (abs(percentile_approx($"l_extendedprice", lit(0.5), lit(10000)) -
            percentile($"l_extendedprice", lit(0.5))) /
            percentile($"l_extendedprice", lit(0.5)) < 0.02)
            .as("approx_ok"))
        .orderBy("l_returnflag")
    },

    Q("q_agg_approx_distinct", Some(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |    / CAST(count(DISTINCT l_partkey) AS DOUBLE) < 0.05 AS approx_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      import s.implicits._
      Tables.T(s, dir).lineitem
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("exact_parts"),
          (abs(approx_count_distinct($"l_partkey") -
            countDistinct($"l_partkey")).cast("double") /
            countDistinct($"l_partkey").cast("double") < 0.05)
            .as("approx_ok"))
        .orderBy("l_returnflag")
    },

    // CountMin sketch point counts (MADlib sketch module
    // cmsketch_count; Cormode–Muthukrishnan 2005): depth 4 × width 256
    // md5-hashed counters over lineitem supplier keys, probed for
    // every supplier; est = min over rows, never below the exact
    // count. All state is exact integers — unrounded compare. The
    // sketch build is ONE map-side-combinable aggregate to ≤ 1024
    // cells regardless of corpus size; the probe joins the broadcast
    // sketch.
    Q("q_agg_cmsketch", Some {
      def h(j: String, k: String) = graft.operators.Sketches.Sql
        .cmHash(j, k, 256)
      s"""WITH cm AS (SELECT j, ${h("j", "l_suppkey")} AS b, count(*) AS c
         |  FROM lineitem, generate_series(0, 3) g(j) GROUP BY 1, 2),
         |probe AS (SELECT s_suppkey, j, ${h("j", "s_suppkey")} AS b
         |  FROM supplier, generate_series(0, 3) g(j)),
         |est AS (SELECT s_suppkey, min(coalesce(c, 0)) AS est
         |  FROM probe LEFT JOIN cm USING (j, b) GROUP BY 1),
         |ex AS (SELECT l_suppkey AS s_suppkey, count(*) AS exact
         |  FROM lineitem GROUP BY 1)
         |SELECT est.s_suppkey, coalesce(ex.exact, 0) AS exact, est.est
         |FROM est LEFT JOIN ex USING (s_suppkey)
         |ORDER BY s_suppkey""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val t = Tables.T(s, dir)
      val sk = graft.operators.Sketches.countMin(t.lineitem, "l_suppkey",
        depth = 4, width = 256)
      val est = graft.operators.Sketches.cmEstimate(sk, t.supplier,
        "s_suppkey", depth = 4, width = 256)
      val exact = t.lineitem.groupBy($"l_suppkey".as("s_suppkey"))
        .agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("s_suppkey"), "left")
        .select($"s_suppkey", coalesce($"exact", lit(0L)).as("exact"),
          $"est")
        .orderBy("s_suppkey")
    },

    // Flajolet–Martin PCSA distinct count (MADlib fmsketch_dcount;
    // FM85): 16 md5-selected registers OR-ing one-hot ρ bitmaps; R =
    // lowest unset bit; est = (m/φ)·2^(ΣR/m). The fractional power is
    // a 16-literal table and the integer power an exact bit shift, so
    // the only floating math is a pinned literal product — bit-equal
    // across engines (the ts_rank tabulation discipline).
    Q("q_agg_fmsketch", Some {
      val frac = graft.operators.Sketches.Sql.fracLookup("r_sum")
      s"""WITH h AS (SELECT md5(CAST(o_custkey AS VARCHAR)) AS hx
         |  FROM orders),
         |b AS (SELECT CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 16
         |      AS r,
         |    CAST(('0x' || substr(hx, 9, 12)) AS BIGINT) AS v FROM h),
         |rho AS (SELECT r, CASE WHEN v = 0 THEN 49
         |    ELSE CAST(bit_count(CAST(v & (0 - v) AS BIGINT) - 1) AS INT)
         |      + 1 END AS rho FROM b),
         |bm AS (SELECT r, bit_or(CAST(1 AS BIGINT) << (rho - 1)) AS bm
         |  FROM rho GROUP BY 1),
         |rr AS (SELECT CAST(bit_count(
         |    CAST((~bm) & (bm + 1) AS BIGINT) - 1) AS BIGINT) AS rr
         |  FROM bm),
         |s AS (SELECT CAST(sum(rr) AS BIGINT) AS r_sum FROM rr),
         |ex AS (SELECT count(DISTINCT o_custkey) AS exact FROM orders)
         |SELECT r_sum,
         |  round(CAST('${graft.operators.Sketches.fmScale16}' AS DOUBLE)
         |    * CAST(CAST(1 AS BIGINT) << CAST(r_sum // 16 AS INT)
         |        AS DOUBLE)
         |    * ($frac), 4) AS est,
         |  exact
         |FROM s CROSS JOIN ex""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val t = Tables.T(s, dir)
      val fm = graft.operators.Sketches.fmSketch(t.orders, "o_custkey")
      val exact = t.orders.agg(countDistinct($"o_custkey").as("exact"))
      fm.crossJoin(exact)
    },

    // Association-rule mining (MADlib assoc_rules parity; Apriori,
    // Agrawal & Srikant VLDB'94): parts co-ordered within an order, all
    // single-antecedent rules over min support/confidence. Candidate
    // pairs are a per-order equi-join — never part × part (plan-gated).
    // Ratio columns are single IEEE divisions of exact longs, identical
    // in both engines, so no rounding discipline is needed.
    Q("q_ml_assoc", Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS txn, l_partkey AS item
        |           FROM lineitem),
        |n AS (SELECT count(DISTINCT txn) AS n_txn FROM b),
        |ic AS (SELECT item, count(*) AS item_n FROM b GROUP BY 1),
        |p AS (SELECT a.item AS ante, c.item AS cons, count(*) AS pair_n
        |      FROM b a JOIN b c ON a.txn = c.txn AND a.item <> c.item
        |      GROUP BY 1, 2)
        |SELECT ante, cons, pair_n, ante_n, cons_n,
        |  support, confidence, lift
        |FROM (
        |  SELECT p.ante, p.cons, p.pair_n,
        |    ia.item_n AS ante_n, ci.item_n AS cons_n,
        |    CAST(p.pair_n AS DOUBLE) / CAST(n.n_txn AS DOUBLE) AS support,
        |    CAST(p.pair_n AS DOUBLE) / CAST(ia.item_n AS DOUBLE)
        |      AS confidence,
        |    (CAST(p.pair_n AS DOUBLE) / CAST(ia.item_n AS DOUBLE))
        |      / (CAST(ci.item_n AS DOUBLE) / CAST(n.n_txn AS DOUBLE))
        |      AS lift
        |  FROM p JOIN ic ia ON p.ante = ia.item
        |         JOIN ic ci ON p.cons = ci.item
        |         CROSS JOIN n)
        |WHERE support >= 0.0002 AND confidence >= 0.05
        |ORDER BY ante, cons""".stripMargin)) { (s, dir) =>
      graft.operators.Association.assocRules(
        Tables.T(s, dir).lineitem, "l_orderkey", "l_partkey",
        minSupport = 0.0002, minConfidence = 0.05)
        .orderBy("ante", "cons")
    },

    // Two-antecedent association rules (MADlib assoc_rules max_LHS=2 —
    // the level-3 Apriori pass with the anti-monotone prune: only
    // frequent 2-itemsets extend to triples). Items are part FAMILIES
    // (l_partkey % 100) so co-occurrence density is scale-stable and
    // the thresholds behave like real market-basket data. Counts
    // exact; ratios are IEEE doubles of exact longs — unrounded.
    Q("q_ml_assoc2", Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS txn,
        |    l_partkey % 30 AS item FROM lineitem),
        |n AS (SELECT count(DISTINCT txn) AS n_txn FROM b),
        |ic AS (SELECT item, count(*) AS item_n FROM b GROUP BY 1),
        |ps AS (SELECT a.txn, a.item AS a1, c.item AS a2
        |  FROM b a JOIN b c ON a.txn = c.txn AND a.item < c.item),
        |pc AS (SELECT a1, a2, count(*) AS pair2_n FROM ps GROUP BY 1, 2),
        |fp AS (SELECT a1, a2, pair2_n FROM pc CROSS JOIN n
        |  WHERE CAST(pair2_n AS DOUBLE) / CAST(n_txn AS DOUBLE)
        |    >= 0.0005),
        |tr AS (SELECT ps.a1, ps.a2, e.item AS cons, count(*) AS triple_n
        |  FROM ps JOIN fp ON ps.a1 = fp.a1 AND ps.a2 = fp.a2
        |  JOIN b e ON e.txn = ps.txn
        |    AND e.item <> ps.a1 AND e.item <> ps.a2
        |  GROUP BY 1, 2, 3)
        |SELECT a1, a2, cons, triple_n, pair2_n, cons_n,
        |  support, confidence, lift
        |FROM (SELECT tr.a1, tr.a2, tr.cons, tr.triple_n, fp.pair2_n,
        |    ic.item_n AS cons_n,
        |    CAST(tr.triple_n AS DOUBLE) / CAST(n.n_txn AS DOUBLE)
        |      AS support,
        |    CAST(tr.triple_n AS DOUBLE) / CAST(fp.pair2_n AS DOUBLE)
        |      AS confidence,
        |    (CAST(tr.triple_n AS DOUBLE) / CAST(fp.pair2_n AS DOUBLE))
        |      / (CAST(ic.item_n AS DOUBLE) / CAST(n.n_txn AS DOUBLE))
        |      AS lift
        |  FROM tr JOIN fp ON tr.a1 = fp.a1 AND tr.a2 = fp.a2
        |       JOIN ic ON tr.cons = ic.item
        |       CROSS JOIN n)
        |WHERE support >= 0.0005 AND confidence >= 0.05
        |ORDER BY a1, a2, cons""".stripMargin)) { (s, dir) =>
      import s.implicits._
      graft.operators.Association.assocRules2(
        Tables.T(s, dir).lineitem.select($"l_orderkey",
          ($"l_partkey" % 30).as("fam")),
        "l_orderkey", "fam",
        minSupport = 0.0005, minConfidence = 0.05)
        .orderBy("a1", "a2", "cons")
    },

    // Benford first-digit screen (the classic fraud / data-quality
    // test): leading-digit distribution of order totals vs Benford's
    // log10(1+1/d). The digit comes from the EXACT cents integer's
    // string head (no log10 on the data path), and the nine Benford
    // constants are computed once in Scala and embedded as identical
    // literals on both sides — zero libm exposure anywhere.
    Q("q_quality_benford", Some {
      val exp = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
      // string-literal → DOUBLE casts: a bare 17-digit decimal literal
      // goes through DECIMAL(int128) → double, which DOUBLE-ROUNDS one
      // ulp off (measured on log10(4/3)); strtod on the string parses
      // round-to-nearest like the JVM, and per-branch casts also stop
      // CASE from re-unifying branch types
      val expCase = exp.map { case (d, e) =>
        s"WHEN '$d' THEN CAST('$e' AS DOUBLE)" }
        .mkString("CASE digit ", " ", " END")
      s"""WITH d AS (SELECT substr(CAST(CAST(floor(o_totalprice * 100
         |      + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS digit
         |  FROM orders),
         |c AS (SELECT digit, count(*) AS n_d FROM d GROUP BY 1),
         |t AS (SELECT sum(n_d) AS n FROM c)
         |SELECT digit, CAST(n_d AS BIGINT) AS n_d,
         |  CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE) AS share,
         |  CAST(($expCase) AS DOUBLE) AS expected,
         |  abs(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)
         |      - CAST(($expCase) AS DOUBLE)) AS abs_dev
         |FROM c CROSS JOIN t ORDER BY digit""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val exp = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
      val expCol = exp.foldLeft(lit(null).cast("double")) {
        case (e, (d, v)) => when($"digit" === d.toString, v).otherwise(e)
      }
      val c = Tables.T(s, dir).orders
        .select(substring(floor($"o_totalprice" * 100 + lit(0.5))
          .cast("long").cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_d"))
      val t = c.agg(sum($"n_d").as("n"))
      c.join(broadcast(t))
        .select($"digit", $"n_d".cast("long").as("n_d"),
          ($"n_d".cast("double") / $"n".cast("double")).as("share"),
          expCol.as("expected"),
          abs($"n_d".cast("double") / $"n".cast("double") - expCol)
            .as("abs_dev"))
        .orderBy("digit")
    },

    // Pairwise Pearson correlation matrix (MADlib correlation()
    // parity): ONE moment aggregate under split-sum discipline feeds
    // every pair — profiling correlations on a 100 TB table costs one
    // scan; the pair expansion is a map-only inline explode of the
    // single moment row. Output rounds at 1e-9: the big moment sums
    // (~1e14 micros) pick up one-ulp decimal→double conversion skew
    // between engines, which the nano-round absorbs.
    Q("q_ml_corr", Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val moments = (cols.map(c =>
        s"${Q.oSum(c, 6)} AS s_$c") ++
        (for (a <- cols; b <- cols if a <= b) yield
          s"${Q.oSum(s"$a * $b", 6)} AS s_${a}_$b") :+
        "CAST(count(*) AS DOUBLE) AS n").mkString(",\n  ")
      val pairs = for (a <- cols; b <- cols if a < b) yield {
        val cov = s"(s_${a}_$b - s_$a * s_$b / n)"
        val va = s"(s_${a}_$a - s_$a * s_$a / n)"
        val vb = s"(s_${b}_$b - s_$b * s_$b / n)"
        s"SELECT '$a' AS col_a, '$b' AS col_b, " +
          s"floor($cov / sqrt($va * $vb) * 1000000000 + 0.5) " +
          s"/ 1000000000 AS corr FROM m"
      }
      s"""WITH m AS (SELECT
         |  $moments
         |FROM lineitem)
         |${pairs.mkString("\nUNION ALL\n")}
         |ORDER BY col_a, col_b""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = cols.map(c => Q.dsum(col(c), 6).as(s"s_$c")) ++
        (for (a <- cols; b <- cols if a <= b)
          yield Q.dsum(col(a) * col(b), 6).as(s"s_${a}_$b")) :+
        count(lit(1)).cast("double").as("n")
      val m = Tables.T(s, dir).lineitem.agg(aggs.head, aggs.tail: _*)
      val pairs = for (a <- cols; b <- cols if a < b) yield {
        val cov = col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b") / $"n"
        val va = col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a") / $"n"
        val vb = col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b") / $"n"
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          (floor(cov / sqrt(va * vb) * lit(1000000000L) + lit(0.5))
            / lit(1000000000L)).as("corr"))
      }
      m.select(explode(array(pairs: _*)).as("r")).select($"r.*")
        .orderBy("col_a", "col_b")
    },

    // Spearman rank correlation (the robust companion to q_ml_corr's
    // Pearson): ρ = Pearson over average-tie midranks. Spark ranks via
    // Ranks.cumBelow's distributed prefix sum over the DISTINCT-value
    // relation (never a single-partition corpus window — the q_ml_auc
    // discipline); the oracle's rank()+count() windows produce the
    // identical half-integer midranks, and both engines run the same
    // pinned-order ρ on split-sum-exact moments.
    Q("q_ml_spearman", Some(
      s"""WITH src AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
         |    CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
         |r AS (SELECT
         |    rank() OVER (ORDER BY x)
         |      + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS r_x,
         |    rank() OVER (ORDER BY y)
         |      + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS r_y
         |  FROM src),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    ${Q.oSum("r_x", 6)} AS sx, ${Q.oSum("r_y", 6)} AS sy,
         |    ${Q.oSum("r_x * r_x", 6)} AS sxx,
         |    ${Q.oSum("r_y * r_y", 6)} AS syy,
         |    ${Q.oSum("r_x * r_y", 6)} AS sxy
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n,
         |  round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx)
         |    * sqrt(n * syy - sy * sy)), 6) AS rho
         |FROM m""".stripMargin)) { (s, dir) =>
      graft.operators.Stats.spearman(Tables.T(s, dir).lineitem,
        "l_quantity", "l_extendedprice")
    },

    // Kendall τ-b from the contingency table (never row pairs): C/D
    // are exact-integer sums of n_a·n_b over ordered cell pairs
    // (HUGEINT/DECIMAL(38) — C ~ n²/4 passes 2^63 at scale); the τ
    // ratio converts each exact integer to double separately with a
    // pinned multiply, identical across engines.
    Q("q_ml_kendall", Some(
      """WITH cells AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_discount AS DOUBLE) AS y, count(*) AS nc
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT
        |    sum(CASE WHEN a.y < b.y THEN CAST(a.nc AS HUGEINT) * b.nc
        |        ELSE 0 END) AS c,
        |    sum(CASE WHEN a.y > b.y THEN CAST(a.nc AS HUGEINT) * b.nc
        |        ELSE 0 END) AS d
        |  FROM cells a JOIN cells b ON a.x < b.x),
        |mx AS (SELECT sum(CAST(tx AS HUGEINT) * (tx - 1) // 2) AS n1
        |  FROM (SELECT sum(nc) AS tx FROM cells GROUP BY x)),
        |my AS (SELECT sum(CAST(ty AS HUGEINT) * (ty - 1) // 2) AS n2
        |  FROM (SELECT sum(nc) AS ty FROM cells GROUP BY y)),
        |t AS (SELECT CAST(sum(nc) AS BIGINT) AS n,
        |    CAST(sum(nc) AS HUGEINT) * (sum(nc) - 1) // 2 AS n0
        |  FROM cells)
        |SELECT n, CAST(c AS DOUBLE) AS c, CAST(d AS DOUBLE) AS d,
        |  round(CAST(c - d AS DOUBLE)
        |    / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 6)
        |    AS tau
        |FROM p, t, mx, my""".stripMargin)) { (s, dir) =>
      graft.operators.Stats.kendallTauB(Tables.T(s, dir).lineitem,
        "l_quantity", "l_discount")
    },

    // Column-profile report (MADlib summary() parity): melt the row to
    // (col_name, value) pairs (map-only inline explode — still ONE
    // scan, plan-gated), count per distinct value with map-side
    // combine, then roll the Σ-NDV-sized value-count relation up per
    // column. This deliberately avoids the one-aggregate multi-DISTINCT
    // formulation: its Expand×(k+1) with near-distinct 4-double keys
    // spilled badly in suite context (measured 3 s isolated → 21 s deep
    // in the bench sweep); here the only wide state is (col, value)
    // counts, and the weighted mean re-derives the EXACT per-row
    // split-sum integers (Σ floor(v·1e6+.5) = Σ floor(v·1e6+.5)·cnt).
    Q("q_profile_summary", Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count($c) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  count(DISTINCT $c) AS ndv, min($c) AS vmin, max($c) AS vmax,
           |  ${Q.oAvg(c, 6)} AS vmean
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }) { (s, dir) =>
      import s.implicits._
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val per = Tables.T(s, dir).lineitem
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"), col(c).as("v"))): _*)).as("r"))
        .select($"r.*")
        .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
      // weighted split-sum mean, mirroring Q.davg's exact op order
      val v6 = floor($"v" * lit(1000000d) + lit(0.5)).cast("long")
      val hi = floor(v6 / lit(1000000d)).cast("long")
      val lo = v6 - hi * lit(1000000L)
      per.groupBy("col_name").agg(
          sum(when($"v".isNotNull, $"cnt").otherwise(0L)).as("n"),
          sum(when($"v".isNull, $"cnt").otherwise(0L)).as("n_nulls"),
          sum(when($"v".isNotNull, 1L).otherwise(0L)).as("ndv"),
          min($"v").as("vmin"), max($"v").as("vmax"),
          round((sum(hi * $"cnt")
              .cast(org.apache.spark.sql.types.DecimalType(38, 0))
              * lit(1000000L) + sum(lo * $"cnt"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 6))
            .cast("double") / lit(1000000d)
            / sum(when($"v".isNotNull, $"cnt").otherwise(0L)), 6)
            .as("vmean"))
        .orderBy("col_name")
    }
  )
}
