package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.queries.Q

/** In-database multivariate linear regression — the MADlib
  * `linregr_train` surface (Hellerstein et al. 2012, "The MADlib
  * Analytics Library", public method; the reference warehouse ships
  * MADlib for exactly this) re-expressed as ONE Spark aggregate:
  * the OLS normal equations X'X b = X'y need only the second-moment
  * sums, so training is a single groupBy with map-side partial
  * aggregation and the solve is closed-form column algebra (Cramer's
  * rule for the 3×3 system) — no iteration, no driver math, no
  * collect.
  *
  * Scale: the shuffled state per group is 10 doubles regardless of row
  * count; 100 TB of rows train in one pass at scan speed. Sums use the
  * [[graft.queries.Q.dsum]] split-integer discipline so they are exact
  * and shuffle-order-independent — the fitted coefficients are
  * bit-reproducible across cluster sizes (MADlib's merge-state floats
  * are not). */
object Regression {

  /** det([a b c]) for column-vector triples, expanded in a FIXED
    * operation order both engines can spell identically. */
  private def det3(
      a: (Column, Column, Column), b: (Column, Column, Column),
      c: (Column, Column, Column)): Column =
    a._1 * (b._2 * c._3 - b._3 * c._2) -
      a._2 * (b._1 * c._3 - b._3 * c._1) +
      a._3 * (b._1 * c._2 - b._2 * c._1)

  /** Per-group OLS fit of `y ~ b0 + b1*x1 + b2*x2`. Returns one row per
    * group: (grp, n, b0, b1, b2, r2). Groups whose normal matrix is
    * singular (constant features, n < 3) yield NULL coefficients rather
    * than a division error. */
  def olsFit2(
      df: DataFrame, groupCol: String, yCol: String,
      x1Col: String, x2Col: String): DataFrame = {
    val (y, x1, x2) = (col(yCol), col(x1Col), col(x2Col))
    val agg = df.groupBy(col(groupCol).as("grp")).agg(
      count(lit(1)).cast("double").as("n"),
      Q.dsum(x1, 6).as("sx1"), Q.dsum(x2, 6).as("sx2"),
      Q.dsum(y, 6).as("sy"),
      Q.dsum(x1 * x1, 6).as("sx11"), Q.dsum(x2 * x2, 6).as("sx22"),
      Q.dsum(x1 * x2, 6).as("sx12"),
      Q.dsum(x1 * y, 6).as("sx1y"), Q.dsum(x2 * y, 6).as("sx2y"),
      Q.dsum(y * y, 6).as("syy"))
    val c0 = (col("n"), col("sx1"), col("sx2"))
    val c1 = (col("sx1"), col("sx11"), col("sx12"))
    val c2 = (col("sx2"), col("sx12"), col("sx22"))
    val r = (col("sy"), col("sx1y"), col("sx2y"))
    val det = det3(c0, c1, c2)
    val b0 = det3(r, c1, c2) / det
    val b1 = det3(c0, r, c2) / det
    val b2 = det3(c0, c1, r) / det
    val sse = col("syy") -
      (b0 * col("sy") + b1 * col("sx1y") + b2 * col("sx2y"))
    val sst = col("syy") - col("sy") * col("sy") / col("n")
    agg.select(col("grp"), col("n").cast("long").as("n"),
      when(abs(det) > lit(1e-9), b0).as("b0"),
      when(abs(det) > lit(1e-9), b1).as("b1"),
      when(abs(det) > lit(1e-9), b2).as("b2"),
      when(abs(det) > lit(1e-9) && sst > lit(0.0), lit(1.0) - sse / sst)
        .as("r2"))
  }

  /** Per-group logistic regression `P(y=1) = σ(b0 + b1*x1 + b2*x2)` by
    * Newton/IRLS with a FIXED iteration count — MADlib `logregr_train`
    * (Hellerstein et al. 2012; the Newton update is the textbook IRLS
    * step b += (X'WX)⁻¹ X'(y−μ), W = μ(1−μ)). Each iteration is ONE
    * aggregate pass collecting the 9 weighted moments + 3 gradient
    * sums, then the same closed-form 3×3 Cramer solve as [[olsFit2]] —
    * per-group coefficient state lives in a catalog-scale DataFrame
    * broadcast-joined back to the rows, never on the driver.
    *
    * Scale: iteration count is fixed (Newton converges quadratically;
    * 4 rounds reach fp precision on separable-free data), so the whole
    * fit is `iters` scans with map-side partial aggregation — the same
    * shape MADlib runs per segment. Groups with a singular weighted
    * normal matrix keep their previous coefficients (guard, no crash).
    * Returns (grp, n, b0, b1, b2). */
  def logregFit2(
      df: DataFrame, groupCol: String, yCol: String,
      x1Col: String, x2Col: String, iterations: Int = 4): DataFrame = {
    // the projection is re-scanned every Newton round — cache it once,
    // pipeline-scoped (KernelCaches: released by the consuming driver
    // after its action), so iterations read columnar memory not parquet
    val rows = df.select(col(groupCol).as("grp"),
      col(yCol).cast("double").as("y"),
      col(x1Col).cast("double").as("x1"), col(x2Col).cast("double").as("x2"))
      .transform(KernelCaches.cacheParallel)
    var coef = rows.select(col("grp")).distinct()
      .select(col("grp"), lit(0.0).as("b0"), lit(0.0).as("b1"),
        lit(0.0).as("b2"))
    for (_ <- 0 until iterations) {
      val z = col("b0") + col("b1") * col("x1") + col("b2") * col("x2")
      val mu = lit(1.0) / (lit(1.0) + exp(-z))
      val w = mu * (lit(1.0) - mu)
      val res = col("y") - mu
      val m = rows.join(broadcast(coef), "grp")
        .select(col("grp"), col("b0"), col("b1"), col("b2"),
          w.as("w"), res.as("res"), col("x1"), col("x2"))
        .groupBy("grp", "b0", "b1", "b2")
        .agg(count(lit(1)).as("n"),
          sum(col("w")).as("sw"),
          sum(col("w") * col("x1")).as("swx1"),
          sum(col("w") * col("x2")).as("swx2"),
          sum(col("w") * col("x1") * col("x1")).as("swx11"),
          sum(col("w") * col("x2") * col("x2")).as("swx22"),
          sum(col("w") * col("x1") * col("x2")).as("swx12"),
          sum(col("res")).as("g0"),
          sum(col("res") * col("x1")).as("g1"),
          sum(col("res") * col("x2")).as("g2"))
      val c0 = (col("sw"), col("swx1"), col("swx2"))
      val c1 = (col("swx1"), col("swx11"), col("swx12"))
      val c2 = (col("swx2"), col("swx12"), col("swx22"))
      val g = (col("g0"), col("g1"), col("g2"))
      val det = det3(c0, c1, c2)
      val ok = abs(det) > lit(1e-12)
      coef = m.select(col("grp"), col("n"),
        when(ok, col("b0") + det3(g, c1, c2) / det).otherwise(col("b0"))
          .as("b0"),
        when(ok, col("b1") + det3(c0, g, c2) / det).otherwise(col("b1"))
          .as("b1"),
        when(ok, col("b2") + det3(c0, c1, g) / det).otherwise(col("b2"))
          .as("b2"))
        .select(col("grp"), col("b0"), col("b1"), col("b2"), col("n"))
    }
    coef.select(col("grp"), col("n"), col("b0"), col("b1"), col("b2"))
  }

  /** Multinomial softmax regression at ANY class count × ANY feature
    * count — MADlib `multinom` (the true softmax MLE, not
    * one-vs-rest), fitted by FULL-BATCH gradient descent with a fixed
    * epoch count (the [[svmFitK]] / MLP determinism choice; MADlib's
    * IGD becomes deterministic full-batch).
    *
    * Transcendental discipline (NOTES): exp outputs micros-quantize,
    * so softmax denominators are exact micros sums and p_k is an
    * identical double in both engines; gradient terms micros-quantize
    * pre-sum ([[graft.queries.Q.dsum]]); β micros-quantizes per
    * epoch — a DuckDB unroll of the identical recursion is bit-equal
    * unrounded. Class `classes(0)` is the zero-parameter reference
    * (the standard identifiable parameterization). ONE aggregate per
    * epoch of (K−1)(F+1) gradient sums; coefficients a 1-row
    * broadcast, lineage cut per epoch. Returns (cls, n, b0 … bF) per
    * non-reference class. */
  def multinomFitK(
      df: DataFrame, labelCol: String, classes: Seq[String],
      xCols: Seq[String], epochs: Int = 5, eta: Double = 1.0)
      : DataFrame = {
    require(classes.length >= 2, "multinomFitK needs >= 2 classes")
    require(epochs > 0,
      "multinomFitK needs epochs >= 1 (the n column joins the " +
        "coefficient row inside the epoch loop)")
    val spark = df.sparkSession
    val kk = classes.length
    val p = xCols.length + 1
    var ykc = when(col(labelCol) === classes(1), 1)
    for (k <- 2 until kk) ykc = ykc.when(col(labelCol) === classes(k), k)
    val rows = df.select(ykc.otherwise(0).as("yk") +:
      xCols.zipWithIndex.map { case (cn, i) =>
        col(cn).cast("double").as(s"x${i + 1}") }: _*)
      .transform(KernelCaches.cacheParallel)
    def q6c(c: Column): Column =
      floor(c * lit(1000000d) + lit(0.5)) / lit(1000000d)
    val bnames =
      for { k <- 1 until kk; j <- 0 until p } yield s"b_${k}_$j"
    // 1-row coefficient state driver-ferried as a LocalRelation (the
    // logregFitK r9 shape: exact binary round-trip, no checkpoint /
    // broadcast-build jobs per epoch); the softmax probabilities are
    // pre-projected below the aggregate (the oracle's inner-SELECT
    // shape), so each gradient sum is a 3-term product instead of an
    // inlined K-way exp/softmax chain
    val stSchema = org.apache.spark.sql.types.StructType(
      bnames.map(n => org.apache.spark.sql.types.StructField(
        n, org.apache.spark.sql.types.DoubleType)) :+
        org.apache.spark.sql.types.StructField(
          "n", org.apache.spark.sql.types.LongType))
    var stRow: org.apache.spark.sql.Row =
      org.apache.spark.sql.Row.fromSeq(Seq.fill(bnames.size)(0.0) :+ 0L)
    def local(): DataFrame = spark.createDataFrame(
      java.util.Collections.singletonList(stRow), stSchema)
    val xs: Seq[Column] =
      lit(1.0) +: (1 to xCols.length).map(i => col(s"x$i"))
    for (_ <- 0 until epochs) {
      val es = (1 until kk).map { k =>
        val z = (0 until p).map(j =>
          if (j == 0) col(s"b_${k}_0")
          else col(s"b_${k}_$j") * xs(j)).reduce(_ + _)
        k -> q6c(exp(z))
      }.toMap
      val den = (1 until kk).foldLeft(lit(1.0): Column)(
        (acc, k) => acc + es(k))
      val preCols: Seq[Column] = bnames.map(col) ++
        (0 until p).map(j => xs(j).as(s"xx_$j")) ++
        Seq(col("yk")) ++
        (1 until kk).map(k => (es(k) / den).as(s"p_$k"))
      val pre = rows.crossJoin(broadcast(local().drop("n")))
        .select(preCols: _*)
      def gcol(k: Int, j: Int): Column =
        Q.dsum(q6c(
          (when(col("yk") === k, 1.0).otherwise(0.0) - col(s"p_$k"))
            * col(s"xx_$j")), 6)
      val aggs = count(lit(1)).as("n") +:
        (for { k <- 1 until kk; j <- 0 until p }
          yield gcol(k, j).as(s"g_${k}_$j"))
      val m = pre
        .groupBy(bnames.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      stRow = m.select(
        (for { k <- 1 until kk; j <- 0 until p } yield
          q6c(col(s"b_${k}_$j") +
            lit(eta) * col(s"g_${k}_$j") / col("n").cast("double"))
            .as(s"b_${k}_$j")) :+ col("n"): _*)
        .head()
    }
    val r = stRow
    val n = r.getAs[Long]("n")
    val out = (1 until kk).map { k =>
      Row.fromSeq(k +: n +:
        (0 until p).map(j => r.getAs[Double](s"b_${k}_$j")))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("cls",
        org.apache.spark.sql.types.IntegerType) +:
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType) +:
        (0 until p).map(j => org.apache.spark.sql.types.StructField(
          s"b$j", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      schema)
  }

  /** DuckDB oracle for [[multinomFitK]] — the identical GD unroll:
    * per epoch one CROSS JOIN to the 1-row state, quantized exp /
    * softmax, oSum gradient sums, quantized update. `ykExpr` must
    * yield 0..K−1 matching the Spark side's class indexing. */
  def multinomKOracleSql(
      table: String, ykExpr: String, xExprs: Seq[String],
      numClasses: Int, epochs: Int = 5): String = {
    val kk = numClasses
    val p = xExprs.length + 1
    def q6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
    val xsSel = xExprs.zipWithIndex.map { case (e, i) =>
      s"CAST($e AS DOUBLE) AS x${i + 1}" }.mkString(", ")
    val xs = "1.0e0" +: (1 to xExprs.length).map(i => s"x$i")
    def z(k: Int) = (0 until p).map(j =>
      if (j == 0) s"b_${k}_0" else s"b_${k}_$j * x$j").mkString(" + ")
    val bcols =
      (for { k <- 1 until kk; j <- 0 until p } yield s"b_${k}_$j")
    val den = "1.0e0 + " + (1 until kk).map(k => s"e_$k").mkString(" + ")
    def g(k: Int, j: Int) = Q.oSum(q6(
      s"((CASE WHEN yk = $k THEN 1.0e0 ELSE 0.0e0 END) - p_$k) * " +
        xs(j)), 6)
    val rounds = (1 to epochs).map { i =>
      val gsel = (for { k <- 1 until kk; j <- 0 until p }
        yield s"${g(k, j)} AS g_${k}_$j").mkString(",\n    ")
      val esel = (1 until kk)
        .map(k => s"${q6(s"exp(${z(k)})")} AS e_$k").mkString(", ")
      val psel = (1 until kk)
        .map(k => s"e_$k / ($den) AS p_$k").mkString(", ")
      val upd = bcols.map(b =>
        s"${q6(s"$b + 1.0e0 * ${b.replace("b_", "g_")} / " +
          "CAST(n AS DOUBLE)")} AS $b").mkString(",\n    ")
      s"""m$i AS (SELECT ${bcols.mkString(", ")}, count(*) AS n,
         |    $gsel
         |  FROM (SELECT s.*, $psel
         |    FROM (SELECT st.*, r2.yk, ${(1 until p)
        .map(j => s"r2.x$j").mkString(", ")},
         |        $esel
         |      FROM r r2 CROSS JOIN st${i - 1} st) s) q
         |  GROUP BY ${bcols.mkString(", ")}),
         |st$i AS (SELECT $upd, n
         |  FROM m$i)""".stripMargin
    }.mkString(",\n")
    val finals = (1 until kk).map { k =>
      s"SELECT $k AS cls, CAST(n AS BIGINT) AS n, ${(0 until p)
        .map(j => s"b_${k}_$j AS b$j").mkString(", ")} FROM st$epochs"
    }.mkString("\nUNION ALL\n")
    s"""WITH r AS (SELECT ($ykExpr) AS yk, $xsSel FROM $table),
       |st0 AS (SELECT ${bcols
      .map(b => s"CAST(0 AS DOUBLE) AS $b").mkString(", ")}),
       |$rounds
       |$finals
       |ORDER BY cls""".stripMargin
  }

  /** Heteroskedasticity-robust (White/HC0 sandwich) standard errors
    * for the 2-feature OLS fit — MADlib `robust_variance_linregr`
    * (Huber–White): Var(β) = A⁻¹ M A⁻¹ with bread A = X'X and meat
    * M = Σ xᵢxᵢᵀ eᵢ². Two corpus scans: (1) the [[olsFit2]] moment
    * pass → β, micros-quantized so both engines compute identical
    * residuals; (2) ONE aggregate collecting the bread moments AND
    * the six meat moments with β as literals. The 3×3 inverse goes
    * through the symmetric adjugate: se_k = √(v_k M v_kᵀ)/|det(A)|
    * where v_k is adjugate row k — pure pinned double algebra over
    * split-sum-exact moments, identical cross-engine unrounded.
    * Returns one row (n, b0, b1, b2, se_b0, se_b1, se_b2). */
  def robustSe2(
      df: DataFrame, yCol: String, x1Col: String, x2Col: String)
      : DataFrame = {
    val fit = olsFit2(df.withColumn("__g", lit(1)), "__g",
      yCol, x1Col, x2Col).head()
    def q6(x: Double) = math.floor(x * 1000000d + 0.5) / 1000000d
    val (b0, b1, b2) = (q6(fit.getDouble(2)), q6(fit.getDouble(3)),
      q6(fit.getDouble(4)))
    val (y, x1, x2) = (col(yCol).cast("double"),
      col(x1Col).cast("double"), col(x2Col).cast("double"))
    val e = y - lit(b0) - lit(b1) * x1 - lit(b2) * x2
    val m = df.agg(
      count(lit(1)).cast("double").as("n"),
      Q.dsum(x1, 6).as("s1"), Q.dsum(x2, 6).as("s2"),
      Q.dsum(x1 * x1, 6).as("s11"), Q.dsum(x2 * x2, 6).as("s22"),
      Q.dsum(x1 * x2, 6).as("s12"),
      Q.dsum(e * e, 6).as("m0"),
      Q.dsum(e * e * x1, 6).as("m01"), Q.dsum(e * e * x2, 6).as("m02"),
      Q.dsum(e * e * x1 * x1, 6).as("m11"),
      Q.dsum(e * e * x1 * x2, 6).as("m12"),
      Q.dsum(e * e * x2 * x2, 6).as("m22"))
    // symmetric adjugate of A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]]
    val det = (col("n") * (col("s11") * col("s22") - col("s12") * col("s12"))
      - col("s1") * (col("s1") * col("s22") - col("s12") * col("s2"))
      + col("s2") * (col("s1") * col("s12") - col("s11") * col("s2")))
    val c00 = col("s11") * col("s22") - col("s12") * col("s12")
    val c01 = (col("s1") * col("s22") - col("s12") * col("s2")) * -1.0
    val c02 = col("s1") * col("s12") - col("s11") * col("s2")
    val c11 = col("n") * col("s22") - col("s2") * col("s2")
    val c12 = (col("n") * col("s12") - col("s1") * col("s2")) * -1.0
    val c22 = col("n") * col("s11") - col("s1") * col("s1")
    def quad(v0: Column, v1: Column, v2: Column): Column =
      v0 * v0 * col("m0") + v1 * v1 * col("m11") + v2 * v2 * col("m22") +
        (v0 * v1 * col("m01")) * 2.0 + (v0 * v2 * col("m02")) * 2.0 +
        (v1 * v2 * col("m12")) * 2.0
    m.select(col("n").cast("long").as("n"),
      lit(b0).as("b0"), lit(b1).as("b1"), lit(b2).as("b2"),
      (sqrt(quad(c00, c01, c02)) / abs(det)).as("se_b0"),
      (sqrt(quad(c01, c11, c12)) / abs(det)).as("se_b1"),
      (sqrt(quad(c02, c12, c22)) / abs(det)).as("se_b2"))
  }

  /** Poisson regression `E[y] = exp(b0 + b1*x1 + b2*x2)` by
    * Newton/IRLS with a FIXED iteration count — MADlib `glm` with
    * family=poisson, link=log (the third member of the GLM family
    * beside [[olsFit2]] gaussian and [[logregFit2]] binomial). The
    * Newton step is b += (X'WX)⁻¹X'(y−μ) with W = diag(μ) — same
    * one-aggregate-per-round moment shape and Cramer 3×3 solve as the
    * logistic fit.
    *
    * Init b0 = ln(ȳ) (the standard GLM start: μ₀ = ȳ; from β = 0 the
    * first Newton step targets mean(y)−1 on the log scale and exp
    * overflows). ȳ is split-sum exact; the ln result rounds to micros
    * so both engines iterate from the identical β. Output compares at
    * round(4) — the smooth-IRLS discipline q_agg_logreg established.
    * Returns one row (n, b0, b1, b2). */
  def poissonFit2(
      df: DataFrame, yCol: String, x1Col: String, x2Col: String,
      iterations: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(yCol).cast("double").as("y"),
      col(x1Col).cast("double").as("x1"), col(x2Col).cast("double").as("x2"))
      .transform(KernelCaches.cacheParallel)
    val h = rows.agg(count(lit(1)).as("n"), Q.dsum(col("y"), 6).as("sy"))
      .head()
    val (n0, sy) = (h.getLong(0), h.getDouble(1))
    require(n0 > 0 && sy > 0,
      s"poissonFit2: needs rows with positive mean response (n=$n0)")
    def q6d(x: Double) = math.floor(x * 1000000d + 0.5) / 1000000d
    val b0Init = q6d(math.log(sy / n0))
    var coef = Seq((b0Init, 0.0, 0.0)).toDF("b0", "b1", "b2")
    for (_ <- 0 until iterations) {
      val mu = exp(col("b0") + col("b1") * col("x1") +
        col("b2") * col("x2"))
      val m = rows.crossJoin(broadcast(coef))
        .select(col("b0"), col("b1"), col("b2"), mu.as("w"),
          (col("y") - mu).as("res"), col("x1"), col("x2"))
        .groupBy("b0", "b1", "b2")
        .agg(count(lit(1)).as("n"),
          sum(col("w")).as("sw"),
          sum(col("w") * col("x1")).as("swx1"),
          sum(col("w") * col("x2")).as("swx2"),
          sum(col("w") * col("x1") * col("x1")).as("swx11"),
          sum(col("w") * col("x2") * col("x2")).as("swx22"),
          sum(col("w") * col("x1") * col("x2")).as("swx12"),
          sum(col("res")).as("g0"),
          sum(col("res") * col("x1")).as("g1"),
          sum(col("res") * col("x2")).as("g2"))
      val c0 = (col("sw"), col("swx1"), col("swx2"))
      val c1 = (col("swx1"), col("swx11"), col("swx12"))
      val c2 = (col("swx2"), col("swx12"), col("swx22"))
      val g = (col("g0"), col("g1"), col("g2"))
      val det = det3(c0, c1, c2)
      val ok = abs(det) > lit(1e-12)
      coef = m.select(
        when(ok, col("b0") + det3(g, c1, c2) / det).otherwise(col("b0"))
          .as("b0"),
        when(ok, col("b1") + det3(c0, g, c2) / det).otherwise(col("b1"))
          .as("b1"),
        when(ok, col("b2") + det3(c0, c1, g) / det).otherwise(col("b2"))
          .as("b2"),
        col("n"))
    }
    coef.select(col("n").cast("long").as("n"), col("b0"), col("b1"),
      col("b2"))
  }

  /** k-fold cross-validation of 2-feature ridge regression — the MADlib
    * `cross_validation_general` surface (the reference ships MADlib's
    * CV wrapper for exactly this model-selection loop) — in ONE corpus
    * aggregate, not k train/test passes.
    *
    * The trick: OLS/ridge training and held-out evaluation both consume
    * only the second-moment sums, and moments are additive. So:
    *   1. ONE pass aggregates the 10 moments PER FOLD (map-side partial
    *      combine; k rows out).
    *   2. Fold totals come from an unpartitioned window over the k-row
    *      relation — post-aggregate catalog scale (one k-row exchange),
    *      never a second corpus scan.
    *   3. Training moments for fold f = totals − fold_f (leave-fold-out
    *      by SUBTRACTION); the usual Cramer ridge solve runs per fold
    *      in column algebra.
    *   4. Held-out MSE needs no per-row prediction pass either:
    *      SSE_f(b) = syy_f − 2·bᵀ(X'y)_f + bᵀ(X'X)_f b — evaluated from
    *      fold f's OWN moments.
    * Net cost at any scale: one scan + one k-row shuffle. MADlib's CV
    * loop retrains k times; at 100 TB that's the difference between one
    * pass and k passes.
    *
    * Cross-engine determinism: per-fold sums use the split hi/lo long
    * discipline (exact, order-free); totals and leave-fold-out
    * subtraction stay in integer space (DECIMAL(38,0) micros) and each
    * moment converts to double ONCE via the same two correctly-rounded
    * ops (int→double, ÷1e6) in both engines, so the solve sees
    * bit-identical inputs and the coefficients/MSE round-compare.
    *
    * Returns one row per fold: (fold, n_train, n_test, b0, b1, b2,
    * mse) — NULL coefficients when the training normal matrix is
    * singular. */
  def crossValRidge(
      df: DataFrame, foldExpr: Column, yCol: String,
      x1Col: String, x2Col: String, lambda: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (y, x1, x2) = (col(yCol).cast("double"),
      col(x1Col).cast("double"), col(x2Col).cast("double"))
    val moments: Seq[(String, Column)] = Seq(
      "sx1" -> x1, "sx2" -> x2, "sy" -> y,
      "sx11" -> (x1 * x1), "sx22" -> (x2 * x2), "sx12" -> (x1 * x2),
      "sx1y" -> (x1 * y), "sx2y" -> (x2 * y), "syy" -> (y * y))
    // split each moment into exact hi/lo long sums (the Q.dsum shape)
    def v(c: Column) = floor(c * lit(1000000d) + lit(0.5)).cast("long")
    def hiOf(c: Column) = floor(v(c) / lit(1000000d)).cast("long")
    def loOf(c: Column) = v(c) - hiOf(c) * lit(1000000L)
    val aggCols = moments.flatMap { case (m, c) =>
      Seq(sum(hiOf(c)).as(s"${m}_hi"), sum(loOf(c)).as(s"${m}_lo"))
    }
    val perFold = df.groupBy(foldExpr.as("fold"))
      .agg(count(lit(1)).as("nf"), aggCols: _*)
    val w = Window.partitionBy()                // k rows — catalog scale
    val totCols = (Seq(sum(col("nf")).over(w).as("nt")) ++
      moments.flatMap { case (m, _) =>
        Seq(sum(col(s"${m}_hi")).over(w).as(s"${m}_hit"),
          sum(col(s"${m}_lo")).over(w).as(s"${m}_lot"))
      })
    val withTot = perFold.select(col("*") +: totCols: _*)
    // moment → double, identically in both engines: exact integer micros
    // (DECIMAL 38,0) → one int→double cast → one ÷1e6.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def asD(hi: Column, lo: Column): Column =
      (hi.cast(dec) * lit(1000000L) + lo).cast("double") / lit(1000000d)
    def test(m: String): Column = asD(col(s"${m}_hi"), col(s"${m}_lo"))
    def train(m: String): Column = asD(
      col(s"${m}_hit") - col(s"${m}_hi"), col(s"${m}_lot") - col(s"${m}_lo"))
    val nTr = (col("nt") - col("nf")).cast("double")
    val c0 = (nTr, train("sx1"), train("sx2"))
    val c1 = (train("sx1"), train("sx11") + lit(lambda), train("sx12"))
    val c2 = (train("sx2"), train("sx12"), train("sx22") + lit(lambda))
    val r = (train("sy"), train("sx1y"), train("sx2y"))
    val det = det3(c0, c1, c2)
    val ok = abs(det) > lit(1e-9)
    val b0 = det3(r, c1, c2) / det
    val b1 = det3(c0, r, c2) / det
    val b2 = det3(c0, c1, r) / det
    val nTe = col("nf").cast("double")
    val sse = test("syy") -
      lit(2.0) * (b0 * test("sy") + b1 * test("sx1y") + b2 * test("sx2y")) +
      (b0 * b0 * nTe + b1 * b1 * test("sx11") + b2 * b2 * test("sx22") +
        lit(2.0) * b0 * b1 * test("sx1") + lit(2.0) * b0 * b2 * test("sx2") +
        lit(2.0) * b1 * b2 * test("sx12"))
    withTot.select(col("fold"),
      (col("nt") - col("nf")).as("n_train"), col("nf").as("n_test"),
      when(ok, b0).as("b0"), when(ok, b1).as("b1"), when(ok, b2).as("b2"),
      when(ok, sse / nTe).as("mse"))
  }

  /** Elastic-net / lasso path at ANY feature count — MADlib
    * `elastic_net_train` with its default standardize=TRUE, which
    * GPDB ships (`src/ports/postgres/modules/elastic_net`). glmnet
    * cyclic coordinate descent on STANDARDIZED features (Friedman,
    * Hastie & Tibshirani 2010, "Regularization Paths for Generalized
    * Linear Models via Coordinate Descent", eq. 5):
    * b_j ← S(c_j − Σ_{l≠j} r_jl·b_l, λα)/(1+λ(1−α)) — the ℓ1 part a
    * branch-exact soft threshold, the ℓ2 part a constant shrink on
    * the denominator — micros-quantized per update; α = 1 is the
    * lasso.
    *
    * Scale: ONE corpus scan collects the k(k+1)/2 + k + 1 Gram /
    * cross moments (split-sum exact, map-combinable); the whole
    * (λ × sweeps × k) descent is then driver algebra over that
    * catalog-scale moment row — zero further scans at any data size,
    * where MADlib's IGD re-scans per λ per epoch. The update order
    * (ascending l, skipping
    * j; ascending j per sweep) and every fp op mirror
    * [[enetKOracleSql]]'s generated text exactly, so the path is
    * bit-identical cross-engine. Returns one row per λ:
    * (lambda, alpha, bstd_0…, b_0…, b0, n_nonzero). */
  def enetPathK(
      df: DataFrame, yCol: String, xCols: Seq[String],
      lambdas: Seq[Double], alpha: Double, sweeps: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = xCols.length
    val xs = xCols.map(c => col(c).cast("double"))
    val y = col(yCol).cast("double")
    val aggs = count(lit(1)).cast("double").as("n") +:
      (xs.zipWithIndex.map { case (x, i) => Q.dsum(x, 6).as(s"sx_$i") } ++
        Seq(Q.dsum(y, 6).as("sy")) ++
        (for { i <- 0 until k; j <- i until k }
          yield Q.dsum(xs(i) * xs(j), 6).as(s"sx_${i}_$j")) ++
        (0 until k).map(i => Q.dsum(xs(i) * y, 6).as(s"sxy_$i")) :+
        Q.dsum(y * y, 6).as("syy"))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def g(nm: String) = r.getAs[Any](nm) match {
      case d: java.lang.Double => d.doubleValue
      case b: java.math.BigDecimal => b.doubleValue
      case x: Number => x.doubleValue
    }
    val n = g("n")
    val mu = (0 until k).map(i => g(s"sx_$i") / n)
    val muy = g("sy") / n
    val sig = (0 until k).map(i =>
      math.sqrt(g(s"sx_${i}_$i") / n - mu(i) * mu(i)))
    val sYd = math.sqrt(g("syy") / n - muy * muy)
    def sxx(i: Int, j: Int) =
      if (i <= j) g(s"sx_${i}_$j") else g(s"sx_${j}_$i")
    val rho = Array.tabulate(k, k)((i, j) =>
      if (i == j) 1.0
      else (sxx(i, j) / n - mu(i) * mu(j)) / (sig(i) * sig(j)))
    val c = (0 until k).map(i =>
      (g(s"sxy_$i") / n - mu(i) * muy) / (sig(i) * sYd))
    def q6(x: Double) = math.floor(x * 1000000d + 0.5) / 1000000d
    def soft(z: Double, l: Double) =
      if (z > l) z - l else if (z < -l) z + l else 0.0
    lambdas.map { lam =>
      val l1 = lam * alpha
      val l2 = lam * (1.0 - alpha)
      val b = Array.fill(k)(0.0)
      for (_ <- 0 until sweeps; j <- 0 until k) {
        var z = c(j)
        for (l <- 0 until k if l != j) z = z - rho(j)(l) * b(l)
        b(j) = q6(soft(z, l1) / (1.0 + l2))
      }
      val bo = (0 until k).map(j => b(j) * sYd / sig(j))
      var b0 = muy
      for (j <- 0 until k) b0 = b0 - bo(j) * mu(j)
      Seq(1).toDF("__one").select(
        lit(lam).as("lambda") +: lit(alpha).as("alpha") +:
          ((0 until k).map(j => lit(b(j)).as(s"bstd_$j")) ++
            (0 until k).map(j => lit(bo(j)).as(s"b_$j")) ++
            Seq(lit(b0).as("b0"),
              lit(b.count(_ != 0.0).toLong).as("n_nonzero"))): _*)
    }.reduce(_.unionAll(_))
  }

  /** DuckDB oracle for [[enetPathK]] — moments, standardization, and
    * the CD recursion unrolled with the identical op order (nested
    * single-row selects; one branch per λ UNION ALL'd). */
  def enetKOracleSql(
      table: String, yExpr: String, xExprs: Seq[String],
      lambdas: Seq[Double], alpha: Double, sweeps: Int = 6): String = {
    val k = xExprs.length
    val xs = xExprs.map(e => s"CAST($e AS DOUBLE)")
    val yd = s"CAST($yExpr AS DOUBLE)"
    val moments = "CAST(count(*) AS DOUBLE) AS n" +:
      (xs.zipWithIndex.map { case (x, i) =>
        s"${Q.oSum(x, 6)} AS sx_$i" } ++
        Seq(s"${Q.oSum(yd, 6)} AS sy") ++
        (for { i <- 0 until k; j <- i until k }
          yield s"${Q.oSum(s"${xs(i)} * ${xs(j)}", 6)} AS sx_${i}_$j") ++
        (0 until k).map(i =>
          s"${Q.oSum(s"${xs(i)} * $yd", 6)} AS sxy_$i") :+
        s"${Q.oSum(s"$yd * $yd", 6)} AS syy")
    def sxx(i: Int, j: Int) = if (i <= j) s"sx_${i}_$j" else s"sx_${j}_$i"
    val std =
      (0 until k).map(i => s"sx_$i / n AS mu_$i") ++
        Seq("sy / n AS muy") ++
        (0 until k).map(i =>
          s"sqrt(sx_${i}_$i / n - (sx_$i / n) * (sx_$i / n)) AS sg_$i") ++
        Seq("sqrt(syy / n - (sy / n) * (sy / n)) AS syd")
    val corr =
      (for { i <- 0 until k; j <- 0 until k if i != j }
        yield s"(${sxx(i, j)} / n - mu_$i * mu_$j) / (sg_$i * sg_$j)" +
          s" AS r_${i}_$j") ++
        (0 until k).map(i =>
          s"(sxy_$i / n - mu_$i * muy) / (sg_$i * syd) AS c_$i")
    def branch(lam: Double): String = {
      val l1 = lam * alpha
      val l2 = lam * (1.0 - alpha)
      val cur = Array.tabulate(k)(_ => "0.0e0")
      var inner = "SELECT * FROM mm"
      var step = 0
      for (t <- 0 until sweeps; j <- 0 until k) {
        var z = s"c_$j"
        for (l <- 0 until k if l != j) z = s"($z - r_${j}_$l * ${cur(l)})"
        val sz = s"CASE WHEN $z > CAST($l1 AS DOUBLE) THEN $z - " +
          s"CAST($l1 AS DOUBLE) WHEN $z < -CAST($l1 AS DOUBLE) THEN " +
          s"$z + CAST($l1 AS DOUBLE) ELSE 0.0e0 END"
        val nm = s"bb_${step}_$j"
        inner = s"SELECT *, floor(($sz) / (1.0e0 + CAST($l2 AS " +
          s"DOUBLE)) * 1000000 + 0.5) / 1000000 AS $nm FROM ($inner)"
        cur(j) = nm
        step += 1
      }
      val bo = (0 until k).map(j => s"${cur(j)} * syd / sg_$j")
      var b0 = "muy"
      for (j <- 0 until k) b0 = s"($b0 - (${bo(j)}) * mu_$j)"
      s"""SELECT CAST($lam AS DOUBLE) AS lambda,
         |  CAST($alpha AS DOUBLE) AS alpha,
         |  ${(0 until k).map(j => s"${cur(j)} AS bstd_$j")
        .mkString(",\n  ")},
         |  ${(0 until k).map(j => s"${bo(j)} AS b_$j")
        .mkString(",\n  ")},
         |  $b0 AS b0,
         |  CAST(${(0 until k).map(j =>
        s"CASE WHEN ${cur(j)} <> 0.0e0 THEN 1 ELSE 0 END")
        .mkString(" + ")} AS BIGINT) AS n_nonzero
         |FROM ($inner)""".stripMargin
    }
    s"""WITH m AS (SELECT ${moments.mkString(",\n  ")} FROM $table),
       |ms AS (SELECT *, ${std.mkString(",\n  ")} FROM m),
       |mm AS MATERIALIZED (SELECT *, ${corr.mkString(",\n  ")} FROM ms)
       |${lambdas.map(branch).mkString("\nUNION ALL\n")}
       |ORDER BY lambda""".stripMargin
  }

  /** Gauss-Jordan solve of a p×p normal system as BATCHES of named
    * expressions over moment column names `m_i_j` (i ≤ j, symmetric)
    * and rhs `t_i`. The SAME text is evaluated by Spark (`expr`) and
    * by DuckDB (chained CTEs): identical parse trees → identical IEEE
    * double operation order → bit-identical coefficients on both
    * engines at ANY feature count — this is what lets [[olsFitK]]
    * drop the 2-feature Cramer ceiling of [[olsFit2]].
    *
    * Pivot order is FIXED (no row swaps — cross-engine determinism
    * over numerical polish; moments are scaled row sums so the
    * diagonal dominates in practice). Each division goes through a
    * safe pivot `sp_k` (1.0 when |pivot| ≤ 1e-9) so a singular system
    * yields finite garbage that the returned `valid` predicate NULLs
    * out — no Inf/NaN ever materializes, matching engines that differ
    * on IEEE exceptional-value formatting.
    *
    * Returns (batches, valid): each batch's names may reference names
    * from earlier batches only, so Spark applies one `select *` per
    * batch and the oracle one CTE per batch. Batch count is 3p;
    * expression count O(p³) — all scalar algebra over the ONE
    * aggregated row per group, free at any data scale. */
  def gjBatches(p: Int): (Seq[Seq[(String, String)]], String) = {
    def mm(i: Int, j: Int) = if (i <= j) s"m_${i}_$j" else s"m_${j}_$i"
    var a: IndexedSeq[IndexedSeq[String]] =
      (0 until p).map(i => (0 until p).map(j => mm(i, j)))
    var b: IndexedSeq[String] = (0 until p).map(i => s"t_$i")
    val batches = Seq.newBuilder[Seq[(String, String)]]
    val pivots = Seq.newBuilder[String]
    for (k <- 0 until p) {
      pivots += a(k)(k)
      batches += Seq(s"sp_$k" ->
        (s"CASE WHEN abs(${a(k)(k)}) > 1.0e-9 THEN ${a(k)(k)}" +
          " ELSE 1.0e0 END"))
      batches += ((0 until p).map(j =>
        s"a${k}_${k}_$j" -> s"${a(k)(j)} / sp_$k") :+
        (s"b${k}_$k" -> s"${b(k)} / sp_$k"))
      batches += (0 until p).filter(_ != k).flatMap { i =>
        (0 until p).map(j =>
          s"a${k}_${i}_$j" ->
            s"${a(i)(j)} - ${a(i)(k)} * a${k}_${k}_$j") :+
          (s"b${k}_$i" -> s"${b(i)} - ${a(i)(k)} * b${k}_$k")
      }
      a = (0 until p).map(i => (0 until p).map(j => s"a${k}_${i}_$j"))
      b = (0 until p).map(i => s"b${k}_$i")
    }
    val valid = pivots.result()
      .map(pv => s"abs($pv) > 1.0e-9").mkString("(", " AND ", ")")
    (batches.result(), valid)
  }

  /** Full p×p INVERSE of the moment matrix `m_i_j` by the same
    * fixed-pivot Gauss-Jordan as [[gjBatches]], with the identity as
    * the augmented block — what the HC0 sandwich needs beyond a
    * solve. Name space is disjoint from gjBatches (`isp_k`,
    * `ia{k}_i_j`, `iv{k}_i_q`) so both can fold over one relation.
    * Inverse entries land as `iv{p-1}_{i}_{q}` = (A⁻¹)_{i,q}. Same
    * batch discipline: each batch references earlier batches only;
    * O(p³) scalar expressions over the one aggregated row. */
  def gjInvBatches(p: Int): (Seq[Seq[(String, String)]], String) = {
    def mm(i: Int, j: Int) = if (i <= j) s"m_${i}_$j" else s"m_${j}_$i"
    var a: IndexedSeq[IndexedSeq[String]] =
      (0 until p).map(i => (0 until p).map(j => mm(i, j)))
    var inv: IndexedSeq[IndexedSeq[String]] =
      (0 until p).map(i => (0 until p).map(q =>
        if (i == q) "1.0e0" else "0.0e0"))
    val batches = Seq.newBuilder[Seq[(String, String)]]
    val pivots = Seq.newBuilder[String]
    for (k <- 0 until p) {
      pivots += a(k)(k)
      batches += Seq(s"isp_$k" ->
        (s"CASE WHEN abs(${a(k)(k)}) > 1.0e-9 THEN ${a(k)(k)}" +
          " ELSE 1.0e0 END"))
      batches += ((0 until p).map(j =>
        s"ia${k}_${k}_$j" -> s"${a(k)(j)} / isp_$k") ++
        (0 until p).map(q =>
          s"iv${k}_${k}_$q" -> s"${inv(k)(q)} / isp_$k"))
      batches += (0 until p).filter(_ != k).flatMap { i =>
        (0 until p).map(j =>
          s"ia${k}_${i}_$j" ->
            s"${a(i)(j)} - ${a(i)(k)} * ia${k}_${k}_$j") ++
          (0 until p).map(q =>
            s"iv${k}_${i}_$q" ->
              s"${inv(i)(q)} - ${a(i)(k)} * iv${k}_${k}_$q")
      }
      a = (0 until p).map(i => (0 until p).map(j => s"ia${k}_${i}_$j"))
      inv = (0 until p).map(i => (0 until p).map(q => s"iv${k}_${i}_$q"))
    }
    val valid = pivots.result()
      .map(pv => s"abs($pv) > 1.0e-9").mkString("(", " AND ", ")")
    (batches.result(), valid)
  }

  /** HC0 robust (White) standard errors at ANY feature count — lifts
    * [[robustSe2]]'s 2-feature adjugate ceiling (MADlib
    * `linregr_train` heteroskedasticity output with an arbitrary
    * feature array). Two passes: (1) ONE moment aggregate +
    * [[gjBatches]] solve gives the OLS coefficients (micros-quantized
    * — both engines carry identical β into the residual); (2) ONE
    * meat aggregate Σ e²·x_i·x_j under the same [[Q.dsum]]
    * discipline. The bread A⁻¹ comes from [[gjInvBatches]] over the
    * SAME moment row, and se_j = sqrt(Σ_{a,b} (A⁻¹)_{j,a} M_{a,b}
    * (A⁻¹)_{j,b}) — all scalar algebra on a 1-row relation.
    *
    * Scale: two scans, O(k²) shuffled doubles each, coefficients a
    * 1-row broadcast — no collect of data, no driver math beyond
    * expression generation. Returns one row
    * (n, b0…bk, se_b0…se_bk). */
  def robustSeK(
      df: DataFrame, yCol: String, xCols: Seq[String]): DataFrame = {
    val p = xCols.length + 1
    val xs = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    val y = col(yCol).cast("double")
    val aggs =
      (for { i <- 0 until p; j <- i until p }
        yield Q.dsum(xs(i) * xs(j), 6).as(s"m_${i}_$j")) ++
        (0 until p).map(i => Q.dsum(xs(i) * y, 6).as(s"t_$i")) :+
        count(lit(1)).as("nl")
    val agg1 = df.agg(aggs.head, aggs.tail: _*)
    val (gb, _) = gjBatches(p)
    val solved = gb.foldLeft(agg1) { (d, batch) =>
      d.select(col("*") +: batch.map { case (n, e) =>
        expr(e).as(n) }: _*)
    }
    val coefs = solved.select(
      (for { i <- 0 until p; j <- i until p }
        yield col(s"m_${i}_$j")) ++
        Seq(col("nl")) ++
        (0 until p).map(i => expr(
          s"floor(b${p - 1}_$i * 1000000 + 0.5) / 1000000")
          .as(s"c_$i")): _*)
    val e = y - (0 until p).map(i => col(s"c_$i") * xs(i))
      .reduce(_ + _)
    val meatAggs = for { i <- 0 until p; j <- i until p }
      yield Q.dsum(e * e * xs(i) * xs(j), 6).as(s"mm_${i}_$j")
    val meat = df.crossJoin(broadcast(
      coefs.select((0 until p).map(i => col(s"c_$i")): _*)))
      .agg(meatAggs.head, meatAggs.tail: _*)
    val both = meat.crossJoin(broadcast(coefs))
    val (ib, _) = gjInvBatches(p)
    val inv = ib.foldLeft(both) { (d, batch) =>
      d.select(col("*") +: batch.map { case (n, e) =>
        expr(e).as(n) }: _*)
    }
    inv.select(
      col("nl").as("n") +:
        ((0 until p).map(i => col(s"c_$i").as(s"b$i")) ++
          (0 until p).map(j =>
            expr(hc0SeText(p, j)).as(s"se_b$j"))): _*)
  }

  /** The se_j quadratic-form text shared verbatim by [[robustSeK]]
    * and its oracle: sqrt over the a-major double sum of
    * inv_{j,a}·M_{a,b}·inv_{j,b}, quantized to 1e-8 — the long
    * mixed-product chain is the one place the two engines' fp
    * pipelines have been observed to drift by a last ulp, so the SE
    * presents at a granularity that absorbs it (the exp-quantize
    * discipline applied to output instead of state). */
  def hc0SeText(p: Int, j: Int): String = {
    def mn(a: Int, b: Int) =
      if (a <= b) s"mm_${a}_$b" else s"mm_${b}_$a"
    val terms = for { a <- 0 until p; b <- 0 until p }
      yield s"iv${p - 1}_${j}_$a * ${mn(a, b)} * iv${p - 1}_${j}_$b"
    s"floor(sqrt(${terms.mkString(" + ")}) * 100000000 + 0.5)" +
      " / 100000000"
  }

  /** DuckDB oracle for [[robustSeK]] — the identical two-pass text:
    * moments + gjBatches CTEs → quantized coefficients → residual
    * meat aggregate → gjInvBatches CTEs → the same [[hc0SeText]]
    * quadratic forms. */
  def robustSeKOracleSql(
      table: String, yExpr: String, xExprs: Seq[String]): String = {
    val p = xExprs.length + 1
    val xs = "1.0e0" +: xExprs.map(e => s"CAST($e AS DOUBLE)")
    val yd = s"CAST($yExpr AS DOUBLE)"
    val moments =
      (for { i <- 0 until p; j <- i until p }
        yield s"${Q.oSum(s"${xs(i)} * ${xs(j)}", 6)} AS m_${i}_$j") ++
        (0 until p).map(i =>
          s"${Q.oSum(s"${xs(i)} * $yd", 6)} AS t_$i") :+
        "CAST(count(*) AS BIGINT) AS nl"
    val (gb, _) = gjBatches(p)
    val gbCtes = (s"t0 AS (SELECT ${moments.mkString(",\n  ")}\n" +
      s"  FROM $table)") +:
      gb.zipWithIndex.map { case (batch, bi) =>
        s"t${bi + 1} AS (SELECT *,\n  ${batch
          .map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}\n" +
          s"  FROM t$bi)"
      }
    val mCols = (for { i <- 0 until p; j <- i until p }
      yield s"m_${i}_$j").mkString(", ")
    val coefs = s"cf AS MATERIALIZED (SELECT $mCols, nl,\n  " +
      (0 until p).map(i =>
        s"floor(b${p - 1}_$i * 1000000 + 0.5) / 1000000 AS c_$i")
        .mkString(",\n  ") + s"\n  FROM t${gb.length})"
    val eTxt = s"($yd - (${(0 until p)
      .map(i => s"c_$i * ${xs(i)}").mkString(" + ")}))"
    val meat = s"mt AS (SELECT ${
      (for { i <- 0 until p; j <- i until p }
        yield s"${Q.oSum(s"$eTxt * $eTxt * ${xs(i)} * ${xs(j)}", 6)
        } AS mm_${i}_$j").mkString(",\n  ")}\n" +
      s"  FROM $table CROSS JOIN cf)"
    val (ib, _) = gjInvBatches(p)
    val ibCtes = ("u0 AS (SELECT mt.*, cf.* FROM mt CROSS JOIN cf)") +:
      ib.zipWithIndex.map { case (batch, bi) =>
        s"u${bi + 1} AS (SELECT *,\n  ${batch
          .map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}\n" +
          s"  FROM u$bi)"
      }
    s"""WITH ${(gbCtes :+ coefs :+ meat).mkString(",\n")},
       |${ibCtes.mkString(",\n")}
       |SELECT nl AS n,
       |  ${(0 until p).map(i => s"c_$i AS b$i").mkString(",\n  ")},
       |  ${(0 until p).map(j =>
      s"${hc0SeText(p, j)} AS se_b$j").mkString(",\n  ")}
       |FROM u${ib.length}""".stripMargin
  }

  /** Per-group OLS fit of `y ~ b0 + b1*x1 + … + bk*xk` for ANY
    * feature count — MADlib `linregr_train` takes an arbitrary
    * feature array; this lifts the fixed-shape ceiling of [[olsFit2]]
    * (kernel-contract table in COVERAGE.md). ONE aggregate pass
    * collects the (k+1)(k+2)/2 + (k+1) + 1 normal-equation moments
    * under the [[graft.queries.Q.dsum]] split-sum discipline
    * (map-side combinable, shuffle-order exact); the solve is the
    * shared [[gjBatches]] Gauss-Jordan over the per-group moment row —
    * scalar algebra, no second scan, no driver math, no collect.
    *
    * Scale: shuffled state per group is O(k²) doubles regardless of
    * row count — 100 TB trains in one pass at scan speed, like
    * olsFit2. Moment magnitude contract: |x_i·x_j| and |x_i·y| must
    * keep `dsum`'s hi-sum under 2^63 at the target row count (scale
    * price-like columns down before fitting, as the q_ml_robust_se
    * fixture does with y/1000).
    *
    * Returns one row per group: (grp, n, b0 … bk, r2), coefficients
    * rounded to 4, r2 to 6; singular groups yield NULLs. */
  def olsFitK(
      df: DataFrame, groupCol: String, yCol: String,
      xCols: Seq[String]): DataFrame = {
    val p = xCols.length + 1
    val xs = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    val y = col(yCol).cast("double")
    val aggs =
      (for { i <- 0 until p; j <- i until p }
        yield Q.dsum(xs(i) * xs(j), 6).as(s"m_${i}_$j")) ++
        (0 until p).map(i => Q.dsum(xs(i) * y, 6).as(s"t_$i")) ++
        Seq(Q.dsum(y * y, 6).as("syy"), count(lit(1)).as("nl"))
    val agg = df.groupBy(col(groupCol).as("grp"))
      .agg(aggs.head, aggs.tail: _*)
    val (batches, valid) = gjBatches(p)
    val solved = batches.foldLeft(agg) { (d, batch) =>
      d.select(col("*") +: batch.map { case (n, e) => expr(e).as(n) }: _*)
    }
    val coefs = (0 until p).map(i => s"b${p - 1}_$i")
    val sse = s"(syy - (${(0 until p)
      .map(i => s"${coefs(i)} * t_$i").mkString(" + ")}))"
    val sst = "(syy - t_0 * t_0 / m_0_0)"
    solved.select(
      col("grp") +: col("nl").as("n") +:
        ((0 until p).map(i =>
          expr(s"CASE WHEN $valid THEN round(${coefs(i)}, 4) END")
            .as(s"b$i")) :+
          expr(s"CASE WHEN $valid AND $sst > 0.0e0 THEN " +
            s"round(1.0e0 - $sse / $sst, 6) END").as("r2")): _*)
  }

  /** Per-group logistic regression at ANY feature count — the same
    * lift for [[logregFit2]] that [[olsFitK]] is for [[olsFit2]]:
    * Newton/IRLS with a FIXED iteration count, each round ONE
    * aggregate of the (k+1)(k+2)/2 weighted moments + k+1 gradient
    * sums under the [[graft.queries.Q.dsum]] discipline, then the
    * shared [[gjBatches]] Gauss-Jordan solves the Newton step as
    * scalar algebra on the per-group moment row. Determinism: exp
    * outputs micros-quantize (the multinomFitK discipline) so μ, w
    * and every residual are identical doubles cross-engine;
    * coefficients micros-quantize per round. Groups with a singular
    * weighted normal matrix keep their previous coefficients.
    *
    * Scale: per-group coefficient state is a catalog-scale DataFrame
    * broadcast back to the rows; `iterations` scans total, map-side
    * combinable, lineage cut per round. Returns
    * (grp, n, b0 … bk) with b's rounded to 4. */
  def logregFitK(
      df: DataFrame, groupCol: String, yCol: String,
      xCols: Seq[String], iterations: Int = 4): DataFrame = {
    val spark = df.sparkSession
    val p = xCols.length + 1
    val rows = df.select(col(groupCol).as("grp") +:
      col(yCol).cast("double").as("y") +:
      xCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"x${i + 1}") }: _*)
      .transform(KernelCaches.cacheParallel)
    val xs: Seq[Column] =
      lit(1.0) +: (1 to xCols.length).map(i => col(s"x$i"))
    def q6c(c: Column): Column =
      floor(c * lit(1000000d) + lit(0.5)) / lit(1000000d)
    // Per-epoch coefficient state rides the DRIVER as collected rows
    // re-embedded as a LocalRelation (r9 optimization): the state is
    // catalog-scale by contract (distinct groups × p doubles — the same
    // rows the previous eager localCheckpoint materialized and then
    // broadcast), and the round-trip is exact (binary doubles, no
    // formatting). This removes two jobs per epoch (the checkpoint
    // count + the broadcast build over the checkpointed RDD) — at any
    // data scale the per-epoch work stays ONE aggregate scan.
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(
        "grp", rows.schema("grp").dataType) +:
        org.apache.spark.sql.types.StructField(
          "nl", org.apache.spark.sql.types.LongType) +:
        (0 until p).map(i => org.apache.spark.sql.types.StructField(
          s"b_$i", org.apache.spark.sql.types.DoubleType)))
    var coefRows: Seq[org.apache.spark.sql.Row] =
      rows.select(col("grp")).distinct().collect().toSeq
        .map(r => org.apache.spark.sql.Row.fromSeq(
          r.get(0) +: 0L +: Seq.fill(p)(0.0)))
    def local(): DataFrame = spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(coefRows).asJava),
      schema)
    val (batches, valid) = gjBatches(p)
    for (_ <- 0 until iterations) {
      val z = (0 until p).map(i => col(s"b_$i") * xs(i)).reduce(_ + _)
      val e = q6c(exp(-z))
      val mu = lit(1.0) / (lit(1.0) + e)
      val w = mu * (lit(1.0) - mu)
      val res = col("y") - mu
      // μ/w/res computed ONCE in a projection below the aggregate (the
      // oracle's jk-CTE shape) instead of inlined into every split-sum:
      // identical IEEE ops and values, ~10× smaller expression trees —
      // smaller task binaries, cheaper per-epoch codegen/serialization
      val pre = rows.join(broadcast(local().drop("nl")), "grp")
        .select(col("grp") +: (0 until p).map(i => col(s"b_$i")) ++:
          (0 until p).map(i => xs(i).as(s"xx_$i")) :+
          w.as("ww") :+ res.as("rr"): _*)
      val aggs =
        (for { i <- 0 until p; j <- i until p }
          yield Q.dsum(col("ww") * col(s"xx_$i") * col(s"xx_$j"), 6)
            .as(s"m_${i}_$j")) ++
          (0 until p).map(i =>
            Q.dsum(col("rr") * col(s"xx_$i"), 6).as(s"t_$i")) :+
          count(lit(1)).as("nl")
      val m = pre
        .groupBy(col("grp") +: (0 until p).map(i => col(s"b_$i")): _*)
        .agg(aggs.head, aggs.tail: _*)
      val solved = batches.foldLeft(m) { (d, batch) =>
        d.select(col("*") +:
          batch.map { case (n2, e2) => expr(e2).as(n2) }: _*)
      }
      coefRows = solved.select(col("grp") +: col("nl") +:
        (0 until p).map(i => expr(
          s"CASE WHEN $valid THEN floor((b_$i + b${p - 1}_$i) * 1000000" +
            s" + 0.5) / 1000000 ELSE b_$i END").as(s"b_$i")): _*)
        .collect().toSeq
    }
    local().select(col("grp") +: col("nl").as("n") +:
      (0 until p).map(i => round(col(s"b_$i"), 4).as(s"b$i")): _*)
  }

  /** DuckDB oracle for [[logregFitK]] — the identical IRLS unroll:
    * per round one join-to-coef CTE, one moment aggregate with
    * [[graft.queries.Q.oSum]], and the shared [[gjBatches]] text as
    * chained CTEs. `xExprs` are SQL expressions over `table`'s
    * columns (must match the Spark side's feature construction). */
  def logregKOracleSql(
      table: String, groupExpr: String, yExpr: String,
      xExprs: Seq[String], iterations: Int = 4): String = {
    val p = xExprs.length + 1
    val (batches, valid) = gjBatches(p)
    def q6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
    val xsSel = xExprs.zipWithIndex.map { case (e, i) =>
      s"CAST($e AS DOUBLE) AS x${i + 1}" }.mkString(", ")
    val xs = "1.0e0" +: (1 to xExprs.length).map(i => s"x$i")
    val zTxt = (0 until p).map(i => s"b_$i * ${xs(i)}").mkString(" + ")
    val it0 = s"it0 AS (SELECT DISTINCT grp, ${(0 until p)
      .map(i => s"0.0e0 AS b_$i").mkString(", ")} FROM rr)"
    val rounds = (1 to iterations).map { k =>
      val moments =
        (for { i <- 0 until p; j <- i until p }
          yield s"${Q.oSum(s"(mu * (1.0e0 - mu)) * ${xs(i)} * ${xs(j)}",
            6)} AS m_${i}_$j") ++
          (0 until p).map(i =>
            s"${Q.oSum(s"(y - mu) * ${xs(i)}", 6)} AS t_$i") :+
          "CAST(count(*) AS BIGINT) AS nl"
      val bcols = (0 until p).map(i => s"b_$i").mkString(", ")
      val jk = s"j$k AS (SELECT r.grp, " +
        (0 until p).map(i => s"c.b_$i").mkString(", ") + ", r.y, " +
        (1 until p).map(i => s"r.x$i").mkString(", ") + ",\n" +
        s"    1.0e0 / (1.0e0 + ${q6(s"exp(-($zTxt))")}) AS mu\n" +
        s"  FROM rr r JOIN it${k - 1} c USING (grp))"
      val ak = s"a$k AS (SELECT grp, $bcols,\n  ${moments.mkString(",\n  ")}" +
        s"\n  FROM j$k GROUP BY grp, $bcols)"
      val gj = batches.zipWithIndex.map { case (batch, bi) =>
        val src = if (bi == 0) s"a$k" else s"s${k}_${bi - 1}"
        s"s${k}_$bi AS (SELECT *,\n  ${batch
          .map { case (n2, e2) => s"$e2 AS $n2" }
          .mkString(",\n  ")}\n  FROM $src)"
      }
      val itk = s"it$k AS (SELECT grp, nl, ${(0 until p).map(i =>
        s"CASE WHEN $valid THEN ${q6(s"b_$i + b${p - 1}_$i")} " +
          s"ELSE b_$i END AS b_$i").mkString(",\n  ")}" +
        s"\n  FROM s${k}_${batches.length - 1})"
      (Seq(jk, ak) ++ gj :+ itk).mkString(",\n")
    }.mkString(",\n")
    s"""WITH rr AS (SELECT $groupExpr AS grp,
       |    CAST($yExpr AS DOUBLE) AS y, $xsSel FROM $table),
       |$it0,
       |$rounds
       |SELECT grp, nl AS n, ${(0 until p)
      .map(i => s"round(b_$i, 4) AS b$i").mkString(", ")}
       |FROM it$iterations ORDER BY grp""".stripMargin
  }

  /** Per-group Poisson regression at ANY feature count — lifts
    * [[poissonFit2]]'s 2-feature ceiling the way [[logregFitK]] lifts
    * logregFit2 (MADlib `glm` family=poisson takes an arbitrary
    * feature array). Newton/IRLS with canonical log link: per round
    * ONE aggregate of μ-weighted moments m_ij = Σ μ·x_i·x_j and score
    * t_i = Σ (y − μ)·x_i under the [[graft.queries.Q.dsum]] split-sum
    * discipline, then the shared [[gjBatches]] Gauss-Jordan solves
    * the step as scalar algebra on the per-group row. Determinism:
    * exp OUTPUTS micros-quantize (μ identical doubles cross-engine)
    * and coefficients micros-quantize per round; β starts at 0 (μ=1)
    * so no data-dependent driver-side init enters the text. Groups
    * with a singular weighted system keep their previous β.
    *
    * Scale: identical to logregFitK — `iterations` scans of a
    * persisted projection, O(k²) shuffled doubles per group,
    * catalog-scale coefficient relation broadcast back, lineage cut
    * per round. Callers scale features so z stays small (μ = e^z in
    * the moment weights). Returns (grp, n, b0 … bk) rounded to 4. */
  def poissonFitK(
      df: DataFrame, groupCol: String, yCol: String,
      xCols: Seq[String], iterations: Int = 4): DataFrame = {
    val spark = df.sparkSession
    val p = xCols.length + 1
    val rows = df.select(col(groupCol).as("grp") +:
      col(yCol).cast("double").as("y") +:
      xCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"x${i + 1}") }: _*)
      .transform(KernelCaches.cacheParallel)
    val xs: Seq[Column] =
      lit(1.0) +: (1 to xCols.length).map(i => col(s"x$i"))
    def q6c(c: Column): Column =
      floor(c * lit(1000000d) + lit(0.5)) / lit(1000000d)
    // driver-ferried catalog-scale coefficient state + μ pre-projection
    // below the aggregate — the logregFitK r9 shape (exact round-trip,
    // two fewer jobs per epoch, ~10× smaller expression trees)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(
        "grp", rows.schema("grp").dataType) +:
        org.apache.spark.sql.types.StructField(
          "nl", org.apache.spark.sql.types.LongType) +:
        (0 until p).map(i => org.apache.spark.sql.types.StructField(
          s"b_$i", org.apache.spark.sql.types.DoubleType)))
    var coefRows: Seq[org.apache.spark.sql.Row] =
      rows.select(col("grp")).distinct().collect().toSeq
        .map(r => org.apache.spark.sql.Row.fromSeq(
          r.get(0) +: 0L +: Seq.fill(p)(0.0)))
    def local(): DataFrame = spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(coefRows).asJava),
      schema)
    val (batches, valid) = gjBatches(p)
    for (_ <- 0 until iterations) {
      val z = (0 until p).map(i => col(s"b_$i") * xs(i)).reduce(_ + _)
      val mu = q6c(exp(z))
      val res = col("y") - mu
      val pre = rows.join(broadcast(local().drop("nl")), "grp")
        .select(col("grp") +: (0 until p).map(i => col(s"b_$i")) ++:
          (0 until p).map(i => xs(i).as(s"xx_$i")) :+
          mu.as("ww") :+ res.as("rr"): _*)
      val aggs =
        (for { i <- 0 until p; j <- i until p }
          yield Q.dsum(col("ww") * col(s"xx_$i") * col(s"xx_$j"), 6)
            .as(s"m_${i}_$j")) ++
          (0 until p).map(i =>
            Q.dsum(col("rr") * col(s"xx_$i"), 6).as(s"t_$i")) :+
          count(lit(1)).as("nl")
      val m = pre
        .groupBy(col("grp") +: (0 until p).map(i => col(s"b_$i")): _*)
        .agg(aggs.head, aggs.tail: _*)
      val solved = batches.foldLeft(m) { (d, batch) =>
        d.select(col("*") +:
          batch.map { case (n2, e2) => expr(e2).as(n2) }: _*)
      }
      coefRows = solved.select(col("grp") +: col("nl") +:
        (0 until p).map(i => expr(
          s"CASE WHEN $valid THEN floor((b_$i + b${p - 1}_$i) * 1000000" +
            s" + 0.5) / 1000000 ELSE b_$i END").as(s"b_$i")): _*)
        .collect().toSeq
    }
    local().select(col("grp") +: col("nl").as("n") +:
      (0 until p).map(i => round(col(s"b_$i"), 4).as(s"b$i")): _*)
  }

  /** DuckDB oracle for [[poissonFitK]] — the identical IRLS unroll
    * with μ-weights (the [[logregKOracleSql]] shape, link swapped). */
  def poissonKOracleSql(
      table: String, groupExpr: String, yExpr: String,
      xExprs: Seq[String], iterations: Int = 4): String = {
    val p = xExprs.length + 1
    val (batches, valid) = gjBatches(p)
    def q6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
    val xsSel = xExprs.zipWithIndex.map { case (e, i) =>
      s"CAST($e AS DOUBLE) AS x${i + 1}" }.mkString(", ")
    val xs = "1.0e0" +: (1 to xExprs.length).map(i => s"x$i")
    val zTxt = (0 until p).map(i => s"b_$i * ${xs(i)}").mkString(" + ")
    val it0 = s"it0 AS (SELECT DISTINCT grp, ${(0 until p)
      .map(i => s"0.0e0 AS b_$i").mkString(", ")} FROM rr)"
    val rounds = (1 to iterations).map { k =>
      val moments =
        (for { i <- 0 until p; j <- i until p }
          yield s"${Q.oSum(s"mu * ${xs(i)} * ${xs(j)}", 6)} AS m_${i}_$j") ++
          (0 until p).map(i =>
            s"${Q.oSum(s"(y - mu) * ${xs(i)}", 6)} AS t_$i") :+
          "CAST(count(*) AS BIGINT) AS nl"
      val bcols = (0 until p).map(i => s"b_$i").mkString(", ")
      val jk = s"j$k AS (SELECT r.grp, " +
        (0 until p).map(i => s"c.b_$i").mkString(", ") + ", r.y, " +
        (1 until p).map(i => s"r.x$i").mkString(", ") + ",\n" +
        s"    ${q6(s"exp($zTxt)")} AS mu\n" +
        s"  FROM rr r JOIN it${k - 1} c USING (grp))"
      val ak = s"a$k AS (SELECT grp, $bcols,\n  ${moments.mkString(",\n  ")}" +
        s"\n  FROM j$k GROUP BY grp, $bcols)"
      val gj = batches.zipWithIndex.map { case (batch, bi) =>
        val src = if (bi == 0) s"a$k" else s"s${k}_${bi - 1}"
        s"s${k}_$bi AS (SELECT *,\n  ${batch
          .map { case (n2, e2) => s"$e2 AS $n2" }
          .mkString(",\n  ")}\n  FROM $src)"
      }
      val itk = s"it$k AS (SELECT grp, nl, ${(0 until p).map(i =>
        s"CASE WHEN $valid THEN ${q6(s"b_$i + b${p - 1}_$i")} " +
          s"ELSE b_$i END AS b_$i").mkString(",\n  ")}" +
        s"\n  FROM s${k}_${batches.length - 1})"
      (Seq(jk, ak) ++ gj :+ itk).mkString(",\n")
    }.mkString(",\n")
    s"""WITH rr AS (SELECT $groupExpr AS grp,
       |    CAST($yExpr AS DOUBLE) AS y, $xsSel FROM $table),
       |$it0,
       |$rounds
       |SELECT grp, nl AS n, ${(0 until p)
      .map(i => s"round(b_$i, 4) AS b$i").mkString(", ")}
       |FROM it$iterations ORDER BY grp""".stripMargin
  }

  /** DuckDB oracle for [[olsFitK]] — the same [[gjBatches]] text, one
    * CTE per batch, [[graft.queries.Q.oSum]] moments. Ends with
    * `ORDER BY grp`. */
  def olsKOracleSql(
      table: String, groupExpr: String, yExpr: String,
      xExprs: Seq[String]): String = {
    val p = xExprs.length + 1
    val xs = "1.0e0" +: xExprs.map(e => s"CAST($e AS DOUBLE)")
    val yd = s"CAST($yExpr AS DOUBLE)"
    val moments =
      (for { i <- 0 until p; j <- i until p }
        yield s"${Q.oSum(s"${xs(i)} * ${xs(j)}", 6)} AS m_${i}_$j") ++
        (0 until p).map(i =>
          s"${Q.oSum(s"${xs(i)} * $yd", 6)} AS t_$i") ++
        Seq(s"${Q.oSum(s"$yd * $yd", 6)} AS syy",
          "CAST(count(*) AS BIGINT) AS nl")
    val (batches, valid) = gjBatches(p)
    val ctes = (s"t0 AS (SELECT $groupExpr AS grp,\n  " +
      s"${moments.mkString(",\n  ")}\n  FROM $table GROUP BY 1)") +:
      batches.zipWithIndex.map { case (batch, bi) =>
        s"t${bi + 1} AS (SELECT *,\n  ${batch
          .map { case (n, e) => s"$e AS $n" }
          .mkString(",\n  ")}\n  FROM t$bi)"
      }
    val coefs = (0 until p).map(i => s"b${p - 1}_$i")
    val sse = s"(syy - (${(0 until p)
      .map(i => s"${coefs(i)} * t_$i").mkString(" + ")}))"
    val sst = "(syy - t_0 * t_0 / m_0_0)"
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT grp, nl AS n,
       |  ${(0 until p).map(i =>
      s"CASE WHEN $valid THEN round(${coefs(i)}, 4) END AS b$i")
      .mkString(",\n  ")},
       |  CASE WHEN $valid AND $sst > 0.0e0
       |    THEN round(1.0e0 - $sse / $sst, 6) END AS r2
       |FROM t${batches.length} ORDER BY grp""".stripMargin
  }

  /** Per-group ridge regression at ANY feature count — MADlib
    * `elastic_net_train(α=0)` / `ridge` with an arbitrary feature
    * array: minimize ‖y − Xb‖² + λ‖b₁…b_k‖². Same ONE-pass moment
    * aggregate as [[olsFitK]]; regularization is λ added to the SLOPE
    * diagonal of the normal matrix (intercept unpenalized, the
    * standard convention and MADlib's — raw-scale penalty, documented
    * per-kernel in COVERAGE.md) before the shared [[gjBatches]] solve.
    * Zero extra passes at any scale; O(k²) shuffled doubles per group.
    * Returns (grp, n, b0 … bk) rounded to 4; singular groups yield
    * NULLs. */
  def ridgeFitK(
      df: DataFrame, groupCol: String, yCol: String,
      xCols: Seq[String], lambda: Double): DataFrame = {
    val p = xCols.length + 1
    val xs = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    val y = col(yCol).cast("double")
    val aggs =
      (for { i <- 0 until p; j <- i until p }
        yield Q.dsum(xs(i) * xs(j), 6).as(s"m_${i}_$j")) ++
        (0 until p).map(i => Q.dsum(xs(i) * y, 6).as(s"t_$i")) :+
        count(lit(1)).as("nl")
    val agg0 = df.groupBy(col(groupCol).as("grp"))
      .agg(aggs.head, aggs.tail: _*)
    // λ joins the moment row BEFORE the shared solve text runs — the
    // same `m_i_i + λ` IEEE add on both engines
    val agg = (1 until p).foldLeft(agg0) { (d, i) =>
      d.withColumn(s"m_${i}_$i", col(s"m_${i}_$i") + lit(lambda))
    }
    val (batches, valid) = gjBatches(p)
    val solved = batches.foldLeft(agg) { (d, batch) =>
      d.select(col("*") +: batch.map { case (n, e) => expr(e).as(n) }: _*)
    }
    solved.select(
      col("grp") +: col("nl").as("n") +:
        (0 until p).map(i =>
          expr(s"CASE WHEN $valid THEN round(b${p - 1}_$i, 4) END")
            .as(s"b$i")): _*)
  }

  /** DuckDB oracle for [[ridgeFitK]] — [[olsKOracleSql]]'s shape with
    * one extra CTE adding the λ literal to each slope diagonal. */
  def ridgeKOracleSql(
      table: String, groupExpr: String, yExpr: String,
      xExprs: Seq[String], lambdaSql: String): String = {
    val p = xExprs.length + 1
    val xs = "1.0e0" +: xExprs.map(e => s"CAST($e AS DOUBLE)")
    val yd = s"CAST($yExpr AS DOUBLE)"
    val moments =
      (for { i <- 0 until p; j <- i until p }
        yield s"${Q.oSum(s"${xs(i)} * ${xs(j)}", 6)} AS m_${i}_$j") ++
        (0 until p).map(i =>
          s"${Q.oSum(s"${xs(i)} * $yd", 6)} AS t_$i") :+
        "CAST(count(*) AS BIGINT) AS nl"
    val (batches, valid) = gjBatches(p)
    val lamCte = s"tl AS (SELECT * REPLACE (${(1 until p)
      .map(i => s"m_${i}_$i + $lambdaSql AS m_${i}_$i")
      .mkString(", ")}) FROM t0)"
    val ctes = Seq(s"t0 AS (SELECT $groupExpr AS grp,\n  " +
      s"${moments.mkString(",\n  ")}\n  FROM $table GROUP BY 1)", lamCte) ++
      batches.zipWithIndex.map { case (batch, bi) =>
        val src = if (bi == 0) "tl" else s"t$bi"
        s"t${bi + 1} AS (SELECT *,\n  ${batch
          .map { case (n, e) => s"$e AS $n" }
          .mkString(",\n  ")}\n  FROM $src)"
      }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT grp, nl AS n,
       |  ${(0 until p).map(i =>
      s"CASE WHEN $valid THEN round(b${p - 1}_$i, 4) END AS b$i")
      .mkString(",\n  ")}
       |FROM t${batches.length} ORDER BY grp""".stripMargin
  }

  /** Linear SVM (hinge loss + L2) at ANY feature count — MADlib
    * `svm_classification`, by FULL-BATCH Pegasos subgradient descent
    * with a fixed epoch count (Shalev-Shwartz et al. 2007; MADlib's
    * IGD becomes deterministic full-batch, the same choice
    * [[logregFitK]] makes for IRLS). Epoch t: η_t = 1/(λt);
    * w ← w·(1−η_tλ) + (η_t/n)·Σ_{y·w·x<1} y·x — ONE aggregate of the
    * hinge-violator gradient sums per round. The weight state is a
    * 1-row broadcast; lineage is a fixed `iterations`-deep chain over
    * a persisted projection.
    *
    * The margin indicator is DISCONTINUOUS, so unlike the smooth IRLS
    * the iteration state must be bit-identical to the oracle's or one
    * flipped violator cascades: callers inject `sumExact` (the
    * split-sum aggregate) for the gradient sums, and the η/decay
    * constants are precomputed doubles embedded on both sides.
    * y must be ±1. Returns one row (w0 … wk, sv, n) — sv = final-epoch
    * margin violators. */
  def svmFitK(
      df: DataFrame, yCol: String, xCols: Seq[String],
      lambda: Double, iterations: Int,
      sumExact: Column => Column): DataFrame = {
    val p = xCols.length + 1
    val rows = df.select(col(yCol).cast("double").as("y") +:
      xCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"x${i + 1}") }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    KernelCaches.register(rows)
    val spark = df.sparkSession
    import spark.implicits._
    val wnames = (0 until p).map(i => s"w$i")
    val xs: Seq[Column] =
      lit(1.0) +: (1 to xCols.length).map(i => col(s"x$i"))
    var w = Seq(1).toDF("__one")
      .select(wnames.map(n => lit(0.0).as(n)) ++
        Seq(lit(0L).as("sv"), lit(0L).as("n")): _*)
    for (t <- 1 to iterations) {
      val eta = 1.0 / (lambda * t)
      val decay = 1.0 - eta * lambda
      val viol =
        col("y") * (0 until p).map(i => col(s"w$i") * xs(i))
          .reduce(_ + _) < 1
      val aggs = count(lit(1)).as("n") +:
        (0 until p).map(i =>
          sumExact(when(viol, col("y") * xs(i))).as(s"g$i")) :+
        sum(when(viol, 1L).otherwise(0L)).as("sv")
      val a = rows.crossJoin(broadcast(w.select(wnames.map(col): _*)))
        .groupBy(wnames.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      w = a.select((0 until p).map(i =>
        (col(s"w$i") * lit(decay) +
          lit(eta) * coalesce(col(s"g$i"), lit(0.0))
            / col("n").cast("double")).as(s"w$i")) ++
        Seq(col("sv"), col("n")): _*)
    }
    w
  }

  /** DuckDB oracle for [[svmFitK]] — the identical Pegasos unroll
    * (the q_ml_svm shape at any K). `xExprs` are SQL expressions
    * over `table` matching the Spark feature construction; y must
    * be ±1. */
  def svmKOracleSql(
      table: String, yExpr: String, xExprs: Seq[String],
      lambda: Double, iterations: Int): String = {
    val p = xExprs.length + 1
    val xs = "1.0e0" +: (1 to xExprs.length).map(i => s"x$i")
    val mar = s"(y * (${(0 until p).map(i => s"w$i * ${xs(i)}")
      .mkString(" + ")}) < 1)"
    val rounds = (1 to iterations).map { t =>
      val eta = 1.0 / (lambda * t)
      val decay = 1.0 - eta * lambda
      def upd(i: Int) =
        s"w$i * CAST($decay AS DOUBLE) + CAST($eta AS DOUBLE) " +
          s"* coalesce(g$i, 0.0) / CAST(n AS DOUBLE) AS w$i"
      s"""a$t AS (SELECT ${(0 until p).map(i => s"w$i").mkString(", ")},
         |    count(*) AS n,
         |    ${(0 until p).map(i =>
        s"${Q.pSum(s"y * ${xs(i)}", 6, mar)} AS g$i").mkString(",\n    ")},
         |    CAST(sum(CASE WHEN $mar THEN 1 ELSE 0 END) AS BIGINT)
         |      AS sv
         |  FROM r CROSS JOIN st${t - 1}
         |  GROUP BY ${(1 to p).mkString(", ")}),
         |st$t AS (SELECT ${(0 until p).map(upd).mkString(",\n    ")},
         |    sv, n FROM a$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH r AS (SELECT CAST($yExpr AS DOUBLE) AS y,
       |    ${xExprs.zipWithIndex.map { case (e, i) =>
      s"CAST($e AS DOUBLE) AS x${i + 1}" }.mkString(",\n    ")}
       |  FROM $table),
       |st0 AS (SELECT ${(0 until p)
      .map(i => s"CAST(0 AS DOUBLE) AS w$i").mkString(", ")}),
       |$rounds
       |SELECT ${(0 until p).map(i => s"w$i").mkString(", ")}, sv,
       |  CAST(n AS BIGINT) AS n FROM st$iterations""".stripMargin
  }

  /** Oracle-side SQL fragments mirroring [[olsFit2]] exactly — same
    * split-sum discipline, same det3 operation order — so a DuckDB
    * rendering of the fit hashes equal. `t` aliases the aggregated
    * sums CTE. */
  object Sql {
    def det3(a: Seq[String], b: Seq[String], c: Seq[String]): String =
      s"(${a(0)} * (${b(1)} * ${c(2)} - ${b(2)} * ${c(1)}) - " +
        s"${a(1)} * (${b(0)} * ${c(2)} - ${b(2)} * ${c(0)}) + " +
        s"${a(2)} * (${b(0)} * ${c(1)} - ${b(1)} * ${c(0)}))"
    val c0 = Seq("n", "sx1", "sx2")
    val c1 = Seq("sx1", "sx11", "sx12")
    val c2 = Seq("sx2", "sx12", "sx22")
    val r = Seq("sy", "sx1y", "sx2y")
  }
}
