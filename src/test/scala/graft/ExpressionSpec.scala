package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.SimHash32Expr
import graft.operators.Dedup
import graft.sql.GpSqlDialect

/** Custom Catalyst expression + extensions + GP SQL dialect execution. */
class ExpressionSpec extends AnyFunSuite {
  import TestSpark._

  test("native simhash32 ≡ declarative simhashSignatures pipeline") {
    import spark.implicits._
    val docs = Tables.T(spark, sf).documents.limit(50)
    val native = docs
      .select($"doc_id", SimHash32Expr.simhash32($"text").as("simhash"))
      .as[(Long, Long)].collect().toMap
    val declarative = Dedup.simhashSignatures(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(native == declarative)
    assert(native.nonEmpty)
  }

  test("native token_entropy ≡ declarative explode/groupBy entropy") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import graft.queries.Q
    val docs = Tables.T(spark, sf).documents.limit(80)
    val native = docs
      .select($"doc_id",
        graft.expressions.TokenEntropyExpr.tokenEntropy($"text").as("m"))
      .select($"doc_id", $"m.n_tokens", $"m.n_distinct", $"m.entropy")
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val toks = docs.select($"doc_id",
      size(TextAnalysis.tokens($"text")).as("nt"),
      explode(TextAnalysis.tokens($"text")).as("lex"))
    val tc = toks.groupBy($"doc_id", $"nt", $"lex")
      .agg(count(lit(1)).as("c"))
    val p = $"c".cast("double") / $"nt"
    val declarative = tc.groupBy("doc_id")
      .agg(max($"nt").cast("int").as("n_tokens"),
        count(lit(1)).cast("int").as("n_distinct"),
        Q.dsum(-(p * log2(p)), 6).as("entropy"))
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(native == declarative)
    assert(native.nonEmpty)
  }

  test("simhash32 is SQL-callable via the function registry") {
    graft.functions.PgFunctions.registerAll(spark)
    val v = spark.sql("SELECT simhash32('alpha beta gamma') AS s")
      .head.getLong(0)
    assert(v == SimHash32Expr.compute("alpha beta gamma"))
  }

  test("optimizer rule removes redundant lower() under simhash32") {
    import spark.implicits._
    val df = Seq("A B").toDF("t")
      .select(SimHash32Expr.simhash32(lower($"t")).as("s"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("lower("), opt)
    assert(df.head.getLong(0) == SimHash32Expr.compute("a b"))
  }

  test("GpSqlDialect parses and strips the MPP clauses") {
    val ddl = GpSqlDialect.parse(
      """CREATE TABLE t (a int) WITH (appendonly=true, compresstype=zlib)
        |DISTRIBUTED BY (a, b)""".stripMargin)
    assert(ddl.distributionCols == Seq("a", "b"))
    assert(ddl.storageOptions("compresstype") == "zlib")
    assert(GpSqlDialect.parquetCodec(ddl) == "gzip")
    assert(ddl.cleanSql == "CREATE TABLE t (a int)")
    assert(GpSqlDialect.parse("CREATE TABLE r (x int) DISTRIBUTED REPLICATED")
      .replicated)
  }

  test("SQL-language functions inline with capture-safe substitution") {
    val base = "/tmp/graft_fnspec"
    // swap-shaped call: naive sequential substitution would rewrite the
    // already-substituted first arg with the second parameter
    GpSqlDialect.execute(spark,
      "CREATE FUNCTION swapfn(p double precision, d double precision) " +
        "RETURNS double precision AS $$ SELECT p * (1 - d) $$ LANGUAGE SQL",
      base)
    assert(GpSqlDialect.inlineSqlFunctions("SELECT swapfn(d, p) FROM t")
      == "SELECT ((d) * (1 - (p))) FROM t")
    // positional $n references
    GpSqlDialect.execute(spark,
      "CREATE FUNCTION posfn(a int, b int) RETURNS int " +
        "AS $$ SELECT $1 + 10 * $2 $$ LANGUAGE SQL", base)
    assert(GpSqlDialect.inlineSqlFunctions("SELECT posfn(x, y)")
      == "SELECT ((x) + 10 * (y))")
    // function-of-function flattens to fixpoint
    GpSqlDialect.execute(spark,
      "CREATE FUNCTION twicefn(v int) RETURNS int " +
        "AS $$ SELECT posfn(v, v) $$ LANGUAGE SQL", base)
    assert(GpSqlDialect.inlineSqlFunctions("SELECT twicefn(z)")
      == "SELECT ((((z)) + 10 * ((z))))")
    val out = GpSqlDialect.execute(spark,
      "SELECT CAST(swapfn(10.0, 0.5) AS DOUBLE) AS r", base)
    assert(out.head.getDouble(0) == 5.0)
  }

  test("native dotf / lsh_bucket are bit-equal to the unrolled spellings") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.expressions.{DotFExpr, LshBucketExpr}
    val dim = 64
    val df = Tables.T(spark, sf).embeddings.limit(50)
      .select($"vec_id", $"embedding".as("v"))
    val r = df.select(
      DotFExpr.dotf($"v", $"v").as("n"),
      Similarity.dotFixed($"v", $"v", dim).as("u"),
      LshBucketExpr.lshBucket($"v", 6).as("bn"),
      (0 until 6).map { p =>
        val w = array((0 until dim).map(d =>
          lit(Similarity.planeWeight(p, d))): _*)
        when(Similarity.dotFixed($"v", w, dim) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce((a, b) => a + b).as("bu")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) == row.getDouble(1)) // bit-equal doubles
      assert(row.getLong(2) == row.getLong(3))
    }
  }

  test("sq8 encode/decode round-trip: bounded error, endpoints exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.expressions.Sq8Expr
    val df = Seq((Array(-1f, 0f, 1f, 0.5f), Array(-1.0, -1.0, -1.0, -1.0),
        Array(1.0, 1.0, 1.0, 1.0)))
      .toDF("v", "mn", "mx")
    val r = df.select(
      Sq8Expr.sq8Encode($"v", $"mn", $"mx").as("codes"),
      Sq8Expr.sq8Decode(
        Sq8Expr.sq8Encode($"v", $"mn", $"mx"), $"mn", $"mx").as("dec"))
      .head()
    val codes = r.getAs[Array[Byte]]("codes").map(_ & 0xff)
    assert(codes.toSeq == Seq(0, 128, 255, 191), codes.toSeq)
    val dec = r.getSeq[Float](1)
    // range endpoints reconstruct exactly; interior within half a step
    assert(dec(0) == -1f && dec(2) == 1f)
    val step = 2.0 / 255
    Seq(0f, 0.5f).zip(Seq(dec(1), dec(3))).foreach { case (x, xh) =>
      assert(math.abs(xh - x) <= step / 2 + 1e-7, s"$x -> $xh")
    }
  }

  test("IntervalFunctions: age borrowing, text rendering, epoch") {
    import graft.functions.IntervalFunctions
    val df = spark.sql(
      """SELECT CAST('2024-03-10 05:30:00.123456' AS TIMESTAMP) AS a,
        |       CAST('2022-12-25 10:45:30' AS TIMESTAMP) AS b""".stripMargin)
    val r = df.select(
      IntervalFunctions.ageText(col("a"), col("b")),
      IntervalFunctions.diffJustifyHoursText(col("a"), col("b")),
      IntervalFunctions.epochSeconds(col("a"), col("b")),
      IntervalFunctions.ageText(col("b"), col("b")),
      IntervalFunctions.intervalText(lit(1), lit(0), lit(1), lit(0))).head
    assert(r.getString(0) == "1 year 2 months 15 days 18:44:30.123456")
    assert(r.getString(1) == "440 days 18:44:30.123456")
    assert(r.getLong(2) == 38083470L)
    assert(r.getString(3) == "00:00:00") // all-zero interval
    assert(r.getString(4) == "1 year 1 day") // singular, zero fields dropped
    val jd = df.select(
      IntervalFunctions.justifyDays(lit(65))._1,
      IntervalFunctions.justifyDays(lit(65))._2).head
    assert(jd.getInt(0) == 2 && jd.getInt(1) == 5)
  }

  test("GpSqlDialect rejects unsupported GP surfaces loudly") {
    Seq(
      "SELECT * FROM orders FOR UPDATE",
      "CREATE TRIGGER t AFTER INSERT ON orders EXECUTE f()"
    ).foreach { sql =>
      intercept[UnsupportedOperationException] {
        GpSqlDialect.execute(spark, sql, "/tmp/never")
      }
    }
  }

  test("plpgsql triage: trivial bodies inline, complex ones defer to call time") {
    // tier 1: RETURN expression with an initialized local → inlined
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION add_tax(amount DOUBLE) RETURNS DOUBLE AS $$
        |DECLARE rate DOUBLE := 0.07;
        |BEGIN RETURN amount * (1 + rate); END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val v = GpSqlDialect.execute(spark,
      "SELECT add_tax(CAST(100.0 AS DOUBLE)) AS v", "/tmp/never")
      .head.getDouble(0)
    assert(math.abs(v - 107.0) < 1e-9)
    // tier 2: IF/ELSIF/ELSE RETURN ladder → CASE (dollar-tag quoting)
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION grade(s INT) RETURNS STRING AS $fn$
        |BEGIN
        |IF s >= 90 THEN RETURN 'A';
        |ELSIF s >= 80 THEN RETURN 'B';
        |ELSE RETURN 'C';
        |END IF;
        |END
        |$fn$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val g = GpSqlDialect.execute(spark,
      "SELECT grade(95) AS a, grade(85) AS b, grade(10) AS c",
      "/tmp/never").head
    assert(g.getString(0) == "A" && g.getString(1) == "B" &&
      g.getString(2) == "C")
    // tier 2.5: RETURN QUERY <select> → SQL-language table function,
    // inlined as a derived table in FROM position
    Tables.registerAll(spark, sf)
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION top_nations(k INT)
        |RETURNS TABLE(n_name STRING) AS $$
        |BEGIN RETURN QUERY SELECT n_name FROM nation
        |ORDER BY n_nationkey LIMIT k; END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val names = GpSqlDialect.execute(spark,
      "SELECT * FROM top_nations(3) ORDER BY n_name", "/tmp/never")
      .collect().map(_.getString(0))
    assert(names.length == 3 && names.sorted.sameElements(names))
    // tier 3: a non-reducible loop body — CREATE is accepted and
    // recorded (pg_dump's check_function_bodies=off contract), CALLING
    // raises with the reason (the FOR itself now parses — tier 4 — so
    // the recorded reason is the PERFORM the loop body dies on)
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION looper(n INT) RETURNS INT AS $$
        |BEGIN FOR i IN 1..n LOOP PERFORM 1; END LOOP; RETURN n; END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("looper")
      .exists(_.contains("PERFORM")))
    val e = intercept[UnsupportedOperationException] {
      GpSqlDialect.execute(spark, "SELECT looper(3) AS x", "/tmp/never")
    }
    assert(e.getMessage.contains("looper") &&
      e.getMessage.contains("PERFORM"))
    // tier 2b: a chain of `v := expr` assignments folds sequentially —
    // each RHS sees prior bindings, so self-reassignment composes —
    // and the terminal may be a plain RETURN or an IF ladder
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION compound(p DOUBLE, years INT) RETURNS DOUBLE AS $$
        |DECLARE r DOUBLE := 0.05;
        |BEGIN
        |  r := 1 + r;
        |  r := power(r, years);
        |  RETURN p * r;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val c = GpSqlDialect.execute(spark,
      "SELECT compound(CAST(100.0 AS DOUBLE), 2) AS v", "/tmp/never")
      .head.getDouble(0)
    assert(math.abs(c - 100.0 * 1.05 * 1.05) < 1e-9)
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION bucketize(x INT) RETURNS STRING AS $$
        |DECLARE y INT;
        |BEGIN
        |  y := x * 10;
        |  IF y >= 100 THEN RETURN 'big';
        |  ELSE RETURN 'small';
        |  END IF;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val b2 = GpSqlDialect.execute(spark,
      "SELECT bucketize(20) AS a, bucketize(1) AS b", "/tmp/never").head
    assert(b2.getString(0) == "big" && b2.getString(1) == "small")
    // an assignment followed by an unsupported terminal still defers
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION assign_loop(n INT) RETURNS INT AS $$
        |BEGIN x := n; WHILE x > 0 LOOP x := x - 1; END LOOP; RETURN x; END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("assign_loop")
      .exists(_.contains("WHILE")))
  }

  test("plpgsql tier 5c: nested BEGIN/EXCEPTION lowers one level; " +
    "deeper or non-liftable shapes defer") {
    // inner sub-transaction over a cast → guarded assignment folds
    // into the outer straight-line body
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION nested_parse(s varchar) RETURNS bigint AS $$
        |DECLARE r bigint;
        |BEGIN
        |  BEGIN
        |    r := cast(s AS bigint);
        |  EXCEPTION WHEN OTHERS THEN
        |    r := -1;
        |  END;
        |  RETURN r * 10;
        |END $$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val p = GpSqlDialect.execute(spark,
      "SELECT nested_parse('42') AS a, nested_parse('nope') AS b",
      "/tmp/never").head
    assert(p.getLong(0) == 420L && p.getLong(1) == -10L, p.toString)
    // inner division_by_zero → zero probe (double typed: Spark `/`
    // is true division)
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION nested_div(a double precision, b double precision)
        |RETURNS double precision AS $$
        |DECLARE x double precision;
        |BEGIN
        |  BEGIN
        |    x := a / b;
        |  EXCEPTION WHEN division_by_zero THEN
        |    x := 0.0;
        |  END;
        |  RETURN x + 100;
        |END $$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val d = GpSqlDialect.execute(spark,
      "SELECT nested_div(CAST(10 AS DOUBLE), CAST(2 AS DOUBLE)) AS a, " +
        "nested_div(CAST(10 AS DOUBLE), CAST(0 AS DOUBLE)) AS b",
      "/tmp/never").head
    assert(d.getDouble(0) == 105.0 && d.getDouble(1) == 100.0, d.toString)
    // multi-assignment inner blocks lower with PG's sub-transaction
    // ROLLBACK semantics: on a raise EVERY try assignment reverts to
    // its pre-block value, then handler assignments apply
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION nested_roll(s varchar) RETURNS bigint AS $$
        |DECLARE a bigint := 5; b bigint;
        |BEGIN
        |  BEGIN
        |    a := 100;
        |    b := cast(s AS bigint);
        |  EXCEPTION WHEN OTHERS THEN
        |    b := -1;
        |  END;
        |  RETURN a * 1000 + b;
        |END $$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val roll = GpSqlDialect.execute(spark,
      "SELECT nested_roll('42') AS ok, nested_roll('nope') AS bad",
      "/tmp/never").head
    assert(roll.getLong(0) == 100042L, roll.toString) // both applied
    assert(roll.getLong(1) == 4999L, roll.toString) // a reverts to 5
    // a handler expression reading a try-assigned variable would need
    // the per-branch pre-image — defers loudly
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION nested_multi(s varchar) RETURNS bigint AS $$
        |DECLARE r bigint; t bigint;
        |BEGIN
        |  BEGIN
        |    r := cast(s AS bigint);
        |    t := r + 1;
        |  EXCEPTION WHEN OTHERS THEN
        |    t := r;
        |  END;
        |  RETURN t;
        |END $$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("nested_multi")
      .exists(_.contains("pre-block")),
      GpSqlDialect.plpgsqlRejection("nested_multi").toString)
    // an inner handler condition with no static guard defers
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION nested_uniq(s varchar) RETURNS bigint AS $$
        |DECLARE r bigint;
        |BEGIN
        |  BEGIN
        |    r := cast(s AS bigint);
        |  EXCEPTION WHEN unique_violation THEN
        |    r := -1;
        |  END;
        |  RETURN r;
        |END $$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("nested_uniq")
      .exists(_.contains("unique_violation")))
  }

  test("plpgsql tier 4: FOR-over-query loops lower to aggregates") {
    import org.apache.spark.sql.functions.{sum => fsum}
    Tables.registerAll(spark, sf)
    // accumulator loop → init + coalesce(sum(...),0) scalar subquery
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION nation_total() RETURNS BIGINT AS $$
        |DECLARE total BIGINT := 0;
        |BEGIN
        |  FOR r IN SELECT n_nationkey FROM nation LOOP
        |    total := total + r.n_nationkey;
        |  END LOOP;
        |  RETURN total;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val t = GpSqlDialect.execute(spark,
      "SELECT nation_total() AS v", "/tmp/never").head.getLong(0)
    val exp = spark.table("nation").agg(fsum("n_nationkey"))
      .head.getLong(0)
    assert(t == exp)
    // guarded + plain accumulators over one loop, parameterized RETURN:
    // IF-guard → sum(CASE WHEN ...), both accs independent subqueries
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION keyspersegment(cut INT) RETURNS DOUBLE AS $$
        |DECLARE cnt INT := 0;
        |        tot BIGINT := 0;
        |BEGIN
        |  FOR r IN SELECT n_nationkey, n_regionkey FROM nation LOOP
        |    IF r.n_regionkey >= cut THEN cnt := cnt + 1; END IF;
        |    tot := tot + r.n_nationkey;
        |  END LOOP;
        |  RETURN tot / (cnt + 1);
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val k = GpSqlDialect.execute(spark,
      "SELECT keyspersegment(3) AS v", "/tmp/never").head.getDouble(0)
    import spark.implicits._
    val n = spark.table("nation")
    val expCnt = n.filter($"n_regionkey" >= 3).count()
    val expTot = n.agg(fsum("n_nationkey")).head.getLong(0)
    assert(math.abs(k - expTot.toDouble / (expCnt + 1)) < 1e-9)
    // RETURN NEXT over the loop → table function (≡ RETURN QUERY)
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION region_names() RETURNS TABLE(r_name STRING) AS $$
        |BEGIN
        |  FOR r IN SELECT r_name FROM region LOOP
        |    RETURN NEXT r;
        |  END LOOP;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val rn = GpSqlDialect.execute(spark,
      "SELECT * FROM region_names() ORDER BY r_name", "/tmp/never")
      .collect().map(_.getString(0))
    assert(rn.length == 5 && rn.sorted.sameElements(rn))
    // RETURN QUERY EXECUTE with a CONSTANT string (exec_stmt_dynexecute,
    // no params): dynamic SQL known at CREATE → inlines like RETURN
    // QUERY, with '' unescaping
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION exec_regions() RETURNS TABLE(r_name STRING) AS $$
        |BEGIN
        |  RETURN QUERY EXECUTE
        |    'SELECT r_name FROM region WHERE r_name <> ''nowhere''';
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.execute(spark,
      "SELECT count(*) AS n FROM exec_regions()", "/tmp/never")
      .head.getLong(0) == 5L)
    // EXECUTE with runtime parameters (USING): the $n slots fill from
    // the USING expressions at CREATE time; a USING arg that references
    // a function parameter resolves when the call site inlines —
    // PREPARE's parameter path (exec_stmt_dynexecute with params)
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION exec_using(k INT) RETURNS TABLE(x INT) AS $$
        |BEGIN
        |  RETURN QUERY EXECUTE 'SELECT $1 + $1 AS x' USING k;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("exec_using").isEmpty)
    assert(GpSqlDialect.execute(spark,
      "SELECT * FROM exec_using(7)", "/tmp/never").head.getInt(0) == 14)
    // an out-of-range $n slot defers instead of inlining garbage
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION exec_using_bad(k INT) RETURNS TABLE(x INT) AS $$
        |BEGIN
        |  RETURN QUERY EXECUTE 'SELECT $2 AS x' USING k;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("exec_using_bad")
      .exists(_.contains("out of range")))
    // integer range loop (exec_stmt_fori): domain = sequence() derived
    // table, loop var referenced bare inside the accumulator
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION sum_squares(n INT) RETURNS BIGINT AS $$
        |DECLARE tot BIGINT := 0;
        |BEGIN
        |  FOR i IN 1..n LOOP tot := tot + i * i; END LOOP;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.execute(spark,
      "SELECT sum_squares(4) AS v", "/tmp/never").head.getLong(0) == 30L)
    // a loop body that is NOT an accumulator chain still defers loudly
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION for_dml(n INT) RETURNS INT AS $$
        |BEGIN
        |  FOR r IN SELECT 1 AS one LOOP
        |    UPDATE tt SET x = r.one;
        |  END LOOP;
        |  RETURN n;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("for_dml")
      .exists(_.contains("UPDATE")))
    // an uninitialized accumulator (NULL in PG) must not inline as 0
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION null_acc() RETURNS INT AS $$
        |DECLARE tot INT;
        |BEGIN
        |  FOR r IN SELECT 1 AS one LOOP tot := tot + r.one; END LOOP;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("null_acc")
      .exists(_.contains("initializer")))
    // FOREACH ... IN ARRAY (exec_stmt_foreach_a): domain = exploded
    // array argument; guarded + plain accumulators both apply
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION arr_score(xs BIGINT[], cut INT) RETURNS BIGINT AS $$
        |DECLARE tot BIGINT := 10;
        |        hits BIGINT := 0;
        |BEGIN
        |  FOREACH x IN ARRAY xs LOOP
        |    tot := tot + x;
        |    IF x >= cut THEN hits := hits + 1; END IF;
        |  END LOOP;
        |  RETURN tot * 100 + hits;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.execute(spark,
      "SELECT arr_score(array(1, 5, 7), 5) AS v", "/tmp/never")
      .head.getLong(0) == 2302L) // tot=10+13=23 → 2300 + hits=2
    // SLICE iteration is a different statement — must defer, not
    // silently iterate elements
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION arr_slices(xs BIGINT[]) RETURNS BIGINT AS $$
        |DECLARE tot BIGINT := 0;
        |BEGIN
        |  FOREACH s SLICE 1 IN ARRAY xs LOOP tot := tot + 1; END LOOP;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("arr_slices")
      .exists(_.contains("FOREACH")))
    // bound-cursor loop (exec_stmt_forc): the DECLAREd cursor is a
    // named query; the FOR lowers like FOR-over-SELECT
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION cursor_total(cut INT) RETURNS BIGINT AS $$
        |DECLARE c CURSOR FOR SELECT n_nationkey FROM nation
        |          WHERE n_regionkey >= cut;
        |        tot BIGINT := 0;
        |BEGIN
        |  FOR r IN c LOOP tot := tot + r.n_nationkey; END LOOP;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    val ct = GpSqlDialect.execute(spark,
      "SELECT cursor_total(2) AS v", "/tmp/never").head.getLong(0)
    val cexp = spark.table("nation")
      .filter(org.apache.spark.sql.functions.col("n_regionkey") >= 2)
      .agg(org.apache.spark.sql.functions.sum("n_nationkey"))
      .head.getLong(0)
    assert(ct == cexp)
    // an UNDECLARED loop source (refcursor / EXECUTE) must defer
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION phantom_cursor() RETURNS BIGINT AS $$
        |DECLARE tot BIGINT := 0;
        |BEGIN
        |  FOR r IN mystery LOOP tot := tot + 1; END LOOP;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("phantom_cursor").isDefined)
    // tier 4f: refcursor OPEN → FETCH/EXIT loop (exec_stmt_open/
    // exec_stmt_fetch) — OPEN ... FOR binds the query inline; the
    // canonical fetch loop lowers like FOR-over-query
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION fetch_total(cut INT) RETURNS BIGINT AS $$
        |DECLARE c refcursor;
        |        r record;
        |        tot BIGINT := 0;
        |BEGIN
        |  OPEN c FOR SELECT n_nationkey FROM nation
        |    WHERE n_regionkey >= cut;
        |  LOOP
        |    FETCH c INTO r;
        |    EXIT WHEN NOT FOUND;
        |    tot := tot + r.n_nationkey;
        |  END LOOP;
        |  CLOSE c;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("fetch_total").isEmpty)
    assert(GpSqlDialect.execute(spark,
      "SELECT fetch_total(2) AS v", "/tmp/never").head.getLong(0) == cexp)
    // bare OPEN over a DECLARE-bound cursor resolves the bound query
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION fetch_bound() RETURNS BIGINT AS $$
        |DECLARE c CURSOR FOR SELECT n_nationkey FROM nation;
        |        r record;
        |        tot BIGINT := 0;
        |BEGIN
        |  OPEN c;
        |  LOOP
        |    FETCH c INTO r;
        |    EXIT WHEN NOT FOUND;
        |    tot := tot + r.n_nationkey;
        |  END LOOP;
        |  CLOSE c;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.execute(spark,
      "SELECT fetch_bound() AS v", "/tmp/never").head.getLong(0) ==
      spark.table("nation")
        .agg(org.apache.spark.sql.functions.sum("n_nationkey"))
        .head.getLong(0))
    // an OPEN over an unbound refcursor with no FOR query must defer
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION fetch_unbound() RETURNS BIGINT AS $$
        |DECLARE c refcursor;
        |        r record;
        |        tot BIGINT := 0;
        |BEGIN
        |  OPEN c;
        |  LOOP
        |    FETCH c INTO r;
        |    EXIT WHEN NOT FOUND;
        |    tot := tot + 1;
        |  END LOOP;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("fetch_unbound")
      .exists(_.contains("no bound query")))
    // EXECUTE format() with all-literal args folds at CREATE time:
    // %I identifier, %L literal, %% escape
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION fmt_regions() RETURNS TABLE(r_name STRING) AS $$
        |BEGIN
        |  RETURN QUERY EXECUTE format(
        |    'SELECT r_name FROM %I WHERE r_name <> %L', 'region', 'no''ne');
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.execute(spark,
      "SELECT count(*) AS n FROM fmt_regions()", "/tmp/never")
      .head.getLong(0) == 5L)
    // a non-literal format argument must defer, not inline garbage
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION fmt_dyn(tbl TEXT) RETURNS TABLE(x INT) AS $$
        |BEGIN
        |  RETURN QUERY EXECUTE format('SELECT 1 FROM %I', tbl);
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("fmt_dyn").isDefined)
    // counter WHILE ≡ range FOR when the unit increment is the last
    // body statement (exec_stmt_while)
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION while_squares(n INT) RETURNS BIGINT AS $$
        |DECLARE i INT := 1;
        |        tot BIGINT := 0;
        |BEGIN
        |  WHILE i <= n LOOP
        |    tot := tot + i * i;
        |    i := i + 1;
        |  END LOOP;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.execute(spark,
      "SELECT while_squares(4) AS v", "/tmp/never").head.getLong(0) == 30L)
    // data-dependent WHILE condition must defer
    GpSqlDialect.execute(spark,
      """CREATE FUNCTION while_double(n INT) RETURNS BIGINT AS $$
        |DECLARE tot BIGINT := 1;
        |BEGIN
        |  WHILE tot < n LOOP tot := tot * 2; END LOOP;
        |  RETURN tot;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, "/tmp/never")
    assert(GpSqlDialect.plpgsqlRejection("while_double").isDefined)
  }

  test("procedures and DO blocks: SQL bodies, loop-UPDATE rewrite, " +
    "RAISE EXCEPTION aborts") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_proc_spec"
    GpSqlDialect.executeScript(spark,
      """DROP TABLE IF EXISTS proc_t;
        |CREATE TABLE proc_t (k int, v int) DISTRIBUTED BY (k);
        |INSERT INTO proc_t VALUES (1, 10), (2, 20), (3, 30);""".stripMargin,
      base)
    // DO block: statements run through the dialect; RAISE NOTICE no-ops
    GpSqlDialect.execute(spark,
      """DO $$
        |BEGIN
        |  RAISE NOTICE 'maintenance start';
        |  INSERT INTO proc_t VALUES (4, 40);
        |END
        |$$""".stripMargin, base)
    assert(GpSqlDialect.execute(spark,
      "SELECT count(*) AS n FROM proc_t", base).head.getLong(0) == 4L)
    // procedure with params + a FOR-loop UPDATE body → ONE set-based
    // UPDATE ... FROM (the migration rewrite, done automatically)
    GpSqlDialect.execute(spark,
      """CREATE PROCEDURE bump_v(factor INT) AS $$
        |BEGIN
        |  FOR r IN SELECT k, v FROM proc_t WHERE k <= 2 LOOP
        |    UPDATE proc_t SET v = r.v * factor WHERE k = r.k;
        |  END LOOP;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, base)
    GpSqlDialect.execute(spark, "CALL bump_v(3)", base)
    val after = GpSqlDialect.execute(spark,
      "SELECT k, v FROM proc_t ORDER BY k", base)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(after == Map(1 -> 30, 2 -> 60, 3 -> 30, 4 -> 40))
    // statement-position dynamic EXECUTE with USING parameters
    // (exec_stmt_dynexecute): $n slots fill from the USING args; a
    // procedure parameter inside USING substitutes at CALL
    GpSqlDialect.execute(spark,
      """CREATE PROCEDURE add_row(kk INT) AS $$
        |DECLARE base INT := 100;
        |BEGIN
        |  EXECUTE 'INSERT INTO proc_t VALUES ($1, $2)' USING kk, base + kk;
        |END
        |$$ LANGUAGE plpgsql""".stripMargin, base)
    GpSqlDialect.execute(spark, "CALL add_row(9)", base)
    assert(GpSqlDialect.execute(spark,
      "SELECT v FROM proc_t WHERE k = 9", base).head.getInt(0) == 109)
    // RAISE EXCEPTION aborts like PG
    GpSqlDialect.execute(spark,
      """CREATE PROCEDURE guard() AS $$
        |BEGIN RAISE EXCEPTION 'not allowed'; END
        |$$ LANGUAGE plpgsql""".stripMargin, base)
    intercept[RuntimeException](
      GpSqlDialect.execute(spark, "CALL guard()", base))
    // unsupported body statements raise loudly at CALL
    GpSqlDialect.execute(spark,
      """CREATE PROCEDURE weird() AS $$
        |BEGIN OPEN mycursor; END
        |$$ LANGUAGE plpgsql""".stripMargin, base)
    val e = intercept[UnsupportedOperationException](
      GpSqlDialect.execute(spark, "CALL weird()", base))
    assert(e.getMessage.contains("OPEN"))
  }

  test("CREATE INDEX is a recorded no-op so pg_dump-style scripts survive") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_idx_spec"
    // the shape of a real dump preamble: DDL + index + grants + comments
    // + vacuum, all in one script — none of it may abort execution
    val last = GpSqlDialect.executeScript(spark,
      """CREATE TABLE idxt (a int, b text) DISTRIBUTED BY (a);
        |INSERT INTO idxt VALUES (1, 'x'), (2, 'y'), (3, 'z');
        |CREATE UNIQUE INDEX idxt_a_idx ON idxt USING btree (a);
        |CREATE INDEX IF NOT EXISTS idxt_b_idx ON idxt (b);
        |GRANT SELECT ON idxt TO analyst;
        |COMMENT ON TABLE idxt IS 'dump fixture';
        |VACUUM idxt;
        |SELECT count(*) AS n FROM idxt;""".stripMargin, base)
    assert(last.head.getLong(0) == 3L)
    // the definition is recorded (pg_class-style introspection), and
    // DROP INDEX unrecords it
    assert(GpSqlDialect.recordedIndex("idxt_a_idx").contains(("idxt", "a")))
    assert(GpSqlDialect.recordedIndex("idxt_b_idx").contains(("idxt", "b")))
    GpSqlDialect.execute(spark, "DROP INDEX idxt_b_idx", base)
    assert(GpSqlDialect.recordedIndex("idxt_b_idx").isEmpty)
    GpSqlDialect.execute(spark, "DROP TABLE idxt", base)
  }

  test("GUCs: SET/SHOW/RESET round-trip; catalog views reflect DDL") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_guc_spec"
    // GP script preamble: planner GUCs are accepted + SHOWable no-ops
    GpSqlDialect.execute(spark, "SET optimizer = off", base)
    GpSqlDialect.execute(spark, "SET search_path TO public, ext", base)
    assert(GpSqlDialect.execute(spark, "SHOW optimizer", base)
      .head.getString(0) == "off")
    assert(GpSqlDialect.execute(spark, "SHOW search_path", base)
      .head.getString(0) == "public, ext")
    assert(GpSqlDialect.execute(spark, "SHOW ALL", base).count() >= 2)
    GpSqlDialect.execute(spark, "RESET optimizer", base)
    intercept[IllegalArgumentException] {
      GpSqlDialect.execute(spark, "SHOW optimizer", base)
    }
    // introspection: a created table appears in pg_tables with its
    // distribution key in gp_distribution_policy and typed columns
    GpSqlDialect.execute(spark,
      "CREATE TABLE guc_t (a bigint, b text) DISTRIBUTED BY (a)", base)
    val pt = GpSqlDialect.execute(spark,
      "SELECT tablename FROM pg_tables WHERE tablename = 'guc_t'", base)
    assert(pt.count() == 1)
    val dk = GpSqlDialect.execute(spark,
      "SELECT distkey FROM gp_distribution_policy WHERE localoid = 'guc_t'",
      base)
    assert(dk.head.getString(0) == "a")
    val cols = GpSqlDialect.execute(spark,
      """SELECT column_name, data_type FROM information_schema.columns
        |WHERE table_name = 'guc_t' ORDER BY ordinal_position""".stripMargin,
      base).collect()
    assert(cols.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(cols.map(_.getString(1)).toSeq == Seq("bigint", "string"))
    // information_schema.tables lists base tables and views with type
    GpSqlDialect.execute(spark,
      "CREATE VIEW guc_v AS SELECT a FROM guc_t", base)
    val tt = GpSqlDialect.execute(spark,
      """SELECT table_name, table_type FROM information_schema.tables
        |WHERE table_name IN ('guc_t', 'guc_v') ORDER BY 1""".stripMargin,
      base).collect()
    assert(tt.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("guc_t", "BASE TABLE"), ("guc_v", "VIEW")))
  }

  test("current_setting, quote_literal/ident, pg_total_relation_size") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_util"
    GpSqlDialect.execute(spark, "SET app.tenant TO 'acme'", base)
    assert(GpSqlDialect.execute(spark,
      "SELECT current_setting('app.tenant') AS t", base)
      .head.getString(0) == "acme")
    val q = GpSqlDialect.execute(spark,
      """SELECT quote_literal('it''s') AS ql, quote_ident('a"b') AS qi""",
      base).head
    assert(q.getString(0) == "'it''s'" && q.getString(1) == "\"a\"\"b\"")
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS sz_t", base)
    GpSqlDialect.execute(spark,
      "CREATE TABLE sz_t AS SELECT * FROM range(1000)", base)
    val sz = GpSqlDialect.execute(spark,
      "SELECT pg_total_relation_size('sz_t')", base).head.getLong(0)
    assert(sz > 0L)
    GpSqlDialect.execute(spark, "RESET app.tenant", base)
  }

  test("DML rewrites keep a partitioned table's Hive layout") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_partdml"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS pd_t", base)
    GpSqlDialect.execute(spark,
      """CREATE TABLE pd_t (k bigint, v text, region int)
        |WITH (compresstype=zlib)
        |DISTRIBUTED BY (k) PARTITION BY LIST (region)
        |  (PARTITION p0 VALUES (0), PARTITION p1 VALUES (1))""".stripMargin,
      base)
    GpSqlDialect.execute(spark,
      """INSERT INTO pd_t
        |SELECT CAST(n_nationkey AS BIGINT), n_name,
        |  CAST(n_regionkey % 2 AS INT) FROM nation""".stripMargin, base)
    val path = GpSqlDialect.catalogTable("pd_t").get.path
    def partDirs() = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("region="))
      .map(_.getName).toSet
    // every write keeps the codec of the table's compresstype
    def gzipOnly(sql: String) = assert(
      graft.operators.Dml.dataFiles(spark, path).map(_.getPath.getName)
        .forall(_.endsWith(".gz.parquet")), sql)
    assert(partDirs() == Set("region=0", "region=1"))
    // upsert rewrite keeps the directory layout
    GpSqlDialect.execute(spark,
      """INSERT INTO pd_t VALUES (100, 'new', 1)
        |ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v""".stripMargin, base)
    assert(partDirs() == Set("region=0", "region=1"))
    assert(spark.table("pd_t").count() == 26)
    // MERGE rewrite too
    spark.sql("SELECT CAST(5 AS BIGINT) AS k, 'merged' AS v")
      .createOrReplaceTempView("pd_s")
    GpSqlDialect.execute(spark,
      """MERGE INTO pd_t USING pd_s ON pd_t.k = pd_s.k
        |WHEN MATCHED THEN UPDATE SET v = pd_s.v""".stripMargin, base)
    assert(partDirs() == Set("region=0", "region=1"))
    assert(spark.table("pd_t").filter(col("v") === "merged").count() == 1)
    // UPDATE, DELETE, UPDATE ... FROM, DELETE ... USING, VACUUM and
    // CLUSTER too. The INSERT after each lands in a region= directory,
    // so a rewrite that flattened the table would leave its rows unread
    // beside the new one
    spark.sql("SELECT CAST(3 AS BIGINT) AS sk, 'from' AS sv")
      .createOrReplaceTempView("pd_u")
    var rows = 26L
    Seq("UPDATE pd_t SET v = 'u' WHERE k = 1" -> 0L,
      "DELETE FROM pd_t WHERE k = 2" -> -1L,
      "UPDATE pd_t SET v = sv FROM pd_u WHERE k = sk" -> 0L,
      "DELETE FROM pd_t USING pd_u WHERE pd_t.k = pd_u.sk" -> -1L,
      "VACUUM pd_t" -> 0L,
      "CLUSTER pd_t BY (k)" -> 0L
    ).zipWithIndex.foreach { case ((sql, delta), i) =>
      GpSqlDialect.execute(spark, sql, base)
      assert(partDirs() == Set("region=0", "region=1"), sql)
      gzipOnly(sql)
      GpSqlDialect.execute(spark,
        s"INSERT INTO pd_t VALUES (${200 + i}, 'i', 1)", base)
      gzipOnly(sql)
      rows += delta + 1
      assert(spark.table("pd_t").count() == rows, sql)
    }
    assert(spark.table("pd_t").filter(col("k") === 1)
      .select("v").head.getString(0) == "u")
    // SET DISTRIBUTED and ADD COLUMN rewrite through the same path; an
    // added column comes last in declared order, after the partition key
    GpSqlDialect.execute(spark, "ALTER TABLE pd_t SET DISTRIBUTED BY (v)", base)
    assert(partDirs() == Set("region=0", "region=1"))
    gzipOnly("SET DISTRIBUTED")
    assert(spark.table("pd_t").count() == rows)
    GpSqlDialect.execute(spark, "ALTER TABLE pd_t ADD COLUMN z int", base)
    assert(partDirs() == Set("region=0", "region=1"))
    gzipOnly("ADD COLUMN")
    assert(spark.table("pd_t").columns.toSeq == Seq("k", "v", "region", "z"))
    assert(GpSqlDialect.catalogTable("pd_t").get.schema.fieldNames.toSeq ==
      Seq("k", "v", "region", "z"))
    GpSqlDialect.execute(spark,
      "INSERT INTO pd_t VALUES (300, 'z', 0, 7)", base)
    assert(spark.table("pd_t").filter(col("z") === 7)
      .select("region").head.getInt(0) == 0)
    // TRUNCATE keeps the table partitioned: the next row lands in its
    // region= directory and is read back
    GpSqlDialect.execute(spark, "TRUNCATE pd_t", base)
    assert(spark.table("pd_t").count() == 0)
    GpSqlDialect.execute(spark,
      "INSERT INTO pd_t VALUES (400, 't', 1, 1)", base)
    assert(partDirs() == Set("region=1"))
    gzipOnly("TRUNCATE")
    assert(spark.table("pd_t").count() == 1)
  }

  test("a view over a table sees each statement that writes the table") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_viewpub"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    val csv = new java.io.File(s"$base/in"); csv.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(csv, "d.csv"))
    try w.print("5,e,1\n6,f,2\n") finally w.close()
    run("DROP TABLE IF EXISTS vp_t")
    run("CREATE TABLE vp_t (k bigint, v text) DISTRIBUTED BY (k)")
    run("INSERT INTO vp_t VALUES (1, 'a'), (2, 'b')")
    // the view is created anew before each statement, so that each one
    // alone has to re-resolve it
    Seq("TRUNCATE vp_t" -> 0L,
      "INSERT INTO vp_t DEFAULT VALUES" -> 1L,
      "ALTER TABLE vp_t SET DISTRIBUTED BY (v)" -> 1L,
      "INSERT INTO vp_t VALUES (3, 'c') ON CONFLICT (k) DO NOTHING" -> 2L,
      "ALTER TABLE vp_t ADD COLUMN w int" -> 2L,
      s"COPY vp_t FROM '$csv' CSV" -> 4L
    ).foreach { case (sql, rows) =>
      run("CREATE OR REPLACE VIEW vp_v AS SELECT * FROM vp_t")
      run(sql)
      assert(run("SELECT count(*) AS n FROM vp_v").head.getLong(0) == rows,
        sql)
    }
  }

  test("DELETE FROM ... USING drops rows matching another relation") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_delusing"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS du_t", base)
    GpSqlDialect.execute(spark,
      """CREATE TABLE du_t AS
        |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin,
      base)
    spark.sql("SELECT r_regionkey FROM region WHERE r_regionkey IN (1, 3)")
      .createOrReplaceTempView("du_kill")
    GpSqlDialect.execute(spark,
      """DELETE FROM du_t USING du_kill
        |WHERE du_t.n_regionkey = du_kill.r_regionkey""".stripMargin, base)
    val left = spark.table("du_t").select("n_regionkey").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(left == Set(0, 2, 4))
    assert(spark.table("du_t").count() == 15)
  }

  test("MERGE INTO statement: update, delete, and insert branches") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_merge"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS mrg_t", base)
    GpSqlDialect.execute(spark,
      """CREATE TABLE mrg_t AS
        |SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v,
        |  CAST(0 AS BIGINT) AS touched
        |FROM nation WHERE n_nationkey < 15""".stripMargin, base)
    spark.sql(
      """SELECT CAST(n_nationkey AS BIGINT) AS k,
        |  concat('X-', n_name) AS v FROM nation
        |WHERE n_nationkey BETWEEN 10 AND 19""".stripMargin)
      .createOrReplaceTempView("mrg_s")
    GpSqlDialect.execute(spark,
      """MERGE INTO mrg_t USING mrg_s ON mrg_t.k = mrg_s.k
        |WHEN MATCHED AND mrg_s.k = 10 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = mrg_s.v, touched = 1
        |WHEN NOT MATCHED THEN INSERT (k, v, touched)
        |  VALUES (mrg_s.k, mrg_s.v, 2)""".stripMargin, base)
    val rows = spark.table("mrg_t").orderBy("k").collect()
    assert(!rows.map(_.getLong(0)).contains(10L)) // deleted
    assert(rows.count(_.getLong(2) == 0L) == 10)  // k<10 untouched
    assert(rows.filter(r => r.getLong(0) >= 11 && r.getLong(0) <= 14)
      .forall(r => r.getLong(2) == 1L && r.getString(1).startsWith("X-")))
    assert(rows.filter(_.getLong(0) >= 15)
      .forall(r => r.getLong(2) == 2L && r.getString(1).startsWith("X-")))
    assert(rows.length == 19) // 10 keep + 4 update + 5 insert
  }

  test("MERGE applies its WHEN clauses in order, first match wins") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_mergeord"
    def reset(): Unit = {
      GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS mo_t", base)
      GpSqlDialect.execute(spark,
        """CREATE TABLE mo_t AS
          |SELECT CAST(n_nationkey AS BIGINT) AS k, 'orig' AS v
          |FROM nation WHERE n_nationkey BETWEEN 1 AND 5""".stripMargin,
        base)
    }
    spark.sql(
      """SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
        |WHERE n_nationkey BETWEEN 1 AND 5""".stripMargin)
      .createOrReplaceTempView("mo_s")
    def table() = spark.table("mo_t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // PG: an earlier guarded UPDATE takes the rows it matches ...
    reset()
    GpSqlDialect.execute(spark,
      """MERGE INTO mo_t t USING mo_s s ON t.k = s.k
        |WHEN MATCHED AND s.k < 3 THEN UPDATE SET v = 'first'
        |WHEN MATCHED THEN UPDATE SET v = 'second'""".stripMargin, base)
    assert(table() == Seq(1L -> "first", 2L -> "first", 3L -> "second",
      4L -> "second", 5L -> "second"))
    // ... and keeps them from a later DELETE
    reset()
    GpSqlDialect.execute(spark,
      """MERGE INTO mo_t t USING mo_s s ON t.k = s.k
        |WHEN MATCHED AND s.k = 1 THEN UPDATE SET v = 'kept'
        |WHEN MATCHED THEN DELETE""".stripMargin, base)
    assert(table() == Seq(1L -> "kept"))
  }

  test("MERGE refuses to update a target row two source rows match") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_mergedup"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS d_t", base)
    GpSqlDialect.execute(spark,
      "CREATE TABLE d_t AS SELECT CAST(1 AS BIGINT) AS k, 'a' AS v", base)
    spark.sql("SELECT * FROM VALUES (CAST(1 AS BIGINT), 'x'), " +
      "(CAST(1 AS BIGINT), 'y') AS d(k, w)").createOrReplaceTempView("d_s")
    // PG: "MERGE command cannot affect row a second time"
    val e = intercept[IllegalArgumentException] {
      GpSqlDialect.execute(spark,
        """MERGE INTO d_t USING d_s ON d_t.k = d_s.k
          |WHEN MATCHED THEN UPDATE SET v = d_s.w""".stripMargin, base)
    }
    assert(e.getMessage.contains("a second time"), e.getMessage)
    // refused before the swap: the table is as it was
    assert(spark.table("d_t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(1L -> "a"))
  }

  test("DML statements keep their Spark job floor") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_dmljobs"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS jf_t")
    run("DROP TABLE IF EXISTS jf_s")
    run("""CREATE TABLE jf_t AS SELECT CAST(o_orderkey AS BIGINT) AS k,
          |  o_custkey AS c, o_totalprice AS p FROM orders
          |DISTRIBUTED BY (k)""".stripMargin)
    run("""CREATE TABLE jf_s AS SELECT c_custkey AS sc
          |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin)
    // a statement's jobs include collecting its result, as a client does
    def stmtJobs(sql: String) = jobs(run(sql).collect())
    // the copy-on-write write job only: the declared schema spares the
    // footer-reading inference job and the affected-row count rides the
    // write as an observed metric, not a second scan
    assert(stmtJobs("UPDATE jf_t SET p = p + 1 WHERE k < 100") == 1)
    assert(stmtJobs("DELETE FROM jf_t WHERE k >= 5000") == 1)
    // a join: its source stage and the write; the target row count that
    // the multi-match check compares with rides the write as well
    assert(stmtJobs("UPDATE jf_t SET p = 0 FROM jf_s WHERE c = sc") == 2)
    assert(stmtJobs(
      "INSERT INTO jf_t SELECT k + 100000, c, p FROM jf_t WHERE k < 50") == 3)
  }

  test("transaction no-ops, ROLLBACK rejection, AT TIME ZONE rewrite") {
    val base = "/tmp/never"
    Seq("BEGIN", "BEGIN TRANSACTION", "START TRANSACTION", "COMMIT",
      "END", "SAVEPOINT sp1", "RELEASE SAVEPOINT sp1").foreach { s =>
      assert(GpSqlDialect.execute(spark, s, base).isEmpty)
    }
    intercept[UnsupportedOperationException] {
      GpSqlDialect.execute(spark, "ROLLBACK", base)
    }
    val got = GpSqlDialect.execute(spark,
      """SELECT TIMESTAMP '2024-01-01 12:00:00'
        |AT TIME ZONE 'America/New_York' AS local_ts""".stripMargin, base)
      .head.getTimestamp(0)
    val want = spark.sql(
      """SELECT from_utc_timestamp(TIMESTAMP '2024-01-01 12:00:00',
        |'America/New_York') AS local_ts""".stripMargin)
      .head.getTimestamp(0)
    assert(got == want)
  }

  test("table CHECK and NOT NULL constraints enforced on INSERT") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_check"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS chk_t", base)
    GpSqlDialect.execute(spark,
      """CREATE TABLE chk_t (
        |  id bigint NOT NULL,
        |  qty bigint CHECK (qty >= 0),
        |  lo bigint,
        |  hi bigint,
        |  CONSTRAINT ordered CHECK (lo <= hi))""".stripMargin, base)
    GpSqlDialect.execute(spark,
      "INSERT INTO chk_t VALUES (1, 5, 10, 20)", base)
    // NULL passes a CHECK (qty), but not NOT NULL (id)
    GpSqlDialect.execute(spark,
      "INSERT INTO chk_t VALUES (2, NULL, NULL, NULL)", base)
    assert(spark.table("chk_t").count() == 2)
    intercept[Exception] { // column CHECK
      GpSqlDialect.execute(spark,
        "INSERT INTO chk_t VALUES (3, -1, 0, 1)", base)
    }
    intercept[Exception] { // table CHECK
      GpSqlDialect.execute(spark,
        "INSERT INTO chk_t VALUES (4, 1, 9, 3)", base)
    }
    intercept[Exception] { // NOT NULL
      GpSqlDialect.execute(spark,
        "INSERT INTO chk_t VALUES (NULL, 1, 0, 1)", base)
    }
    assert(spark.table("chk_t").count() == 2)
  }

  test("CREATE DOMAIN: base type, DEFAULT, CHECK enforced on INSERT") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_domain"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS dom_t", base)
    GpSqlDialect.execute(spark,
      "CREATE DOMAIN posint AS bigint DEFAULT 1 CHECK (VALUE > 0)", base)
    GpSqlDialect.execute(spark,
      "CREATE DOMAIN shortname AS text CHECK (length(VALUE) <= 8)", base)
    GpSqlDialect.execute(spark,
      "CREATE TABLE dom_t (qty posint, tag shortname)", base)
    // base types substituted in the schema
    assert(spark.table("dom_t").schema("qty").dataType ==
      org.apache.spark.sql.types.LongType)
    GpSqlDialect.execute(spark,
      "INSERT INTO dom_t VALUES (5, 'ok')", base)
    // domain DEFAULT fills the unlisted column
    GpSqlDialect.execute(spark, "INSERT INTO dom_t (tag) VALUES ('dflt')",
      base)
    assert(spark.table("dom_t").filter(col("qty") === 1).count() == 1)
    // NULL passes a CHECK (SQL semantics)
    GpSqlDialect.execute(spark,
      "INSERT INTO dom_t VALUES (2, NULL)", base)
    assert(spark.table("dom_t").count() == 3)
    // violations raise during the insert
    intercept[Exception] {
      GpSqlDialect.execute(spark, "INSERT INTO dom_t VALUES (-4, 'x')", base)
    }
    intercept[Exception] {
      GpSqlDialect.execute(spark,
        "INSERT INTO dom_t VALUES (4, 'waytoolongtag')", base)
    }
    assert(spark.table("dom_t").count() == 3)
    GpSqlDialect.execute(spark, "DROP DOMAIN posint", base)
    GpSqlDialect.execute(spark, "DROP DOMAIN shortname", base)
  }

  test("ALTER COLUMN TYPE/SET DEFAULT/DROP DEFAULT and SET SCHEMA") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_altcol2"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS alt2", base)
    GpSqlDialect.execute(spark,
      "CREATE TABLE alt2 (a bigint, b text)", base)
    GpSqlDialect.execute(spark, "INSERT INTO alt2 SELECT 1, '5'", base)
    // TYPE change with USING rewrites through the expression
    GpSqlDialect.execute(spark,
      "ALTER TABLE alt2 ALTER COLUMN b TYPE bigint USING CAST(b AS bigint)",
      base)
    val r1 = spark.table("alt2").head
    assert(r1.getLong(1) == 5L)
    // plain TYPE change casts in place
    GpSqlDialect.execute(spark,
      "ALTER TABLE alt2 ALTER COLUMN a SET DATA TYPE text", base)
    assert(spark.table("alt2").head.getString(0) == "1")
    // SET DEFAULT is catalog-only and applies to later inserts
    GpSqlDialect.execute(spark,
      "ALTER TABLE alt2 ALTER COLUMN a SET DEFAULT 'z'", base)
    GpSqlDialect.execute(spark, "INSERT INTO alt2 (b) SELECT 7", base)
    assert(spark.table("alt2").filter(col("a") === "z").count() == 1)
    GpSqlDialect.execute(spark,
      "ALTER TABLE alt2 ALTER COLUMN a DROP DEFAULT", base)
    GpSqlDialect.execute(spark, "INSERT INTO alt2 (b) SELECT 8", base)
    assert(spark.table("alt2").filter(col("a").isNull).count() == 1)
    // SET SCHEMA re-keys the relation into the target schema
    GpSqlDialect.execute(spark, "CREATE SCHEMA IF NOT EXISTS arch", base)
    GpSqlDialect.execute(spark, "ALTER TABLE alt2 SET SCHEMA arch", base)
    assert(GpSqlDialect.execute(spark,
      "SELECT count(*) AS n FROM arch.alt2", base).head.getLong(0) == 3L)
    val pt = GpSqlDialect.execute(spark,
      "SELECT schemaname FROM pg_tables WHERE tablename = 'alt2'", base)
    assert(pt.head.getString(0) == "arch")
    GpSqlDialect.execute(spark, "DROP SCHEMA arch CASCADE", base)
  }

  test("ALTER TABLE SET DISTRIBUTED BY redistributes and updates policy") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_setdist"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS sd_t", base)
    GpSqlDialect.execute(spark,
      """CREATE TABLE sd_t DISTRIBUTED BY (n_nationkey) AS
        |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin,
      base)
    GpSqlDialect.execute(spark,
      "ALTER TABLE sd_t SET DISTRIBUTED BY (n_regionkey)", base)
    assert(GpSqlDialect.catalogTable("sd_t").get.distributionCols ==
      Seq("n_regionkey"))
    assert(spark.table("sd_t").count() == 25) // data intact
    val dk = GpSqlDialect.execute(spark,
      "SELECT distkey FROM gp_distribution_policy WHERE localoid = 'sd_t'",
      base)
    assert(dk.head.getString(0) == "n_regionkey")
    GpSqlDialect.execute(spark,
      "ALTER TABLE sd_t SET WITH (REORGANIZE=true)", base)
    assert(GpSqlDialect.catalogTable("sd_t").get.distributionCols ==
      Seq("n_regionkey")) // policy kept
    GpSqlDialect.execute(spark,
      "ALTER TABLE sd_t SET DISTRIBUTED RANDOMLY", base)
    assert(GpSqlDialect.catalogTable("sd_t").get.distributionCols.isEmpty)
    assert(spark.table("sd_t").count() == 25)
  }

  test("INSERT ON CONFLICT upsert, INSERT RETURNING, GRANT/COMMENT") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_upsert"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS ups_t", base)
    GpSqlDialect.execute(spark,
      "CREATE TABLE ups_t (k bigint, v text, hits bigint)", base)
    GpSqlDialect.execute(spark,
      "INSERT INTO ups_t VALUES (1, 'a', 1), (2, 'b', 1)", base)
    // DO NOTHING: conflicting row dropped, new row appended
    GpSqlDialect.execute(spark,
      """INSERT INTO ups_t VALUES (2, 'DUP', 9), (3, 'c', 1)
        |ON CONFLICT (k) DO NOTHING""".stripMargin, base)
    val afterNothing = spark.table("ups_t").orderBy("k").collect()
    assert(afterNothing.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(afterNothing(1).getString(1) == "b") // not overwritten
    // DO UPDATE: EXCLUDED addresses the proposed row; target cols by name
    GpSqlDialect.execute(spark,
      """INSERT INTO ups_t VALUES (2, 'b2', 5), (4, 'd', 1)
        |ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v,
        |  hits = hits + EXCLUDED.hits""".stripMargin, base)
    val afterUpdate = spark.table("ups_t").orderBy("k").collect()
    assert(afterUpdate.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(afterUpdate(1).getString(1) == "b2" &&
      afterUpdate(1).getLong(2) == 6L)
    assert(afterUpdate(3).getString(1) == "d" &&
      afterUpdate(3).getLong(2) == 1L)
    // two proposed rows on the same key = PG's cannot-affect-twice error
    intercept[Exception] {
      GpSqlDialect.execute(spark,
        """INSERT INTO ups_t VALUES (9, 'x', 1), (9, 'y', 1)
          |ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v""".stripMargin, base)
    }
    // INSERT ... RETURNING: the inserted rows post-cast
    val ret = GpSqlDialect.execute(spark,
      "INSERT INTO ups_t VALUES (5, 'e', 2) RETURNING k, hits", base)
    assert(ret.columns.toSeq == Seq("k", "hits"))
    assert(ret.head.getLong(0) == 5L && ret.head.getLong(1) == 2L)
    assert(spark.table("ups_t").count() == 5)
    // GRANT/REVOKE accepted as no-ops; COMMENT ON recorded
    GpSqlDialect.execute(spark,
      "GRANT SELECT, INSERT ON ups_t TO analyst", base)
    GpSqlDialect.execute(spark, "REVOKE INSERT ON ups_t FROM analyst", base)
    GpSqlDialect.execute(spark,
      "COMMENT ON TABLE ups_t IS 'it''s the upsert table'", base)
    assert(GpSqlDialect.objComment("table", "ups_t")
      .contains("it's the upsert table"))
  }

  test("incremental matview REFRESH merges only the append delta") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ivm"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS ivm_base", base)
    GpSqlDialect.execute(spark,
      """CREATE TABLE ivm_base AS
        |SELECT o_orderstatus, o_totalprice, o_custkey FROM orders
        |WHERE o_orderkey <= 2000""".stripMargin, base)
    GpSqlDialect.execute(spark,
      """CREATE MATERIALIZED VIEW ivm_mv AS
        |SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total,
        |  min(o_custkey) AS lo, max(o_custkey) AS hi
        |FROM ivm_base GROUP BY o_orderstatus""".stripMargin, base)
    assert(!GpSqlDialect.lastRefreshIncremental) // first build is full
    GpSqlDialect.execute(spark,
      """INSERT INTO ivm_base
        |SELECT o_orderstatus, o_totalprice, o_custkey FROM orders
        |WHERE o_orderkey > 2000 AND o_orderkey <= 4000""".stripMargin, base)
    GpSqlDialect.execute(spark, "REFRESH MATERIALIZED VIEW ivm_mv", base)
    assert(GpSqlDialect.lastRefreshIncremental)
    // delta-merged result ≡ from-scratch recompute
    val got = spark.sql(
      "SELECT * FROM ivm_mv ORDER BY o_orderstatus").collect()
    val want = spark.sql(
      """SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total,
        |  min(o_custkey) AS lo, max(o_custkey) AS hi
        |FROM ivm_base GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getLong(1) == w.getLong(1))
      assert(math.abs(g.getDouble(2) - w.getDouble(2)) <
        1e-9 * math.abs(w.getDouble(2)))
      assert(g.getLong(3) == w.getLong(3) && g.getLong(4) == w.getLong(4))
    }
    // a base rewrite breaks append-only → REFRESH falls back to full
    GpSqlDialect.execute(spark,
      "DELETE FROM ivm_base WHERE o_orderstatus = 'F'", base)
    GpSqlDialect.execute(spark, "REFRESH MATERIALIZED VIEW ivm_mv", base)
    assert(!GpSqlDialect.lastRefreshIncremental)
    assert(spark.sql("SELECT * FROM ivm_mv").collect()
      .forall(_.getString(0) != "F"))
  }

  test("schemas: qualified names, search_path, DROP SCHEMA semantics") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_schema_spec"
    GpSqlDialect.execute(spark, "CREATE SCHEMA IF NOT EXISTS stg", base)
    // qualified DDL + DML land in the schema
    GpSqlDialect.execute(spark,
      "CREATE TABLE stg.t1 (a bigint, b text)", base)
    GpSqlDialect.execute(spark,
      "INSERT INTO stg.t1 SELECT 1, 'x'", base)
    assert(GpSqlDialect.execute(spark,
      "SELECT a, b FROM stg.t1", base).head.getLong(0) == 1L)
    // introspection: schemaname is real, pg_namespace lists the schema
    val ns = GpSqlDialect.execute(spark,
      "SELECT nspname FROM pg_namespace ORDER BY nspname", base)
      .collect().map(_.getString(0)).toSeq
    assert(ns.contains("stg") && ns.contains("public"))
    val pt = GpSqlDialect.execute(spark,
      "SELECT schemaname, tablename FROM pg_tables WHERE tablename = 't1'",
      base).head
    assert(pt.getString(0) == "stg" && pt.getString(1) == "t1")
    // search_path: unqualified reference resolves through the schema,
    // and unqualified CREATE lands in the first search_path schema
    GpSqlDialect.execute(spark, "SET search_path TO stg, public", base)
    assert(GpSqlDialect.execute(spark,
      "SELECT count(*) AS n FROM t1", base).head.getLong(0) == 1L)
    GpSqlDialect.execute(spark,
      "CREATE TABLE t2 AS SELECT 7 AS v", base)
    assert(GpSqlDialect.execute(spark,
      """SELECT schemaname FROM pg_tables
        |WHERE tablename = 't2'""".stripMargin, base)
      .head.getString(0) == "stg")
    GpSqlDialect.execute(spark, "RESET search_path", base)
    // after reset, the unqualified name no longer resolves into stg
    intercept[Exception] {
      GpSqlDialect.execute(spark, "SELECT * FROM t1", base).collect()
    }
    // DROP SCHEMA refuses while non-empty; CASCADE drops the contents
    intercept[IllegalStateException] {
      GpSqlDialect.execute(spark, "DROP SCHEMA stg", base)
    }
    GpSqlDialect.execute(spark, "DROP SCHEMA stg CASCADE", base)
    assert(GpSqlDialect.execute(spark,
      "SELECT count(*) AS n FROM pg_tables WHERE tablename = 't1'",
      base).head.getLong(0) == 0L)
  }

  test("gp_segment_id / gp_row_id compatibility functions") {
    graft.functions.PgFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT gp_segment_id() AS seg, gp_row_id() AS rid FROM range(10)")
      .collect()
    assert(r.forall(_.getInt(0) >= 0))
    assert(r.map(_.getLong(1)).distinct.length == 10) // unique row address
  }

  test("enum types: declaration-order comparison, invalid label raises") {
    import spark.implicits._
    GpSqlDialect.execute(spark,
      "CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')", "/tmp/never")
    val df = Seq("happy", "sad", "ok").toDF("m")
    val ord = df.select(GpSqlDialect.enumOrdinal("mood", $"m")).as[Int]
      .collect().toSeq
    assert(ord == Seq(2, 0, 1))
    assert(GpSqlDialect.enumFirst("mood") == "sad")
    assert(GpSqlDialect.enumLast("mood") == "happy")
    intercept[Exception] {
      Seq("angry").toDF("m")
        .select(GpSqlDialect.enumAssert("mood", $"m")).collect()
    }
    GpSqlDialect.execute(spark, "DROP TYPE mood", "/tmp/never")
    intercept[IllegalArgumentException] {
      GpSqlDialect.enumOrdinal("mood", $"m")
    }
  }

  test("RangeFunctions: PG range operator semantics on struct ranges") {
    import spark.implicits._
    import graft.functions.RangeFunctions._
    // int ranges [lo, hi) — canonical discrete form (rangetypes.c)
    val df = Seq((1, 5, 3, 8), (1, 5, 5, 9), (1, 5, 6, 9), (2, 8, 3, 5),
        (5, 5, 1, 9))
      .toDF("a_lo", "a_hi", "b_lo", "b_hi")
      .select(range($"a_lo", $"a_hi").as("a"), range($"b_lo", $"b_hi").as("b"))
    val r = df.select(
      overlaps($"a", $"b"), adjacent($"a", $"b"), strictlyLeft($"a", $"b"),
      containsRange($"a", $"b"), isEmpty($"a"),
      upperBound(intersect($"a", $"b")) - lowerBound(intersect($"a", $"b")),
      lowerBound(unionSpan($"a", $"b")), upperBound(unionSpan($"a", $"b")),
      lowerBound(minus($"a", $"b")), upperBound(minus($"a", $"b"))).collect()
    // [1,5) vs [3,8): overlap, isect width 2, union [1,8), minus [1,3)
    assert(r(0).getBoolean(0) && !r(0).getBoolean(1) && !r(0).getBoolean(2))
    assert(r(0).getInt(5) == 2 && r(0).getInt(6) == 1 && r(0).getInt(7) == 8)
    assert(r(0).getInt(8) == 1 && r(0).getInt(9) == 3)
    // [1,5) vs [5,9): adjacent (half-open touch), union spans [1,9)
    assert(!r(1).getBoolean(0) && r(1).getBoolean(1) && r(1).getBoolean(2))
    assert(r(1).getInt(6) == 1 && r(1).getInt(7) == 9)
    // [1,5) vs [6,9): disjoint non-adjacent → unionSpan null (PG errors)
    assert(!r(2).getBoolean(0) && !r(2).getBoolean(1) && r(2).isNullAt(6))
    // [2,8) ⊇ [3,5); minus would split → null (PG errors, range_minus)
    assert(r(3).getBoolean(3) && r(3).isNullAt(8))
    // empty [5,5): contained by everything, contains nothing non-empty
    assert(r(4).getBoolean(4) && !r(4).getBoolean(3) && !r(4).getBoolean(0))
  }

  test("Porter stemmer matches the published algorithm's examples") {
    import graft.functions.PorterStemmer.stem
    // every worked example in Porter 1980 §"THE ALGORITHM" (full-run
    // outputs; the per-step examples compose to these)
    val vectors = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "agreed" -> "agre", "plastered" -> "plaster", "bled" -> "bled",
      "motoring" -> "motor", "sing" -> "sing", "conflated" -> "conflat",
      "troubled" -> "troubl", "sized" -> "size", "hopping" -> "hop",
      "tanned" -> "tan", "falling" -> "fall", "hissing" -> "hiss",
      "fizzed" -> "fizz", "failing" -> "fail", "filing" -> "file",
      "happy" -> "happi", "sky" -> "sky", "relational" -> "relat",
      "conditional" -> "condit", "rational" -> "ration",
      "valenci" -> "valenc", "hesitanci" -> "hesit",
      "digitizer" -> "digit", "conformabli" -> "conform",
      "radicalli" -> "radic", "differentli" -> "differ",
      "vileli" -> "vile", "analogousli" -> "analog",
      "vietnamization" -> "vietnam", "predication" -> "predic",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "callousness" -> "callous", "formaliti" -> "formal",
      "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "formative" -> "form",
      "formalize" -> "formal", "electriciti" -> "electr",
      "electrical" -> "electr", "hopeful" -> "hope",
      "goodness" -> "good", "revival" -> "reviv",
      "allowance" -> "allow", "inference" -> "infer",
      "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "irritant" -> "irrit", "replacement" -> "replac",
      "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "homologou" -> "homolog",
      "communism" -> "commun", "activate" -> "activ",
      "angulariti" -> "angular", "homologous" -> "homolog",
      "effective" -> "effect", "bowdlerize" -> "bowdler",
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controll" -> "control", "roll" -> "roll")
    val bad = vectors.collect {
      case (in, want) if stem(in) != want => s"$in → ${stem(in)} (want $want)"
    }
    assert(bad.isEmpty, bad.mkString("; "))
    // k ≤ 1 guard and corpus-vocabulary spot checks
    assert(stem("as") == "as" && stem("is") == "is" && stem("a") == "a")
    assert(stem("customer") == "custom" && stem("value") == "valu")
    assert(stem("query") == "queri" && stem("merge") == "merg")
    assert(stem("table") == "tabl" && stem("filter") == "filter")
  }

  test("metaphone: hand-derived automaton vectors + wrapper contract") {
    import graft.expressions.MetaphoneExpr.{metaphone => mp}
    // branch-by-branch hand derivations against fuzzystrmatch.c:335
    assert(mp("GUMBO", 4) == "KM")       // the PG docs example
    assert(mp("phone", 4) == "FN")       // PH → F
    assert(mp("school", 4) == "SKL")     // PG tweak: SCH hardens to K
    assert(mp("christ", 4) == "KRST")    // PG tweak: CHR hardens to K
    assert(mp("chair", 4) == "XR")       // plain CH stays SH
    assert(mp("schwa", 4) == "XW")       // PG tweak: SCHW → SH
    assert(mp("aeiou", 4) == "E")        // initial AE → E, rest dropped
    assert(mp("Xavier", 4) == "SFR")     // initial X → S
    assert(mp("box", 4) == "BKS")        // medial X → KS
    assert(mp("action", 4) == "AKXN")    // TIO → SH
    assert(mp("thompson", 4) == "0MPS")  // TH → 0, truncation at 4
    assert(mp("thompson", 8) == "0MPSN")
    assert(mp("knight", 4) == "NFT")     // initial KN → N; quirky GH → F
    assert(mp("weight", 4) == "WFT")     // lookback-3 from G is W
    // (code 0, not a GH blocker), so GH → F — the automaton's quirk
    assert(mp("wright", 4) == "RFT")     // initial WR → R
    assert(mp("what", 4) == "HT")        // initial WH → H
    assert(mp("gnome", 4) == "NM")       // initial GN → N
    assert(mp("lamb", 4) == "LM")        // MB → M
    assert(mp("judge", 4) == "JJ")       // DGE → J
    assert(mp("sign", 4) == "SN")        // -GN drops the G
    assert(mp("signed", 4) == "SNT")     // -GNED drops the G
    assert(mp("signal", 4) == "SKNL")    // medial GN before vowel → K
    assert(mp("cc", 4) == "KK")          // CC is exempt from dup-drop
    assert(mp("bb", 4) == "B")           // other duplicates collapse
    assert(mp("   ", 4) == "")           // all-junk input
    assert(mp("", 4) == "")              // PG wrapper: empty in → out
    assert(mp("o'brien", 4) == "OBRN")   // junk mid-word is skipped
    intercept[IllegalArgumentException](mp("abc", 0))
  }

  test("Porter SQL chain (the oracle's spelling) ≡ native porter_stem") {
    import spark.implicits._
    import graft.functions.{PorterSql, PorterStemmer}
    // corpus vocabulary + the golden words + stopword-ish shorts
    val corpusVocab = Tables.T(spark, sf).documents
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("w"))
      .filter($"w" =!= "").distinct().as[String].collect().toSeq
    val extra = Seq("caresses", "agreed", "sensibiliti", "controll",
      "vietnamization", "hopefulness", "sky", "enjoyed", "flying",
      "crying", "dying", "lying", "saying", "trying", "is", "as")
    (corpusVocab ++ extra).distinct.toDF("orig")
      .createOrReplaceTempView("porter_words")
    val chain = PorterSql.stemChain(
      PorterSql.SparkDialect, "SELECT orig FROM porter_words", Seq.empty)
    val viaSql = spark.sql(chain)
      .as[(String, String)].collect().toMap
    val viaNative = spark.table("porter_words")
      .select($"orig",
        graft.expressions.PorterStemExpr.porterStem($"orig").as("s"))
      .as[(String, String)].collect().toMap
    val diff = viaNative.collect {
      case (w, s) if viaSql(w) != (if (w.length > 2 && w.matches("[a-z]+")) s else w) =>
        s"$w: sql=${viaSql(w)} native=$s"
    }
    assert(diff.isEmpty, diff.take(10).mkString("; "))
  }

  test("cursors: DECLARE spools once, FETCH pages, CLOSE releases") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_cur_spec"
    GpSqlDialect.execute(spark,
      """DECLARE c1 CURSOR WITH HOLD FOR
        |SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey""".stripMargin,
      base)
    // bare FETCH = 1 row (PG); numbered FETCH pages forward; ALL drains
    val first = GpSqlDialect.execute(spark, "FETCH FROM c1", base).collect()
    assert(first.map(_.getInt(0)).toSeq == Seq(0))
    val page = GpSqlDialect.execute(spark, "FETCH 5 FROM c1", base).collect()
    assert(page.map(_.getInt(0)).toSeq == (1 to 5))
    val rest = GpSqlDialect.execute(spark, "FETCH ALL FROM c1", base).collect()
    assert(rest.map(_.getInt(0)).toSeq == (6 to 24))
    // drained cursor fetches empty; CLOSE then invalidates the name
    assert(GpSqlDialect.execute(spark, "FETCH 5 FROM c1", base).isEmpty)
    GpSqlDialect.execute(spark, "CLOSE c1", base)
    intercept[IllegalArgumentException] {
      GpSqlDialect.execute(spark, "FETCH 1 FROM c1", base)
    }
  }

  test("cursor FETCH ALL drains a multi-partition spool in order") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_cur_all_spec"
    // distinct keys spread over many partitions: FETCH ALL pages the
    // spool partition-at-a-time (toLocalIterator) yet must still return
    // every remaining row in spool order
    GpSqlDialect.execute(spark,
      """DECLARE cbig CURSOR WITH HOLD FOR
        |SELECT o_orderkey FROM orders ORDER BY o_orderkey""".stripMargin,
      base)
    val total = spark.table("orders").count()
    val first = GpSqlDialect.execute(spark, "FETCH 7 FROM cbig", base)
      .collect().map(_.getLong(0))
    assert(first.length == 7 && (first sameElements first.sorted))
    val rest = GpSqlDialect.execute(spark, "FETCH ALL FROM cbig", base)
      .collect().map(_.getLong(0))
    assert(rest.length == total - 7)
    assert(rest sameElements rest.sorted, "FETCH ALL lost spool order")
    assert(first.last < rest.head, "FETCH ALL re-delivered fetched rows")
    GpSqlDialect.execute(spark, "CLOSE cbig", base)
  }

  test("TEXT SEARCH DDL: dictionaries register, chains resolve, " +
    "unsupported templates reject") {
    import graft.sql.GpSqlDialect
    GpSqlDialect.execute(spark, "CREATE TEXT SEARCH DICTIONARY ts_t1 " +
      "(TEMPLATE = synonym, SYNONYMS = 'x=y, a = b')", "/tmp/never")
    GpSqlDialect.execute(spark, "CREATE TEXT SEARCH DICTIONARY ts_t2 " +
      "(TEMPLATE = simple, STOPWORDS = 'um, er')", "/tmp/never")
    GpSqlDialect.execute(spark, "CREATE TEXT SEARCH CONFIGURATION " +
      "ts_c1 (COPY = simple)", "/tmp/never")
    assert(GpSqlDialect.tsConfigs("ts_c1") == Seq("simple"))
    GpSqlDialect.execute(spark, "ALTER TEXT SEARCH CONFIGURATION ts_c1 " +
      "ALTER MAPPING FOR asciiword, word WITH ts_t1, ts_t2", "/tmp/never")
    val chain = GpSqlDialect.tsChain("ts_c1")
    assert(chain.map(_.template) == Seq("synonym", "simple"))
    assert(chain.head.synonyms == Map("x" -> "y", "a" -> "b"))
    assert(chain(1).stopwords == Set("um", "er"))
    val err = intercept[IllegalArgumentException] {
      GpSqlDialect.execute(spark, "CREATE TEXT SEARCH DICTIONARY bad " +
        "(TEMPLATE = ispell)", "/tmp/never")
    }
    assert(err.getMessage.contains("ispell"))
    // chain semantics on a tiny frame: synonym wins, stopword drops,
    // positions keep original indexes and merged lexemes share a list
    import spark.implicits._
    val out = graft.operators.TextAnalysis.tsvectorsDict(
      Seq((1L, "um x b y")).toDF("id", "text"), "text", "id", chain)
      .head().getString(1)
    assert(out == "'b':3 'y':2,4", out)
  }

  test("ANALYZE computes pg_statistic-shaped per-column stats in one pass") {
    Tables.registerAll(spark, sf)
    val stats = GpSqlDialect.execute(spark, "ANALYZE nation", "/tmp/never")
      .collect().map(r => r.getString(1) -> r).toMap
    val key = stats("n_nationkey")
    assert(key.getLong(2) == 25L && key.getLong(3) == 0L) // rows, nulls
    assert(key.getString(5) == "0" && key.getString(6) == "24") // min/max
    assert(math.abs(key.getLong(4) - 25L) <= 2) // HLL NDV estimate
    assert(GpSqlDialect.tableStats.contains("nation"))
    // the same ANALYZE feeds the planner's statistics (path-keyed)
    assert(spark.table("nation")
      .queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(25)),
      "ANALYZE stats not injected into plan statistics")
    graft.plans.AnalyzedStats.clear() // keep suite plans stats-free
  }

  test("GpSqlDialect scripts split correctly and PREPARE/EXECUTE substitutes") {
    Tables.registerAll(spark, sf)
    // splitter: quotes, $$ bodies and -- comments hide semicolons
    assert(graft.sql.SqlLex.split(
      "SELECT 'a;b'; -- c;\nSELECT $$x;y$$; SELECT 1", ';').size == 3)
    val last = GpSqlDialect.executeScript(spark,
      """PREPARE topn AS
        |  SELECT n_name FROM nation WHERE n_regionkey = $1
        |  ORDER BY n_name LIMIT $2;
        |EXECUTE topn (2, 3);""".stripMargin, "/tmp/never")
    assert(last.count() == 3)
    assert(last.collect().forall(_.getString(0).nonEmpty))
    val n2 = GpSqlDialect.execute(spark, "EXECUTE topn (0, 2)", "/tmp/never")
    assert(n2.count() == 2)
    GpSqlDialect.execute(spark, "DEALLOCATE topn", "/tmp/never")
    intercept[IllegalArgumentException] {
      GpSqlDialect.executePrepared(spark, "topn", Seq("1"), "/tmp/never")
    }
  }

  test("GpSqlDialect EXPLAIN returns the physical plan; ANALYZE runs it") {
    Tables.registerAll(spark, sf)
    val plan = GpSqlDialect.execute(spark,
      "EXPLAIN SELECT o_orderstatus, count(*) FROM orders GROUP BY 1",
      "/tmp/never")
    val lines = plan.collect().map(_.getString(0))
    assert(lines.exists(_.contains("HashAggregate")), lines.mkString("\n"))
    val analyzed = GpSqlDialect.execute(spark,
      "EXPLAIN ANALYZE SELECT count(*) FROM nation", "/tmp/never")
      .collect().map(_.getString(0))
    val text = analyzed.mkString("\n")
    // the plan that ran: AQE-final, with each node's actual output rows
    assert(!text.contains("isFinalPlan=false"), text)
    assert(analyzed.exists(l => l.contains("nation") && l.contains("rows=25")),
      text)
    val jobLine = "Spark jobs: (\\d+)".r
    assert(analyzed.last match {
      case jobLine(n) => n.toInt >= 1
      case _ => false
    }, text)
  }

  test("VACUUM compacts a fragmented catalog table without changing data") {
    import org.apache.spark.sql.functions._
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_vacuum"
    GpSqlDialect.execute(spark,
      "CREATE TABLE vac_orders AS SELECT * FROM orders", base)
    // fragment: rewrite as 16 splinter files
    val path = s"$base/vac_orders"
    val df = spark.read.parquet(path)
    val sum0 = df.agg(sum("o_orderkey")).head.getLong(0)
    df.repartition(16).write.mode("overwrite").parquet(path + ".tmp")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.rename(new org.apache.hadoop.fs.Path(path + ".tmp"),
      new org.apache.hadoop.fs.Path(path))
    val r = GpSqlDialect.execute(spark, "VACUUM FULL vac_orders", base).head
    assert(r.getInt(1) == 16, s"expected 16 splinters, got ${r.getInt(1)}")
    assert(r.getInt(2) < 16, s"vacuum did not shrink files: $r")
    val after = spark.read.parquet(path).agg(sum("o_orderkey")).head.getLong(0)
    assert(after == sum0)
  }

  test("CLUSTER BY z-orders the table: per-file ranges narrow on BOTH keys") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_zorder"
    GpSqlDialect.execute(spark,
      """CREATE TABLE zc AS
        |SELECT o_custkey, o_totalprice, o_orderkey FROM orders""".stripMargin,
      base)
    // spread = avg over files of (file's key range / global key range);
    // 1.0 ≈ every file covers the whole domain (no skipping possible)
    def spread(c: String): Double = {
      val t = spark.read.parquet(s"$base/zc")
        .withColumn("f", input_file_name())
        .groupBy("f").agg((max(col(c)) - min(col(c))).cast("double").as("w"))
        .agg(avg($"w")).head.getDouble(0)
      val g = spark.read.parquet(s"$base/zc")
        .agg((max(col(c)) - min(col(c))).cast("double")).head.getDouble(0)
      t / g
    }
    // randomize layout first so the baseline has full-domain files
    graft.operators.Dml.overwrite(spark,
      graft.operators.Dml.Storage(s"$base/zc", Nil, "snappy"),
      spark.read.parquet(s"$base/zc").repartition(8))
    val (s1, s2) = (spread("o_custkey"), spread("o_totalprice"))
    val r = GpSqlDialect.execute(spark,
      "CLUSTER zc BY (o_custkey, o_totalprice)", base)
    assert(r.head.getString(1) == "o_custkey,o_totalprice")
    val (z1, z2) = (spread("o_custkey"), spread("o_totalprice"))
    // both dimensions narrow substantially at once — the Z-order claim
    assert(z1 < s1 * 0.6, s"o_custkey spread $s1 -> $z1")
    assert(z2 < s2 * 0.6, s"o_totalprice spread $s2 -> $z2")
    // and the data survives the rewrite byte-for-byte
    val sum0 = Tables.T(spark, sf).orders.agg(sum($"o_orderkey")).head.getLong(0)
    assert(spark.read.parquet(s"$base/zc").agg(sum($"o_orderkey"))
      .head.getLong(0) == sum0)
  }

  test("COPY LOG ERRORS persists rejects; gp_read_error_log reads them") {
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_errlog"
    // error logs APPEND by design — start from a clean relation
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val csvDir = new java.io.File(s"$base/in"); csvDir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(csvDir, "d.csv"))
    try w.print("a,b\n1,x\nbad_row_no_int,y\n2,z\n\"unterminated,q\n")
    finally w.close()
    GpSqlDialect.execute(spark,
      "CREATE TABLE errl (a bigint, b text)", base)
    GpSqlDialect.execute(spark,
      s"COPY errl FROM '$csvDir' CSV HEADER LOG ERRORS SEGMENT REJECT LIMIT 5",
      base)
    graft.operators.KernelCaches.releaseAll()
    // good rows landed; both bad rows in the error log with raw data
    assert(spark.sql("SELECT count(*) FROM errl").head.getLong(0) == 2)
    val log = GpSqlDialect.execute(spark,
      "SELECT * FROM gp_read_error_log('errl')", base).collect()
    assert(log.length == 2)
    assert(log.map(_.getAs[String]("rawdata")).exists(_.contains("bad_row")))
    // over the limit still fails the load
    intercept[Exception] {
      GpSqlDialect.execute(spark,
        s"COPY errl FROM '$csvDir' CSV HEADER LOG ERRORS SEGMENT REJECT LIMIT 2",
        base).count()
    }
  }

  test("TABLESAMPLE lowers to deterministic hash sampling") {
    Tables.registerAll(spark, sf)
    def run() = GpSqlDialect.execute(spark,
      "SELECT count(*) AS n FROM lineitem TABLESAMPLE BERNOULLI(10) REPEATABLE(7)",
      "/tmp/never").head.getLong(0)
    val total = spark.table("lineitem").count()
    val n1 = run()
    assert(n1 == run(), "sample must be identical across runs")
    // ~10% within a loose band (hash-uniformity, not RNG)
    assert(n1 > total / 20 && n1 < total / 5, s"n=$n1 of $total")
    val other = GpSqlDialect.execute(spark,
      "SELECT count(*) AS n FROM lineitem TABLESAMPLE BERNOULLI(10) REPEATABLE(8)",
      "/tmp/never").head.getLong(0)
    assert(other != n1, "different REPEATABLE seed → different sample")
  }

  test("SELECT INTO rewrites to CTAS; string INTO is untouched") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_selinto"
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS si_t", base)
    GpSqlDialect.execute(spark,
      "SELECT n_nationkey, n_name INTO si_t FROM nation WHERE n_regionkey = 1",
      base)
    assert(spark.table("si_t").count() == 5)
    assert(GpSqlDialect.catalogTable("si_t").isDefined)
    // a quoted INTO is data, not an into_clause
    val r = GpSqlDialect.execute(spark,
      "SELECT 'went INTO the x FROM y' AS s FROM nation LIMIT 1", base)
    assert(r.head.getString(0).contains("INTO"))
  }

  test("DROP TABLE removes catalog entry, view, and files") {
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_drop"
    GpSqlDialect.execute(spark,
      "CREATE TABLE drop_t AS SELECT n_nationkey FROM nation", base)
    assert(GpSqlDialect.catalogTable("drop_t").isDefined)
    GpSqlDialect.execute(spark, "DROP TABLE drop_t", base)
    assert(GpSqlDialect.catalogTable("drop_t").isEmpty)
    assert(!new java.io.File(s"$base/drop_t").exists())
    assert(!spark.catalog.tableExists("drop_t"))
    GpSqlDialect.execute(spark, "DROP TABLE IF EXISTS drop_t", base) // noop
    intercept[IllegalArgumentException] {
      GpSqlDialect.execute(spark, "DROP TABLE drop_t", base)
    }
  }

  test("UPDATE ... FROM as a dialect statement") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_updfrom"
    GpSqlDialect.execute(spark,
      "CREATE TABLE uf_t AS SELECT n_nationkey, n_name, n_regionkey FROM nation",
      base)
    Seq((0, 1000), (2, 2000)).toDF("rk", "bonus")
      .createOrReplaceTempView("uf_src")
    GpSqlDialect.execute(spark,
      """UPDATE uf_t SET n_regionkey = n_regionkey + bonus
        |FROM uf_src WHERE n_regionkey = rk""".stripMargin, base)
    val r = spark.table("uf_t")
    assert(r.filter($"n_regionkey" === 1000).count() == 5) // region 0 rows
    assert(r.filter($"n_regionkey" === 2002).count() == 5) // region 2 rows
    assert(r.filter($"n_regionkey" < 100).count() == 15)   // untouched
  }

  test("ALTER TABLE RENAME TO moves catalog entry, view, and files") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rename"
    new java.io.File(base).mkdirs()
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ren_b"), true)
    GpSqlDialect.execute(spark,
      "CREATE TABLE ren_a AS SELECT n_nationkey FROM nation", base)
    GpSqlDialect.execute(spark, "ALTER TABLE ren_a RENAME TO ren_b", base)
    assert(spark.table("ren_b").count() == 25)
    assert(GpSqlDialect.catalogTable("ren_b").isDefined)
    assert(GpSqlDialect.catalogTable("ren_a").isEmpty)
    // old name is free for reuse; INSERT targets the renamed table
    GpSqlDialect.execute(spark, "INSERT INTO ren_b SELECT 99", base)
    assert(spark.table("ren_b").count() == 26)
  }

  test("INSERT with column list and CREATE TABLE (LIKE t)") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_inslike"
    GpSqlDialect.execute(spark,
      "CREATE TABLE ins_t (a bigint, b text, c double precision)", base)
    GpSqlDialect.execute(spark,
      "INSERT INTO ins_t (c, a) SELECT 2.5, 7", base)
    val r = spark.table("ins_t").head
    assert(r.getLong(0) == 7L && r.isNullAt(1) && r.getDouble(2) == 2.5)
    // DEFAULT expressions fill unlisted columns (build_column_default)
    GpSqlDialect.execute(spark,
      "CREATE TABLE ins_d (a bigint, b text DEFAULT 'none', c double precision DEFAULT (1.0 + 0.5))",
      base)
    GpSqlDialect.execute(spark, "INSERT INTO ins_d (a) SELECT 1", base)
    val rd = spark.table("ins_d").head
    assert(rd.getLong(0) == 1L && rd.getString(1) == "none" &&
      rd.getDouble(2) == 1.5)
    GpSqlDialect.execute(spark,
      "ALTER TABLE ins_d ADD COLUMN tag text DEFAULT 'new'", base)
    GpSqlDialect.execute(spark, "INSERT INTO ins_d (a) SELECT 2", base)
    assert(spark.table("ins_d").filter(col("tag") === "new").count() == 2)
    // INSERT ... DEFAULT VALUES: one all-defaults row (NULL where none)
    GpSqlDialect.execute(spark, "INSERT INTO ins_d DEFAULT VALUES", base)
    val dv = spark.table("ins_d").filter(col("a").isNull).head
    assert(dv.getString(1) == "none" && dv.getDouble(2) == 1.5 &&
      dv.getString(3) == "new")
    intercept[Exception] {
      GpSqlDialect.execute(spark, "INSERT INTO ins_t (ghost) SELECT 1", base)
    }
    // LIKE copies the shape, INCLUDING options are accepted no-ops
    GpSqlDialect.execute(spark,
      """CREATE TABLE ins_clone (LIKE ins_t INCLUDING DEFAULTS)
        |DISTRIBUTED BY (a)""".stripMargin, base)
    assert(spark.table("ins_clone").schema == spark.table("ins_t").schema)
    assert(spark.table("ins_clone").count() == 0)
    GpSqlDialect.execute(spark,
      "INSERT INTO ins_clone SELECT a, b, c FROM ins_t", base)
    assert(spark.table("ins_clone").count() == 1)
  }

  test("ALTER TABLE ADD/DROP/RENAME COLUMN rewrites the table") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_altcol"
    GpSqlDialect.execute(spark,
      "CREATE TABLE alt_t AS SELECT n_nationkey, n_name FROM nation", base)
    GpSqlDialect.execute(spark,
      "ALTER TABLE alt_t ADD COLUMN score double precision DEFAULT 1.5", base)
    GpSqlDialect.execute(spark,
      "ALTER TABLE alt_t ADD COLUMN note text", base)
    GpSqlDialect.execute(spark,
      "ALTER TABLE alt_t RENAME COLUMN n_name TO nation_name", base)
    GpSqlDialect.execute(spark, "ALTER TABLE alt_t DROP COLUMN note", base)
    val t = spark.table("alt_t")
    assert(t.columns.toSeq == Seq("n_nationkey", "nation_name", "score"))
    assert(t.filter($"score" === 1.5).count() == 25)
    // catalog schema follows (introspection sees the new shape)
    val cols = GpSqlDialect.execute(spark,
      """SELECT column_name FROM information_schema.columns
        |WHERE table_name = 'alt_t' ORDER BY ordinal_position""".stripMargin,
      base).collect().map(_.getString(0)).toSeq
    assert(cols == Seq("n_nationkey", "nation_name", "score"))
    intercept[Exception] {
      GpSqlDialect.execute(spark, "ALTER TABLE alt_t DROP COLUMN ghost", base)
    }
  }

  test("DROP COLUMN under a dependent view is refused before any file " +
    "moves") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_viewdep"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP VIEW IF EXISTS vd_v")
    run("DROP TABLE IF EXISTS vd_t")
    run("CREATE TABLE vd_t (k int, c int) DISTRIBUTED BY (k)")
    run("INSERT INTO vd_t VALUES (1, 10), (2, 20)")
    run("CREATE VIEW vd_v AS SELECT k, c FROM vd_t")
    val entry = GpSqlDialect.catalogTable("vd_t").get
    def files = new java.io.File(entry.path).list().sorted.toSeq
    val before = files
    val e = intercept[IllegalStateException] {
      run("ALTER TABLE vd_t DROP COLUMN c")
    }
    assert(e.getMessage.startsWith("cannot drop column c of table vd_t " +
      "because other objects depend on it"), e.getMessage)
    assert(files == before)
    assert(GpSqlDialect.catalogTable("vd_t").get == entry)
    def view = run("SELECT k, c FROM vd_v ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(view == Seq((1, 10), (2, 20)))
    // the table stays writable, and the view sees the write
    run("INSERT INTO vd_t VALUES (3, 30)")
    assert(view == Seq((1, 10), (2, 20), (3, 30)))
    // a change the view survives still goes through
    run("ALTER TABLE vd_t ADD COLUMN z int")
    assert(view == Seq((1, 10), (2, 20), (3, 30)))
    run("DROP VIEW vd_v")
    run("DROP TABLE vd_t")
  }

  test("SQL DELETE/UPDATE with RETURNING over catalog tables") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_dmlret"
    GpSqlDialect.execute(spark,
      "CREATE TABLE dml_n AS SELECT n_nationkey, n_name, n_regionkey FROM nation",
      base)
    // UPDATE ... RETURNING yields POST-assignment rows (PG semantics)
    val upd = GpSqlDialect.execute(spark,
      """UPDATE dml_n SET n_regionkey = n_regionkey + 100
        |WHERE n_nationkey < 3 RETURNING n_nationkey, n_regionkey""".stripMargin,
      base).collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1)
    assert(upd.length == 3 && upd.forall(_._2 >= 100))
    // the rewrite actually landed
    assert(spark.sql(
      "SELECT count(*) FROM dml_n WHERE n_regionkey >= 100").head.getLong(0) == 3)
    // DELETE ... RETURNING yields the removed rows; count tag without
    val del = GpSqlDialect.execute(spark,
      "DELETE FROM dml_n WHERE n_nationkey >= 20 RETURNING n_name", base)
    assert(del.count() == 5)
    val tag = GpSqlDialect.execute(spark,
      "DELETE FROM dml_n WHERE n_nationkey = 0", base)
    assert(tag.head.getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM dml_n").head.getLong(0) == 19)
  }

  test("GpSqlDialect.execute runs GP-dialect CTAS end-to-end") {
    Tables.registerAll(spark, sf)
    val out = GpSqlDialect.execute(spark,
      """CREATE TABLE nation_asia
        |WITH (appendonly=true, orientation=column)
        |DISTRIBUTED BY (n_regionkey)
        |AS SELECT * FROM nation WHERE n_regionkey = 2""".stripMargin,
      s"${System.getProperty("java.io.tmpdir")}/graft_gpsql")
    val viaView = spark.sql("SELECT count(*) FROM nation_asia").head.getLong(0)
    assert(viaView == out.count())
    assert(viaView ==
      spark.sql("SELECT count(*) FROM nation WHERE n_regionkey = 2")
        .head.getLong(0))
  }

  test("client connect probes: version(), session identity, server GUCs") {
    val base = "/tmp/never"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    val v = run("SELECT version()").head.getString(0)
    assert(v.startsWith("PostgreSQL 9.4.26") && v.contains("Greenplum"))
    assert(run("SELECT version() AS v").head.getString(0) == v)
    assert(run("SELECT current_database()").head.getString(0) == "graft")
    // session_user tracks SET ROLE
    graft.sql.ResourceQueues.reset()
    run("CREATE ROLE probe_role")
    run("SET ROLE probe_role")
    assert(run("SELECT current_user").head.getString(0) == "probe_role")
    run("RESET ROLE")
    run("DROP ROLE probe_role")
    assert(run("SHOW server_version").head.getString(0) == "9.4.26")
    assert(run("SHOW server_version_num").head.getString(0) == "90426")
  }

  test("named WINDOW clause and FILTER-in-SQL pass through the dialect") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_winclause"
    Tables.registerAll(spark, sf)
    // gram.y window_clause: one named spec shared by several window fns
    // (window-FILTER itself is the CASE emulation — q_window_filter)
    val rows = GpSqlDialect.execute(spark,
      """SELECT n_regionkey, n_name,
        |  rank() OVER w AS rk,
        |  count(*) OVER w AS cnt,
        |  sum(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY n_regionkey) AS evens
        |FROM nation
        |WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_name)
        |ORDER BY n_regionkey, rk""".stripMargin, base).collect()
    assert(rows.length == 25)
    val r0 = rows.filter(_.getAs[Number]("n_regionkey").longValue == 0L)
    assert(r0.map(_.getAs[Number]("rk").intValue).toSeq ==
      (1 to r0.length).toSeq)
    // ORDER BY in the named spec ⇒ default RANGE-to-current frame, so
    // count(*) OVER w is the RUNNING count — ties with rank() on a
    // unique sort key (the SQL-standard subtlety worth pinning)
    assert(r0.map(_.getAs[Number]("cnt").longValue).toSeq ==
      r0.map(_.getAs[Number]("rk").longValue).toSeq)
  }

  test("composite types become struct columns; aggregate DDL defers loudly") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ctype_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    // CREATE TYPE AS (…) → StructType alias usable in later DDL
    run("CREATE TYPE addr AS (city text, zip int)")
    run("CREATE TABLE ctype_t (id int, home addr) DISTRIBUTED BY (id)")
    run("INSERT INTO ctype_t SELECT 1, named_struct('city', 'oslo', 'zip', 55)")
    val r = run("SELECT id, home.city AS c, home.zip AS z FROM ctype_t").head
    assert(r.getInt(0) == 1 && r.getString(1) == "oslo" && r.getInt(2) == 55)
    run("DROP TABLE ctype_t")
    run("DROP TYPE addr")
    assert(!GpSqlDialect.composites.contains("addr"))
    // CREATE AGGREGATE: accepted (dump contract), raises on use with
    // the recorded reason; operator/cast/tablespace DDL are no-ops
    run("CREATE AGGREGATE my_concat(text) (sfunc = textcat, stype = text)")
    assert(GpSqlDialect.aggregateRejection("my_concat").isDefined)
    val e = intercept[UnsupportedOperationException] {
      run("SELECT my_concat(n_name) FROM nation")
    }
    assert(e.getMessage.contains("my_concat"))
    // r7: a SQL-language sfunc makes the aggregate EXECUTABLE — the
    // declarative path (with combinefunc) and the sequential-fold
    // fallback (without) both compute; DROP unregisters
    run("""CREATE FUNCTION spec_add(a bigint, b bigint) RETURNS bigint
          |AS $$ SELECT a + b $$ LANGUAGE SQL""".stripMargin)
    run("""CREATE AGGREGATE spec_sum(bigint) (sfunc = spec_add,
          |  stype = bigint, initcond = '0', combinefunc = spec_add)""".stripMargin)
    assert(GpSqlDialect.aggregateRejection("spec_sum").isEmpty)
    assert(run("SELECT spec_sum(n_nationkey) AS s FROM nation")
      .head.getLong(0) == 300L)
    run("""CREATE AGGREGATE spec_sum_serial(bigint) (sfunc = spec_add,
          |  stype = bigint, initcond = '0')""".stripMargin)
    assert(run("SELECT spec_sum_serial(n_nationkey) AS s FROM nation")
      .head.getLong(0) == 300L)
    // NULL parity (r8): BOTH paths feed NULL inputs through the
    // non-strict sfunc like PG — a+b with a NULL nulls the state for
    // good, so the result is NULL on both, not silently-skipped-NULL
    val nullsRel =
      "(SELECT CAST(v AS bigint) AS v FROM (VALUES (1), (NULL), (2)) t(v))"
    assert(run(s"SELECT spec_sum(v) AS s FROM $nullsRel").head.isNullAt(0))
    assert(
      run(s"SELECT spec_sum_serial(v) AS s FROM $nullsRel").head.isNullAt(0))
    run("DROP AGGREGATE spec_sum(bigint)")
    run("DROP AGGREGATE spec_sum_serial(bigint)")
    intercept[Exception] {
      run("SELECT spec_sum(n_nationkey) AS s FROM nation")
    }
    run("CREATE OPERATOR CLASS int_ops FOR TYPE int USING btree AS STORAGE int")
    run("CREATE TABLESPACE fastspace LOCATION '/tmp/fs'")
    run("DROP TABLESPACE fastspace")
    run("DROP AGGREGATE my_concat(text)")
  }

  test("gp_skew_coefficients flags a degenerate distribution key") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_skew_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    Tables.registerAll(spark, sf)
    // uniform key vs constant key: the constant lands every row in one
    // virtual segment — the exact pathology the view exists to expose
    run("""CREATE TABLE skew_good DISTRIBUTED BY (c_custkey)
          |AS SELECT c_custkey, c_mktsegment FROM customer""".stripMargin)
    run("""CREATE TABLE skew_bad DISTRIBUTED BY (one)
          |AS SELECT 1 AS one, c_custkey FROM customer""".stripMargin)
    val coeffs = run(
      """SELECT skcrelname, skccoeff FROM gp_toolkit.gp_skew_coefficients
        |WHERE skcrelname IN ('skew_good', 'skew_bad')
        |ORDER BY skcrelname""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // all-in-one-bucket: stddev/mean*100 for (n,0,0,...,0) ≈ 565 at 32
    // segments; a real key spreads to low double digits
    assert(coeffs("skew_bad") > 300, coeffs.toString)
    assert(coeffs("skew_good") < 100, coeffs.toString)
    assert(coeffs("skew_bad") > 3 * coeffs("skew_good"))
    run("DROP TABLE skew_good")
    run("DROP TABLE skew_bad")
  }

  test("pg_dump-shaped restore script runs end-to-end") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_dump_spec"
    // the statement classes pg_dump emits, in its order: session GUCs,
    // set_config, psql meta-lines, extensions + comments, schema DDL,
    // sequence with OWNED BY + setval, table with OWNER TO, index,
    // grants, data, and a sanity query at the end
    val last = GpSqlDialect.executeScript(spark,
      """SET statement_timeout = 0;
        |SET client_encoding = 'UTF8';
        |SET standard_conforming_strings = on;
        |SELECT pg_catalog.set_config('search_path', '', false);
        |\connect dumpdb
        |CREATE EXTENSION IF NOT EXISTS plpgsql WITH SCHEMA pg_catalog;
        |COMMENT ON EXTENSION plpgsql IS 'PL/pgSQL procedural language';
        |SET search_path TO public;
        |CREATE SEQUENCE dump_seq START WITH 10;
        |ALTER SEQUENCE dump_seq OWNED BY dumpt.id;
        |CREATE TABLE dumpt (id int, v text) DISTRIBUTED BY (id);
        |ALTER TABLE dumpt OWNER TO dba;
        |CREATE INDEX dumpt_v_idx ON dumpt USING btree (v);
        |GRANT ALL ON TABLE dumpt TO dba;
        |INSERT INTO dumpt VALUES (1, 'a'), (2, 'b');
        |SELECT pg_catalog.setval('dump_seq', 42, true);
        |SELECT count(*) AS n FROM dumpt;""".stripMargin, base)
    assert(last.head.getLong(0) == 2L)
    assert(GpSqlDialect.hasExtension("plpgsql"))
    // setval through the qualified name took effect
    val nv = GpSqlDialect.execute(spark,
      "SELECT nextval('dump_seq') AS v", base).head.getLong(0)
    assert(nv == 43L)
    GpSqlDialect.execute(spark, "DROP TABLE dumpt", base)
    GpSqlDialect.execute(spark, "DROP SEQUENCE dump_seq", base)
    GpSqlDialect.execute(spark, "RESET search_path", base)
  }

  test("resource queues: admission gate, catalog views, role lifecycle") {
    import graft.sql.ResourceQueues
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_resq"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    ResourceQueues.reset()
    run("CREATE RESOURCE QUEUE rq_test WITH (ACTIVE_STATEMENTS=1, " +
      "PRIORITY='HIGH', MEMORY_LIMIT='1GB', MAX_COST=50000.0)")
    run("CREATE ROLE rq_user RESOURCE QUEUE rq_test")
    run("SET ROLE rq_user")

    // ACTIVE_STATEMENTS=1 admits at most one statement at a time: three
    // concurrent slot-holders must serialize (the others WAIT, GP
    // resqueue semantics — never rejected).
    val inGate = new java.util.concurrent.atomic.AtomicInteger
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 3).map { _ =>
      new Thread(() => ResourceQueues.withSlot(spark) {
        val c = inGate.incrementAndGet()
        maxSeen.updateAndGet(m => math.max(m, c))
        Thread.sleep(60)
        inGate.decrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(maxSeen.get() == 1)

    // catalog views carry the declared options and live counters
    val q = run("SELECT rsqname, rsqcountlimit, rsqpriority, " +
      "rsqmemorylimit, rsqcostlimit FROM pg_resqueue " +
      "WHERE rsqname = 'rq_test'").head
    assert(q.getString(0) == "rq_test" && q.getDouble(1) == 1.0)
    assert(q.getString(2) == "HIGH" && q.getString(3) == "1GB")
    assert(q.getDouble(4) == 50000.0)
    // the status statement runs under the session role's own slot, so
    // the live counter includes it — the same self-count a GP admin
    // sees querying gp_resqueue_status from a queued role
    val st = run("SELECT rsqcountvalue FROM gp_toolkit.gp_resqueue_status " +
      "WHERE rsqname = 'rq_test'").head
    assert(st.getInt(0) == 1)
    assert(run("SELECT rolresqueue FROM pg_roles WHERE rolname = 'rq_user'")
      .head.getString(0) == "rq_test")

    // ALTER resizes the admission limit
    run("ALTER RESOURCE QUEUE rq_test WITH (ACTIVE_STATEMENTS=3)")
    assert(run("SELECT rsqcountlimit FROM pg_resqueue " +
      "WHERE rsqname = 'rq_test'").head.getDouble(0) == 3.0)

    // a queue with bound roles cannot be dropped (queue.c DropQueue)
    intercept[IllegalStateException](run("DROP RESOURCE QUEUE rq_test"))
    // unknown role is a loud error
    intercept[IllegalArgumentException](run("SET ROLE ghost_role"))

    run("RESET ROLE")
    run("ALTER ROLE rq_user RESOURCE QUEUE NONE")
    run("DROP ROLE rq_user")
    run("DROP RESOURCE QUEUE rq_test")
    assert(run("SELECT count(*) AS n FROM pg_resqueue").head.getLong(0) == 0)
  }

  test("TimeFunctions: day wrap, make_time rounding, timetz order/zone/text") {
    import spark.implicits._
    import graft.functions.TimeFunctions._
    val us = 1000000L
    val row = Seq(1).toDF("x")
    def one(c: org.apache.spark.sql.Column): Any = row.select(c).head.get(0)

    // 23:00 + 2h wraps to 01:00; 01:00 - 2h wraps back (date.c:1760).
    assert(one(timePlInterval(lit(23L * 3600 * us), lit(2L * 3600 * us)))
      == 1L * 3600 * us)
    assert(one(timeMiInterval(lit(1L * 3600 * us), lit(2L * 3600 * us)))
      == 23L * 3600 * us)
    // time - time is NOT wrapped: may be negative (date.c:1741).
    assert(one(timeMiTime(lit(1L * 3600 * us), lit(23L * 3600 * us)))
      == -22L * 3600 * us)
    // make_time fractional seconds round half-up at micros.
    assert(one(makeTime(lit(1), lit(2), lit(3.0000005)))
      == (3600L + 120L + 3L) * us + 1L)
    // time text parses back: missing seconds read as zero.
    assert(one(timeIn(lit("12:34"))) == (12L * 3600 + 34 * 60) * us)
    assert(one(timeIn(lit("12:34:56.25")))
      == (12L * 3600 + 34 * 60 + 56) * us + 250000L)
    assert(one(timeText(lit((12L * 3600 + 34 * 60 + 56) * us + 250000L)))
      == "12:34:56.25")

    // timetz: same wall-clock at different zones is ordered by GMT
    // instant (zone seconds WEST: 10:00+02 < 10:00 UTC).
    val plus2 = makeTimeTz(lit(10L * 3600 * us), lit(-7200))
    val utc = makeTimeTz(lit(10L * 3600 * us), lit(0))
    assert(one(timetzGmtMicros(plus2)).asInstanceOf[Long]
      < one(timetzGmtMicros(utc)).asInstanceOf[Long])
    // 10:00+02:00 AT UTC+05:30 → 13:30 (same instant).
    val ist = timetzZone(plus2, lit(-19800))
    assert(one(ist.getField("t_us")) == (13L * 3600 + 1800) * us)
    assert(one(timetzText(ist)) == "13:30:00+05:30")
    // whole-hour west offset renders without minutes.
    assert(one(timetzText(makeTimeTz(lit(9L * 3600 * us), lit(18000))))
      == "09:00:00-05")
  }

  test("XmlFunctions: escaping, forest null-drop, self-close, concat nulls") {
    import spark.implicits._
    import graft.functions.XmlFunctions._
    val row = Seq(1).toDF("x")
    def one(c: org.apache.spark.sql.Column): Any = row.select(c).head.get(0)

    assert(one(escapeContent(lit("a<b>&c\rd"))) == "a&lt;b&gt;&amp;c&#x0d;d")
    assert(one(escapeAttr(lit("""say "hi" & go"""))) ==
      "say &quot;hi&quot; &amp; go")
    // forest drops null elements entirely.
    assert(one(xmlForest("a" -> lit("x"), "b" -> lit(null))) == "<a>x</a>")
    // no content → self-closing; with content → paired tags.
    assert(one(xmlElement("e", attrs = Seq("k" -> lit(1)))) == """<e k="1"/>""")
    assert(one(xmlElement("e", content = Seq(xmlText(lit("v<w")))))
      == "<e>v&lt;w</e>")
    // null attribute omitted.
    assert(one(xmlElement("e", attrs = Seq("k" -> lit(null)))) == "<e/>")
    // xmlconcat ignores nulls; all-null is null (xml.c:468).
    assert(one(xmlConcat(lit("<a/>"), lit(null), lit("<b/>"))) == "<a/><b/>")
    assert(one(xmlConcat(lit(null), lit(null))) == null)
    assert(one(xmlComment(lit("c"))) == "<!--c-->")
    assert(one(xmlPi("tgt", lit("v"))) == "<?tgt v?>")
    // null content renders the target alone (xml.c:726)
    assert(one(xmlPi("tgt", lit(null))) == "<?tgt?>")
  }

  test("xpath_nodes returns serialized fragments (PG xml[] semantics)") {
    import graft.expressions.XPathNodesExpr.xpathNodes
    import org.apache.spark.sql.functions.lit
    graft.functions.PgFunctions.registerAll(spark)
    def nodes(path: String, xml: String): Seq[String] =
      spark.range(1).select(xpathNodes(lit(path), lit(xml)).as("n"))
        .head.getSeq[String](0)
    val doc = """<r><a k="1"><b>x</b></a><a k="2"><b>y</b></a></r>"""
    // element matches keep tags, attributes, and nested children —
    // Spark's native xpath would return only "xy"
    assert(nodes("/r/a", doc) ==
      Seq("""<a k="1"><b>x</b></a>""", """<a k="2"><b>y</b></a>"""))
    // text() path degenerates to the text values, as in PG
    assert(nodes("/r/a/b/text()", doc) == Seq("x", "y"))
    // invalid xml / path → null, like the other publishing functions
    assert(spark.range(1)
      .select(xpathNodes(lit("/r"), lit("<broken")).as("n")).head.isNullAt(0))
  }

  test("pg_catalog strip is quote-aware; composite fields keep parens") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_strip_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    // a literal mentioning pg_catalog. must survive the qualifier strip
    run("CREATE TABLE strip_t (id int, note text) DISTRIBUTED BY (id)")
    run("INSERT INTO strip_t VALUES (1, 'pg_catalog.pg_class')")
    val r = run("SELECT note FROM strip_t WHERE id = 1").head
    assert(r.getString(0) == "pg_catalog.pg_class")
    // while identifier positions still resolve through the bare name
    run("CREATE SEQUENCE strip_seq")
    run("SELECT pg_catalog.setval('strip_seq', 7, true)")
    assert(run("SELECT currval('strip_seq')").head.getLong(0) == 7L)
    run("DROP SEQUENCE strip_seq")
    run("DROP TABLE strip_t")
    // composite fields with parenthesized types parse to the full type
    run("CREATE TYPE money_t AS (amount numeric(10,2), cur text)")
    assert(GpSqlDialect.composites("money_t") ==
      Seq("amount" -> "numeric(10,2)", "cur" -> "text"))
    run("DROP TYPE money_t")
    // a field with no type is a clear error, not an index crash
    val e = intercept[IllegalArgumentException] {
      run("CREATE TYPE bad_t AS (lonely)")
    }
    assert(e.getMessage.contains("lonely"))
  }

  test("svec algebra: merge dot, union plus, empty and disjoint supports") {
    import graft.functions.SvecFunctions._
    import org.apache.spark.sql.Row
    def arr(xs: Int*) = array(xs.map(lit): _*)
    def darr(xs: Double*) = array(xs.map(lit): _*)
    val df = spark.range(1).select(
      call_function("svec_dot",
        arr(1, 3, 7), darr(2.0, 4.0, 5.0),
        arr(0, 3, 7), darr(9.0, 10.0, 0.5)).as("d"),
      call_function("svec_dot",
        arr(1, 2), darr(1.0, 1.0), arr(3, 4), darr(1.0, 1.0)).as("disjoint"),
      call_function("svec_dot",
        array().cast("array<int>"), array().cast("array<double>"),
        arr(1), darr(5.0)).as("emptyside"))
    val r = df.head
    assert(r.getDouble(0) == 4.0 * 10.0 + 5.0 * 0.5)
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    // plus keeps exact-zero sums (union support, like the reference's
    // element-wise run preservation), and re-sorts to ascending COO
    val (pi, pv) = svecPlus(
      arr(1, 5), darr(2.0, -3.0), arr(0, 5), darr(7.0, 3.0))
    val p = spark.range(1).select(pi.as("i"), pv.as("v")).head
    assert(p.getSeq[Int](0) == Seq(0, 1, 5))
    assert(p.getSeq[Double](1) == Seq(7.0, 2.0, 0.0))
    // fromDense: 0-based ascending indices above the magnitude gate
    val (fi, fv) = svecFromDense(
      array(lit(0.1f), lit(-0.9f), lit(0.0f), lit(0.7f)), 0.5)
    val f = spark.range(1).select(fi.as("i"), fv.as("v")).head
    assert(f.getSeq[Int](0) == Seq(1, 3))
    val fvs = f.getSeq[Double](1)
    assert(math.abs(fvs(0) - (-0.9)) < 1e-6 && math.abs(fvs(1) - 0.7) < 1e-6)
  }

  test("external tables bind ORC reads and PARQUET writable sinks") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_extfmt_spec"
    // the writable sink APPENDS (external-table contract) — clear prior
    // runs' output or the count accumulates across JVM invocations
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    Tables.registerAll(spark, sf)
    // ORC readable (PXF-style self-describing format; no DuckDB oracle
    // — DuckDB has no ORC reader, so the gate lives here)
    spark.table("nation").select("n_nationkey", "n_name")
      .write.mode("overwrite").orc(s"$base/nation_orc")
    run(s"""CREATE EXTERNAL TABLE ext_nation_orc (
           |  n_nationkey bigint, n_name text)
           |LOCATION ('file://$base/nation_orc') FORMAT 'ORC'""".stripMargin)
    assert(run("SELECT count(*) AS n FROM ext_nation_orc").head.getLong(0)
      == spark.table("nation").count())
    // writable external PARQUET: INSERT routes through the parquet sink
    run(s"""CREATE WRITABLE EXTERNAL TABLE ext_out_parquet (
           |  n_nationkey bigint, n_name text)
           |LOCATION ('file://$base/out_parquet')
           |FORMAT 'PARQUET'""".stripMargin)
    run("INSERT INTO ext_out_parquet SELECT n_nationkey, n_name FROM nation")
    assert(spark.read.parquet(s"$base/out_parquet").count()
      == spark.table("nation").count())
    // writable external JSON / ORC (r6: previously rejected): INSERT
    // routes through Spark's native writers, SELECT round-trips with
    // the declared schema
    run(s"""CREATE WRITABLE EXTERNAL TABLE ext_out_json (
           |  n_nationkey bigint, n_name text)
           |LOCATION ('file://$base/out_json') FORMAT 'JSON'""".stripMargin)
    run("INSERT INTO ext_out_json SELECT n_nationkey, n_name FROM nation")
    assert(run("SELECT count(*) AS n FROM ext_out_json").head.getLong(0)
      == spark.table("nation").count())
    run(s"""CREATE WRITABLE EXTERNAL TABLE ext_out_orc (
           |  n_nationkey bigint, n_name text)
           |LOCATION ('file://$base/out_orc') FORMAT 'ORC'""".stripMargin)
    run("INSERT INTO ext_out_orc SELECT n_nationkey, n_name FROM nation")
    assert(run("SELECT sum(n_nationkey) AS s FROM ext_out_orc")
      .head.getLong(0) ==
      spark.table("nation").agg(sum("n_nationkey")).head.getLong(0))
    // copy-on-write DML and every other table rewrite write Parquet, so
    // a JSON sink refuses them rather than come back rewritten in another
    // format
    def files() = new java.io.File(s"$base/out_json").list().toSet
    val jsonFiles = files()
    Seq("DELETE FROM ext_out_json WHERE n_nationkey = 1",
      """MERGE INTO ext_out_json USING nation
        |ON ext_out_json.n_nationkey = nation.n_nationkey
        |WHEN MATCHED THEN UPDATE SET n_name = 'x'""".stripMargin,
      "VACUUM ext_out_json",
      "CLUSTER ext_out_json BY (n_nationkey)",
      "TRUNCATE ext_out_json",
      "ALTER TABLE ext_out_json SET DISTRIBUTED BY (n_nationkey)",
      "ALTER TABLE ext_out_json ADD COLUMN z int"
    ).foreach(sql => intercept[IllegalArgumentException](run(sql)))
    assert(files() == jsonFiles)
    assert(run("SELECT count(*) AS n FROM ext_out_json WHERE n_name <> 'x'")
      .head.getLong(0) == spark.table("nation").count())
  }

  test("gp_bloat_diag flags fragmented tables; VACUUM clears it") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bloat_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS bloaty")
    run("CREATE TABLE bloaty (id int, v text) DISTRIBUTED BY (id)")
    // 65 single-row inserts → ≥64 tiny files = significant fragmentation
    (1 to 65).foreach(i => run(s"INSERT INTO bloaty VALUES ($i, 'x$i')"))
    val d = run("SELECT bdifiles, bdidiag FROM gp_bloat_diag " +
      "WHERE bdirelname = 'bloaty'").head
    assert(d.getLong(0) >= 64 && d.getString(1).contains("significant"))
    run("VACUUM bloaty")
    val d2 = run("SELECT bdifiles, bdidiag FROM gp_bloat_diag " +
      "WHERE bdirelname = 'bloaty'").head
    assert(d2.getLong(0) < 64, s"compaction should merge files: $d2")
    assert(run("SELECT count(*) AS n FROM bloaty").head.getLong(0) == 65L)
    run("DROP TABLE bloaty")
  }

  test("ALTER TABLE ONLY ADD CONSTRAINT: the pg_dump tail executes") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_conref_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS conref")
    // the exact shape pg_dump emits after the data load: keys as ALTER
    // TABLE ONLY statements, checks enforced from ADD onward
    val last = GpSqlDialect.executeScript(spark,
      """CREATE TABLE conref (id int NOT NULL, ref int, amt double precision)
        |  DISTRIBUTED BY (id);
        |INSERT INTO conref VALUES (1, 1, 5.0), (2, 1, 7.5);
        |ALTER TABLE ONLY conref
        |  ADD CONSTRAINT conref_pkey PRIMARY KEY (id);
        |ALTER TABLE ONLY conref
        |  ADD CONSTRAINT conref_ref_fkey FOREIGN KEY (ref)
        |  REFERENCES conref(id);
        |ALTER TABLE conref ADD CONSTRAINT amt_pos CHECK (amt >= 0);
        |SELECT count(*) AS n FROM conref""".stripMargin, base)
    assert(last.head.getLong(0) == 2L)
    // the added CHECK gates later inserts (NULL passes, per spec)
    val e = intercept[Exception] {
      run("INSERT INTO conref VALUES (3, 1, -4.0)")
    }
    assert(e.getMessage.toLowerCase.contains("check"))
    run("INSERT INTO conref VALUES (4, 1, NULL)")
    // DROP CONSTRAINT retires exactly that check
    run("ALTER TABLE conref DROP CONSTRAINT amt_pos")
    run("INSERT INTO conref VALUES (5, 1, -4.0)")
    assert(run("SELECT count(*) AS n FROM conref").head.getLong(0) == 4L)
    // adding a CHECK that existing rows violate fails with the count
    val v = intercept[IllegalStateException] {
      run("ALTER TABLE conref ADD CONSTRAINT amt_pos2 CHECK (amt >= 0)")
    }
    assert(v.getMessage.contains("violated by 1 existing row"))
    run("DROP TABLE conref")
  }

  test("parallel retrieve cursor: endpoints enumerate, retrieve per slice") {
    def run(sql: String) = GpSqlDialect.execute(spark, sql, "/tmp/never")
    Tables.registerAll(spark, sf)
    run("DECLARE pr_cur PARALLEL RETRIEVE CURSOR FOR " +
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")
    // endpoint inventory: one READY endpoint per spool partition file
    val eps = run("SELECT cursorname, endpointname, state FROM gp_endpoints" +
      " WHERE cursorname = 'pr_cur' ORDER BY endpointname").collect()
    assert(eps.nonEmpty && eps.forall(_.getString(2) == "READY"))
    // draining every endpoint reassembles the full result exactly once
    val total = eps.map { ep =>
      run(s"RETRIEVE ALL FROM ENDPOINT '${ep.getString(1)}'").count()
    }.sum
    assert(total == spark.table("nation").count())
    // a numeric retrieve pages within one endpoint slice
    val page = run(s"RETRIEVE 3 FROM ENDPOINT '${eps.head.getString(1)}'")
    assert(page.count() <= 3)
    // FETCH still works on the same cursor (coordinator-side path)
    assert(run("FETCH 2 FROM pr_cur").count() == 2)
    run("CLOSE pr_cur")
    // retrieve from a plain cursor rejects loudly
    run("DECLARE plain_cur CURSOR FOR SELECT n_name FROM nation")
    val e = intercept[IllegalArgumentException] {
      run("RETRIEVE ALL FROM ENDPOINT 'plain_cur_ep0'")
    }
    assert(e.getMessage.contains("PARALLEL RETRIEVE"))
    run("CLOSE plain_cur")
  }

  test("xpath keeps PG argument order through the dialect") {
    def run(sql: String) = GpSqlDialect.execute(spark, sql, "/tmp/never")
    // PG: xpath(path, xml) — path FIRST (xml.c:4243); swapped into
    // Spark's document-first natives at the call site
    val r = run(
      "SELECT xpath('/a/b/text()', '<a><b>1</b><b>2</b></a>') AS vs, " +
        "xpath_exists('/a/b', '<a><b>1</b></a>') AS e1, " +
        "xpath_exists('/a/c', '<a><b>1</b></a>') AS e0").head
    assert(r.getSeq[String](0) == Seq("1", "2"))
    assert(r.getBoolean(1) && !r.getBoolean(2))
    // nested calls + literals containing commas stay balanced
    val r2 = run("SELECT xpath(concat('/a', '/b/text()'), " +
      "'<a><b>x,y</b></a>') AS v").head
    assert(r2.getSeq[String](0) == Seq("x,y"))
  }

  test("plpgsql tier 5: division_by_zero handler lowers to a static guard") {
    def run(sql: String) = GpSqlDialect.execute(spark, sql, "/tmp/never")
    // safe_div — the canonical dump pattern
    run("""CREATE FUNCTION safe_div(a DOUBLE, b DOUBLE)
          |RETURNS DOUBLE AS $$
          |BEGIN RETURN a / b;
          |EXCEPTION WHEN division_by_zero THEN RETURN 0.0;
          |END
          |$$ LANGUAGE plpgsql""".stripMargin)
    val r = run("SELECT safe_div(CAST(10 AS DOUBLE), CAST(4 AS DOUBLE)) " +
      "AS ok, safe_div(CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)) AS z, " +
      "safe_div(CAST(1 AS DOUBLE), CAST(NULL AS DOUBLE)) AS n").head
    assert(r.getDouble(0) == 2.5)
    assert(r.getDouble(1) == 0.0) // handler, not an error
    assert(r.isNullAt(2)) // PG: NULL division returns NULL, no exception
    // assignment chain + parenthesized denominator both guard
    run("""CREATE FUNCTION pct(num DOUBLE, den DOUBLE)
          |RETURNS DOUBLE AS $$
          |DECLARE scaled DOUBLE := 0;
          |BEGIN
          |  scaled := num * 100;
          |  RETURN scaled / (den + 0);
          |EXCEPTION WHEN division_by_zero THEN RETURN -1;
          |END
          |$$ LANGUAGE plpgsql""".stripMargin)
    val p = run("SELECT pct(CAST(1 AS DOUBLE), CAST(4 AS DOUBLE)) AS a, " +
      "pct(CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)) AS b").head
    assert(p.getDouble(0) == 25.0 && p.getDouble(1) == -1.0)
    // OTHERS over a non-total call (ln raises on x<=0 in PG, returns
    // NULL in Spark — no static guard) → CREATE accepted, CALL raises
    // with the offending call named (r8 tier 5b handles the guardable
    // OTHERS shapes; see the tier-5b test)
    run("""CREATE FUNCTION risky(x DOUBLE) RETURNS DOUBLE AS $$
          |BEGIN RETURN ln(x);
          |EXCEPTION WHEN others THEN RETURN 0;
          |END
          |$$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("risky")
      .exists(m => m.contains("OTHERS") && m.contains("ln")))
    // a handler over a division nested in call args cannot be
    // statically guarded → defers, never guesses
    run("""CREATE FUNCTION hidden_div(a DOUBLE, b DOUBLE)
          |RETURNS DOUBLE AS $$
          |BEGIN RETURN coalesce(a / b, 0);
          |EXCEPTION WHEN division_by_zero THEN RETURN 0;
          |END
          |$$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("hidden_div").isDefined)
  }

  test("topLevelDenominators finds guardable operands only") {
    import graft.sql.GpSqlDialect.topLevelDenominators
    assert(topLevelDenominators("a / b") == Seq("b"))
    assert(topLevelDenominators("a / b / c") == Seq("b", "c"))
    assert(topLevelDenominators("a / (b - c) + d") == Seq("(b - c)"))
    assert(topLevelDenominators("x * 100 / nullif(y, 0)") ==
      Seq("nullif(y, 0)"))
    // nested-in-args division is NOT top-level
    assert(topLevelDenominators("coalesce(a / b, 0)").isEmpty)
    // string literals with slashes are not divisions
    assert(topLevelDenominators("concat('a/b', c)").isEmpty)
  }

  test("plpgsql tier 5b: WHEN OTHERS lowers statically-guardable bodies") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_others_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    // division: zero denominator selects the handler pre-evaluation
    run("""CREATE FUNCTION oth_rate(num double precision, den bigint)
          |RETURNS double precision AS $$
          |BEGIN
          |  RETURN num / den;
          |EXCEPTION WHEN OTHERS THEN RETURN -1.0;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("oth_rate").isEmpty,
      GpSqlDialect.plpgsqlRejection("oth_rate").toString)
    val r = run("SELECT oth_rate(CAST(10.0 AS DOUBLE), 0) AS a, " +
      "oth_rate(CAST(10.0 AS DOUBLE), 4) AS b").head
    assert(r.getDouble(0) == -1.0 && r.getDouble(1) == 2.5)
    // cast: malformed string selects the handler, NULL passes through
    run("""CREATE FUNCTION oth_parse(s varchar) RETURNS bigint AS $$
          |BEGIN
          |  RETURN cast(s AS bigint);
          |EXCEPTION WHEN OTHERS THEN RETURN 0;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("oth_parse").isEmpty,
      GpSqlDialect.plpgsqlRejection("oth_parse").toString)
    val p = run(
      "SELECT oth_parse('42') AS a, oth_parse('nope') AS b, " +
        "oth_parse(CAST(NULL AS STRING)) AS c").head
    assert(p.getAs[Number](0).longValue == 42L &&
      p.getAs[Number](1).longValue == 0L && p.isNullAt(2))
    // no raise site: handler is statically dead, body alone
    run("""CREATE FUNCTION oth_inc(x bigint) RETURNS bigint AS $$
          |BEGIN
          |  RETURN x + 1;
          |EXCEPTION WHEN OTHERS THEN RETURN -1;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    assert(run("SELECT oth_inc(41) AS a").head
      .getAs[Number](0).longValue == 42L)
    // non-total call (sqrt raises on negatives in PG, not in Spark):
    // defers loudly with the call named
    run("""CREATE FUNCTION oth_root(x double precision)
          |RETURNS double precision AS $$
          |BEGIN
          |  RETURN sqrt(x);
          |EXCEPTION WHEN OTHERS THEN RETURN -1.0;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    val rej = GpSqlDialect.plpgsqlRejection("oth_root")
    assert(rej.exists(_.contains("sqrt")), rej.toString)
    // nested division: no extractable guard, defers
    run("""CREATE FUNCTION oth_nest(a double precision, b double precision)
          |RETURNS double precision AS $$
          |BEGIN
          |  RETURN coalesce(a / b, 0);
          |EXCEPTION WHEN OTHERS THEN RETURN -1.0;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("oth_nest").isDefined)
    // r8 review fixes:
    // a numeric operand must NOT take the string RLIKE fast path —
    // cast(double AS bigint) never raises in PG, so the handler is
    // unreachable and the body value flows through
    run("""CREATE FUNCTION oth_toint(x double precision)
          |RETURNS bigint AS $$
          |BEGIN
          |  RETURN cast(x AS bigint);
          |EXCEPTION WHEN OTHERS THEN RETURN -1;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("oth_toint").isEmpty)
    assert(run("SELECT oth_toint(CAST(2.0 AS DOUBLE)) AS v")
      .head.getAs[Number](0).longValue == 2L)
    // a CASE may conditionally guard the raise site — PG never
    // evaluates the division, so the static guard must NOT hijack the
    // handler; both exception tiers defer
    run("""CREATE FUNCTION oth_case(n double precision, d double precision)
          |RETURNS double precision AS $$
          |BEGIN
          |  RETURN CASE WHEN d = 0 THEN 0 ELSE n / d END;
          |EXCEPTION WHEN OTHERS THEN RETURN -1.0;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("oth_case")
      .exists(_.contains("CASE")))
    run("""CREATE FUNCTION dbz_case(n double precision, d double precision)
          |RETURNS double precision AS $$
          |BEGIN
          |  RETURN CASE WHEN d = 0 THEN 0 ELSE n / d END;
          |EXCEPTION WHEN division_by_zero THEN RETURN -1.0;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("dbz_case")
      .exists(_.contains("CASE")))
    // a 'cast(' inside a string literal is data, not a raise site
    run("""CREATE FUNCTION oth_lit(x bigint) RETURNS text AS $$
          |BEGIN
          |  RETURN concat('use cast(a as b) wisely ', x);
          |EXCEPTION WHEN OTHERS THEN RETURN 'fallback';
          |END $$ LANGUAGE plpgsql""".stripMargin)
    assert(GpSqlDialect.plpgsqlRejection("oth_lit").isEmpty,
      GpSqlDialect.plpgsqlRejection("oth_lit").toString)
    assert(run("SELECT oth_lit(7) AS v").head.getString(0)
      == "use cast(a as b) wisely 7")
  }

  test("procedure DML loop: multi-statement body lowers set-based") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_dmlloop_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    Tables.registerAll(spark, sf)
    run("DROP TABLE IF EXISTS loop_log")
    run("DROP TABLE IF EXISTS loop_tgt")
    run("DROP TABLE IF EXISTS loop_junk")
    run("CREATE TABLE loop_log (k int, nm text) DISTRIBUTED BY (k)")
    run("CREATE TABLE loop_tgt (k int, flag text, hits int) " +
      "DISTRIBUTED BY (k)")
    run("CREATE TABLE loop_junk (k int) DISTRIBUTED BY (k)")
    run("INSERT INTO loop_tgt SELECT n_nationkey, 'raw', 0 FROM nation")
    run("INSERT INTO loop_junk SELECT n_nationkey + 100 FROM nation")
    // INSERT + UPDATE + DELETE per loop row → three set-based
    // statements over pairwise-distinct targets
    run("""CREATE PROCEDURE sync_nations() AS $$
          |BEGIN
          |  FOR r IN SELECT n_nationkey AS k, n_name AS nm FROM nation
          |           WHERE n_nationkey < 10 LOOP
          |    INSERT INTO loop_log VALUES (r.k, r.nm);
          |    UPDATE loop_tgt SET flag = 'seen', hits = hits + 1
          |      WHERE k = r.k;
          |    DELETE FROM loop_junk WHERE k = r.k + 100;
          |  END LOOP;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CALL sync_nations()")
    assert(run("SELECT count(*) AS n FROM loop_log").head.getLong(0) == 10L)
    val tg = run("SELECT flag, count(*) AS n FROM loop_tgt GROUP BY flag " +
      "ORDER BY flag").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(tg.toSeq == Seq("raw" -> 15L, "seen" -> 10L), tg.mkString(","))
    assert(run("SELECT count(*) AS n FROM loop_junk").head.getLong(0) == 15L)
    // same-table UPDATE + DELETE is order-dependent → loud reject
    run("""CREATE PROCEDURE same_tbl() AS $$
          |BEGIN
          |  FOR r IN SELECT n_nationkey AS k FROM nation LOOP
          |    UPDATE loop_tgt SET hits = hits + 1 WHERE k = r.k;
          |    DELETE FROM loop_tgt WHERE k = r.k + 100;
          |  END LOOP;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    val eSame = intercept[UnsupportedOperationException] {
      run("CALL same_tbl()")
    }
    assert(eSame.getMessage.contains("same table"), eSame.getMessage)
    // dependent bodies reject loudly: body reads a table the body writes
    run("""CREATE PROCEDURE bad_loop() AS $$
          |BEGIN
          |  FOR r IN SELECT n_nationkey AS k FROM nation LOOP
          |    INSERT INTO loop_log VALUES (r.k, 'x');
          |    UPDATE loop_tgt SET hits = hits + 1
          |      WHERE k IN (SELECT k FROM loop_log);
          |  END LOOP;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    val e = intercept[UnsupportedOperationException] { run("CALL bad_loop()") }
    assert(e.getMessage.contains("loop_log"), e.getMessage)
    run("DROP TABLE loop_log")
    run("DROP TABLE loop_tgt")
    run("DROP TABLE loop_junk")
  }

  test("xml_is_well_formed edges + xmlParse rejection (xml_in semantics)") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.XmlFunctions
    def wf(s: String, fn: String): Boolean =
      spark.sql(s"SELECT $fn('${s.replace("'", "''")}') AS v")
        .head.getBoolean(0)
    // content: empty and bare text are valid; unbalanced is not
    assert(wf("", "xml_is_well_formed"))
    assert(wf("a &amp; b <i>x</i>", "xml_is_well_formed"))
    assert(!wf("a < b", "xml_is_well_formed"))
    assert(!wf("<a><b></a></b>", "xml_is_well_formed"))
    // undefined entity: malformed in both modes (libxml agrees)
    assert(!wf("&nosuch;", "xml_is_well_formed"))
    // a leading XML declaration is stripped in content mode, like
    // xml_parse's parse_xml_decl (PG accepts this as content)
    assert(wf("<?xml version=\"1.0\"?><x/>", "xml_is_well_formed"))
    // document: exactly one root; declaration allowed; bare text is not
    assert(wf("<?xml version=\"1.0\"?><r><i/></r>",
      "xml_is_well_formed_document"))
    assert(!wf("plain", "xml_is_well_formed_document"))
    assert(!wf("<a/><b/>", "xml_is_well_formed_document"))
    // DTD / external entities are refused (XXE hardening; PG refuses
    // external fetch likewise)
    assert(!wf("<?xml version=\"1.0\"?><!DOCTYPE r [<!ENTITY x \"y\">]>" +
      "<r>&x;</r>", "xml_is_well_formed_document"))
    // xmlParse: NULL passes, valid passes through, malformed RAISES
    import spark.implicits._
    val df = Seq(("<ok/>", 1), (null, 2)).toDF("x", "id")
    val good = df.select(XmlFunctions.xmlParse(col("x")).as("v"))
      .collect().map(_.getString(0))
    assert(good.toSet == Set("<ok/>", null))
    val e = intercept[Exception] {
      Seq("<broken").toDF("x")
        .select(XmlFunctions.xmlParse(col("x"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("BEFORE ROW triggers: NEW projection + RETURN NULL skip, set-based") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_trig_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS trig_t")
    run("CREATE TABLE trig_t (id int, name text, qty int, total int) " +
      "DISTRIBUTED BY (id)")
    run("""CREATE FUNCTION trig_norm() RETURNS trigger AS $$
          |BEGIN
          |  IF NEW.qty <= 0 THEN RETURN NULL; END IF;
          |  NEW.name := upper(NEW.name);
          |  NEW.total := NEW.qty * 2;
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER t_norm BEFORE INSERT OR UPDATE ON trig_t " +
      "FOR EACH ROW EXECUTE PROCEDURE trig_norm()")
    run("INSERT INTO trig_t VALUES (1, 'ann', 3, 0)")
    run("INSERT INTO trig_t VALUES (2, 'bob', 0, 0)") // skipped: qty <= 0
    val r1 = run("SELECT id, name, qty, total FROM trig_t ORDER BY id")
      .collect()
    assert(r1.length == 1, r1.mkString(","))
    assert(r1(0).getString(1) == "ANN" && r1(0).getInt(3) == 6)
    // UPDATE: trigger composes over the SET clause (total recomputed)
    run("UPDATE trig_t SET qty = 5 WHERE id = 1")
    val r2 = run("SELECT name, qty, total FROM trig_t WHERE id = 1").head
    assert(r2.getString(0) == "ANN" && r2.getInt(1) == 5 &&
      r2.getInt(2) == 10)
    // UPDATE that the trigger vetoes (skip) leaves the row untouched
    run("UPDATE trig_t SET qty = -4 WHERE id = 1")
    assert(run("SELECT qty FROM trig_t WHERE id = 1").head.getInt(0) == 5)
    // DROP TRIGGER: raw inserts pass through again
    run("DROP TRIGGER t_norm ON trig_t")
    run("INSERT INTO trig_t VALUES (3, 'eve', 0, 0)")
    assert(run("SELECT count(*) AS n FROM trig_t").head.getLong(0) == 2L)
    // unsupported shapes reject loudly, never misexecute
    val e1 = intercept[UnsupportedOperationException] {
      run("CREATE TRIGGER t_aft AFTER INSERT ON trig_t " +
        "FOR EACH ROW EXECUTE PROCEDURE trig_norm()")
    }
    assert(e1.getMessage.contains("CDC"), e1.getMessage)
    // r9: OLD.* in BEFORE UPDATE bodies lowers set-based (pre-image
    // bound on the COW compose path); the INSERT path has no
    // pre-image so attaching an OLD-using fn to INSERT rejects
    run("""CREATE FUNCTION trig_old() RETURNS trigger AS $$
          |BEGIN
          |  NEW.total := OLD.total + 1;
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER t_old BEFORE UPDATE ON trig_t " +
      "FOR EACH ROW EXECUTE PROCEDURE trig_old()")
    run("UPDATE trig_t SET qty = 6 WHERE id = 1")
    val rOld = run("SELECT qty, total FROM trig_t WHERE id = 1").head
    assert(rOld.getInt(0) == 6 && rOld.getInt(1) == 11, rOld.toString)
    run("DROP TRIGGER t_old ON trig_t")
    val e2 = intercept[UnsupportedOperationException] {
      run("CREATE TRIGGER t_old_ins BEFORE INSERT ON trig_t " +
        "FOR EACH ROW EXECUTE PROCEDURE trig_old()")
    }
    assert(e2.getMessage.contains("OLD"), e2.getMessage)
    // r8 review fixes ------------------------------------------------
    // re-attach; a SET-clause column name inside a trigger's string
    // literal is data — must NOT be substituted on the UPDATE path
    run("""CREATE OR REPLACE FUNCTION trig_note() RETURNS trigger AS $$
          |BEGIN
          |  NEW.name := 'qty done';
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER t_note BEFORE UPDATE ON trig_t " +
      "FOR EACH ROW EXECUTE FUNCTION trig_note()")
    run("INSERT INTO trig_t VALUES (9, 'zoe', 0, 0)")
    run("UPDATE trig_t SET qty = 7 WHERE id = 9")
    val nt = run("SELECT name, qty FROM trig_t WHERE id = 9").head
    assert(nt.getString(0) == "qty done" && nt.getInt(1) == 7, nt.toString)
    // replacing the trigger fn with an unsupported body must make DML
    // raise loudly, not silently skip the trigger (OLD.* is legal on
    // the UPDATE path since r9 — use a loop body, which stays
    // unsupported in trigger position)
    run("""CREATE OR REPLACE FUNCTION trig_note() RETURNS trigger AS $$
          |BEGIN
          |  FOR i IN 1..3 LOOP PERFORM 1; END LOOP;
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    val e3 = intercept[UnsupportedOperationException] {
      run("UPDATE trig_t SET qty = 8 WHERE id = 9")
    }
    assert(e3.getMessage.contains("no longer executable"), e3.getMessage)
    run("DROP TRIGGER t_note ON trig_t")
    // upsert/merge/correlated-update paths reject loudly on
    // trigger-bearing tables instead of skipping the firing
    run("""CREATE OR REPLACE FUNCTION trig_note() RETURNS trigger AS $$
          |BEGIN
          |  NEW.name := upper(NEW.name);
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER t_note BEFORE INSERT OR UPDATE ON trig_t " +
      "FOR EACH ROW EXECUTE FUNCTION trig_note()")
    val e4 = intercept[UnsupportedOperationException] {
      run("INSERT INTO trig_t VALUES (10, 'al', 1, 0) " +
        "ON CONFLICT (id) DO NOTHING")
    }
    assert(e4.getMessage.contains("t_note"), e4.getMessage)
    // DROP TABLE cascades to triggers — a re-created table is clean
    run("DROP TABLE trig_t")
    run("CREATE TABLE trig_t (id int, name text, qty int, total int) " +
      "DISTRIBUTED BY (id)")
    run("INSERT INTO trig_t VALUES (1, 'raw', 1, 1)")
    assert(run("SELECT name FROM trig_t").head.getString(0) == "raw")
    run("DROP TABLE trig_t")
  }

  test("trigger WHEN clause gates firing per row; statement-level " +
    "triggers fire once per DML statement") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_trigw_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS tw_t")
    run("CREATE TABLE tw_t (id int, v int, tag text) DISTRIBUTED BY (id)")
    run("""CREATE OR REPLACE FUNCTION tw_fn() RETURNS trigger AS $$
          |BEGIN
          |  NEW.tag := 'hot';
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER t_w BEFORE INSERT OR UPDATE ON tw_t " +
      "FOR EACH ROW WHEN (NEW.v >= 10) EXECUTE FUNCTION tw_fn()")
    run("INSERT INTO tw_t VALUES (1, 5, 'cold')")
    run("INSERT INTO tw_t VALUES (2, 15, 'cold')")
    val r = run("SELECT id, tag FROM tw_t ORDER BY id").collect()
    assert(r(0).getString(1) == "cold" && r(1).getString(1) == "hot",
      r.mkString(","))
    // UPDATE: WHEN sees the post-SET NEW value; unfired rows keep the
    // SET result but the trigger does not touch them
    run("UPDATE tw_t SET v = v + 6 WHERE id = 1") // 5→11: fires now
    assert(run("SELECT tag FROM tw_t WHERE id = 1").head.getString(0)
      == "hot")
    // WHEN referencing OLD on an INSERT event rejects at CREATE
    val e1 = intercept[UnsupportedOperationException] {
      run("CREATE TRIGGER t_wo BEFORE INSERT ON tw_t FOR EACH ROW " +
        "WHEN (OLD.v < NEW.v) EXECUTE FUNCTION tw_fn()")
    }
    assert(e1.getMessage.contains("OLD"), e1.getMessage)
    run("DROP TRIGGER t_w ON tw_t")
    // ---- statement-level ---------------------------------------------
    run("DROP TABLE IF EXISTS tw_log")
    run("CREATE TABLE tw_log (n bigint) DISTRIBUTED BY (n)")
    run("""CREATE OR REPLACE FUNCTION tw_audit() RETURNS trigger AS $$
          |BEGIN
          |  INSERT INTO tw_log SELECT count(*) FROM tw_t;
          |  RETURN NULL;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    // BEFORE timing sees the pre-statement state, AFTER the post state
    run("CREATE TRIGGER t_b BEFORE INSERT ON tw_t " +
      "FOR EACH STATEMENT EXECUTE FUNCTION tw_audit()")
    run("CREATE TRIGGER t_a AFTER INSERT ON tw_t " +
      "FOR EACH STATEMENT EXECUTE FUNCTION tw_audit()")
    run("INSERT INTO tw_t VALUES (3, 1, 'x')")
    val logs = run("SELECT n FROM tw_log ORDER BY n").collect()
      .map(_.getLong(0)).toSeq
    assert(logs == Seq(2L, 3L), logs.toString) // before: 2 rows, after: 3
    // a row-context body cannot attach FOR EACH STATEMENT
    val e2 = intercept[UnsupportedOperationException] {
      run("CREATE TRIGGER t_bad AFTER INSERT ON tw_t " +
        "FOR EACH STATEMENT EXECUTE FUNCTION tw_fn()")
    }
    assert(e2.getMessage.contains("straight-line"), e2.getMessage)
    // self-recursive statement trigger hits the depth guard, loudly
    run("DROP TRIGGER t_b ON tw_t")
    run("DROP TRIGGER t_a ON tw_t")
    run("""CREATE OR REPLACE FUNCTION tw_self() RETURNS trigger AS $$
          |BEGIN
          |  INSERT INTO tw_t VALUES (99, 0, 'loop');
          |  RETURN NULL;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER t_self AFTER INSERT ON tw_t " +
      "FOR EACH STATEMENT EXECUTE FUNCTION tw_self()")
    val e3 = intercept[IllegalStateException] {
      run("INSERT INTO tw_t VALUES (4, 1, 'x')")
    }
    assert(e3.getMessage.contains("depth"), e3.getMessage)
    run("DROP TABLE tw_t")
    run("DROP TABLE tw_log")
  }

  test("INSTEAD OF INSERT view triggers route set-based; UPDATE/DELETE " +
    "and non-view targets reject") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_io_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS io_t")
    run("CREATE TABLE io_t (id int, v int, tag text) DISTRIBUTED BY (id)")
    run("CREATE OR REPLACE VIEW io_view AS " +
      "SELECT id, v FROM io_t WHERE tag = 'rt'")
    run("""CREATE OR REPLACE FUNCTION io_fn() RETURNS trigger AS $$
          |BEGIN
          |  INSERT INTO io_t VALUES (NEW.id, NEW.v + 100, 'rt');
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER t_io2 INSTEAD OF INSERT ON io_view " +
      "FOR EACH ROW EXECUTE FUNCTION io_fn()")
    run("INSERT INTO io_view VALUES (1, 5)")
    run("INSERT INTO io_view VALUES (2, 7)")
    val r = run("SELECT id, v FROM io_view ORDER BY id").collect()
    assert(r.map(x => (x.getInt(0), x.getInt(1))).toSeq ==
      Seq((1, 105), (2, 107)), r.mkString(","))
    // an OLD-referencing body cannot attach to the INSERT event
    run("""CREATE OR REPLACE FUNCTION io_fn_old() RETURNS trigger AS $$
          |BEGIN
          |  DELETE FROM io_t WHERE id = OLD.id;
          |  RETURN OLD;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    val e1 = intercept[UnsupportedOperationException] {
      run("CREATE TRIGGER t_bad INSTEAD OF INSERT ON io_view " +
        "FOR EACH ROW EXECUTE FUNCTION io_fn_old()")
    }
    assert(e1.getMessage.contains("OLD"), e1.getMessage)
    // a table target rejects (INSTEAD OF is a view mechanism)
    val e2 = intercept[Exception] {
      run("CREATE TRIGGER t_bad2 INSTEAD OF INSERT ON io_t " +
        "FOR EACH ROW EXECUTE FUNCTION io_fn()")
    }
    assert(e2.getMessage.contains("view"), e2.getMessage)
    // DROP TRIGGER detaches: INSERT INTO the view is unroutable again
    run("DROP TRIGGER t_io2 ON io_view")
    val e3 = intercept[Exception] {
      run("INSERT INTO io_view VALUES (3, 9)")
    }
    assert(e3 != null)
    run("DROP VIEW io_view")
    run("DROP TABLE io_t")
  }

  test("INSTEAD OF UPDATE/DELETE bind OLD and NEW set-based; plain " +
    "base DML re-resolves dependent views") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ioud_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS iu_t")
    run("CREATE TABLE iu_t (id int, v int, tag text) DISTRIBUTED BY (id)")
    run("CREATE OR REPLACE VIEW iu_view AS " +
      "SELECT id, v FROM iu_t WHERE tag = 'rt'")
    // views created BEFORE the data must see plain base inserts
    // (temp views capture the parquet file listing at CREATE VIEW)
    run("INSERT INTO iu_t VALUES (1, 10, 'rt')")
    run("INSERT INTO iu_t VALUES (2, 20, 'rt')")
    run("INSERT INTO iu_t VALUES (3, 30, 'other')")
    assert(run("SELECT count(*) FROM iu_view").collect()(0).getLong(0) == 2)
    run("""CREATE OR REPLACE FUNCTION iu_upd() RETURNS trigger AS $$
          |BEGIN
          |  UPDATE iu_t SET v = NEW.v + OLD.v WHERE id = OLD.id;
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("""CREATE OR REPLACE FUNCTION iu_del() RETURNS trigger AS $$
          |BEGIN
          |  DELETE FROM iu_t WHERE id = OLD.id AND tag = 'rt';
          |  RETURN OLD;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER t_iu INSTEAD OF UPDATE ON iu_view " +
      "FOR EACH ROW EXECUTE FUNCTION iu_upd()")
    run("CREATE TRIGGER t_id INSTEAD OF DELETE ON iu_view " +
      "FOR EACH ROW EXECUTE FUNCTION iu_del()")
    // NEW = OLD with SET applied: v := (v+1) + v_old = 2v+1
    run("UPDATE iu_view SET v = v + 1 WHERE id <= 2")
    val r = run("SELECT id, v FROM iu_view ORDER BY id").collect()
    assert(r.map(x => (x.getInt(0), x.getInt(1))).toSeq ==
      Seq((1, 21), (2, 41)), r.mkString(","))
    run("DELETE FROM iu_view WHERE id = 1")
    val r2 = run("SELECT id, v FROM iu_view ORDER BY id").collect()
    assert(r2.map(x => (x.getInt(0), x.getInt(1))).toSeq == Seq((2, 41)),
      r2.mkString(","))
    // the untagged base row survived the view-scoped delete body
    assert(run("SELECT count(*) FROM iu_t").collect()(0).getLong(0) == 2)
    run("DROP VIEW iu_view")
    run("DROP TABLE iu_t")
  }

  test("DO-block scalar state: WHILE, bare LOOP with EXIT/CONTINUE, " +
    ":= and SELECT INTO assignments") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_while_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    Tables.registerAll(spark, sf)
    run("DROP TABLE IF EXISTS wl_t")
    run("CREATE TABLE wl_t (i bigint, v bigint) DISTRIBUTED BY (i)")
    // WHILE with a data-dependent condition over mutable scalars
    run("""DO $$
          |DECLARE i bigint := 1; total bigint := 0;
          |BEGIN
          |  WHILE i <= 4 LOOP
          |    INSERT INTO wl_t VALUES (i, i * i);
          |    total := total + i;
          |    i := i + 1;
          |  END LOOP;
          |  INSERT INTO wl_t VALUES (99, total);
          |END $$""".stripMargin)
    val r = run("SELECT i, v FROM wl_t ORDER BY i").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r == Seq((1L, 1L), (2L, 4L), (3L, 9L), (4L, 16L), (99L, 10L)),
      r.toString)
    // bare LOOP + EXIT WHEN + CONTINUE WHEN (skip odd i)
    run("TRUNCATE wl_t")
    run("""DO $$
          |DECLARE i bigint := 0;
          |BEGIN
          |  LOOP
          |    i := i + 1;
          |    EXIT WHEN i > 6;
          |    CONTINUE WHEN i % 2 = 1;
          |    INSERT INTO wl_t VALUES (i, i * 10);
          |  END LOOP;
          |END $$""".stripMargin)
    val r2 = run("SELECT i, v FROM wl_t ORDER BY i").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r2 == Seq((2L, 20L), (4L, 40L), (6L, 60L)), r2.toString)
    // SELECT ... INTO drives the condition from table state
    run("TRUNCATE wl_t")
    run("INSERT INTO wl_t SELECT n_nationkey, 0 FROM nation")
    run("""DO $$
          |DECLARE remaining bigint; rounds bigint := 0;
          |BEGIN
          |  SELECT count(*) INTO remaining FROM wl_t;
          |  WHILE remaining > 5 LOOP
          |    DELETE FROM wl_t WHERE i >= remaining - 10;
          |    rounds := rounds + 1;
          |    SELECT count(*) INTO remaining FROM wl_t;
          |  END LOOP;
          |  INSERT INTO wl_t VALUES (-1, rounds);
          |END $$""".stripMargin)
    val r3 = run("SELECT v FROM wl_t WHERE i = -1").collect()
    assert(r3.length == 1 && r3(0).getLong(0) == 2L, r3.mkString(","))
    assert(run("SELECT count(*) FROM wl_t WHERE i >= 0")
      .collect()(0).getLong(0) == 5L)
    // EXIT outside a loop is a loud error
    val e = intercept[UnsupportedOperationException] {
      run("DO $$ BEGIN EXIT; END $$")
    }
    assert(e.getMessage.contains("outside a loop"), e.getMessage)
    // a label matching no enclosing loop climbs to the top and errors
    val e2 = intercept[UnsupportedOperationException] {
      run("""DO $$ BEGIN
            |<<a>> LOOP EXIT nosuch; END LOOP a;
            |END $$""".stripMargin)
    }
    assert(e2.getMessage.contains("label"), e2.getMessage)
    run("DROP TABLE wl_t")
  }

  test("transition-table CREATE TRIGGER constraint checks " +
    "(trigger.c CreateTrigger)") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_trans_spec"
    def run(sql: String) = graft.sql.GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS trx_t")
    run("CREATE TABLE trx_t (id bigint) DISTRIBUTED BY (id)")
    run("""CREATE OR REPLACE FUNCTION trx_fn() RETURNS trigger AS $$
          |BEGIN
          |  INSERT INTO trx_t SELECT count(*) FROM ntab;
          |  RETURN NULL;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    // BEFORE + transition table: loud reject
    val e1 = intercept[UnsupportedOperationException] {
      run("""CREATE TRIGGER trx_bad BEFORE INSERT ON trx_t
            |REFERENCING NEW TABLE AS ntab
            |FOR EACH STATEMENT EXECUTE FUNCTION trx_fn()""".stripMargin)
    }
    assert(e1.getMessage.contains("AFTER"), e1.getMessage)
    // OLD TABLE on an insert-only trigger: loud reject
    val e2 = intercept[UnsupportedOperationException] {
      run("""CREATE TRIGGER trx_bad2 AFTER INSERT ON trx_t
            |REFERENCING OLD TABLE AS otab
            |FOR EACH STATEMENT EXECUTE FUNCTION trx_fn()""".stripMargin)
    }
    assert(e2.getMessage.contains("OLD TABLE"), e2.getMessage)
    // TG_ARGV arity checks at attach time
    run("""CREATE OR REPLACE FUNCTION trx_argfn() RETURNS trigger AS $$
          |BEGIN
          |  NEW.id := CAST(TG_ARGV[2] AS BIGINT);
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    val e3 = intercept[UnsupportedOperationException] {
      run("""CREATE TRIGGER trx_args BEFORE INSERT ON trx_t
            |FOR EACH ROW EXECUTE FUNCTION trx_argfn('only-one')"""
        .stripMargin)
    }
    assert(e3.getMessage.contains("TG_ARGV[2]"), e3.getMessage)
    run("DROP TABLE trx_t")
  }

  test("ispell 4-field affix rules reject malformed conditions loudly") {
    val e = intercept[IllegalArgumentException] {
      graft.sql.GpSqlDialect.execute(spark,
        "CREATE TEXT SEARCH DICTIONARY isp_bad (TEMPLATE = ispell, " +
          "DICTWORDS = 'x/A', AFFIXES = 'SFX A 0 s (bad|cond)')",
        "/tmp/graft_ts")
    }
    assert(e.getMessage.contains("condition"), e.getMessage)
  }

  test("cursor positioned/backward FETCH directions (PerformPortalFetch)") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_fetch_spec"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    def keys(sql: String): Seq[Int] =
      run(sql).collect().map(_.getAs[Number](0).intValue).toSeq
    Tables.registerAll(spark, sf)
    run("""DECLARE nat_cur CURSOR FOR
          |SELECT n_nationkey FROM nation ORDER BY n_nationkey""".stripMargin)
    // nation holds nationkeys 0..24 (25 rows)
    assert(keys("FETCH LAST FROM nat_cur") == Seq(24))
    assert(keys("FETCH PRIOR FROM nat_cur") == Seq(23))
    // BACKWARD pages run in reverse order (PG)
    assert(keys("FETCH BACKWARD 3 FROM nat_cur") == Seq(22, 21, 20))
    assert(keys("FETCH ABSOLUTE 1 FROM nat_cur") == Seq(0))
    assert(keys("FETCH ABSOLUTE -2 FROM nat_cur") == Seq(23))
    // RELATIVE 0 re-fetches the current row; negative moves back
    assert(keys("FETCH RELATIVE 0 FROM nat_cur") == Seq(23))
    assert(keys("FETCH RELATIVE -10 FROM nat_cur") == Seq(13))
    // off-the-end: overshoot parks past the last row, PRIOR recovers it
    assert(keys("FETCH ABSOLUTE 25 FROM nat_cur") == Seq(24))
    assert(keys("FETCH NEXT FROM nat_cur").isEmpty)
    assert(keys("FETCH PRIOR FROM nat_cur") == Seq(24))
    // ABSOLUTE 0 = before first; NEXT then returns the first row
    assert(keys("FETCH ABSOLUTE 0 FROM nat_cur").isEmpty)
    assert(keys("FETCH NEXT FROM nat_cur") == Seq(0))
    // count 0 re-fetches the current row without moving (PG)
    assert(keys("FETCH ABSOLUTE 5 FROM nat_cur") == Seq(4))
    assert(keys("FETCH FORWARD 0 FROM nat_cur") == Seq(4))
    assert(keys("FETCH BACKWARD 0 FROM nat_cur") == Seq(4))
    assert(keys("FETCH NEXT FROM nat_cur") == Seq(5))
    assert(keys("FETCH FORWARD ALL FROM nat_cur") == (6 to 24))
    assert(keys("FETCH BACKWARD ALL FROM nat_cur") == (24 to 0 by -1))
    run("CLOSE nat_cur")
  }

  test("ts_rank edges: PG clamps, absent terms, series value") {
    def rank(doc: String, q: String): Double =
      spark.sql(s"SELECT ts_rank('$doc', '$q') AS r").head.getDouble(0)
    // single term, one occurrence: (0.1 + 0.1/1 − 0.1/1) / (π²/6)
    assert(math.abs(rank("a cat sat", "cat") - 0.1 / 1.64493406685) < 1e-12)
    // absent term → 0 (calc_rank_or finds no entry)
    assert(rank("a dog sat", "cat") == 0.0)
    // two terms, only one present → the 1e-20 partial-match clamp
    assert(rank("hash hash table", "hash join") == 1e-20)
    // both present: rank grows as terms get closer (word_distance)
    val near = rank("hash join now", "hash join")
    val far = rank("hash a b c d e f g h join", "hash join")
    assert(near > far && far > 1e-16, s"$near vs $far")
    // duplicate query terms dedupe (SortAndUniqItems): 1-term semantics
    assert(rank("a cat sat", "cat cat") == rank("a cat sat", "cat"))
    // rank_cd agrees on monotonicity for the same docs
    def cd(doc: String): Double =
      spark.sql(s"SELECT ts_rank_cd('$doc', 'hash join') AS r")
        .head.getDouble(0)
    assert(cd("hash join now") > cd("hash a b c d e f g h join"))
  }

  test("ts_headline dedupes repeated query terms like plainto_tsquery") {
    // 'hash hash' is ONE lexeme after plainto_tsquery dedup: without the
    // r8 .distinct the duplicate held a cover slot that never filled
    // (first-match indexing) and every matching doc produced NULL
    val doc = "the hash join builds a table then probes it"
    val r = spark.sql(
      s"""SELECT ts_headline('$doc', 'hash hash') AS dup,
         |       ts_headline('$doc', 'hash') AS single""".stripMargin).head
    assert(!r.isNullAt(0), "duplicate-term query must still headline")
    assert(r.getString(0) == r.getString(1))
    // arity guard: 1-arg call fails with a clear message
    val e = intercept[Exception] {
      spark.sql("SELECT ts_headline('x') AS h").collect()
    }
    assert(e.getMessage.contains("needs 2+ args"), e.getMessage)
  }

  test("tablefunc crosstab: 1-arg form fills value columns in category " +
    "order; 2-arg form matches the category list") {
    import spark.implicits._
    Seq(("a", "k1", 1L), ("a", "k2", 2L), ("b", "k2", 20L))
      .toDF("rn", "cat", "v").createOrReplaceTempView("xt_src")
    // 1-arg: values land positionally (ORDER BY 1,2 convention) — row b
    // has ONE value, so it lands in v1 even though its category is k2
    val one = GpSqlDialect.execute(spark,
      """SELECT * FROM crosstab('SELECT rn, cat, v FROM xt_src
        |ORDER BY 1, 2') AS ct(rn text, v1 bigint, v2 bigint)
        |ORDER BY rn""".stripMargin, "/tmp/xt").collect()
    assert(one.map(r => (r.getString(0), r.get(1), r.get(2))).toSeq ==
      Seq(("a", 1L, 2L), ("b", 20L, null)))
    // 2-arg: values match the category list — b.k2 lands in the k2 slot
    val two = GpSqlDialect.execute(spark,
      """SELECT * FROM crosstab(
        |  'SELECT rn, cat, v FROM xt_src ORDER BY 1, 2',
        |  'SELECT k FROM (VALUES (''k1''), (''k2'')) t(k) ORDER BY 1')
        |AS ct(rn text, k1 bigint, k2 bigint) ORDER BY rn""".stripMargin,
      "/tmp/xt").collect()
    assert(two.map(r => (r.getString(0), r.get(1), r.get(2))).toSeq ==
      Seq(("a", 1L, 2L), ("b", null, 20L)))
  }

  test("dblink loopback: PG-style connstr executes against this engine " +
    "with the AS-clause record shape applied") {
    val out = GpSqlDialect.execute(spark,
      """SELECT x, nm FROM dblink('dbname=graft',
        |  'SELECT 41 + 1 AS a, upper(''ok'') AS b')
        |AS t(x bigint, nm text) ORDER BY x""".stripMargin, "/tmp/dbl")
      .collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 42L && out(0).getString(1) == "OK")
    // arity mismatch between the remote result and the AS clause rejects
    val e = intercept[IllegalArgumentException] {
      GpSqlDialect.execute(spark,
        "SELECT * FROM dblink('dbname=graft', 'SELECT 1 AS a') " +
          "AS t(x int, y int)", "/tmp/dbl")
    }
    assert(e.getMessage.contains("AS clause"))
  }

  test("gpmapreduce: builtin reduces aggregate on key; interpreter " +
    "languages and custom reduces reject loudly") {
    import spark.implicits._
    Seq(("a", 1), ("b", 2), ("a", 3)).toDF("k", "v")
      .createOrReplaceTempView("mr_src")
    def job(reduce: String) =
      s"""DEFINE:
         |  - INPUT: {NAME: src, TABLE: mr_src}
         |  - MAP:
         |      NAME: m
         |      LANGUAGE: sql
         |      FUNCTION: SELECT k AS key, v AS value FROM src
         |EXECUTE:
         |  - RUN: {SOURCE: src, MAP: m, REDUCE: $reduce}""".stripMargin
    val sums = graft.sql.GpMapReduce.run(spark, job("SUM"), "/tmp/mr")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums == Map("a" -> 4L, "b" -> 2L))
    assert(graft.sql.GpMapReduce.run(spark, job("IDENTITY"), "/tmp/mr")
      .count() == 3)
    val e1 = intercept[UnsupportedOperationException] {
      graft.sql.GpMapReduce.run(spark, job("MEDIAN"), "/tmp/mr")
    }
    assert(e1.getMessage.contains("not a builtin"))
    val e2 = intercept[UnsupportedOperationException] {
      graft.sql.GpMapReduce.run(spark,
        """DEFINE:
          |  - INPUT: {NAME: src, TABLE: mr_src}
          |  - MAP:
          |      NAME: m
          |      LANGUAGE: perl
          |      FUNCTION: return [];
          |EXECUTE:
          |  - RUN: {SOURCE: src, MAP: m}""".stripMargin, "/tmp/mr")
    }
    assert(e2.getMessage.contains("LANGUAGE perl"))
  }

  /** r0 → r1 → {r2, r3}, r2 → r4: levels 1 to 3 below the root r0. */
  private def cbTree(): Unit = {
    import spark.implicits._
    Seq(("r1", "r0"), ("r2", "r1"), ("r3", "r1"), ("r4", "r2"))
      .toDF("k", "pk").createOrReplaceTempView("cb_tree")
  }

  private def connectby(maxDepth: Int): Array[org.apache.spark.sql.Row] =
    GpSqlDialect.execute(spark,
      s"""SELECT * FROM connectby('cb_tree', 'k', 'pk', 'r0', $maxDepth, '.')
        |AS t(keyid text, parent_keyid text, level int, branch text)
        |ORDER BY level, keyid""".stripMargin, "/tmp/cb").collect()

  test("tablefunc connectby: root emitted with NULL parent even when " +
    "absent from the relation; max_depth bounds descent") {
    cbTree()
    val out = connectby(2)
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3))).toSeq
    // r0 itself has no row in cb_tree — tablefunc.c:1276 emits it anyway
    assert(out == Seq(
      ("r0", null, 0, "r0"),
      ("r1", "r0", 1, "r0.r1"),
      ("r2", "r1", 2, "r0.r1.r2"),
      ("r3", "r1", 2, "r0.r1.r3"))) // r4 is level 3 — cut by max_depth 2
  }

  test("tablefunc connectby: one more level of max_depth costs at most " +
    "three jobs") {
    cbTree()
    // both depths stop above the tree's last level (r4 at level 3), so
    // the difference is one more round of the recursive-CTE loop (its
    // frontier broadcast and its checkpoint, which observes the round's
    // row count) plus a checkpoint job in the last round that the
    // shallower call does not run. AQE can drop a job, so the bound is
    // an upper one; a loop that probed each level after its checkpoint
    // would pay four
    val perLevel = jobs(connectby(2)) - jobs(connectby(1))
    assert(perLevel <= 3, s"connectby pays $perLevel jobs per level")
  }

  // Quoted text is data: commas, keywords and NEW. references inside a
  // literal must not steer the dialect's splits and rewrites.

  test("a quoted comma in a column DEFAULT does not split the column " +
    "list; '' and NOT NULL inside the literal are data") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_lex_default"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS lex_def")
    run("CREATE TABLE lex_def (id int, note text DEFAULT 'x,y', q int, " +
      "tag text DEFAULT 'it''s NOT NULL')")
    run("INSERT INTO lex_def (id, q) VALUES (1, 2)")
    run("INSERT INTO lex_def (id, q, tag) VALUES (2, 3, NULL)")
    val r = run("SELECT id, note, q, tag FROM lex_def ORDER BY id").collect()
    assert(r.map(x => (x.getInt(0), x.getString(1), x.getInt(2),
      x.getString(3))).toSeq ==
      Seq((1, "x,y", 2, "it's NOT NULL"), (2, "x,y", 3, null)))
  }

  test("a quoted UNION in a recursive CTE seed is not the seed/step split") {
    val out = GpSqlDialect.execute(spark,
      """WITH RECURSIVE lex_r(n, s) AS (
        |  SELECT 1, 'a union b'
        |  UNION ALL
        |  SELECT n + 1, s FROM lex_r WHERE n < 3)
        |SELECT s FROM lex_r ORDER BY n""".stripMargin, "/tmp/never")
    assert(out.collect().map(_.getString(0)).toSeq == Seq.fill(3)("a union b"))
  }

  test("a trigger assignment keeps NEW. inside its string literal") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_lex_trig"
    def run(sql: String) = GpSqlDialect.execute(spark, sql, base)
    run("DROP TABLE IF EXISTS lex_trig")
    run("CREATE TABLE lex_trig (id int, note text)")
    run("""CREATE FUNCTION lex_trig_fn() RETURNS trigger AS $$
          |BEGIN
          |  NEW.note := 'set NEW.note';
          |  RETURN NEW;
          |END $$ LANGUAGE plpgsql""".stripMargin)
    run("CREATE TRIGGER lex_trig_t BEFORE INSERT ON lex_trig " +
      "FOR EACH ROW EXECUTE PROCEDURE lex_trig_fn()")
    run("INSERT INTO lex_trig VALUES (1, 'raw')")
    assert(run("SELECT note FROM lex_trig").head.getString(0) ==
      "set NEW.note")
  }

  test("a quoted FROM in a SQL function body keeps it a scalar expression") {
    GpSqlDialect.execute(spark,
      "CREATE FUNCTION lex_fromfn(x int) RETURNS text " +
        "AS $$ SELECT 'from ' || x $$ LANGUAGE SQL", "/tmp/never")
    assert(GpSqlDialect.inlineSqlFunctions("SELECT lex_fromfn(a) FROM t")
      == "SELECT ('from ' || (a)) FROM t")
    // a call spelled inside a literal is data, not a call
    assert(GpSqlDialect.inlineSqlFunctions("SELECT 'lex_fromfn(a)' FROM t")
      == "SELECT 'lex_fromfn(a)' FROM t")
  }
}
