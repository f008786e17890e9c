package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every SparkEntry query runs on sf0.001 and produces a sane result.
  * (Value-level correctness is the DuckDB oracle gate — graft.Verify
  * plus tools/check.py; this suite is the fast in-JVM guard.)
  * The run is shared with GoldenSpec through [[QueryRuns]]. */
class QueriesSmokeSpec extends AnyFunSuite {
  import TestSpark._

  // queries that must be non-empty at sf0.001: anything aggregating
  // whole tables. Pair-finding queries may legitimately be empty.
  private val mayBeEmpty = Set("q_join_anti", "q_dedup_exact_bow",
    "q_dedup_minhash", "q_dedup_simhash", "q_dedup_jaccard",
    "q_dedup_embedding")

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs and is non-degenerate") {
      val run = QueryRuns.of(q)
      assert(run.columns > 0, "no output columns")
      if (!mayBeEmpty.contains(q.name)) {
        assert(run.rows > 0, s"${q.name} returned 0 rows")
      }
    }
  }

  test("entry() smoke-checks on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle") {
    val noOracle = SparkEntry.allQueries.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"unexpected oracle-less queries: $noOracle")
  }

  test("Bench prints every query's seconds in lines of at most 2 KB") {
    val times = SparkEntry.allQueries.map(_.name).sorted.zipWithIndex
      .map { case (q, i) => q -> (1000.0 + i / 7.0) }
    val lines = Bench.timesLines(times)
    assert(lines.size > 1 && lines.forall(_.getBytes("UTF-8").length <= 2048))
    val parts = lines.map(l => "\"(\\w+)\":".r
      .findAllMatchIn(l.substring(l.indexOf("\"queries\":") + 10))
      .map(_.group(1)).toSeq)
    assert(parts.flatten == times.map(_._1))
    lines.zipWithIndex.foreach { case (l, i) =>
      assert(l.startsWith(
        s"""{"metric":"times","part":${i + 1},"of":${lines.size},"""), l)
    }
  }
}
