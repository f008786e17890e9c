package graft

import org.scalatest.funsuite.AnyFunSuite

/** Golden-hash regression gate: every query's sf0.001 result must hash
  * exactly as recorded (regenerate intentionally via
  * `runMain graft.tools.GoldenGen`). The run is shared with
  * QueriesSmokeSpec through [[QueryRuns]]. */
class GoldenSpec extends AnyFunSuite {

  private val golden: Map[String, String] = {
    val src = scala.io.Source.fromResource("golden_sf0001.txt")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, h) = l.split(" ", 2); n -> h
    }.toMap
    finally src.close()
  }

  test("golden file covers every query") {
    val missing = SparkEntry.allQueries.map(_.name).filterNot(golden.contains)
    assert(missing.isEmpty, s"regenerate goldens; missing: $missing")
  }

  SparkEntry.allQueries.foreach { q =>
    test(s"golden: ${q.name}") {
      golden.get(q.name).foreach { expected =>
        assert(!expected.startsWith("ERROR"), s"golden recorded a failure")
        assert(QueryRuns.of(q).hash == expected,
          s"${q.name} result drifted from golden hash — if intentional, " +
            "regenerate with runMain graft.tools.GoldenGen")
      }
    }
  }
}
