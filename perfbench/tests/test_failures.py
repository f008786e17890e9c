"""Self-test: an injected throwing statement and an injected wrong result
are both counted as failed, and neither enters the latency samples.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
(builds the engine on first use; about a minute).
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class InjectedFailures(unittest.TestCase):

    def test_throw_and_wrong_result_count_as_failed(self):
        stmts = [
            {"name": "q6_forecast", "kind": "named"},
            {"name": "inject_throw", "kind": "sql",
             "sql": "SELECT raise_error('injected failure') AS x"},
            {"name": "q14_promo", "kind": "named"},
        ]
        # the oracle for q14 now expects every row twice
        doubled = lambda sql: f"SELECT * FROM ({sql}) UNION ALL SELECT * FROM ({sql})"
        rec = run.execute("selftest", 7, 1, 0, statements=stmts,
                          oracle_override={"q14_promo": doubled})
        timed = rec["timed"]
        failed = {r["name"] for r in timed if r["failed"]}
        self.assertEqual(failed, {"inject_throw", "q14_promo"})
        self.assertIn("injected failure", rec["failures"]["inject_throw"])
        self.assertIn("rows", rec["failures"]["q14_promo"])
        ok = [r for r in timed if r["name"] == "q6_forecast"]
        m = rec["metrics"]
        self.assertAlmostEqual(m["failed_frac"][0], 2 * len(ok) / len(timed))
        self.assertEqual(m["stmt_p50_s"][2], len(ok))


class Tail(unittest.TestCase):

    def test_nearest_rank_p90(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0, 4.0]), 4.0)
        self.assertEqual(run.tail(list(range(1, 21))), 18)


if __name__ == "__main__":
    unittest.main()
