"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests build the engine on first use and run small inputs
(sf0.001, a few queries, a few seconds of lake ops).
"""
import contextlib
import io
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402

SMOKE_QUERIES = "q01_pricing_summary,q13_agg_distinct,q62_dedup_clusters"


def invoke(*args):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(list(args))
    lines = out.getvalue().splitlines()
    return rc, lines, json.loads(lines[-1])


class PercentileTest(unittest.TestCase):
    def test_interpolates_like_numpy(self):
        xs = list(range(1, 11))
        self.assertEqual(percentile(xs, 50), 5.5)
        self.assertAlmostEqual(percentile(xs, 80), 8.2)
        self.assertEqual(percentile([7.0], 80), 7.0)
        self.assertEqual(percentile(xs, 100), 10)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(tail_percentile(55), 80)   # 11 beyond p80
        self.assertEqual(tail_percentile(101), 90)  # 10.1 beyond p90
        self.assertEqual(tail_percentile(1000), 99)
        self.assertEqual(tail_percentile(40), 75)   # p80 leaves only 8
        self.assertIsNone(tail_percentile(19))


class FailureChargeTest(unittest.TestCase):
    """A failed query or op never makes an end-to-end metric look better."""

    @staticmethod
    def sql(*samples):
        return {"timeout_s": 60, "passes": [{"pass": 1, "traced": False, "wall_s": 0}],
                "samples": [{"pass": 1, "wall_s": w, "ok": ok} for w, ok in samples]}

    def test_sql_failure_is_charged(self):
        clean = run.sql_metrics(self.sql((1.0, True), (1.0, True)))[0]
        broken = run.sql_metrics(self.sql((1.0, True), (0.01, False)))[0]
        self.assertAlmostEqual(clean["geomean_ms"][0], 1000.0)
        self.assertAlmostEqual(broken["geomean_ms"][0], (1000.0 * 60000.0) ** 0.5)
        self.assertAlmostEqual(clean["ops_per_s"][0], 1.0)
        self.assertAlmostEqual(broken["ops_per_s"][0], 1 / 1.01)

    def test_lake_failure_is_charged(self):
        def lake(ok):
            return {"timeout_s": 60, "window_s": 2.0, "space_amp": 1.0, "ops": [
                {"kind": "select", "ms": 100.0, "ok": True, "phase": "measure", "retries": 0},
                {"kind": "insert", "ms": 5.0, "ok": ok, "phase": "measure", "retries": 0}]}
        clean, broken = run.lake_metrics(lake(True))[0], run.lake_metrics(lake(False))[0]
        self.assertGreater(broken["geomean_ms"][0], clean["geomean_ms"][0])
        self.assertEqual((clean["ops_per_s"][0], broken["ops_per_s"][0]), (1.0, 0.5))


class SmokeTest(unittest.TestCase):
    def test_sql_smoke(self):
        rc, lines, res = invoke("--workload", "sql-relational", "--seed", "3", "--seconds",
                                "1", "--trace", "0", "--sf", "0.001", "--queries",
                                SMOKE_QUERIES)
        self.assertEqual(rc, 0)
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (3, 0))
        self.assertEqual(set(res["metrics"]), {m["name"] for m in run.spec()["end_to_end"]})
        self.assertTrue(all(m["value"] > 0 for m in res["metrics"].values()))

    def test_injected_failure_counts_in_error_rate(self):
        rc, lines, res = invoke("--workload", "sql-pipelines", "--seed", "4", "--seconds",
                                "1", "--trace", "0", "--sf", "0.001", "--queries",
                                SMOKE_QUERIES, "--inject-fail", "q999_broken")
        # it threw in the result pass, so it has no output to check
        self.assertEqual(rc, 1)
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (4, 1))
        self.assertTrue(any("FAILED q999_broken: OutputMismatch" in ln for ln in lines))
        rate = [ln.split() for ln in lines if ln.split()[:1] == ["error_rate"]]
        self.assertEqual(float(rate[0][1]), 0.25)
        self.assertGreaterEqual(res["metrics"]["geomean_ms"]["value"], 60000 ** 0.25)

    def test_sql_traced_reports_layers(self):
        rc, lines, res = invoke("--workload", "sql-pipelines", "--seed", "5", "--seconds",
                                "1", "--trace", "1", "--sf", "0.001", "--queries",
                                SMOKE_QUERIES)
        self.assertEqual(rc, 0)
        m = res["metrics"]
        self.assertEqual(set(m), {x["name"] for x in run.spec()["per_layer"]})
        self.assertGreater(m["exec.jobs"]["value"], 0)
        self.assertGreater(m["queries.construct_jobs"]["value"], 0)  # q62's checkpoints

    def test_lake_smoke(self):
        rc, lines, res = invoke("--workload", "lake-dml", "--seed", "6", "--seconds", "4",
                                "--trace", "1", "--sf", "0.001")
        self.assertEqual(rc, 0)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        m = res["metrics"]
        self.assertGreater(m["rest.requests_per_write"]["value"], 0)
        self.assertGreater(m["table.snapshots"]["value"], 1)


if __name__ == "__main__":
    unittest.main()
