"""Tests of the benchmark itself: failure accounting, the set-up/window split
and run isolation.

    python3 -m unittest perfbench/test_perfbench.py

The first two classes run the real harness (about a minute each on a 4-core
host, plus the build on first use); the last one checks the metric
arithmetic on synthetic results.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, seed, *extra):
    """Run the benchmark keeping its run directory; (details, result, harness result)."""
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0", "--keep", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    details, result = (json.loads(l) for l in r.stdout.strip().splitlines()[-2:])
    run_dir = max(glob.glob(os.path.join(run.BUILD, "runs", f"{workload}-{seed}-*")),
                  key=os.path.getmtime)
    with open(os.path.join(run_dir, "result.json")) as f:
        harness = json.load(f)
    return details, result, harness


def assert_setup_before_window(t, harness):
    phases = {p["name"]: p for p in harness["setup"]}
    for p in phases.values():
        t.assertLessEqual(p["end_ms"], harness["window_start_ms"])
    return phases


class CatalogInjection(unittest.TestCase):
    """A throwing op counts as failed and adds no time; a wrong output counts as wrong."""

    @classmethod
    def setUpClass(cls):
        cls.details, cls.result, cls.harness = bench(
            "catalog_mixed", 7, "--inject", "fail:q19_set_ops,wrong:text_quality")

    def test_failed_op_is_counted_and_adds_no_time(self):
        self.assertEqual(self.result["failed"], 1)
        self.assertEqual(self.details["ops_failed"], ["q19_set_ops"])
        failed = [o for o in self.harness["ops"] if not o["ok"]]
        self.assertGreaterEqual(failed[0]["wall_s"], 0.3)  # it ran before throwing
        ok = [o["wall_s"] for o in self.harness["ops"] if o["ok"]]
        self.assertAlmostEqual(self.result["metrics"]["wall_s"]["value"], sum(ok), places=6)

    def test_wrong_output_is_counted(self):
        self.assertEqual(self.details["ops_wrong"], ["text_quality"])
        self.assertFalse(self.result["correct"])

    def test_warmup_is_setup_not_window(self):
        phases = assert_setup_before_window(self, self.harness)
        self.assertIn("warmup", phases)
        warm = (phases["warmup"]["end_ms"] - phases["warmup"]["start_ms"]) / 1e3
        self.assertGreater(self.result["metrics"]["setup_s"]["value"], warm)


class DailyRun(unittest.TestCase):
    """Staging lands in set-up; the run starts from an empty output root."""

    @classmethod
    def setUpClass(cls):
        cls.details, cls.result, cls.harness = bench("daily_etl", 8)

    def test_staging_is_setup_not_window(self):
        phases = assert_setup_before_window(self, self.harness)
        staging = (phases["staging"]["end_ms"] - phases["staging"]["start_ms"]) / 1e3
        self.assertGreater(self.result["metrics"]["setup_s"]["value"], staging)
        window = (self.harness["pass_end_ms"] - self.harness["window_start_ms"]) / 1e3
        self.assertLessEqual(self.result["metrics"]["wall_s"]["value"], window)

    def test_output_root_holds_only_this_runs_dates(self):
        dates = sorted({"date=" + o["name"].split("#")[0] for o in self.harness["ops"]})
        self.assertEqual([p["name"] for p in self.harness["read_back"]], dates)
        self.assertEqual(sorted(self.harness["expected_read_back"]), dates)

    def test_outputs_match_goldens(self):
        self.assertTrue(self.result["correct"])
        self.assertEqual(self.result["failed"], 0)


class Arithmetic(unittest.TestCase):
    """Metric arithmetic on a synthetic harness result."""

    def res(self, ops, workload="catalog_mixed", read_back=(), expected=()):
        return {"workload": workload, "window_start_ms": 0, "csv_rows_per_job": 0,
                "out_bytes": 0, "peak_rss_mb": 1.0, "ops": ops, "read_back": list(read_back),
                "expected_read_back": list(expected)}

    def op(self, name, wall, ok=True, rows=1, digest="d"):
        return {"name": name, "golden": name, "ok": ok, "wall_s": wall,
                "rows": rows if ok else -1, "digest": digest if ok else ""}

    def part(self, date):
        return {"name": f"date={date}", "golden": "daily", "rows": 1, "digest": "d"}

    def test_failed_ops_add_no_time(self):
        ops = [self.op("a", 1.0), self.op("b", 9.0, ok=False), self.op("c", 4.0)]
        m, details = run.end_to_end(self.res(ops))
        self.assertEqual(m["wall_s"], 5.0)
        self.assertAlmostEqual(m["op_geomean_s"], 2.0)
        self.assertEqual(details["query_p50_s"], 2.5)
        _, details = run.end_to_end(self.res(ops, "daily_etl"))
        self.assertEqual(details["job_cold_s"], 1.0)
        self.assertEqual(details["job_warm_p50_s"], 4.0)  # the jobs after the cold first one

    def test_digest_mismatch_and_missing_golden_are_wrong(self):
        goldens = {"a": {"rows": 1, "digest": "d"}, "c": {"rows": 1, "digest": "x"}}
        ops = [self.op("a", 1.0), self.op("c", 1.0), self.op("e", 1.0), self.op("b", 1.0, ok=False)]
        self.assertEqual(run.check(self.res(ops), goldens), ["c", "e"])

    def test_missing_and_unexpected_partitions_are_wrong(self):
        goldens = {"daily": {"rows": 1, "digest": "d"}}
        ops = [self.op("2024-01-01#1", 1.0, rows=-1), self.op("2024-01-02#1", 1.0, rows=-1)]
        expected = ["date=2024-01-01", "date=2024-01-02"]
        res = lambda parts: self.res(ops, "daily_etl", [self.part(d) for d in parts], expected)
        self.assertEqual(run.check(res(["2024-01-01", "2024-01-02"]), goldens), [])
        self.assertEqual(run.check(res([]), goldens),
                         ["date=2024-01-01 (missing)", "date=2024-01-02 (missing)"])
        self.assertEqual(run.check(res(["2024-01-01", "2024-01-02", "2024-01-03"]), goldens),
                         ["date=2024-01-03 (unexpected)"])


if __name__ == "__main__":
    unittest.main()
