"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The smoke test builds the engine and runs each workload once at tiny sizes
with every oracle on (a few minutes)."""
import json
import pathlib
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = pathlib.Path(__file__).resolve().parent.parent
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))
import compare  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class ContractTest(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((REPO / "BENCHMARK.json").read_text())

    def test_keys_and_limits(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        names = [w["name"] for w in s["workloads"]] + [m["name"] for m in s["end_to_end"]] + \
            [m["name"] for m in s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            self.assertRegex(m["unit"], UNIT)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in s["end_to_end"])}])


class CompareRuleTest(unittest.TestCase):
    def test_gain_needs_nine_of_ten_and_a_gap_beyond_the_parent_iqr(self):
        parent = {s: 100.0 + s for s in range(10)}
        change = {s: 80.0 + s for s in range(10)}
        self.assertEqual(compare.judge(parent, change, "lower", 0.25)[-1], "gain")
        change[0], change[1] = 150.0, 160.0  # two losses of ten
        self.assertNotEqual(compare.judge(parent, change, "lower", 0.25)[-1], "gain")

    def test_small_gap_is_no_change(self):
        parent = {s: 100.0 + s for s in range(10)}
        change = {s: 99.0 + s for s in range(10)}  # wins every pair, gap 1 < IQR
        self.assertEqual(compare.judge(parent, change, "lower", 0.25)[-1], "no change")

    def test_regression_beyond_bound(self):
        parent = {s: 100.0 + 0.1 * s for s in range(10)}
        change = {s: 130.0 + 0.1 * s for s in range(10)}
        self.assertEqual(compare.judge(parent, change, "lower", 0.2)[-1], "regression")

    def test_failed_change_runs_are_flagged(self):
        ok = {"correct": True, "failed": 0}
        self.assertEqual(compare.failed_seeds({1: ok, 2: ok}), [])
        change = {1: ok, 2: {"correct": False, "failed": 1}, 3: {"correct": False, "failed": 0}}
        self.assertEqual(compare.failed_seeds(change), [2, 3])

    def test_wide_spread_is_unresolved(self):
        parent = {s: [50.0, 150.0][s % 2] for s in range(10)}
        change = {s: [60.0, 140.0][s % 2] for s in range(10)}
        self.assertEqual(compare.judge(parent, change, "higher", 0.1)[-1], "unresolved")


class RunTest(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        root = BENCH.parent / ".bench_build" / "perfbench" / "tmp"
        root.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=root) as d:
            shutil.copy(REPO / "BENCHMARK.json", d)
            shutil.copytree(BENCH, pathlib.Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "roundtrip",
                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                 text=True, timeout=180)
        self.assertNotEqual(res.returncode, 0)
        self.assertEqual(res.stdout.strip(), "")

    def test_smoke_all_workloads_correct(self):
        res = subprocess.run([sys.executable, str(BENCH / "run.py"), "--smoke"],
                             stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(res.returncode, 0, res.stdout)
        results = [json.loads(line) for line in res.stdout.splitlines() if line.startswith("{")]
        spec = json.loads((REPO / "BENCHMARK.json").read_text())
        self.assertEqual([r["workload"] for r in results], [w["name"] for w in spec["workloads"]])
        e2e = {m["name"] for m in spec["end_to_end"]}
        for r in results:
            self.assertTrue(r["correct"])
            self.assertEqual(r["failed"], 0)
            self.assertEqual(set(r["metrics"]), e2e)


if __name__ == "__main__":
    unittest.main()
