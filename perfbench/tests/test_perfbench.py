"""Tests of the benchmark itself, run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

They run the real command at a tiny input size (PERFBENCH_SCALE), so each
test starts a JVM; the whole file takes several minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import run  # noqa: E402

E2E_SUMMARY = [n for n, _ in run.END_TO_END] + ["fail_frac"]


def bench(workload, trace, seed=7, mutate=None):
    env = dict(os.environ, PERFBENCH_SCALE="0.05")
    env.pop("PERFBENCH_MUTATE", None)
    if mutate:
        env["PERFBENCH_MUTATE"] = mutate
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines[:-1], json.loads(lines[-1]) if lines else None


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))


class SmokeTest(unittest.TestCase):
    """Every metric named for the benchmark is printed with its unit, for
    every workload, and the outputs check out."""

    def assert_summary(self, workload, summary):
        for name in E2E_SUMMARY:
            self.assertTrue(any(l.startswith(f"# {workload} {name} = ") and len(l.split()) >= 6
                                for l in summary), f"{workload}: {name} missing from {summary}")

    def test_every_workload_traced(self):
        for workload in sorted(run.WORKLOADS):
            with self.subTest(workload=workload):
                code, summary, result = bench(workload, trace=1)
                self.assertEqual(code, 0, summary)
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assert_summary(workload, summary)
                self.assertEqual({n: m["unit"] for n, m in result["metrics"].items()},
                                 dict(run.PER_LAYER))

    def test_end_to_end_metrics(self):
        code, summary, result = bench("hep_rehist", trace=0)
        self.assertEqual(code, 0, summary)
        self.assertEqual({n: m["unit"] for n, m in result["metrics"].items()}, dict(run.END_TO_END))
        for n, m in result["metrics"].items():
            self.assertGreater(m["value"], 0, n)


class MutationTest(unittest.TestCase):
    """A wrong output fails the run: nonzero exit, `correct` false."""

    def assert_caught(self, workload, mutate):
        code, summary, result = bench(workload, trace=0, mutate=mutate)
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertTrue(any(l.startswith("# FAILED") for l in summary), summary)

    def test_perturbed_histogram_weight(self):
        self.assert_caught("hep_cold", "hist_weight")

    def test_dropped_dedup_row(self):
        self.assert_caught("curation", "dedup_row")


if __name__ == "__main__":
    unittest.main()
