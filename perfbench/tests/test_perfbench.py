"""Tests of the benchmark itself (not of the engine).

Run from the repository root:  python3 -m unittest discover -s perfbench/tests -v
The repeat test runs each workload twice (about four minutes in all).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# counts the program makes exactly, and recall, must repeat for a seed
EXACT = ["BeamSearch.dist_evals_per_qset", "BeamSearch.hops_per_qset",
         "BeamSearch.candidates_per_qset", "Rerank.pairs_per_qset"]


def bench(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    assert out.returncode == 0, f"{workload} exited {out.returncode}"
    return [json.loads(line) for line in out.stdout.strip().splitlines() if line.startswith("{")]


class SelfTest(unittest.TestCase):
    def test_inputs_truth_and_span_check(self):
        """Same seed, same bytes; exact scorer vs a naive loop; span check."""
        classes = build.build()
        cp = os.pathsep.join([classes, build.classpath(build.spark_jars())])
        out = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                             stdout=subprocess.PIPE, text=True, timeout=300)
        self.assertEqual(out.returncode, 0, out.stdout)


class RepeatTest(unittest.TestCase):
    def test_same_seed_same_counts(self):
        """Two traced runs per workload with one seed: identical exact
        counts and recall, no failed operation, every declared metric."""
        layer_names = {m["name"] for m in SPEC["per_layer"]}
        e2e_names = {m["name"] for m in SPEC["end_to_end"]}
        for w in (x["name"] for x in SPEC["workloads"]):
            runs = [bench(w, 5, 1) for _ in range(2)]
            for untraced, traced in runs:
                self.assertTrue(traced["correct"], w)
                self.assertEqual(traced["failed"], 0, w)
                self.assertEqual(set(traced["metrics"]), layer_names, w)
                self.assertEqual(set(untraced["untraced_calls"]), e2e_names, w)
            for name in EXACT:
                self.assertEqual(runs[0][1]["metrics"][name], runs[1][1]["metrics"][name], f"{w} {name}")
            self.assertEqual(runs[0][0]["untraced_calls"]["recall_at_10"],
                             runs[1][0]["untraced_calls"]["recall_at_10"], w)


class BareCheckoutTest(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        """With only BENCHMARK.json and the benchmark's files, a run exits
        non-zero and prints no result."""
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            out = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                                    "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                                 timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertFalse(out.stdout.strip())


if __name__ == "__main__":
    unittest.main()
