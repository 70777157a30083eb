"""The benchmark's own tests: tiny-world runs of every workload.

    python3 -m unittest wifibench/test_wifibench.py

They take a few minutes (each run starts Spark). They check that every
metric named in BENCHMARK.json is printed with its unit, that a corrupted
output fails the run, that a traced run's per-layer self times add up to its
wall time, and that the benchmark refuses to run without the library.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
# refine_dense is not gated in BENCHMARK.json but runs with the same command
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["refine_dense"]
SCALE = "0.2"


def run(workload, trace="0", extra=(), seed=3, seconds="2", cwd=REPO):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "wifibench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", trace, "--scale", SCALE, *extra],
        capture_output=True, text=True, cwd=cwd, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, lines, result


class WifiBenchTest(unittest.TestCase):
    def assert_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(result["metrics"]), [m["name"] for m in spec])
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float))

    def test_smoke_every_workload(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, lines, result = run(w)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreater(result["attempted"], 0)
                self.assert_metrics(result, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])
                    self.assertTrue(any(l.startswith(f"metric {m['name']} ") and l.endswith(" " + m["unit"])
                                        for l in lines), m["name"])

    def test_corrupted_output_is_caught(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, _, result = run(w, extra=["--fault"])
                self.assertNotEqual(p.returncode, 0)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)

    def test_traced_self_times_reconcile(self):
        idle = {"refine_dense": ["ingest", "streaming", "serve", "algo"],
                "serve_mixed": ["ingest", "streaming"],
                "ingest_replay": ["serve", "algo"]}
        # the layers each workload is built to stress carry most self time
        busy = {"refine_dense": ["localize", "mutation"],
                "serve_mixed": ["serve", "algo", "mutation"],
                "ingest_replay": ["ingest", "streaming", "mutation"]}
        layers = ["ingest", "streaming", "mutation", "localize", "serve", "algo", "bench"]
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, _, result = run(w, trace="1")
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.assert_metrics(result, SPEC["per_layer"])
                m = {k: v["value"] for k, v in result["metrics"].items()}
                self.assertLessEqual(m["trace.reconcile_err"], 0.05)
                self.assertEqual(m["trace.unattributed_jobs"], 0)
                for layer in idle[w]:
                    self.assertEqual(m[f"{layer}.self_s"], 0, layer)
                total = sum(m[f"{l}.self_s"] for l in layers)
                self.assertGreater(sum(m[f"{l}.self_s"] for l in busy[w]), 0.5 * total)

    def test_refuses_to_run_without_the_library(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(REPO, ".bench_build")) as d:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "wifibench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "wifibench/run.py", "--workload", WORKLOADS[0],
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               capture_output=True, text=True, cwd=d, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
