#!/usr/bin/env python3
"""The benchmark's own test, at a tiny size (--scale 0.05, 2 s loops).

For every workload, including code_write (runnable but not in
BENCHMARK.json): an untraced run prints every end-to-end metric of
BENCHMARK.json by name with its unit, and no op fails; two traced runs
with the same seed print every per-layer metric and repeat the counts
exactly. Run from the root of the repository:

    python3 perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("code_read", "numeric_mixed", "code_write")
# counts that depend only on the seed and the program, never on timing
EXACT = ("codecs.blocks.", "sources.chunks_scanned_ratio", "engine.index_")


def manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.rstrip("\n").split("\n")
    env = next(json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("PERFBENCH_ENV "))
    return p.returncode, lines, json.loads(lines[-1]), env, p.stderr


class PerfbenchTest(unittest.TestCase):
    def check_metrics(self, lines, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(any(l.split()[:1] == [m["name"]] and m["unit"] in l.split() for l in lines),
                            f"{m['name']} not in the report with its unit")

    def test_workloads(self):
        spec = manifest()
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, lines, result, env, err = run(w, 7, 0)
                self.assertEqual(code, 0, err[-3000:])
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreater(result["attempted"], 0)
                self.assertTrue(any(l.split()[:2] == ["failed_ops_ratio", "0.0"] for l in lines))
                self.check_metrics(lines, result, spec["end_to_end"])
                traced = []
                for _ in range(2):
                    code, lines, result, env2, err = run(w, 7, 1)
                    self.assertEqual(code, 0, err[-3000:])
                    self.assertEqual(result["failed"], 0)
                    self.check_metrics(lines, result, spec["per_layer"])
                    traced.append((result["metrics"], env2))
                (a, ea), (b, eb) = traced
                self.assertEqual(ea["stored_ratio"], env["stored_ratio"])
                self.assertEqual(eb["stored_ratio"], env["stored_ratio"])
                for name in a:
                    if name.startswith(EXACT):
                        self.assertEqual(a[name]["value"], b[name]["value"], name)

    def test_refuses_without_sources(self):
        """Run where only the manifest and the benchmark exist: no result, non-zero exit."""
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "code_read", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True, timeout=180,
                               env={k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"})
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
