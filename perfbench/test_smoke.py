"""The benchmark's own test: every metric BENCHMARK.json names is emitted.

    python3 perfbench/test_smoke.py

Runs each workload of BENCHMARK.json on sf0.001 with one set-up, once
untraced and once traced (about three minutes in all), and checks the
result line against the metric lists. It also checks that the benchmark
fails, without a result line, when graft's sources are absent.
"""

import json
import math
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(workload, trace, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3", "--seconds", "3",
                             "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          universal_newlines=True, timeout=900)


def result_line(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


class SmokeTest(unittest.TestCase):

    def test_every_metric_is_emitted(self):
        for w in SPEC["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = run_bench(w["name"], trace)
                    self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                    res = result_line(r.stdout)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"], r.stderr[-3000:])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[key]}
                    self.assertEqual(set(res["metrics"]), set(want))
                    for name, m in res["metrics"].items():
                        self.assertEqual(m["unit"], want[name], name)
                        self.assertTrue(math.isfinite(m["value"]), name)
                        if trace == 0:
                            self.assertGreater(m["value"], 0, name)

    def test_fails_without_graft_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        try:
            r = run_bench(SPEC["workloads"][0]["name"], 0, cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertIsNone(result_line(r.stdout))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
