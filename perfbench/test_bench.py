#!/usr/bin/env python3
"""The benchmark's own test: every workload at minimum size.

    python3 perfbench/test_bench.py

Runs each workload (the declared ones and heavy_queries) at its smallest
size (sf0.001, a few queries, a tiny generated medallion input), untraced
and traced, and asserts that every
metric named in BENCHMARK.json prints with its unit and that the outputs
check out; then runs short_queries with a deliberately wrong expected hash
and asserts that the failure is counted.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def bench(workload, trace=0, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


class BenchTest(unittest.TestCase):

    def check_metrics(self, out, declared):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        for m in declared:
            self.assertIn(m["name"], out["metrics"])
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_workloads_print_every_metric(self):
        names = [w["name"] for w in BENCH["workloads"]]
        for name in dict.fromkeys(names + ["heavy_queries"]):
            for trace, declared in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
                with self.subTest(workload=name, trace=trace):
                    ctx, out = bench(name, trace)
                    self.check_metrics(out, declared)
                    self.assertTrue(out["correct"], ctx["failures"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 2)
                    self.assertEqual(ctx["error_rate"], 0.0)
                    if trace == 0:
                        for m in BENCH["end_to_end"]:
                            self.assertGreater(out["metrics"][m["name"]]["value"], 0,
                                               m["name"])

    def test_wrong_expected_hash_counts_as_error(self):
        ctx, _ = bench("short_queries")
        victim = ctx["sample"][0]
        ctx, out = bench("short_queries", 0, "--expect", f"{victim}=0")
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertGreater(ctx["error_rate"], 0.0)
        self.assertLess(out["metrics"]["success_rate"]["value"], 1.0)
        self.assertEqual(ctx["failures"][0]["name"], victim)
        self.assertEqual(ctx["failures"][0]["status"], "wrong")


if __name__ == "__main__":
    unittest.main(verbosity=2)
