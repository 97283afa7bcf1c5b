#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

Runs every workload for a few operations, untraced and traced, and
checks that each metric BENCHMARK.json names is printed with its unit,
that the runs are correct, and that a handler which drops one event
makes the run fail with failed_frac > 0. Takes about five minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace, *extra):
    """Run the benchmark; returns (detail, result) from its last two lines."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--max-ops", "4", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check_metrics(self, result, specs):
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], float, m["name"])

    def test_every_workload_prints_every_metric(self):
        for w in (x["name"] for x in SPEC["workloads"]):
            for trace, specs in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    detail, result = bench(w, trace)
                    self.assertTrue(result["correct"], detail)
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.assertEqual(detail["failed_frac"], 0.0)
                    self.assertEqual(detail["seed"], 7)
                    self.assertIn("fingerprint", detail)
                    self.check_metrics(result, specs)
                    if trace == 0:
                        for m in SPEC["end_to_end"]:
                            self.assertGreater(result["metrics"][m["name"]]["value"], 0)

    def test_dropped_event_fails_the_run(self):
        for w in ("ack_fanout", "ack_chain"):
            with self.subTest(workload=w):
                detail, result = bench(w, 0, "--inject-drop")
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                self.assertGreater(detail["failed_frac"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
