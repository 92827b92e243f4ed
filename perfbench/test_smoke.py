#!/usr/bin/env python3
"""Smoke test: every workload, untraced and traced, on tiny inputs.

    python3 perfbench/test_smoke.py

Exercises every check, metric and span path; fails unless each run prints a
correct result line whose metrics are the ones BENCHMARK.json names.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class SmokeTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertTrue(result["correct"], lines[-2])
        self.assertEqual(result["failed"], 0)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        self.assertEqual(set(result["metrics"]), names)
        summary = json.loads(lines[-2])
        with open(summary["artifact"]) as fh:
            artifact = json.load(fh)
        phases = [h["phase"] for h in artifact["host"]]
        self.assertEqual(phases[0], "session-up")
        self.assertEqual(phases[-1], "end")
        if trace:
            self.assertTrue(artifact["spans"])
            self.assertIn("blocking_path", artifact["info"])
        return result

    def test_workloads(self):
        for workload in ("serve-gist", "lifecycle"):
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    self.run_bench(workload, trace)


if __name__ == "__main__":
    unittest.main()
