#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001: one quick traced pass of every
workload in workloads.json must print every end-to-end and per-layer metric
by name and pass the output check.

Run from the repository root:  python3 -m unittest perfbench/test_smoke.py
(the first run builds the engine, like any benchmark run).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE_SF = os.path.expanduser("~/testdata/sf0.001")


class SmokeTest(unittest.TestCase):

    def test_every_workload_prints_every_metric_and_passes_check(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        with open(os.path.join(HERE, "workloads.json")) as fh:
            workloads = json.load(fh)["workloads"]
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        for w in workloads:
            with self.subTest(workload=w):
                out = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"),
                     "--workload", w, "--seed", "1",
                     "--seconds", str(spec["run_seconds"]), "--trace", "1",
                     "--sf", SMOKE_SF],
                    cwd=ROOT, capture_output=True, text=True, timeout=600)
                self.assertEqual(out.returncode, 0, out.stderr[-3000:])
                lines = out.stdout.splitlines()
                result = json.loads(lines[-1])
                self.assertTrue(result["correct"], out.stdout[-3000:])
                self.assertEqual(result["failed"], 0)
                printed = {ln.split(" = ")[0].strip() for ln in lines
                           if " = " in ln}
                self.assertEqual(sorted(set(names) - printed), [])
                self.assertEqual(sorted(result["metrics"]),
                                 sorted(m["name"] for m in spec["per_layer"]))


if __name__ == "__main__":
    unittest.main()
