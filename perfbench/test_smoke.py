#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at its tiny size.

    python3 perfbench/test_smoke.py        (from the root of a checkout)

An untraced run must print every end-to-end metric of BENCHMARK.json with
its unit and pass its output checks; a traced run must print every per-layer
metric with its unit; and with every expected hash corrupted, every op must
be reported as failed.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "tiny",
                        *extra], cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return p.stdout.strip().splitlines()


class Smoke(unittest.TestCase):
    def check_metrics(self, result, spec):
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], float, k)

    def test_workloads(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                lines = run(w, 0)
                result = json.loads(lines[-1])
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"])
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(result["failed"], 0)
                self.check_metrics(result, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    printed = [l for l in lines[:-1] if l.startswith(f"{w} {m['name']} ")]
                    self.assertTrue(printed and printed[0].endswith(" " + m["unit"]), m["name"])

                traced = json.loads(run(w, 1, "--corrupt-expected")[-1])
                self.check_metrics(traced, SPEC["per_layer"])
                self.assertFalse(traced["correct"])
                self.assertEqual(traced["failed"], traced["attempted"])


if __name__ == "__main__":
    unittest.main()
