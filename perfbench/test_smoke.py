#!/usr/bin/env python3
"""Smoke tests of the benchmark itself, at tiny sizes.

    python3 perfbench/test_smoke.py

Checks that every metric BENCHMARK.json names is printed with its unit on
every workload, in untraced and traced runs, and that a corrupted expected
path is reported as failed ops rather than as a correct run.
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


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=180)
    if done.returncode != 0:
        raise AssertionError(f"{cmd} exited with {done.returncode}")
    return json.loads(done.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_every_metric_prints_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace, declared in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    result = run(w["name"], trace)
                    self.check_metrics(result, declared)
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)

    def test_corrupted_expected_path_fails_every_op(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                result = run(w["name"], 0, "--corrupt-expected")
                self.assertFalse(result["correct"])
                self.assertEqual(result["failed"], result["attempted"])


if __name__ == "__main__":
    unittest.main()
