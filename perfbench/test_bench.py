#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py

- A tiny run of every workload, untraced and traced, prints exactly the
  `end_to_end` (untraced) or `per_layer` (traced) metrics that BENCHMARK.json
  names, each with its unit, and checks every output without a failure.
- A run against a deliberately corrupted golden (query_mix, pipeline_cold) or
  model (mr_text, kv_upsert) reports failed operations and `correct: false`.

Each case starts one benchmark JVM; the whole file takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert out.returncode == 0, f"{workload} exited {out.returncode}"
    return json.loads(out.stdout.strip().splitlines()[-1])


class TinyRuns(unittest.TestCase):
    def check_names(self, result, spec):
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_every_metric_is_printed_and_outputs_check(self):
        for w in WORKLOADS:
            for trace, spec in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    r = run(w, trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertGreaterEqual(r["attempted"], 1)
                    self.check_names(r, spec)
                    if trace == 0:
                        for m in SPEC["end_to_end"]:
                            self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_a_corrupted_golden_or_model_fails_operations(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w, 0, "--corrupt")
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)


if __name__ == "__main__":
    unittest.main()
