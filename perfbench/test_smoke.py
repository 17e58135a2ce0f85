#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size: every workload, untraced and
traced, must exit 0 and end with a well-formed, correct result line that
carries exactly the metrics BENCHMARK.json declares; and the benchmark must
fail cleanly, without a result line, when the engine sources are absent.

Run from the root of a checkout:  python3 perfbench/test_smoke.py
(about five minutes; the first run builds)."""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd, workload, trace, seconds=2):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", str(seconds), "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        """Returns the per-layer metrics the workload does not exercise."""
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], p.stdout[-3000:])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = last["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        skipped = [l for l in p.stdout.splitlines() if "not exercised (reported as 0):" in l]
        return set(skipped[0].split(":", 1)[1].split()) if skipped else set()

    def test_workloads(self):
        unmeasured = {m["name"] for m in SPEC["per_layer"]}
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    skipped = self.check(w["name"], trace)
                    if trace:
                        unmeasured &= skipped
        self.assertEqual(unmeasured, set(), "per-layer metrics no workload measures")

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "work", "results", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=tmp, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
