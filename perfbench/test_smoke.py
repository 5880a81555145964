#!/usr/bin/env python3
"""Smoke tests of the benchmark: every workload at its tiny size, untraced
and traced, must pass its own correctness checks and print exactly the
metrics BENCHMARK.json names, with their units.

    python3 perfbench/test_smoke.py
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run(*args):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = run("--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--smoke")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], r.stderr[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(out["metrics"]), [m["name"] for m in want])
        for m in want:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return out

    def test_workloads_and_their_traces(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)
        # every layer span named in BENCHMARK.json was written by some workload
        names = set()
        for w in SPEC["workloads"]:
            with open(os.path.join(ROOT, ".bench_build", "traces", f"{w['name']}-seed7.json")) as f:
                spans = json.load(f)
            names |= {s["name"] for s in spans}
            for s in spans:
                self.assertGreaterEqual(s["end_ms"], s["start_ms"])
        layers = {m["name"].rsplit(".", 1)[0] for m in SPEC["per_layer"] if m["name"].endswith(".wall_s")}
        self.assertEqual(layers - names, set())

    def test_rejects_bad_arguments(self):
        r = run("--workload", "no_such_workload", "--seed", "1", "--seconds", "1", "--trace", "0")
        self.assertNotEqual(r.returncode, 0)
        self.assertFalse(r.stdout.strip().startswith("{"))


if __name__ == "__main__":
    unittest.main()
