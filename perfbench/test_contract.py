#!/usr/bin/env python3
"""Checks of the benchmark's output contract that need no build.

    python3 perfbench/test_contract.py      (from the repository root)
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

TAIL = 2000


class OutputContract(unittest.TestCase):
    def bench(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return json.load(f)

    def line(self, names):
        # values with every digit a double can carry: the widest rendering
        metrics = {m["name"]: {"value": 123456.78901234567, "unit": m["unit"]} for m in names}
        return run.final_line(True, 123456, 0, metrics), metrics

    def test_end_to_end_line_survives_a_2000_character_tail(self):
        line, metrics = self.line(self.bench()["end_to_end"])
        noise = "".join(f"[info] log line {i} " + "x" * 80 + "\n" for i in range(200))
        stdout = noise + "record: workload=w seed=1\n" + line + "\n"
        tail = stdout[-TAIL:]
        last = tail.rstrip("\n").split("\n")[-1]
        got = json.loads(last)
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(got["metrics"], metrics)
        self.assertFalse(last.startswith("[info]"))
        self.assertEqual(sum('{"metric"' in l for l in stdout.splitlines()), 0)

    def test_every_metric_name_is_unique_and_within_limits(self):
        b = self.bench()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(b["per_layer"]), 128)
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", names)

    def test_fails_without_the_rest_of_the_repository(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target", ".bsp"))
            res = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                  "queries", "--seed", "1", "--seconds", "1",
                                  "--trace", "0"], cwd=d, capture_output=True, text=True,
                                 timeout=60)
            self.assertNotEqual(res.returncode, 0)
            self.assertEqual(res.stdout, "")


if __name__ == "__main__":
    unittest.main()
