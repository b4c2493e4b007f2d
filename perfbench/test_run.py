"""Tests for run.py's result assembly:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# metrics run.py derives itself rather than reading from the JVM's result
DERIVED = {"ops_ok_share", "trace.setup_s", "trace.pass_s", "trace.op_p50_s"}


class ResultLineTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        names = [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        self.raw = {"attempted": 40, "failed": 1, "notes": ["q: oracle FAIL"],
                    "metrics": {n: 1.5 for n in names if n not in DERIVED}}

    def test_every_metric_with_its_unit(self):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            line = run.result_line(self.bench, self.raw, trace)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            want = {m["name"]: m["unit"] for m in self.bench[section]}
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, want)
            self.assertEqual(json.loads(json.dumps(line)), line)

    def test_failures_count_against_correctness(self):
        line = run.result_line(self.bench, self.raw, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(line["metrics"]["ops_ok_share"]["value"], 1 - 1 / 40)

    def test_a_missing_metric_is_no_result(self):
        del self.raw["metrics"]["pass_s"]
        self.assertIsNone(run.result_line(self.bench, self.raw, 0))


if __name__ == "__main__":
    unittest.main()
