"""BENCHMARK.json must name exactly the metrics run.py reports.

Run from the repository root: python3 -m unittest perfbench/test_config.py
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_workloads_exist(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_end_to_end_metrics(self):
        got = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(got, run.END_TO_END)

    def test_per_layer_metrics(self):
        got = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(got, run.per_layer_units())


if __name__ == "__main__":
    unittest.main()
