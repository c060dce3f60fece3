"""Tests for the run's own bookkeeping: python3 -m unittest discover perfbench"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def artifact(d, seed, sha, cycle_s):
    with open(os.path.join(d, f"batch-seed{seed}-trace0.json"), "w") as f:
        json.dump({"env": {"source_sha256": sha},
                   "metrics": {"cycle_s": {"value": cycle_s, "unit": "s"}}}, f)


class TracingOverheadTest(unittest.TestCase):
    def test_only_untraced_runs_of_the_same_sources_are_the_baseline(self):
        with tempfile.TemporaryDirectory() as d:
            artifact(d, 1, "old", 100.0)
            artifact(d, 2, "new", 10.0)
            artifact(d, 3, "new", 12.0)
            out = run.tracing_overhead(d, "batch", {"cycle_s": 12.0}, "new")
        self.assertEqual(out["cycle_s"]["untraced_runs"], 2)
        self.assertEqual(out["cycle_s"]["untraced_median"], 11.0)
        self.assertAlmostEqual(out["cycle_s"]["delta"], 1.0)

    def test_no_baseline_without_a_run_of_the_same_sources(self):
        with tempfile.TemporaryDirectory() as d:
            artifact(d, 1, "old", 100.0)
            out = run.tracing_overhead(d, "batch", {"cycle_s": 12.0}, "new")
        self.assertIn("no baseline", out["note"])


if __name__ == "__main__":
    unittest.main()
