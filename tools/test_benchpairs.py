"""Tests for the summary of tools/benchpairs.py.

Run from the repository root:

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchpairs import quartiles, render, summarize  # noqa: E402

METRICS = [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.25},
           {"name": "hits", "unit": "count", "better": "higher", "bound": 0.25}]


class SummaryTest(unittest.TestCase):
    def test_quartiles_interpolate_between_ranks(self):
        self.assertEqual(quartiles([4.0, 1.0, 3.0, 2.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_ratio_spread_and_better_pairs(self):
        parent = [{"pass_s": v, "hits": 1.0} for v in (10.0, 11.0, 12.0, 13.0, 14.0)]
        change = [{"pass_s": v, "hits": 2.0} for v in (9.0, 10.0, 13.0, 11.0, 12.0)]
        rows = {r["name"]: r for r in summarize(parent, change, METRICS)}
        p = rows["pass_s"]
        self.assertEqual(p["parent"], (11.0, 12.0, 13.0))
        self.assertEqual(p["change"], (10.0, 11.0, 12.0))
        self.assertAlmostEqual(p["ratio"], 11.0 / 12.0)
        self.assertAlmostEqual(p["spread"], 2.0 / 12.0)
        self.assertEqual((p["better"], p["pairs"]), (4, 5))  # seed 3 was slower
        self.assertFalse(p["unresolved"])
        self.assertFalse(p["gain"])  # 4/5 pairs is short of nine tenths
        # higher is better: every pair counts, and the medians differ by
        # more than the parent's (zero) interquartile range
        self.assertEqual(rows["hits"]["better"], 5)
        self.assertTrue(rows["hits"]["gain"])
        self.assertIn("change better 4/5", render(p))
        self.assertTrue(render(rows["hits"]).endswith("GAIN"))

    def test_spread_beyond_the_bound_is_unresolved(self):
        parent = [{"pass_s": v, "hits": 1.0} for v in (8.0, 10.0, 14.0)]
        change = [{"pass_s": 10.0, "hits": 1.0}] * 3
        row = summarize(parent, change, METRICS)[0]
        self.assertAlmostEqual(row["spread"], 3.0 / 10.0)
        self.assertTrue(row["unresolved"])
        self.assertTrue(render(row).endswith("UNRESOLVED"))

    def test_wide_spread_with_every_change_run_better_is_resolved(self):
        parent = [{"pass_s": v, "hits": 1.0} for v in (8.0, 10.0, 14.0)]
        change = [{"pass_s": v, "hits": 1.0} for v in (6.5, 7.0, 7.5)]
        row = summarize(parent, change, METRICS)[0]
        self.assertFalse(row["unresolved"])
        self.assertFalse(row["gain"])  # the 3.0 median gap is not above the 3.0 IQR

    def test_unpaired_runs_are_refused(self):
        with self.assertRaises(ValueError):
            summarize([{"pass_s": 1.0, "hits": 1.0}], [], METRICS)


if __name__ == "__main__":
    unittest.main()
