"""Tests for the benchmark's statistics and naming.

Run from the repository root: ``python3 -m unittest discover -s perfbench -p 'test_*.py'``.
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spec  # noqa: E402
from stats import (highest_percentile, median, percentile, samples_beyond,  # noqa: E402
                   valid_name)


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)

    def test_single_and_empty(self):
        self.assertEqual(median([7.25]), 7.25)
        with self.assertRaises(ValueError):
            median([])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(percentile(xs, 100), 100)
        self.assertEqual(percentile([5, 1, 3], 50), 3)

    def test_small_samples_take_a_real_sample(self):
        self.assertEqual(percentile([10.0], 90), 10.0)
        self.assertEqual(percentile([1, 2], 90), 2)
        self.assertIn(percentile([0.3, 0.1, 0.2, 0.9], 90), [0.3, 0.1, 0.2, 0.9])

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            percentile([], 50)
        with self.assertRaises(ValueError):
            percentile([1], 0)
        with self.assertRaises(ValueError):
            percentile([1], 101)


class SampleCountTest(unittest.TestCase):
    def test_samples_beyond(self):
        self.assertEqual(samples_beyond(100, 90), 10)
        self.assertEqual(samples_beyond(99, 90), 9)
        self.assertEqual(samples_beyond(30, 50), 15)
        self.assertEqual(samples_beyond(1, 50), 0)

    def test_highest_percentile_needs_ten_beyond(self):
        self.assertIsNone(highest_percentile(11))
        self.assertIsNone(highest_percentile(19))
        self.assertEqual(highest_percentile(20), 50.0)
        self.assertEqual(highest_percentile(99), 50.0)
        self.assertEqual(highest_percentile(100), 90.0)
        self.assertEqual(highest_percentile(999), 90.0)
        self.assertEqual(highest_percentile(1000), 99.0)
        self.assertEqual(highest_percentile(10000), 99.9)

    def test_reported_percentile_has_the_samples_it_claims(self):
        for n in (20, 57, 100, 250, 1000, 4321):
            p = highest_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, (n, p))


class NamingTest(unittest.TestCase):
    def test_name_rule(self):
        for ok in ("setup_s", "q.x8_minhash_pairs.cpu_s", "exec.shuffle_mb", "a-1", "9x"):
            self.assertTrue(valid_name(ok), ok)
        for bad in ("", ".lead", "_lead", "has space", "slash/name", "x" * 65, "ü"):
            self.assertFalse(valid_name(bad), bad)

    def test_every_spec_name_is_valid_and_unique(self):
        names = ([n for n, _ in spec.WORKLOADS] + [m[0] for m in spec.END_TO_END]
                 + [m[0] for m in spec.PER_LAYER])
        for n in names:
            self.assertTrue(valid_name(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_every_metric_is_well_formed(self):
        for name, unit, better, bound in spec.END_TO_END:
            self.assertIn(better, ("lower", "higher"), name)
            self.assertTrue(0 < bound <= 0.25, name)
        self.assertIn(("setup_s", "s", "lower", 0.25), spec.END_TO_END)
        self.assertEqual(max(b for *_, b in spec.END_TO_END), 0.25)
        for name, unit, better, moves in spec.PER_LAYER:
            self.assertIn(better, ("lower", "higher"), name)
            self.assertTrue(moves, name)
        self.assertTrue(1 <= len(spec.PER_LAYER) <= 128)

    def test_benchmark_json_matches_spec(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            self.assertEqual(json.load(f), spec.benchmark_json())


if __name__ == "__main__":
    unittest.main()
