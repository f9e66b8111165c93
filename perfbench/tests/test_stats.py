"""Run with: python3 -m unittest discover -s perfbench/tests"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0, 5.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0], 25), 1.25)

    def test_median_of_even_count(self):
        self.assertEqual(stats.median([10.0, 1.0, 3.0, 2.0]), 2.5)

    def test_single_value(self):
        self.assertEqual(stats.percentile([7.5], 90), 7.5)

    def test_no_values(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class FailRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.fail_ratio(107, 0), 0.0)
        self.assertAlmostEqual(stats.fail_ratio(8, 2), 0.25)
        self.assertEqual(stats.fail_ratio(3, 3), 1.0)

    def test_rejects_impossible_counts(self):
        for attempted, failed in [(0, 0), (5, 6), (5, -1)]:
            with self.assertRaises(ValueError):
                stats.fail_ratio(attempted, failed)


if __name__ == "__main__":
    unittest.main()
