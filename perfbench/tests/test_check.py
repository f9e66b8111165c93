"""Run with: python3 -m unittest discover -s perfbench/tests"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import run  # noqa: E402

STATS = {"train_rows": 196598, "test_rows": 76503}
RECORDED = {"1": {"lr_v2": [3.5, 13.0, 0.9966], "kpi": [3.5, 26.5, 86.0]}}


def result(**over):
    r = {"train_rows": 196598, "test_rows": 76503,
         "lr_v2": [3.5, 13.0, 0.9966], "kpi": [3.5, 26.5, 86.0]}
    r.update(over)
    return r


class ForecastCheckTest(unittest.TestCase):
    def errors(self, r, seed=9):
        return run.forecast_errors(r, seed, STATS, RECORDED)

    def test_good_output_passes_for_any_seed(self):
        self.assertEqual(self.errors(result()), [])
        self.assertEqual(self.errors(result(), seed=1), [])

    def test_row_counts_must_match_the_generator(self):
        self.assertTrue(self.errors(result(test_rows=76502)))

    def test_values_outside_bands_fail(self):
        self.assertTrue(self.errors(result(lr_v2=[3.5, 13.0, 0.95], kpi=[3.5, 26.5, 86.0])))
        self.assertTrue(self.errors(result(kpi=[3.5, 40.0, 86.0])))
        self.assertTrue(self.errors(result(lr_v2=[float("nan"), 13.0, 0.9966])))

    def test_scorecard_and_kpi_mae_must_agree(self):
        self.assertTrue(self.errors(result(kpi=[3.6, 26.5, 86.0])))

    def test_recorded_seed_compares_with_relative_tolerance(self):
        close = result(lr_v2=[3.5 * (1 + 1e-9), 13.0, 0.9966], kpi=[3.5 * (1 + 1e-9), 26.5, 86.0])
        self.assertEqual(self.errors(close, seed=1), [])
        off = result(lr_v2=[3.6, 13.0, 0.9966], kpi=[3.6, 26.5, 86.0])
        self.assertTrue(self.errors(off, seed=1))
        self.assertEqual(self.errors(off, seed=2), [])


if __name__ == "__main__":
    unittest.main()
