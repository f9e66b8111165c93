"""Run with: python3 -m unittest discover -s perfbench/tests"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen_corpus  # noqa: E402
import gen_retail  # noqa: E402


class RetailGeneratorTest(unittest.TestCase):
    LINES = 20_000

    def test_same_seed_gives_identical_bytes(self):
        a, _ = gen_retail.generate(7, self.LINES)
        b, _ = gen_retail.generate(7, self.LINES)
        self.assertEqual(a.encode(), b.encode())

    def test_other_seed_gives_other_file(self):
        a, _ = gen_retail.generate(7, self.LINES)
        b, _ = gen_retail.generate(8, self.LINES)
        self.assertNotEqual(a, b)

    def test_shape(self):
        text, s = gen_retail.generate(3, self.LINES)
        lines = text.splitlines()
        self.assertEqual(lines[0], ",".join(gen_retail.COLUMNS))
        self.assertEqual(len(lines) - 1, self.LINES)
        self.assertEqual(s["raw_lines"] - s["distinct_lines"], round(self.LINES * gen_retail.DUP_SHARE))
        self.assertEqual(len(set(lines[1:])), s["distinct_lines"])
        self.assertEqual(len(gen_retail.trading_days()), 305)
        self.assertTrue(all(d.weekday() != 5 for d in gen_retail.trading_days()))
        self.assertGreater(s["return_lines"], 0)
        self.assertGreater(s["zero_price_lines"], 0)
        self.assertAlmostEqual(s["uk_share"], gen_retail.UK_SHARE, delta=0.02)
        self.assertEqual(s["train_rows"] + s["test_rows"], s["daily_rows"])


class CorpusGeneratorTest(unittest.TestCase):
    def test_same_seed_gives_same_tables(self):
        a = gen_corpus.tables(0.001, 42)
        b = gen_corpus.tables(0.001, 42)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_lineitem_references_orders(self):
        t = gen_corpus.tables(0.001, 1)
        orders = set(t["orders"]["o_orderkey"].to_pylist())
        self.assertTrue(set(t["lineitem"]["l_orderkey"].to_pylist()) <= orders)
        self.assertEqual(t["lineitem"].num_rows, 6000)


if __name__ == "__main__":
    unittest.main()
