"""The checker, built on tools/compare.py's cell comparison, reports a
result with one changed cell, one dropped row or one extra row as
incorrect. Run: python3 perfbench/test_check.py"""
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.dir.name, "data")
        self.results = os.path.join(self.dir.name, "results")
        os.makedirs(self.data)
        pd.DataFrame({"k": [1, 2, 3, 4], "v": [0.5, 1.25, None, 7.0],
                      "s": ["a", "b", "c", "d"]}).to_parquet(
            os.path.join(self.data, "t.parquet"))
        self.sql = {"q": "SELECT k, v * 2 AS w, s FROM t WHERE k > 1"}
        self.good = pd.DataFrame({"s": ["d", "b", "c"], "k": [4, 2, 3],
                                  "w": [14.0, 2.5, None]})

    def tearDown(self):
        self.dir.cleanup()

    def verdict(self, frame, timed_rows=None):
        os.makedirs(os.path.join(self.results, "q"), exist_ok=True)
        frame.to_parquet(os.path.join(self.results, "q", "part-0.parquet"))
        rows = len(frame) if timed_rows is None else timed_rows
        return check.check_queries(self.data, self.results, self.sql, {"q": rows})["q"]

    def test_same_rows_in_another_order_pass(self):
        self.assertIsNone(self.verdict(self.good))

    def test_changed_cell_is_caught(self):
        bad = self.good.copy()
        bad.loc[1, "w"] = 2.5000001
        self.assertIn("column w", self.verdict(bad))

    def test_dropped_row_is_caught(self):
        self.assertIn("rows", self.verdict(self.good.iloc[:2]))

    def test_extra_row_is_caught(self):
        extra = pd.concat([self.good, self.good.iloc[:1]], ignore_index=True)
        self.assertIn("rows", self.verdict(extra))

    def test_int_for_float_is_caught(self):
        bad = self.good.assign(k=self.good.k.astype(float))
        self.assertIsNotNone(self.verdict(bad))

    def test_timed_row_count_must_match(self):
        self.assertIn("timed sink", self.verdict(self.good, timed_rows=2))


if __name__ == "__main__":
    unittest.main()
