"""Unit tests of the MinHash pair check. Run: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import check  # noqa: E402


def pairs(rows):
    return pd.DataFrame({"batch_id": pd.Series([r[0] for r in rows], dtype="int64"),
                         "corpus_id": pd.Series([r[1] for r in rows], dtype="int64"),
                         "jaccard": pd.Series([r[2] for r in rows], dtype="float64")})


class ComparePairsTest(unittest.TestCase):
    want = [(1, 10, 0.95), (2, 20, 0.55), (3, 30, 0.8)]

    def test_all_pairs_agree(self):
        self.assertIsNone(check.compare_pairs(pairs(self.want), pairs(self.want)))

    def test_pair_near_threshold_may_be_missed(self):
        self.assertIsNone(check.compare_pairs(pairs([self.want[0], self.want[2]]), pairs(self.want)))

    def test_pair_far_above_threshold_must_be_found(self):
        reason = check.compare_pairs(pairs(self.want[1:]), pairs(self.want))
        self.assertIn("missed pair (1, 10)", reason)

    def test_pair_that_is_not_true_is_wrong(self):
        reason = check.compare_pairs(pairs(self.want + [(4, 40, 0.6)]), pairs(self.want))
        self.assertIn("rows 4 != oracle 3", reason)

    def test_wrong_jaccard_is_wrong(self):
        got = pairs([(1, 10, 0.9)] + self.want[1:])
        self.assertIn("oracle", check.compare_pairs(got, pairs(self.want)))

    def test_required_band_follows_the_index_geometry(self):
        # 32 bands of 4 rows: a pair of Jaccard 0.5 is caught 87% of the time
        self.assertAlmostEqual(check.catch_probability(0.5), 1 - (1 - 0.5 ** 4) ** 32)
        self.assertGreater(1 - check.catch_probability(0.7), check.MISS_ALLOWED)
        self.assertLess(1 - check.catch_probability(0.8), check.MISS_ALLOWED)


if __name__ == "__main__":
    unittest.main()
