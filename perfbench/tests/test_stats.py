"""Unit tests of the benchmark's statistics. Run: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90.0, 90))
        self.assertEqual(sum(1 for x in xs if x > 90), 10)

    def test_thousand_samples_give_p99(self):
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))

    def test_highest_percentile_with_ten_beyond(self):
        # 60 samples: p95 leaves 3 beyond, p90 leaves 6, p75 leaves 15
        self.assertEqual(stats.tail(list(range(60))), (75.0, 44))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 40
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [(0, -1, 0, 100), (1, 0, 10, 40), (2, 1, 15, 25), (3, 0, 50, 70)]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 50, 1: 20, 2: 10, 3: 20})

    def test_overlapping_children_count_once(self):
        spans = [(0, -1, 0, 100), (1, 0, 10, 60), (2, 0, 40, 80)]
        self.assertEqual(stats.self_times(spans)[0], 30)

    def test_children_clipped_to_parent(self):
        spans = [(0, -1, 0, 50), (1, 0, 40, 90)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30), (30, 31)]), 26)
        self.assertEqual(stats.union_length([]), 0)


class OverheadTest(unittest.TestCase):
    def test_ratio_per_kind(self):
        op = lambda k, ms, traced: {"kind": k, "ms": ms, "traced": traced, "error": ""}
        ops = [op("a", 10, True), op("a", 5, False), op("b", 300, True), op("b", 100, False),
               op("c", 7, True)]
        self.assertEqual(stats.overhead(ops), 2.5)
        self.assertEqual(stats.overhead([op("c", 7, True)]), 1.0)


if __name__ == "__main__":
    unittest.main()
