"""Tests for the benchmark's statistics: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_stay_beyond_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 25)
        self.assertAlmostEqual(pct, 60.0)
        self.assertEqual(value, 3.0)

    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(stats.tail([1.0] * 10), (None, None, 10))
        self.assertEqual(stats.tail([]), (None, None, 0))

    def test_eleven_samples_give_the_minimum(self):
        value, pct, _ = stats.tail(list(range(11)))
        self.assertEqual(value, 0)
        self.assertAlmostEqual(pct, 100.0 / 11)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(0, -1, 0.0, 5.0)]), {0: 5.0})

    def test_children_are_subtracted_from_parent(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 1.0, 4.0),
                 self.span(2, 0, 5.0, 9.0), self.span(3, 2, 6.0, 7.0)]
        self.assertEqual(stats.self_times(spans), {0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0})

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 2.0, 6.0),
                 self.span(2, 0, 4.0, 8.0)]
        self.assertEqual(stats.self_times(spans)[0], 4.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 8.0, 12.0)]
        self.assertEqual(stats.self_times(spans)[0], 8.0)


class GeomeanTest(unittest.TestCase):
    def test_geomean_weighs_ratios_equally(self):
        self.assertAlmostEqual(stats.geomean([0.5, 2.0]), 1.0)
        self.assertIsNone(stats.geomean([]))


class UnionTest(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5), 2.5)


if __name__ == "__main__":
    unittest.main()
