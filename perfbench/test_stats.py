"""Unit tests of the benchmark's statistics.

Run from the repository root: python3 -m unittest perfbench/test_stats.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 2.0)
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_eleven_samples_is_the_minimum(self):
        value, pct, beyond = stats.tail(range(11))
        self.assertEqual((value, beyond), (0, 10))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(stats.tail(range(10)), (9, 100.0, 0))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_subtracts_direct_children_only(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 1, 15, 35), self.span(3, 0, 50, 70)]
        got = stats.self_times(spans)
        self.assertEqual(got[0], 100 - 30 - 20)
        self.assertEqual(got[1], 30 - 20)
        self.assertEqual(got[2], 20)
        self.assertEqual(got[3], 20)

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 2, 6),
                 self.span(2, 0, 4, 8)]
        self.assertEqual(stats.self_times(spans)[0], 10 - 6)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 8, 12)]
        self.assertEqual(stats.self_times(spans)[0], 8)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)


class FailedRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failed_ratio(10, 0), 0.0)
        self.assertEqual(stats.failed_ratio(8, 2), 0.25)
        self.assertEqual(stats.failed_ratio(3, 3), 1.0)

    def test_nothing_attempted_raises(self):
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)


if __name__ == "__main__":
    unittest.main()
