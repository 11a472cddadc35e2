"""Tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_value_is_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(xs), (90.0, 90))
        self.assertEqual(stats.tail(xs[:39]), (None, None))

    def test_median(self):
        self.assertIsNone(stats.median([]))
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (15, 20), (30, 31)]), 21.0)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10.0)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0.0)

    def test_clipped(self):
        self.assertEqual(stats.clipped([(0, 10), (12, 20), (25, 30)], 5, 15), [(5, 10), (12, 15)])

    def test_driver_only_is_wall_minus_job_union(self):
        span = {"start": 0.0, "end": 100.0}
        jobs = [(10, 30), (20, 40), (90, 120)]  # union inside the span: 30 + 10
        self.assertEqual(stats.driver_only(span, jobs), 60.0)
        self.assertEqual(stats.driver_only(span, []), 100.0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children_union(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 50},
            {"id": 3, "parent": 1, "start": 40, "end": 60},   # overlaps 2
            {"id": 4, "parent": 2, "start": 20, "end": 30},
            {"id": 5, "parent": 1, "start": 95, "end": 130},  # runs past its parent
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (50 + 5))
        self.assertEqual(st[2], 40 - 10)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 10)

    def test_untagged_job_goes_to_the_enclosing_op(self):
        raw = {"ops": [{"id": 1, "start": 0, "end": 50}, {"id": 7, "start": 60, "end": 90}],
               "jobs": [{"id": 0, "start": 65, "end": 70, "span": 0},
                        {"id": 1, "start": 10, "end": 20, "span": 3}]}
        parents = {s["job"]: s["parent"] for s in stats.job_spans(raw)}
        self.assertEqual(parents, {0: 7, 1: 3})


if __name__ == "__main__":
    unittest.main()
