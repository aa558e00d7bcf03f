"""Tests of the statistics the benchmark reports.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    """The highest percentile with at least ten samples beyond it."""

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail(list(range(39))))

    def test_forty_samples_give_p75(self):
        p, v = stats.tail(list(range(40)))
        self.assertEqual(p, 75.0)
        self.assertAlmostEqual(v, 29.25)

    def test_two_hundred_samples_give_p95(self):
        p, _ = stats.tail(list(range(200)))
        self.assertEqual(p, 95.0)

    def test_p99_needs_a_thousand(self):
        self.assertEqual(stats.tail(list(range(999)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)

    def test_percentile_matches_statistics_inclusive(self):
        import statistics
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q[0])
        self.assertAlmostEqual(stats.percentile(xs, 75), q[2])


class UnionTest(unittest.TestCase):
    """Task intervals are merged before the idle time is taken."""

    def test_overlapping_and_touching_intervals_merge(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 7)])

    def test_empty_intervals_are_dropped(self):
        self.assertEqual(stats.union([(2, 2), (3, 1)]), [])

    def test_no_task_time_of_a_span(self):
        busy = stats.union([(1, 3), (2, 4), (6, 7)])
        span = [(0, 10)]
        self.assertEqual(stats.length(span) - stats.overlap(span, busy), 6)

    def test_overlap_clips_to_the_span(self):
        busy = stats.union([(0, 5), (8, 20)])
        self.assertEqual(stats.overlap([(3, 10)], busy), 4)


class SelfTimeTest(unittest.TestCase):
    """A span's self time is its duration minus what its children cover."""

    def test_nested_spans(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100},
            {"id": 1, "parent": 0, "start": 10, "end": 50},
            {"id": 2, "parent": 1, "start": 20, "end": 30},
            {"id": 3, "parent": 1, "start": 25, "end": 40},
            {"id": 4, "parent": 0, "start": 60, "end": 70},
        ]
        self.assertEqual(stats.self_times(spans),
                         {0: 50, 1: 20, 2: 10, 3: 15, 4: 10})

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 10},
                 {"id": 1, "parent": 0, "start": 5, "end": 15}]
        self.assertEqual(stats.self_times(spans)[0], 5)


class MixTest(unittest.TestCase):

    def test_mix_median_weights_each_kind_by_its_share(self):
        kinds = ["a"] * 5 + ["b"] * 5
        values = [1, 1, 1, 1, 1, 9, 10, 11, 10, 10]
        self.assertEqual(stats.mix_median(kinds, values), 5.5)

    def test_one_kind_is_the_median(self):
        self.assertEqual(stats.mix_median("aaa", [3, 1, 2]), 2)

    def test_growth_compares_last_and_first_quarters(self):
        self.assertEqual(stats.growth([1, 1, 2, 2, 3, 3, 4, 4]), 4)
        self.assertEqual(stats.growth([2, 5, 3]), 1.5)
        self.assertIsNone(stats.growth([1]))


if __name__ == "__main__":
    unittest.main()
