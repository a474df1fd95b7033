"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 40 samples: p75 is rank 30 with 10 beyond; p90 (rank 36) has 4
        self.assertEqual(stats.tail_percentile(range(1, 41)), (75, 30, 10))

    def test_more_samples_reach_higher_percentiles(self):
        self.assertEqual(stats.tail_percentile(range(1, 101)), (90, 90, 10))
        self.assertEqual(stats.tail_percentile(range(1, 201)), (95, 190, 10))
        self.assertEqual(stats.tail_percentile(range(1, 1001)), (99, 990, 10))

    def test_order_does_not_matter(self):
        vals = [5, 1, 4, 2, 3] * 8
        self.assertEqual(stats.tail_percentile(vals), stats.tail_percentile(sorted(vals)))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile([1, 2, 3, 4, 5]), (50, 3, 2))
        self.assertEqual(stats.tail_percentile([4, 1]), (50, 2.5, 1))


class UnionOfSpans(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 4)]), 3)

    def test_overlapping_and_nested(self):
        self.assertEqual(stats.union_length([(0, 5), (1, 2), (4, 8), (10, 11)]), 9)

    def test_touching_and_unsorted(self):
        self.assertEqual(stats.union_length([(3, 6), (0, 3)]), 6)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_clips_children_to_the_span(self):
        self.assertEqual(stats.self_time(10, 20, [(5, 12), (15, 16), (19, 30)]), 10 - 2 - 1 - 1)


class SeededOrder(unittest.TestCase):
    names = [f"q{i}" for i in range(12)]

    def test_same_seed_same_orders(self):
        self.assertEqual(run.orders(self.names, 7), run.orders(self.names, 7))

    def test_every_pass_is_a_permutation(self):
        for o in run.orders(self.names, 3):
            self.assertEqual(sorted(o), sorted(self.names))

    def test_seeds_and_passes_differ(self):
        a, b = run.orders(self.names, 1), run.orders(self.names, 2)
        self.assertNotEqual(a[0], b[0])
        self.assertGreater(len({tuple(o) for o in a}), 1)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        vals = [10.0, 10.2, 9.9, 10.1, 10.4, 9.8, 10.0, 10.3, 10.1, 9.7]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / q2)


class Ledger(unittest.TestCase):
    def test_diff_lists_changed_missing_and_new(self):
        old = {"queries": {"a": {"exec.jobs": 3, "exec.stages": 4}}}
        new = {"queries": {"a": {"exec.jobs": 2}, "b": {"exec.jobs": 1}}}
        self.assertEqual(layers.diff_ledgers(old, new), [
            "a exec.jobs 3 -> 2", "a exec.stages 4 -> None", "b (new query)"])

    def test_equal_ledgers_have_no_diff(self):
        led = {"queries": {"a": {"exec.jobs": 3}}}
        self.assertEqual(layers.diff_ledgers(led, led), [])


if __name__ == "__main__":
    unittest.main()
