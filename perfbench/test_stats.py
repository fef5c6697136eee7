#!/usr/bin/env python3
"""Self-tests of the benchmark's statistics on fixed inputs:
python3 perfbench/test_stats.py"""
import os
import statistics
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual((q1, q2, q3), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(q2, 3.75)
        self.assertEqual(stats.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_spread_is_quartile_distance_over_median(self):
        xs = [10.0, 10.0, 10.0, 10.0, 12.0, 12.0, 12.0, 12.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0]), 0.0)

    def test_pair_wins_counts_ties_for_neither_side(self):
        parent = [10.0, 10.0, 10.0, 10.0]
        change = [9.0, 10.0, 11.0, 8.0]
        self.assertEqual(stats.pair_wins(parent, change, "lower"), 0.5)
        self.assertEqual(stats.pair_wins(parent, change, "higher"), 0.25)
        self.assertEqual(stats.pair_wins([], [], "lower"), 0.0)

    def test_verdict_improved_needs_nine_tenths_and_median_gap_beyond_spread(self):
        parent = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05]
        change = [x - 1.0 for x in parent]
        self.assertEqual(stats.verdict(parent, change, "lower", 0.1), "improved")
        # wins 9/10 but the medians differ by less than the parent's spread
        close = [x - 0.01 for x in parent[:9]] + [parent[9] + 1.0]
        self.assertNotEqual(stats.verdict(parent, close, "lower", 0.1), "improved")
        # 8/10 wins is not enough, even with a large gap
        eight = [x - 1.0 for x in parent[:8]] + [20.0, 20.0]
        self.assertNotEqual(stats.verdict(parent, eight, "lower", 0.1), "improved")

    def test_verdict_worse_and_no_worse_by_bound(self):
        parent = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05]
        self.assertEqual(stats.verdict(parent, [x * 1.05 for x in parent], "lower", 0.1), "no worse")
        self.assertEqual(stats.verdict(parent, [x * 1.2 for x in parent], "lower", 0.1), "worse")
        # higher-is-better flips the direction
        self.assertEqual(stats.verdict(parent, [x * 0.8 for x in parent], "higher", 0.1), "worse")
        self.assertEqual(stats.verdict(parent, [x * 1.2 for x in parent], "higher", 0.1), "improved")

    def test_verdict_unresolved_when_parent_spread_exceeds_bound(self):
        parent = [5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 10.0, 10.0]
        change = [x * 1.05 for x in parent]
        self.assertEqual(stats.verdict(parent, change, "lower", 0.1), "unresolved")
        # ... unless every change run beats every parent run; the gap is
        # still inside the parent's spread, so it is no improvement either
        self.assertEqual(stats.verdict(parent, [4.9] * 10, "lower", 0.1), "no worse")

    def test_verdict_invalid_when_the_change_fails_more(self):
        parent = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05]
        faster = [x - 1.0 for x in parent]
        self.assertEqual(stats.verdict(parent, faster, "lower", 0.1, 0, 1), "invalid")
        self.assertEqual(stats.verdict(parent, faster, "lower", 0.1, 1, 1), "improved")


if __name__ == "__main__":
    unittest.main()
