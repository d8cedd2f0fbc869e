"""Summary math of tools/perfbench_ab.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfbench_ab as ab  # noqa: E402


class SummaryTest(unittest.TestCase):
    def test_iqr_interpolates_between_order_statistics(self):
        self.assertAlmostEqual(ab.iqr([1.0, 2.0, 3.0, 4.0, 5.0]), 2.0)
        self.assertAlmostEqual(ab.iqr([4.0, 1.0, 3.0, 2.0]), 1.5)
        self.assertEqual(ab.iqr([7.0]), 0.0)

    def test_wins_follow_the_direction_and_ties_count_for_neither(self):
        parent = [2.0, 2.0, 2.0, 2.0]
        change = [1.0, 2.0, 3.0, 1.5]
        self.assertEqual(ab.wins(parent, change, "lower"), 2)
        self.assertEqual(ab.wins(parent, change, "higher"), 1)

    def test_gain_needs_nine_tenths_and_medians_apart_by_the_iqr(self):
        parent = [2.0, 2.1, 1.9, 2.0, 2.2, 1.8, 2.0, 2.1, 1.9, 2.0]
        faster = [p - 0.5 for p in parent]
        s = ab.summarize(parent, faster, "lower")
        self.assertEqual((s["wins"], s["pairs"]), (10, 10))
        self.assertAlmostEqual(s["parent_median"], 2.0)
        self.assertAlmostEqual(s["change_median"], 1.5)
        self.assertTrue(s["gain"])
        # Nine of ten pairs still count.
        self.assertTrue(ab.summarize(parent, faster[:9] + [2.5], "lower")["gain"])
        # Eight of ten do not.
        self.assertFalse(ab.summarize(parent, faster[:8] + [2.5, 2.5], "lower")["gain"])
        # Every pair won, but by less than the parent's spread.
        slightly = [p - 0.01 for p in parent]
        self.assertFalse(ab.summarize(parent, slightly, "lower")["gain"])
        # A higher-is-better metric gains upward only.
        self.assertFalse(ab.summarize(parent, faster, "higher")["gain"])
        self.assertTrue(ab.summarize(faster, parent, "higher")["gain"])


if __name__ == "__main__":
    unittest.main()
