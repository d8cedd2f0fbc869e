"""Tests of the graph-small oracle comparison: python3 -m unittest discover perfbench"""
import unittest

import pandas as pd

import oracle


class CompareTest(unittest.TestCase):
    def test_equal_frames_pass_in_any_row_and_column_order(self):
        a = pd.DataFrame({"id": [1, 2, 3], "rank": [0.5, 0.25, 0.125]})
        b = pd.DataFrame({"rank": [0.125, 0.5, 0.25], "id": [3, 1, 2]})
        self.assertIsNone(oracle.compare(a, b))

    def test_float_noise_below_six_digits_passes(self):
        a = pd.DataFrame({"x": [1.0000001]})
        b = pd.DataFrame({"x": [1.0]})
        self.assertIsNone(oracle.compare(a, b))

    def test_corrupted_result_fails(self):
        good = pd.DataFrame({"id": [1, 2, 3], "dist": [0, 1, 2]})
        self.assertIsNotNone(oracle.compare(good.assign(dist=[0, 1, 3]), good))
        self.assertIsNotNone(oracle.compare(good.iloc[:2], good))
        self.assertIsNotNone(oracle.compare(good.rename(columns={"dist": "d"}), good))

    def test_null_and_nan_render_alike(self):
        a = pd.DataFrame({"x": [None, 1.0]})
        b = pd.DataFrame({"x": [float("nan"), 1.0]})
        self.assertIsNone(oracle.compare(a, b))


if __name__ == "__main__":
    unittest.main()
