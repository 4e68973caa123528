"""Tests of the benchmark's Python parts.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import compare  # noqa: E402


class VerdictTest(unittest.TestCase):

    def test_wide_spread_is_unresolved_not_unchanged(self):
        base = [1.0, 1.5, 2.0, 1.2, 1.8]
        change = [1.1, 1.4, 2.1, 1.3, 1.7]
        _, v = compare.verdict(base, change, 0.1, higher_better=False)
        self.assertEqual(v, "unresolved")

    def test_regression_beyond_bound(self):
        base = [1.00, 1.01, 0.99, 1.00, 1.02]
        change = [1.30, 1.31, 1.29, 1.30, 1.32]
        gain, v = compare.verdict(base, change, 0.1, higher_better=False)
        self.assertEqual(v, "worse")
        self.assertLess(gain, -0.25)

    def test_clear_gain(self):
        base = [10.0, 10.1, 9.9, 10.0, 10.2]
        change = [12.0, 12.1, 11.9, 12.0, 12.2]
        _, v = compare.verdict(base, change, 0.1, higher_better=True)
        self.assertEqual(v, "better")

    def test_within_noise_is_unchanged(self):
        base = [1.00, 1.01, 0.99, 1.00, 1.02]
        change = [1.01, 1.00, 1.00, 0.99, 1.02]
        _, v = compare.verdict(base, change, 0.1, higher_better=False)
        self.assertEqual(v, "unchanged")


if __name__ == "__main__":
    unittest.main()
