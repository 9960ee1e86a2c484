"""Pins tools/ab.py's bootstrap interval, noisy-pair flag and calibration
minimum on fixed inputs.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab  # noqa: E402

BASE = [231.6, 245.3, 268.8, 240.1, 252.9, 236.4, 259.0]


class BootstrapRatioTest(unittest.TestCase):

    def test_identical_sides_hold_one(self):
        lo, hi = ab.bootstrap_ratio(BASE, list(BASE))
        self.assertLessEqual(lo, 1.0)
        self.assertGreaterEqual(hi, 1.0)

    def test_uniform_speedup_excludes_one(self):
        lo, hi = ab.bootstrap_ratio(BASE, [0.6 * x for x in BASE])
        self.assertLess(hi, 1.0)
        self.assertAlmostEqual(lo, 0.6)
        self.assertAlmostEqual(hi, 0.6)

    def test_noisy_sides_give_an_ordered_interval_around_the_ratio(self):
        head = [x * f for x, f in zip(BASE, [0.9, 1.1, 1.0, 0.95, 1.05,
                                             1.02, 0.98])]
        lo, hi = ab.bootstrap_ratio(BASE, head)
        self.assertLess(lo, hi)
        self.assertLessEqual(lo, 1.0)
        self.assertGreaterEqual(hi, 1.0)

    def test_fixed_seed_repeats(self):
        head = [x + 7 for x in reversed(BASE)]
        self.assertEqual(ab.bootstrap_ratio(BASE, head),
                         ab.bootstrap_ratio(BASE, head))

    def test_zero_base_gives_nan(self):
        lo, hi = ab.bootstrap_ratio([0.0, 0.0], [1.0, 2.0])
        self.assertNotEqual(lo, lo)
        self.assertNotEqual(hi, hi)


class NoisyPairTest(unittest.TestCase):

    def test_calibrations_within_ten_percent_are_not_noisy(self):
        self.assertFalse(ab.noisy(0.200, 0.200))
        self.assertFalse(ab.noisy(0.200, 0.219))
        self.assertFalse(ab.noisy(0.219, 0.200))

    def test_calibrations_more_than_ten_percent_apart_are_noisy(self):
        self.assertTrue(ab.noisy(0.200, 0.221))
        self.assertTrue(ab.noisy(0.221, 0.200))
        self.assertTrue(ab.noisy(0.2, 0.4))

    def test_calibration_times_a_loop(self):
        self.assertGreater(ab.calibrate(1000), 0.0)

    def test_calibration_keeps_the_fastest_timing(self):
        # timer readings around three loops: 5 s, 1 s and 3 s
        ticks = iter([0.0, 5.0, 10.0, 11.0, 20.0, 23.0])
        self.assertEqual(ab.calibrate(10, reps=3, timer=lambda: next(ticks)),
                         1.0)


if __name__ == "__main__":
    unittest.main()
