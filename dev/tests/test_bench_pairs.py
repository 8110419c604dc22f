"""Stats of dev/bench_pairs.py: python3 -m unittest discover -s dev/tests"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.dont_write_bytecode = True

import bench_pairs  # noqa: E402


class QuartilesTest(unittest.TestCase):
    def test_odd_and_even_counts(self):
        self.assertEqual(bench_pairs.quartiles([5, 1, 3, 2, 4]), (2, 3, 4))
        self.assertEqual(bench_pairs.quartiles([4, 1, 3, 2]), (1.75, 2.5, 3.25))

    def test_one_value(self):
        self.assertEqual(bench_pairs.quartiles([7.0]), (7.0, 7.0, 7.0))


class SummarizeTest(unittest.TestCase):
    def test_lower_is_better(self):
        s = bench_pairs.summarize([10, 20, 30, 40], [5, 10, 33, 20], "lower")
        self.assertEqual(s["wins"], 3)
        self.assertEqual(s["pairs"], 4)
        self.assertAlmostEqual(s["deltas"][0], -0.5)
        self.assertAlmostEqual(s["deltas"][2], 0.1)
        self.assertAlmostEqual(s["median_delta"], -0.5)
        self.assertAlmostEqual(s["base"]["median"], 25.0)
        self.assertAlmostEqual(s["base_iqr_frac"], (32.5 - 17.5) / 25.0)

    def test_higher_is_better_counts_ties_as_losses(self):
        s = bench_pairs.summarize([100, 100, 100], [150, 100, 90], "higher")
        self.assertEqual(s["wins"], 1)
        self.assertAlmostEqual(s["median_change"], 0.0)

    def test_unpaired_input_is_rejected(self):
        with self.assertRaises(ValueError):
            bench_pairs.summarize([1, 2], [1], "lower")
        with self.assertRaises(ValueError):
            bench_pairs.summarize([], [], "lower")


if __name__ == "__main__":
    unittest.main()
