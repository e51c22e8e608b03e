"""Hand-computed checks of the Lloyd oracle. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import lloyd  # noqa: E402


class JavaRandomTest(unittest.TestCase):
    def test_matches_java_util_random(self):
        # new java.util.Random(42).nextDouble() twice, and Random(-7) once
        r = lloyd.JavaRandom(42)
        self.assertEqual(r.next_double(), 0.7275636800328681)
        self.assertEqual(r.next_double(), 0.6832234717598454)
        self.assertEqual(lloyd.JavaRandom(-7).next_double(), 0.2691218093260761)

    def test_random_init_draws_x_then_y(self):
        (cid, x, y), = lloyd.random_init(42, 1)
        self.assertEqual(cid, 0)
        self.assertEqual(x, -15.0 + 30.0 * 0.7275636800328681)
        self.assertEqual(y, -15.0 + 30.0 * 0.6832234717598454)


class LloydTest(unittest.TestCase):
    pts = np.array([[0.0, 0.0], [2.0, 0.0], [10.0, 0.0], [12.0, 0.0]])

    def test_one_step_means_and_objective(self):
        fit = lloyd.Lloyd(self.pts)
        cents = fit.step([(0, 1.0, 0.0), (1, 11.0, 0.0)])
        self.assertEqual(cents, [(0, 1.0, 0.0), (1, 11.0, 0.0)])
        # every point is 1 from its mean: 1 + 1 + 1 + 1
        self.assertEqual(fit.objective(cents), 4.0)

    def test_empty_cluster_is_dropped(self):
        fit = lloyd.Lloyd(self.pts)
        cents, trace = fit.fit([(0, 0.0, 0.0), (1, 12.0, 0.0), (2, 100.0, 100.0)], 2, trace=True)
        # step 1: {0, 2} -> 1, {10, 12} -> 11, cluster 2 empty and gone
        self.assertEqual(cents, [(0, 1.0, 0.0), (1, 11.0, 0.0)])
        self.assertEqual(trace, [4.0, 4.0])

    def test_tie_goes_to_lowest_id(self):
        fit = lloyd.Lloyd(np.array([[5.0, 0.0]]))
        labels, own, gap = fit.assign([(3, 10.0, 0.0), (1, 0.0, 0.0)])
        self.assertEqual(list(labels), [1])
        self.assertEqual(list(own), [25.0])
        self.assertEqual(list(gap), [0.0])

    def test_grid_sums_round_half_up_to_micro_units(self):
        self.assertEqual(list(lloyd.to_grid([4e-7, 5e-7, -5e-7, 1.2345675])),
                         [0, 1, -1, 1234568])
        # a mean of the rounded values, not of the raw ones (4e-7)
        pts = np.array([[4e-7, 0.0], [4e-7, 0.0]])
        self.assertEqual(lloyd.Lloyd(pts).step([(0, 0.0, 0.0)]), [(0, 0.0, 0.0)])

    def test_objective_rounds_each_distance_half_up(self):
        # squared distances 2.5e-7 -> 0 units and 1e-6 -> 1 unit
        pts = np.array([[0.0005, 0.0], [0.001, 0.0]])
        fit = lloyd.Lloyd(pts)
        self.assertEqual(fit.objective([(0, 0.0, 0.0)]), 1e-6)


if __name__ == "__main__":
    unittest.main()
