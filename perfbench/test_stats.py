"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The digest's order-independence is a property of perfbench.Digest (Scala);
`python3 perfbench/run.py --check` runs its check (perfbench.DigestCheck).
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        samples = [float(i) for i in range(1, 41)]
        value, pct, n = stats.tail(samples)
        self.assertEqual(n, 40)
        self.assertEqual(sum(1 for x in samples if x > value), 10)
        self.assertEqual(value, 30.0)
        self.assertAlmostEqual(pct, 75.0)

    def test_never_the_max(self):
        for n in (11, 12, 25, 100):
            samples = [float(i) for i in range(n)]
            value, _, _ = stats.tail(samples)
            self.assertLess(value, max(samples))

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertIsNotNone(stats.tail([1.0] * 11))

    def test_order_of_samples_does_not_matter(self):
        a = [0.5, 0.1, 0.9, 0.3, 0.7, 0.2, 0.8, 0.4, 0.6, 1.0, 0.05, 0.95]
        self.assertEqual(stats.tail(a), stats.tail(sorted(a)))

    def test_sample_count_is_reported(self):
        self.assertEqual(stats.tail([1.0] * 37)[2], 37)


class GeomeanOfMedians(unittest.TestCase):
    def test_geomean_of_each_kinds_median(self):
        by_kind = {"a": [1.0, 100.0, 2.0], "b": [8.0, 8.0], "c": [0.5]}
        # medians 2, 8, 0.5 -> geomean (2 * 8 * 0.5) ** (1/3) = 2
        self.assertAlmostEqual(stats.geomean_of_medians(by_kind), 2.0)

    def test_pooled_outliers_of_one_kind_do_not_move_it(self):
        base = {"fast": [0.1] * 5, "slow": [1.0] * 5}
        noisy = {"fast": [0.1] * 5, "slow": [1.0, 1.0, 1.0, 9.0, 9.0]}
        self.assertAlmostEqual(stats.geomean_of_medians(base),
                               stats.geomean_of_medians(noisy))
        self.assertAlmostEqual(stats.geomean_of_medians(base), math.sqrt(0.1))

    def test_empty_kinds_are_skipped(self):
        self.assertAlmostEqual(stats.geomean_of_medians({"a": [4.0], "b": []}), 4.0)
        self.assertIsNone(stats.geomean_of_medians({}))


class JobSamples(unittest.TestCase):
    def test_stream_jobs_are_micro_batches(self):
        cycle = {"spans": [
            {"layer": "stream", "kind": "s5", "job": True, "wall_s": 3.0,
             "triggers": [[900, 0, 0, 0, 0, 0, 0], [500, 0, 0, 0, 0, 0, 0]]},
            {"layer": "entry", "kind": "q01", "job": True, "wall_s": 0.4, "triggers": []},
            {"layer": "expire", "kind": "lake.expire", "job": False, "wall_s": 0.01,
             "triggers": []},
        ]}
        self.assertEqual(stats.job_samples([cycle]), {"s5": [0.9, 0.5], "q01": [0.4]})


if __name__ == "__main__":
    unittest.main()
