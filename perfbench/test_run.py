"""Tests of the benchmark's own arithmetic: the tail-percentile rule and
the per-layer metric list. Run from the repository root:

    python3 -m unittest perfbench/test_run.py
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


class TailRule(unittest.TestCase):

    def test_median_below_twenty_samples(self):
        for n in range(1, 21):
            xs = [float(i) for i in range(n)]
            self.assertEqual(run.tail_of(xs), (50, statistics.median(xs)))

    def test_ten_samples_beyond_the_tail(self):
        for n in range(21, 500):
            xs = [float(i) for i in range(n)]
            p, v = run.tail_of(xs)
            rank = math.ceil(p * n / 100)
            self.assertEqual(v, xs[rank - 1])
            self.assertGreaterEqual(n - rank, 10, (n, p))
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10, (n, p))

    def test_known_counts(self):
        self.assertEqual(run.tail_of([float(i) for i in range(1, 101)]), (90, 90.0))
        self.assertEqual(run.tail_of([float(i) for i in range(21)])[0], 52)
        self.assertEqual(run.tail_of([float(i) for i in range(1000)])[0], 99)


class LayerList(unittest.TestCase):

    def test_at_most_128_known_metrics(self):
        names = [f"{s}.{m}" for s, ms in run.PER_LAYER.items() for m in ms]
        self.assertLessEqual(len(names), 128)
        self.assertEqual(len(names), len(set(names)))
        for s, ms in run.PER_LAYER.items():
            for m in ms:
                self.assertIn(m, run.LAYER_UNITS, f"{s}.{m}")

    def test_absent_spans_report_zero(self):
        m = run.layer_metrics({"spans": []})
        self.assertEqual(len(m), sum(len(v) for v in run.PER_LAYER.values()))
        self.assertTrue(all(v["value"] == 0 for v in m.values()))


if __name__ == "__main__":
    unittest.main()
