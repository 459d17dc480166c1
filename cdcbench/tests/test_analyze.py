"""Self-tests of the metric arithmetic on known inputs."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyze  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_known_values(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(analyze.percentile(xs, 50), 3)
        self.assertEqual(analyze.percentile(xs, 0), 1)
        self.assertEqual(analyze.percentile(xs, 100), 5)
        self.assertAlmostEqual(analyze.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(analyze.percentile([1, 2, 3, 4], 50), 2.5)

    def test_empty_and_single(self):
        self.assertEqual(analyze.percentile([], 50), 0.0)
        self.assertEqual(analyze.percentile([7], 95), 7)


class UnionTest(unittest.TestCase):
    def test_overlaps_merge(self):
        self.assertEqual(analyze.union_length([(0, 10), (5, 15), (20, 30)]), 25)

    def test_nested_and_touching(self):
        self.assertEqual(analyze.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipping(self):
        self.assertEqual(analyze.union_length([(0, 10), (20, 30)], lo=5, hi=25), 10)
        self.assertEqual(analyze.union_length([(0, 4)], lo=5, hi=25), 0)
        self.assertEqual(analyze.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans_and_jobs(self):
        # batch [0,100] > merge [10,60] with jobs [20,30] and [25,40],
        # fold [60,90] with job [70,80]; nothing covers [100,120]
        spans = [("batch", 0, 100), ("merge", 10, 60), ("spark", 20, 30),
                 ("spark", 25, 40), ("fold", 60, 90), ("spark", 70, 80)]
        layers, un = analyze.self_times(spans, 0, 120)
        self.assertEqual(layers, {"batch": 20, "merge": 30, "spark": 30, "fold": 20})
        self.assertEqual(un, 20)
        self.assertEqual(sum(layers.values()) + un, 120)

    def test_window_clips(self):
        layers, un = analyze.self_times([("read", -50, 50), ("spark", 40, 200)], 0, 100)
        self.assertEqual(layers, {"read": 40, "spark": 60})
        self.assertEqual(un, 0)

    def test_job_outlasting_its_parent_stays_spark(self):
        layers, un = analyze.self_times([("merge", 0, 10), ("spark", 5, 15)], 0, 20)
        self.assertEqual(layers, {"merge": 5, "spark": 10})
        self.assertEqual(un, 5)


class FreshnessTest(unittest.TestCase):
    RAW = {
        "window": [1000, 2000],
        "spans": [
            {"name": "publish", "layer": "bus", "start": 900, "end": 901, "seg": 0, "due": 900},
            {"name": "publish", "layer": "bus", "start": 1100, "end": 1101, "seg": 1, "due": 1100},
            {"name": "publish", "layer": "bus", "start": 1500, "end": 1501, "seg": 2, "due": 1500},
            {"name": "batch", "layer": "batch", "start": 1200, "end": 1400, "batch": 3},
            {"name": "batch", "layer": "batch", "start": 1600, "end": 1900, "batch": 4},
        ],
        "progress": [
            {"batch": 3, "rows": 20, "start": [], "end": [0, 1]},
            {"batch": 4, "rows": 10, "start": [0, 1], "end": [0, 1, 2]},
            {"batch": 5, "rows": 0, "start": [0, 1, 2], "end": [0, 1, 2]},
        ],
    }

    def test_segments_map_to_their_first_batch(self):
        # seg 0 is due before the window; seg 1 lands in batch 3, seg 2 in 4
        self.assertEqual(analyze.freshness(self.RAW), [(1100, 0.3), (1500, 0.4)])

    def test_growing_backlog(self):
        flat = [(i, 1.0 + 0.01 * (i % 3)) for i in range(30)]
        growing = [(i, 0.2 * i) for i in range(30)]
        self.assertFalse(analyze.backlog_grows(flat))
        self.assertTrue(analyze.backlog_grows(growing))
        self.assertTrue(analyze.backlog_grows(flat[:3]))


if __name__ == "__main__":
    unittest.main()
