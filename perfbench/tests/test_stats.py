"""Unit tests for the percentile and open-loop helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 60), 3)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_summary_flags_unsupported_tail(self):
        s = stats.summary(list(range(16)), 90)
        self.assertEqual(s["n"], 16)
        self.assertFalse(s["tail_supported"])
        self.assertTrue(stats.summary(list(range(1000)), 99)["tail_supported"])


class OpenLoopTest(unittest.TestCase):
    def test_latency_runs_from_due_time(self):
        # file f1 was due at 100 ms but sent late at 400 ms; its events
        # are timed from when they were due, so the stall counts
        events = [("f0", 10.0), ("f0", 90.0), ("f1", 150.0)]
        file_batch = {"f0": 0, "f1": 1}
        batch_end = {0: 300, 1: 900}
        self.assertEqual(stats.open_loop_latencies(events, file_batch, batch_end),
                         [290.0, 210.0, 750.0])

    def test_unread_file_is_an_error(self):
        with self.assertRaises(KeyError):
            stats.open_loop_latencies([("f9", 0.0)], {}, {})

    def test_lateness_never_negative(self):
        self.assertEqual(stats.lateness({"a": 100, "b": 200}, {"a": 90, "b": 260}),
                         [0, 60])

    def test_backlog(self):
        # three files delivered by 250 ms; the first batch (f0, f1) ends at
        # 300, so one file (f2) is still waiting then; nothing after 500
        moved = {"f0": 100, "f1": 200, "f2": 250}
        file_batch = {"f0": 0, "f1": 0, "f2": 1}
        self.assertEqual(stats.max_backlog(moved, file_batch, {0: 300, 1: 500}), 1)


if __name__ == "__main__":
    unittest.main()
