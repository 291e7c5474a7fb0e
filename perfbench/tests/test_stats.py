import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_reports_sample_count_and_support(self):
        r = stats.percentile(range(1, 1001), 99)
        self.assertEqual((r["value"], r["n"], r["beyond"], r["supported"]), (990, 1000, 10, True))

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail(range(1, 1001))["p"], 99.0)
        # 999 samples leave only 9 beyond the 99th rank: fall back to p95
        r = stats.tail(range(1, 1000))
        self.assertEqual(r["p"], 95.0)
        self.assertGreaterEqual(r["beyond"], 10)
        r = stats.tail(range(100))
        self.assertEqual((r["p"], r["beyond"]), (90.0, 10))

    def test_tiny_sample_reports_max_unsupported(self):
        r = stats.tail([5, 1, 3])
        self.assertEqual((r["value"], r["n"], r["supported"]), (5, 3, False))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50)["value"])


class LatencyMapping(unittest.TestCase):
    # two batches; the listener heard of batch 7 at 1300 and of batch 8 at 2600
    PROGRESS = [
        {"batch": 7, "trigger_start_ms": 1000, "arrival_ms": 1300, "input_rows": 2},
        {"batch": 8, "trigger_start_ms": 2000, "arrival_ms": 2600, "input_rows": 1},
        {"batch": 9, "trigger_start_ms": 2700, "arrival_ms": 2710, "input_rows": 0},
    ]

    def test_frame_latency_ends_at_its_batch_progress_event(self):
        rows = [(900, 1100), (950, 1250), (1800, 2400)]
        self.assertEqual(stats.latencies(rows, self.PROGRESS), [400, 350, 800])

    def test_row_outside_every_batch_is_unmapped(self):
        # processed between batches, or inside a batch that read no input
        self.assertEqual(stats.latencies([(0, 1500), (0, 2705), (0, 500)], self.PROGRESS),
                         [None, None, None])


if __name__ == "__main__":
    unittest.main()
