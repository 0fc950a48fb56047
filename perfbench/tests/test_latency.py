import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import latency  # noqa: E402


def trigger(batch, ts, dur, ends):
    """A progress row whose end offset is `ends` (last seq per shard)."""
    return {"batch": batch, "ts_ms": ts, "dur_ms": dur, "rows": 1,
            "end": json.dumps({latency.shard_name(s): str(v) for s, v in ends.items()})}


class LatencyTest(unittest.TestCase):
    def test_shard_mapping(self):
        self.assertEqual(latency.shard_of(9, 4), (1, 2))

    def test_latency_from_committing_trigger(self):
        # 2 shards; record i is due at 10 * i ms
        due = [10.0 * i for i in range(8)]
        progress = [trigger(0, 0, 50, {0: 1, 1: 0}),      # commits 0, 1, 2 at 50 ms
                    trigger(1, 50, 100, {0: 3, 1: 3})]    # commits 3..7 at 150 ms
        acc = latency.account(progress, 2, due)
        self.assertEqual(acc["failed"], [])
        self.assertEqual(acc["triggers"], 2)
        self.assertEqual(acc["latencies"], [50.0, 40.0, 30.0, 120.0, 110.0, 100.0, 90.0, 80.0])

    def test_uncommitted_records_fail(self):
        progress = [trigger(0, 0, 500, {0: 1, 1: 0})]     # commits 0, 1, 2 at 500 ms
        acc = latency.account(progress, 2, [0.0] * 6)
        # 3, 4, 5 were never committed
        self.assertEqual(acc["failed"], [3, 4, 5])
        self.assertEqual(acc["latencies"], [500.0] * 3)

    def test_done_marker_offsets_parse(self):
        self.assertEqual(latency.last_seq("4|done"), 4)
        self.assertEqual(latency.last_seq("|done"), -1)
        self.assertEqual(latency.last_seq(None), -1)

    def test_ten_samples_beyond_the_percentile(self):
        self.assertEqual(latency.supported_percentile(1000, 99.0), 99.0)
        self.assertEqual(latency.supported_percentile(5000, 99.0), 99.0)
        self.assertAlmostEqual(latency.supported_percentile(500, 99.0), 98.0)
        self.assertEqual(latency.supported_percentile(10, 99.0), 0.0)
        n = 500
        p = latency.supported_percentile(n, 99.0)
        xs = list(range(n))
        beyond = [x for x in xs if x > latency.percentile(xs, p)]
        self.assertGreaterEqual(len(beyond), 10)


if __name__ == "__main__":
    unittest.main()
