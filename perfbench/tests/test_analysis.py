"""Tests for the benchmark's own metric logic, on synthetic inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import analysis  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p50_needs_ten_samples_beyond(self):
        self.assertIsNone(analysis.percentile(range(19), 0.5))
        self.assertEqual(analysis.percentile(range(20), 0.5), 9.5)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(analysis.percentile(range(99), 0.9))
        self.assertAlmostEqual(analysis.percentile(range(100), 0.9), 89.1)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 10
        self.assertEqual(analysis.percentile(xs, 0.5), analysis.percentile(sorted(xs), 0.5))

    def test_empty(self):
        self.assertIsNone(analysis.percentile([], 0.5, min_beyond=0))


class IntervalUnion(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(analysis.interval_union([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(analysis.interval_union([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_window(self):
        self.assertEqual(analysis.interval_union([(-5, 5), (8, 30)], window=(0, 10)), 7)

    def test_open_intervals_ignored(self):
        self.assertEqual(analysis.interval_union([(0, None), (1, 2)]), 1)

    def test_driver_idle_is_wall_minus_union(self):
        stages = [(10, 40), (30, 50), (70, 80)]
        self.assertEqual(analysis.driver_idle_ms((0, 100), stages), 100 - 50)


class OpenLoop(unittest.TestCase):
    drops = [
        {"file": "d0001.parquet", "due": 1000.0, "landed": 1000.5},
        {"file": "d0002.parquet", "due": 1100.0, "landed": 1104.0},
        {"file": "d0003.parquet", "due": 1200.0, "landed": 1200.2},
    ]

    def test_lateness_is_landed_minus_due(self):
        self.assertEqual([round(x, 3) for x in analysis.lateness_ms(self.drops)],
                         [0.5, 4.0, 0.2])

    def test_freshness_waits_for_the_slower_stream(self):
        a = ({"d0001.parquet": 1, "d0002.parquet": 2, "d0003.parquet": 2},
             {1: (1001, 1050), 2: (1150, 1300)})
        b = ({"d0001.parquet": 3, "d0002.parquet": 3, "d0003.parquet": 4},
             {3: (1110, 1180), 4: (1210, 1250)})
        self.assertEqual(analysis.freshness_ms(self.drops, [a, b]), [180, 200, 100])

    def test_freshness_counts_from_due_not_landed(self):
        s = ({"d0002.parquet": 0}, {0: (1104, 1110)})
        self.assertEqual(analysis.freshness_ms(self.drops[1:2], [s]), [10])

    def test_lost_drop_has_no_freshness(self):
        s = ({"d0001.parquet": 0}, {0: (1001, 1010)})
        self.assertEqual(analysis.freshness_ms(self.drops[:2], [s]), [10, None])

    def test_trend_is_flat_for_a_steady_series(self):
        self.assertAlmostEqual(analysis.trend([100, 110, 90] * 10), 0.0)

    def test_trend_shows_a_growing_queue(self):
        # freshness that climbs from 100 to 390 ms over the phase:
        # thirds' medians 145 and 345, overall median 245
        self.assertAlmostEqual(analysis.trend([100 + 10 * i for i in range(30)]),
                               (345 - 145) / 245)

    def test_trend_needs_two_values_per_part(self):
        self.assertIsNone(analysis.trend([1, 2, 3, 4, 5]))

    def test_backlog_counts_landed_unconsumed_files(self):
        file_batch = {"d0001.parquet": 0, "d0002.parquet": 1, "d0003.parquet": 1}
        windows = {0: (1001, 1250), 1: (1250, 1300)}
        self.assertEqual(analysis.backlog_files_max(self.drops, file_batch, windows), 2)


class SourceLog(unittest.TestCase):
    def entry(self, path, batch):
        return json.dumps({"path": path, "timestamp": 1, "batchId": batch})

    def test_drop_to_batch_mapping(self):
        compact = "v1\n" + "\n".join(self.entry("file:///w/landing/d%04d.parquet" % i, i // 2)
                                     for i in range(4))
        delta = "v1\n" + self.entry("file:///w/landing/d0004.parquet", 2) + "\n"
        got = analysis.parse_source_log([compact, delta])
        self.assertEqual(got, {"d0000.parquet": 0, "d0001.parquet": 0, "d0002.parquet": 1,
                               "d0003.parquet": 1, "d0004.parquet": 2})

    def test_batch_windows_skip_empty_batches(self):
        prog = [{"batchId": 0, "timestamp": "2026-01-01T00:00:00.100Z",
                 "batchDuration": 40, "numInputRows": 5},
                {"batchId": 1, "timestamp": "2026-01-01T00:00:01.000Z",
                 "batchDuration": 3, "numInputRows": 0}]
        w = analysis.batch_windows(prog)
        self.assertEqual(list(w), [0])
        self.assertAlmostEqual(w[0][1] - w[0][0], 40)
        self.assertAlmostEqual(w[0][0] % 1000, 100)


class SelfTime(unittest.TestCase):
    def test_children_and_stages_are_subtracted_once(self):
        spans = [
            {"id": "b", "layer": "stream", "start": 0, "end": 100, "parent": None},
            {"id": "c", "layer": "txtable.commit", "start": 20, "end": 70, "parent": "b"},
        ]
        stages = [
            {"tag": "c", "start": 30, "end": 50},
            {"tag": "c", "start": 40, "end": 60},
            {"tag": "b", "start": 80, "end": 90},
        ]
        got = analysis.self_times(spans, stages)
        self.assertEqual(got["stream"], 100 - 50 - 10)
        self.assertEqual(got["txtable"], 50 - 30)
        self.assertEqual(got["engine"], 30 + 10)

    def test_child_outside_parent_is_clipped(self):
        spans = [
            {"id": "g", "layer": "operators.tpch", "start": 0, "end": 10, "parent": None},
        ]
        got = analysis.self_times(spans, [{"tag": "g", "start": 5, "end": 15}])
        self.assertEqual(got["operators"], 5)
        self.assertEqual(got["engine"], 10)


class StreamBatchSpans(unittest.TestCase):
    def test_query_tagged_stages_move_to_their_batch(self):
        raw = {"progress": [{"name": "meta", "id": "u1"}],
               "trace": {"progress": [
                   {"id": "u1", "batchId": 4, "timestamp": "2026-01-01T00:00:00.000Z",
                    "batchDuration": 500, "numInputRows": 10},
                   {"id": "u1", "batchId": 5, "timestamp": "2026-01-01T00:00:01.000Z",
                    "batchDuration": 500, "numInputRows": 10}]}}
        t0 = analysis.parse_ts("2026-01-01T00:00:00.000Z")
        stages = [{"tag": "q:meta", "start": t0 + 1100, "end": t0 + 1200},
                  {"tag": "s7", "start": t0 + 100, "end": t0 + 200},
                  {"tag": "q:meta", "start": t0 + 700, "end": t0 + 800}]
        spans, retagged = analysis.stream_batch_spans(raw, (t0, t0 + 2000), stages)
        self.assertEqual(sorted(s["id"] for s in spans), ["q:meta:4", "q:meta:5"])
        self.assertEqual([s["tag"] for s in retagged], ["q:meta:5", "s7", None])


class TaskSkew(unittest.TestCase):
    def test_weighted_by_stage_time(self):
        stages = [{"task_ms": [10, 10, 30]}, {"task_ms": [1, 1]}, {"task_ms": [5]}]
        # stage 1: 30/10 = 3 (weight 50); stage 2: 1 (weight 2); single-task stage skipped
        self.assertAlmostEqual(analysis.task_skew(stages), (50 * 3 + 2 * 1) / 52)


if __name__ == "__main__":
    unittest.main()
