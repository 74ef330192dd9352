"""Fixed-input tests of the runner's percentile, aggregation and self-time
code. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import stats  # noqa: E402


def cell(kind, name, run, items, start, end, gc=0, compiles=0):
    return {"kind": kind, "name": name, "run": run, "items": items,
            "start_ms": start, "end_ms": end, "gc_ms": gc, "compiles": compiles}


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start_ms": start,
            "end_ms": end, "run": "r"}


class Percentiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 99), 99.01)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 100)

    def test_tail_is_p99_only_with_ten_samples_beyond(self):
        xs = list(range(1000))
        self.assertAlmostEqual(stats.tail(xs), stats.percentile(xs, 99))
        few = [5.0, 1.0, 9.0, 3.0]
        self.assertEqual(stats.tail(few), 9.0)
        self.assertEqual(stats.tail(list(range(999))), 998)

    def test_empty_inputs_are_errors(self):
        with self.assertRaises(ValueError):
            stats.median([])
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (7, 7)]), 4)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [span(1, -1, "facade.send", 0, 100),
                 span(2, 1, "spark.plan", 10, 30),
                 span(3, 1, "spark.execute", 20, 60)]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 100 - 50)  # children cover 10..60
        self.assertEqual(own[2], 20)
        self.assertEqual(own[3], 40)

    def test_jobs_become_children_of_the_innermost_span(self):
        spans = [span(1, -1, "analytics.q1", 0, 100),
                 span(2, 1, "spark.execute", 40, 90)]
        own = stats.self_times(spans, [(50, 70), (5, 15)])
        self.assertEqual(own[2], 50 - 20)
        self.assertEqual(own[1], 100 - 50 - 10)
        per_layer = stats.layer_self_ms(
            spans, [{"start_ms": 50, "end_ms": 70}, {"start_ms": 5, "end_ms": 15}])
        self.assertEqual(per_layer, {"analytics": 40, "spark": 30, "spark.job": 30})


class Aggregation(unittest.TestCase):
    def raw(self, workload, cells, **kw):
        r = {"workload": workload, "cells": cells, "setup_s": 9.0,
             "peak_rss_mb": 900.0, "attempted": 10, "failed": 1,
             "samples": {}, "values": {}, "spans": [], "jobs": [],
             "task_fields": ["stage", "launch_ms", "finish_ms", "run_ms",
                             "cpu_ns", "gc_ms", "deser_ms", "result_ser_ms",
                             "getting_result_ms", "shuffle_read_bytes",
                             "shuffle_write_bytes", "spill_bytes"],
             "tasks": [], "progress": []}
        r.update(kw)
        return r

    def test_transport_rates_are_total_items_over_total_time(self):
        cells = [cell("produce", "kafka", 0, 100, 0, 1000),
                 cell("produce", "redis", 0, 100, 1000, 1500),
                 cell("relay", "kafka-redis", 0, 100, 2000, 4000)]
        m = stats.end_to_end(self.raw("transport", cells))
        self.assertAlmostEqual(m["throughput_per_s"], 300 / 3.5)
        self.assertEqual(m["latency_p50_ms"], 1000)
        self.assertEqual(m["setup_s"], 9.0)
        self.assertAlmostEqual(m["ok_ratio"], 0.9)
        pl = layers.per_layer(self.raw("transport", cells), 4)
        self.assertAlmostEqual(pl["transport.produce_msg_s"], 200 / 1.5)
        self.assertAlmostEqual(pl["kafka.produce_msg_s"], 100.0)
        self.assertAlmostEqual(pl["relay.kafka-redis_msg_s"], 50.0)
        self.assertEqual(pl["relay.ss-kafka_msg_s"], 0.0)

    def test_transport_repeated_calls_count_with_their_median(self):
        cells = [cell("produce", "kafka", i, 100, 1000 * i, 1000 * i + d)
                 for i, d in enumerate([900, 300, 400])]
        cells.append(cell("relay", "ss-redis", 0, 100, 5000, 5200))
        m = stats.end_to_end(self.raw("transport", cells))
        self.assertAlmostEqual(m["throughput_per_s"], 200 / 0.6)
        self.assertAlmostEqual(m["latency_p50_ms"], 300)

    def test_analytics_is_one_pass_of_the_mix(self):
        cells = [cell("query", "q1_agg", 0, 1, 0, 3000),
                 cell("query", "q3_join_agg", 0, 1, 3000, 4000),
                 cell("query", "q16_cube", 0, 1, 4000, 6000)]
        pl = layers.per_layer(self.raw("analytics", cells), 4)
        self.assertEqual(pl["analytics.query_total_s"], 6.0)
        self.assertEqual(pl["analytics.q1_agg.wall_s"], 3.0)
        self.assertEqual(pl["analytics.p21_dedup_survivorship.wall_s"], 0.0)
        m = stats.end_to_end(self.raw("analytics", cells))
        self.assertAlmostEqual(m["throughput_per_s"], 3 / 6.0)
        self.assertAlmostEqual(m["latency_p50_ms"], 2000.0)

    def test_an_aborted_workload_leaves_its_metrics_unmeasured(self):
        for w in ("transport", "analytics", "streaming"):
            m = stats.end_to_end(self.raw(w, []))
            self.assertIsNone(m["throughput_per_s"], w)
            self.assertIsNone(m["latency_p50_ms"], w)
            self.assertEqual(m["setup_s"], 9.0)

    def test_streaming_latency_and_drain(self):
        lat = [float(i) for i in range(1, 2001)]
        cells = [cell("stream", "fixed_rate", 0, 2000, 0, 10000),
                 cell("drain", "backlog", 0, 5000, 11000, 13000)]
        raw = self.raw("streaming", cells, samples={
            "latency_ms": lat, "generator_late_ms": [0.1] * 99 + [5.0]})
        m = stats.end_to_end(raw)
        self.assertAlmostEqual(m["latency_p50_ms"], 1000.5)
        self.assertAlmostEqual(m["throughput_per_s"], 2500.0)
        pl = layers.per_layer(raw, 4)
        self.assertAlmostEqual(pl["stream.drain_msg_s"], 2500.0)
        self.assertAlmostEqual(pl["generator.late_ms"], 0.149, places=6)

    def test_spark_layer_counts_only_the_timed_windows(self):
        raw = self.raw("analytics", [], jobs=[
            {"id": 0, "start_ms": 10, "end_ms": 40, "stages": [0, 1]},
            {"id": 1, "start_ms": 60, "end_ms": 80, "stages": [2]},
            {"id": 2, "start_ms": 500, "end_ms": 600, "stages": [3]}],
            tasks=[[0, 12, 30, 15, 10**9, 1, 1, 0, 0, 2 * 10**6, 0, 0],
                   [2, 61, 79, 10, 10**9, 0, 2, 1, 0, 0, 10**6, 0],
                   [3, 510, 590, 70, 10**9, 0, 0, 0, 0, 0, 0, 0]])
        m = stats.spark_layer(raw, [(0, 100)], cores=2)
        self.assertEqual((m["spark.jobs"], m["spark.stages"], m["spark.tasks"]),
                         (2, 3, 2))
        self.assertAlmostEqual(m["spark.executor_run_s"], 0.025)
        self.assertAlmostEqual(m["spark.executor_cpu_s"], 2.0)
        self.assertAlmostEqual(m["spark.scheduler_delay_s"], (18 - 15 - 1 + 18 - 10 - 2 - 1) / 1000)
        self.assertAlmostEqual(m["spark.driver_only_s"], (100 - 50) / 1000)
        self.assertAlmostEqual(m["spark.parallel_efficiency"], 0.025 / (0.1 * 2))
        self.assertAlmostEqual(m["spark.shuffle_read_mb"], 2.0)
        self.assertAlmostEqual(m["spark.shuffle_write_mb"], 1.0)

    def test_stream_layer_takes_means_over_batches_with_rows(self):
        def progress(rows, trig, commit, state_rows):
            return {"numInputRows": rows,
                    "durationMs": {"triggerExecution": trig, "walCommit": commit},
                    "stateOperators": [{"commitTimeMs": 4, "numRowsTotal": state_rows,
                                        "memoryUsedBytes": 2 * 10**6}]}
        m = stats.stream_layer([progress(10, 100, 5, 10), progress(0, 7, 1, 10),
                                progress(30, 300, 9, 40), progress(20, 200, 7, 30)])
        self.assertEqual(m["stream.batches"], 3)
        self.assertEqual(m["stream.trigger_ms"], 200)
        self.assertEqual(m["stream.wal_commit_ms"], 7)
        self.assertEqual(m["stream.rows_per_batch"], 20)
        self.assertEqual(m["stream.state_rows"], 40)
        self.assertEqual(m["stream.state_mb"], 2.0)
        self.assertEqual(m["stream.commit_offsets_ms"], 0)


if __name__ == "__main__":
    unittest.main()
