#!/usr/bin/env python3
"""Self-tests for the benchmark's own arithmetic.

    python3 perfbench/test_metrics.py
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def span(kind, sid, start, end, parent=None, qid=None, name=None, **attrs):
    return {"kind": kind, "name": name or kind, "id": sid, "pass": 1,
            "start_us": start, "end_us": end, "parent": parent, "qid": qid,
            "attrs": attrs}


class Quantiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_exclusive(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertEqual(metrics.quartiles(xs), (2.75, 5.5, 8.25))
        self.assertEqual(metrics.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertAlmostEqual(metrics.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(metrics.spread([2.0] * 10), 0.0)

    def test_percentile_inclusive(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), 90.1)
        self.assertEqual(metrics.percentile(xs, 0.5), 50.5)


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertFalse(metrics.percentile_supported(99, 0.9))
        self.assertTrue(metrics.percentile_supported(100, 0.9))

    def test_p50_needs_20_samples(self):
        self.assertFalse(metrics.percentile_supported(19, 0.5))
        self.assertTrue(metrics.percentile_supported(20, 0.5))

    def test_p99_needs_1000_samples(self):
        self.assertFalse(metrics.percentile_supported(999, 0.99))
        self.assertTrue(metrics.percentile_supported(1000, 0.99))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25),
                                               (30, 30)]), 20)
        self.assertEqual(metrics.union_length([]), 0)

    def test_children_clipped_and_counted_once(self):
        parent = span("job", "j", 100, 200)
        kids = [span("stage", "a", 90, 130), span("stage", "b", 120, 150),
                span("stage", "c", 190, 260)]
        # covered: [100,150) + [190,200) = 60
        self.assertEqual(metrics.self_time(parent, kids), 40)

    def test_nested_tree(self):
        spans = [span("query", "q", 0, 1000),
                 span("build", "b", 0, 400, parent="q"),
                 span("action", "a", 400, 1000, parent="q"),
                 span("job", "j1", 100, 300, parent="b"),
                 span("job", "j2", 500, 900, parent="a"),
                 span("stage", "s1", 100, 250, parent="j1"),
                 span("stage", "s2", 500, 900, parent="j2")]
        st = metrics.self_times(spans)
        self.assertEqual(st, {"query": 0, "build": 200, "action": 200,
                              "job": 50, "stage": 550})
        # self times of a tree add up to the root's duration
        self.assertEqual(sum(st.values()), 1000)

    def test_link_places_listener_spans(self):
        samples = [{"qid": 7, "pass": 1, "name": "qx", "start_us": 10_000,
                    "build_end_us": 20_000, "end_us": 50_000,
                    "traced": True, "cpu_ns": 0, "gc_ms": 0}]
        spans = metrics.query_spans(samples) + [
            span("job", "job1", 12_000, 15_000, qid=7),
            span("job", "job2", 30_000, 40_000),  # placed by time
            span("stage", "stage3.0", 31_000, 39_000, parent="job2"),
            span("plan", "plan-analysis", 21_000, 22_000, name="analysis"),
            span("batch", "batch-x-0", 11_000, 19_000),
        ]
        by = {s["id"]: s for s in metrics.link(spans)}
        self.assertEqual(by["job1"]["parent"], "batch-x-0")
        self.assertEqual(by["batch-x-0"]["parent"], "q7.b")
        self.assertEqual(by["job2"]["parent"], "q7.a")
        self.assertEqual(by["job2"]["qid"], 7)
        self.assertEqual(by["stage3.0"]["qid"], 7)
        self.assertEqual(by["plan-analysis"]["parent"], "q7.a")


class FailedFrac(unittest.TestCase):
    def test_counts_each_query_once(self):
        self.assertEqual(metrics.failed_frac(10, ["a"], ["a", "b"]), 0.2)
        self.assertEqual(metrics.failed_frac(4, [], []), 0.0)
        self.assertEqual(metrics.failed_frac(4, ["a", "b"], ["c", "d"]), 1.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, [], [])


class LayerRollup(unittest.TestCase):
    def test_pass_totals_and_overhead(self):
        samples = [
            {"qid": 1, "pass": 0, "traced": False, "name": "a",
             "start_us": 0, "build_end_us": 100_000, "end_us": 1_000_000,
             "cpu_ns": 0, "gc_ms": 0},
            {"qid": 2, "pass": 1, "traced": True, "name": "a",
             "start_us": 2_000_000, "build_end_us": 2_100_000,
             "end_us": 3_100_000, "cpu_ns": 0, "gc_ms": 5},
            {"qid": 3, "pass": 2, "traced": False, "name": "a",
             "start_us": 4_000_000, "build_end_us": 4_100_000,
             "end_us": 5_000_000, "cpu_ns": 0, "gc_ms": 0},
            {"qid": 4, "pass": 3, "traced": True, "name": "a",
             "start_us": 6_000_000, "build_end_us": 6_100_000,
             "end_us": 7_100_000, "cpu_ns": 0, "gc_ms": 7},
        ]
        listener = []
        for q, t in ((2, 2_000_000), (4, 6_000_000)):
            listener += [
                span("job", "job%d" % q, t + 10_000, t + 60_000, qid=q),
                span("stage", "st%d" % q, t + 10_000, t + 60_000,
                     parent="job%d" % q, tasks=4, run_ms=200.0,
                     shuffle_read_bytes=float(1 << 20), out_bytes=10.0),
                span("job", "jobA%d" % q, t + 200_000, t + 900_000, qid=q),
            ]
        result = {"samples": samples,
                  "pin_counters": [{"pass": 1, "blocks": 3,
                                    "peak_bytes": 2 << 20},
                                   {"pass": 3, "blocks": 3,
                                    "peak_bytes": 2 << 20}],
                  "table_probe": [{"table": "t", "qid": 9, "ms": 80.0},
                                  {"table": "t", "qid": 10, "ms": 90.0}]}
        listener.append(span("job", "jobP", 9_000_000, 9_010_000, qid=9))
        m = metrics.layer_metrics(result, listener)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["sched.jobs"], 2)
        self.assertEqual(m["sched.tasks"], 4)
        self.assertAlmostEqual(m["build.ms"], 100.0)
        self.assertAlmostEqual(m["shuffle.read_mb"], 1.0)
        self.assertAlmostEqual(m["sink.output_mb"], 10.0 / (1 << 20))
        self.assertAlmostEqual(m["exec.core_busy"], 200.0 / 1100.0)
        # query 1.1 s, jobs cover 50 ms + 700 ms
        self.assertAlmostEqual(m["driver.nojob_ms"], 350.0)
        self.assertEqual(m["pin.blocks"], 3)
        self.assertAlmostEqual(m["pin.mb_peak"], 2.0)
        self.assertEqual(m["driver.gc_ms"], 6)
        self.assertEqual(m["table.open_ms"], 85.0)
        self.assertEqual(m["table.open_jobs"], 0.5)
        self.assertAlmostEqual(m["trace.overhead_frac"], 1.1 / 1.0 - 1)


if __name__ == "__main__":
    unittest.main()
