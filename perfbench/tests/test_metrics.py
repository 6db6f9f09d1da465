"""Percentile, interval and self-time arithmetic of the benchmark.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(i, name, parent, start, end, tag=""):
    return {"id": i, "name": name, "parent": parent, "start": start,
            "end": end, "tag": tag, "meta": "", "run": "r"}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(metrics.percentile(vals, 90), 90)
        self.assertEqual(metrics.percentile(vals, 50), 50)
        self.assertEqual(metrics.percentile(vals, 100), 100)

    def test_small_and_unsorted(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 90), 3.0)
        self.assertEqual(metrics.percentile([5.0], 90), 5.0)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2)

    def test_p90_leaves_ten_samples_beyond_at_110(self):
        vals = list(range(110))
        p = metrics.percentile(vals, 90)
        self.assertGreaterEqual(sum(v > p for v in vals), 10)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 90)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_clips(self):
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([(0, 1)], 2, 4), 0)

    def test_union_touching_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 1), (1, 2), (0.5, 0.7)]), 2)


class SelfTimeTest(unittest.TestCase):
    def test_cycle_minus_its_three_calls(self):
        spans = [span(0, "cycle", -1, 0, 10000),
                 span(1, "load", 0, 100, 3000),
                 span(2, "refresh", 0, 3000, 6000),
                 span(3, "dashboard", 0, 6500, 9000)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], (10000 - 2900 - 3000 - 2500) / 1e3)
        self.assertAlmostEqual(st[1], 2.9)

    def test_overlapping_children_count_once(self):
        spans = [span(0, "p", -1, 0, 1000), span(1, "a", 0, 0, 600),
                 span(2, "b", 0, 400, 800)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 0.2)

    def test_grandchildren_do_not_reduce_grandparent_twice(self):
        spans = [span(0, "p", -1, 0, 1000), span(1, "c", 0, 0, 500),
                 span(2, "g", 1, 0, 400)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 0.5)
        self.assertAlmostEqual(st[1], 0.1)


class SpanStatsTest(unittest.TestCase):
    def test_gap_util_and_bytes(self):
        s = span(0, "x", -1, 1000, 3000, tag="pb0")
        # tag, job, launch, finish, run ms, shuffle w, input, output
        tasks = {"pb0": [["pb0", 1, 1000, 1500, 400, 0, 2 * metrics.MB, 0],
                         ["pb0", 1, 1200, 2000, 800, metrics.MB, 0, 0]]}
        st = metrics.span_stats(s, tasks, {"pb0": 2}, cores=4)
        self.assertAlmostEqual(st["s"], 2.0)
        self.assertEqual(st["jobs"], 2)
        self.assertAlmostEqual(st["task_s"], 1.2)
        self.assertAlmostEqual(st["util"], 1.2 / 8)
        self.assertAlmostEqual(st["driver_gap_s"], 1.0)
        self.assertAlmostEqual(st["input_mb"], 2.0)
        self.assertAlmostEqual(st["shuffle_write_mb"], 1.0)


class ReadFractionTest(unittest.TestCase):
    def test_one_shot_input_over_state_bytes(self):
        spans = [dict(span(0, "pipeline.Bm25State.serve", -1, 0, 10, "pb0"),
                      state_bytes=4 * metrics.MB),
                 dict(span(1, "pipeline.ServeSession.answer.bm25", -1, 10, 20,
                           "pb1"), state_bytes=0)]
        tasks = {"pb0": [["pb0", 1, 0, 5, 5, 0, metrics.MB, 0]],
                 "pb1": [["pb1", 2, 10, 15, 5, 0, 8 * metrics.MB, 0]]}
        res = {"spans": spans, "cores": 4, "wall_s": 2.0,
               "untraced_wall_s": 1.5,
               "tasks": [t for ts in tasks.values() for t in ts],
               "jobs": [[1, "pb0"], [2, "pb1"]],
               "health": {h: 0 for h in metrics.HEALTH}}
        vals = metrics.per_layer(res, {})
        self.assertAlmostEqual(vals["pipeline.StateLayout.read_fraction"], 0.25)
        self.assertAlmostEqual(vals["trace.overhead_s"], 0.5)
        self.assertEqual(vals["pipeline.Bm25State.serve.jobs"], 1)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_lists_every_metric_once(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.per_layer_spec())
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertLessEqual(len(bench["per_layer"]), 128)


if __name__ == "__main__":
    unittest.main()
