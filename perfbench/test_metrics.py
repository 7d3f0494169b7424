"""Tests for the benchmark's own arithmetic.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def span(id, parent, name, start, end, op=0):
    return {"id": id, "parent": parent, "name": name, "op": op,
            "start_us": start, "end_us": end, "gc_ms": 0, "codegen": 0}


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        values = list(range(1, 201))  # 200 samples
        pct, v = metrics.tail(values)
        self.assertEqual(pct, 95.0)
        self.assertEqual(v, 190)
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_order_does_not_matter(self):
        values = [5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20]
        self.assertEqual(metrics.tail(values), (50.0, 10))

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11))), (100.0 / 11, 0))

    def test_failed_operations_sort_above_every_latency(self):
        ops = [{"s": 0.1 * i, "ok": True} for i in range(1, 21)] + [{"s": 0.01, "ok": False}]
        lat = metrics.op_latencies(ops)
        self.assertEqual(lat[-1], math.inf)
        self.assertEqual(metrics.tail(lat)[1], 0.1 * 11)


class EndToEndTest(unittest.TestCase):
    def raw(self, ops):
        return {"ops": ops, "setup_s": [3.0, 1.0, 2.0]}

    def test_medians_are_taken_per_kind_of_operation(self):
        ops = []
        for _ in range(4):
            ops += [{"label": "a", "s": 1.0, "ok": True, "items": 1},
                    {"label": "b", "s": 2.0, "ok": True, "items": 1},
                    {"label": "c", "s": 6.0, "ok": True, "items": 1}]
        m, samples = metrics.end_to_end(self.raw(ops))
        self.assertEqual(m["setup_s"], (2.0, "s"))
        self.assertEqual(m["op_p50_s"], (2.0, "s"))
        self.assertAlmostEqual(m["items_per_s"][0], 3 / 9.0)
        self.assertEqual((samples["ops"], samples["kinds"], samples["tail_s"]), (12, 3, 1.0))

    def test_failures_count_against_latency_and_throughput(self):
        ops = [{"label": "a", "s": 1.0, "ok": True, "items": 10} for _ in range(3)]
        ops += [{"label": "a", "s": 1.0, "ok": False, "items": 10} for _ in range(2)]
        m, _ = metrics.end_to_end(self.raw(ops))
        self.assertEqual(m["op_p50_s"][0], 1.0)
        ops.append({"label": "a", "s": 1.0, "ok": False, "items": 10})
        m, _ = metrics.end_to_end(self.raw(ops))
        self.assertEqual(m["op_p50_s"][0], 6.0)  # the measured window, not infinity
        self.assertEqual(m["items_per_s"][0], 0.0)


class RatioTest(unittest.TestCase):
    def test_busy_share(self):
        # 4 cores for 2 s offer 8 core-seconds; 2 s of task time is a quarter
        self.assertEqual(metrics.busy_share(2000, 2.0, 4), 0.25)
        self.assertEqual(metrics.busy_share(2000, 0.0, 4), 0.0)

    def test_replication_rate(self):
        self.assertEqual(metrics.replication_rate(300, 100), 3.0)
        self.assertEqual(metrics.replication_rate(300, 0), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        parent = span(0, -1, "op", 0, 10_000_000)
        kids = [span(1, 0, "a", 1_000_000, 3_000_000), span(2, 0, "b", 5_000_000, 6_000_000)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 7.0)

    def test_overlapping_children_count_once(self):
        parent = span(0, -1, "op", 0, 10_000_000)
        kids = [span(1, 0, "a", 1_000_000, 4_000_000), span(2, 0, "b", 3_000_000, 5_000_000)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 6.0)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(0, -1, "op", 2_000_000, 4_000_000)
        kids = [span(1, 0, "a", 1_000_000, 3_000_000)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 1.0)

    def test_phases_attach_to_the_innermost_span(self):
        spans = [span(0, -1, "op", 0, 10_000_000),
                 span(1, 0, "operators.Dedup", 2_000_000, 9_000_000)]
        out = metrics.attach_phases(spans, [{"name": "planning", "start_us": 3_000_000,
                                             "end_us": 4_000_000}])
        self.assertEqual(out[-1]["parent"], 1)
        self.assertEqual(out[-1]["name"], "catalyst.planning")


class PerLayerTest(unittest.TestCase):
    def test_layer_times_add_up_to_the_operation(self):
        spans = [span(0, -1, "op", 0, 10_000_000),
                 span(1, 0, "operators.build", 0, 2_000_000),
                 span(2, 0, "operators.Dedup", 2_000_000, 9_000_000)]
        raw = {"ops": [{"label": "q", "s": 10.0, "ok": True, "traced": True}], "cache_mb": 0.0,
               "heap_mb": 1.0, "cores": 4,
               "record": {},
               "trace": {"spans": spans, "phases": [{"name": "planning", "start_us": 3_000_000,
                                                     "end_us": 4_000_000}],
                         "counters": {"2": {"run_ms": 8000, "shuffle_write": 50,
                                            "input_bytes": 100, "jobs": 2, "tasks": 8}}}}
        m = metrics.per_layer(raw)
        self.assertAlmostEqual(m["operators.build_s"][0], 2.0)
        self.assertAlmostEqual(m["operators.Dedup.wall_s"][0], 6.0)
        self.assertAlmostEqual(m["catalyst.plan_s"][0], 1.0)
        self.assertAlmostEqual(m["spark.busy_share"][0], 0.2)
        self.assertAlmostEqual(m["spark.replication_rate"][0], 0.5)
        self.assertEqual(m["spark.jobs"][0], 2)

    def test_overhead_compares_traced_and_untraced_sweeps_kind_by_kind(self):
        ops = []
        for traced, factor in ((False, 1.0), (True, 1.1)):
            ops += [{"label": "a", "s": 1.0 * factor, "ok": True, "traced": traced},
                    {"label": "b", "s": 3.0 * factor, "ok": True, "traced": traced}]
        raw = {"ops": ops, "cache_mb": 0.0, "heap_mb": 1.0, "cores": 4, "record": {},
               "trace": {"spans": [], "phases": [], "counters": {}}}
        self.assertAlmostEqual(metrics.per_layer(raw)["trace.overhead_share"][0], 0.1)


if __name__ == "__main__":
    unittest.main()
