"""Percentile rule, self-time subtraction and the per-layer roll-up.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(id, parent, layer, start, end, kind="op", jobs=(), **counters):
    c = {k: 0 for k in ("jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ns",
                        "shuffle_write_b", "shuffle_read_b", "spill_b", "serial_stage_ms",
                        "plan_ms")}
    c.update(counters, job_intervals=[list(j) for j in jobs], jobs=len(jobs))
    return {"id": id, "parent": parent, "name": f"s{id}", "layer": layer, "kind": kind,
            "start": start, "end": end, "build_ms": 0.0, "counters": c}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(metrics.percentile(values, 50), 50)
        self.assertEqual(metrics.percentile(values, 90), 90)
        self.assertEqual(metrics.percentile([3.0], 99), 3.0)

    def test_highest_percentile_with_ten_samples_above(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertEqual(metrics.tail_percentile(list(range(1, 21))), (50, 10))
        self.assertEqual(metrics.tail_percentile(list(range(1, 100)))[0], 50)
        self.assertEqual(metrics.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(metrics.tail_percentile(list(range(1, 1001))), (99, 990))
        self.assertEqual(metrics.tail_percentile(list(range(1, 10001)))[0], 99.9)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail_percentile(list(range(100, 0, -1))), (90, 90))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(10, 30), (20, 50), (90, 120)], 0, 100), 50)
        self.assertEqual(metrics.union_length([(10, 20), (12, 15)], 0, 100), 10)
        self.assertEqual(metrics.union_length([], 0, 100), 0)
        self.assertEqual(metrics.union_length([(-5, 5), (200, 300)], 0, 100), 5)

    def test_children_are_subtracted_once(self):
        parent = {"start": 0, "end": 100}
        kids = [{"start": 10, "end": 30}, {"start": 20, "end": 50}, {"start": 90, "end": 120}]
        self.assertEqual(metrics.self_time(parent, kids), 50)
        self.assertEqual(metrics.self_time(parent, []), 100)


class LayerRollUp(unittest.TestCase):
    def test_nested_layers_split_busy_self_and_gap(self):
        spans = [
            span(0, -1, "etl", 0, 100, jobs=[(10, 20)], exec_run_ms=7),
            span(1, 0, "io", 40, 70, kind="stage", jobs=[(45, 60)], exec_run_ms=3),
            span(2, -1, "etl", 200, 210, kind="prefix", jobs=[(200, 210)]),
        ]
        m = metrics.layer_metrics(spans, {"etl": 1})
        self.assertAlmostEqual(m["etl.busy_s"], 0.100)
        self.assertAlmostEqual(m["etl.self_s"], 0.070)
        self.assertAlmostEqual(m["io.busy_s"], 0.030)
        self.assertAlmostEqual(m["io.self_s"], 0.030)
        # etl is busy 100 ms; its own job and the io child's job cover 25 ms
        self.assertAlmostEqual(m["etl.driver_gap_s"], 0.075)
        self.assertAlmostEqual(m["io.driver_gap_s"], 0.015)
        self.assertEqual(m["etl.jobs"], 1)
        self.assertEqual(m["io.jobs"], 1)
        self.assertAlmostEqual(m["etl.exec_run_s"], 0.007)
        self.assertEqual(m["etl.failed_ops"], 1)
        self.assertEqual(m["dedup.busy_s"], 0)

    def test_prefix_stages_report_increments(self):
        spans = [span(i, -1, "etl", 0, d, kind="prefix") for i, d in enumerate((100, 250, 700))]
        for s, name in zip(spans, metrics.PREFIX_STAGES):
            s["name"] = name
        m = metrics.stage_metrics(spans)
        self.assertAlmostEqual(m["io.read_json.busy_s"], 0.1)
        self.assertAlmostEqual(m["etl.flatten.busy_s"], 0.15)
        self.assertAlmostEqual(m["etl.derive.busy_s"], 0.45)
        self.assertEqual(m["etl.dedup.busy_s"], 0.0)

    def test_every_layer_metric_is_named_once(self):
        names = metrics.per_layer_names()
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)


if __name__ == "__main__":
    unittest.main()
