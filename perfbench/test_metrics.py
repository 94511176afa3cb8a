"""Specs for the benchmark's pure pieces.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class IntervalSpec(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_clips_to_window(self):
        self.assertEqual(metrics.union_length([(0, 10), (12, 20)], 5, 15), 8)

    def test_union_of_nothing(self):
        self.assertEqual(metrics.union_length([]), 0)


def span(i, parent, start, end, **kw):
    return dict(id=i, parent=parent, start_us=start, end_us=end, **kw)


class SelfTimeSpec(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 10, 20)]
        own = metrics.self_times(spans)
        self.assertEqual(own[1], 100 - 50)   # children cover 10..60
        self.assertEqual(own[2], 30 - 10)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 10)

    def test_children_outside_parent_are_clipped(self):
        own = metrics.self_times([span(1, 0, 0, 10), span(2, 1, 5, 50)])
        self.assertEqual(own[1], 5)


class AttributionSpec(unittest.TestCase):
    def test_jobs_follow_group_and_time(self):
        ops = [span(1, 9, 0, 1000, groups=["1"]),
               span(2, 9, 2000, 3000, groups=["2", "run"]),
               span(3, 9, 4000, 5000, groups=["3", "run"])]
        jobs = [dict(id=10, group="1", start_us=500),
                dict(id=11, group="run", start_us=4500),
                dict(id=12, group=None, start_us=500),     # unattributed
                dict(id=13, group="other", start_us=2500)]
        got = metrics.attribute_jobs(ops, jobs)
        self.assertEqual([j["id"] for j in got[1]], [10])
        self.assertEqual(got[2], [])
        self.assertEqual([j["id"] for j in got[3]], [11])


class BreakdownSpec(unittest.TestCase):
    def test_phase_self_time_excludes_its_jobs(self):
        result = {
            "passes": [{"id": 1, "traced": True}],
            "spans": [span(1, 0, 0, 100, kind="pass", name="pass1"),
                      span(2, 1, 0, 100, kind="op", name="q", groups=["2"]),
                      span(3, 2, 0, 40, kind="phase", name="queries.construct"),
                      span(4, 2, 40, 100, kind="phase", name="queries.action")],
            "jobs": [dict(id=7, group="2", start_us=10, end_us=20),
                     dict(id=8, group="2", start_us=50, end_us=90)],
        }
        [row] = metrics.breakdown(result)
        self.assertEqual(row["jobs"], 2)
        self.assertEqual(row["phases"]["queries.construct"]["jobs"], 1)
        self.assertAlmostEqual(row["phases"]["queries.construct"]["self_s"], 30e-6)
        self.assertAlmostEqual(row["phases"]["queries.action"]["self_s"], 20e-6)
        self.assertAlmostEqual(row["self_s"], 0.0)


class ResultLineSpec(unittest.TestCase):
    units = {"a_s": "s", "b": "count"}

    def test_emits_every_metric_with_unit(self):
        line = metrics.result_line(True, 5, 0, {"a_s": 1.25, "b": 3}, self.units)
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(out["metrics"]["a_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual(out["metrics"]["b"], {"value": 3.0, "unit": "count"})
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (True, 5, 0))

    def test_missing_or_extra_names_refused(self):
        with self.assertRaises(ValueError):
            metrics.result_line(True, 1, 0, {"a_s": 1.0}, self.units)
        with self.assertRaises(ValueError):
            metrics.result_line(True, 1, 0, {"a_s": 1.0, "b": 2, "c": 3}, self.units)

    def test_non_finite_refused(self):
        with self.assertRaises(ValueError):
            metrics.result_line(True, 1, 0, {"a_s": math.nan, "b": 1}, self.units)

    def test_declared_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(metrics.__file__), "..",
                               "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
