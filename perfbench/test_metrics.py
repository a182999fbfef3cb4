"""Pins the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import unittest

import metrics
import run


class Percentiles(unittest.TestCase):
    def test_nearest_rank_returns_an_observed_sample(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 90), 5)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertEqual(metrics.percentile(xs, 1), 1)

    def test_p90_of_ten_is_the_ninth(self):
        self.assertEqual(metrics.percentile(list(range(1, 11)), 90), 9)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)
        with self.assertRaises(ValueError):
            metrics.percentile([1], 0)

    def test_median_even_and_odd(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)


class Geomean(unittest.TestCase):
    def test_equal_weight_per_value(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10)
        self.assertAlmostEqual(metrics.geomean([2, 2, 2]), 2)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            metrics.geomean([1, 0])


class Intervals(unittest.TestCase):
    def test_union_merges_overlap_and_keeps_gaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_ignores_empty(self):
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_subtracts_covered_children_only(self):
        # children (1,3) and (2,4) cover 3 of the span; (9,20) is clipped to 1
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 4), (9, 20)]), 6)


def sample(t0, t1, t2, jobs, kind="query"):
    return {"t0_ms": t0, "t1_ms": t1, "t2_ms": t2, "wall_s": (t2 - t0) / 1e3,
            "jobs": [[i, a, b] for i, (a, b) in enumerate(jobs)], "kind": kind}


class Layers(unittest.TestCase):
    def test_layers_add_up_to_wall(self):
        # build 0-100 with an eager job 20-60; action 100-400 with
        # jobs 150-250 and 200-300, then 100 ms of driver tail
        s = sample(0, 100, 400, [(20, 60), (150, 250), (200, 300)])
        lay = metrics.op_layers(s)
        self.assertAlmostEqual(lay["call_s"], 0.100)
        self.assertAlmostEqual(lay["call_self_s"], 0.060)
        self.assertEqual(lay["eager_jobs"], 1)
        self.assertAlmostEqual(lay["plan_s"], 0.050)
        self.assertAlmostEqual(lay["jobs_s"], 0.150)
        self.assertAlmostEqual(lay["gap_s"], 0.100)
        self.assertAlmostEqual(lay["err_s"], 0.0)
        self.assertTrue(metrics.reconciles(s, lay))

    def test_job_outside_the_action_breaks_reconciliation(self):
        s = sample(0, 100, 400, [(150, 450)])
        lay = metrics.op_layers(s)
        self.assertAlmostEqual(lay["err_s"], 0.050)
        self.assertFalse(metrics.reconciles(s, lay))

    def test_action_without_jobs_is_all_planning(self):
        lay = metrics.op_layers(sample(0, 10, 30, []))
        self.assertAlmostEqual(lay["plan_s"], 0.020)
        self.assertEqual(lay["gap_s"], 0.0)


class Aggregates(unittest.TestCase):
    def raw(self):
        samples, passes = [], []
        for p in range(0, 4):
            walls = {"a": 1.0 + p, "b": 5.0}
            for i, (op, w) in enumerate(walls.items()):
                samples.append({"pass": p, "op": op, "kind": "query",
                                "traced": False, "wall_s": w, "ok": True})
            passes.append({"pass": p, "traced": False, "wall_s": sum(walls.values())})
        return {"setup_s": 7.0, "peak_rss_mb": 900.0, "cores": 4,
                "samples": samples, "passes": passes}

    def test_end_to_end_skips_the_warmup_pass(self):
        e = metrics.end_to_end(self.raw())
        self.assertEqual(e["pass_s"], 8.0)            # passes 1..3: 7, 8, 9
        self.assertEqual(e["op_p50_s"], 4.0)          # 2,3,4,5,5,5: 3rd
        self.assertEqual(e["op_p90_s"], 5.0)          # 6th
        self.assertAlmostEqual(e["op_geomean_s"], math.sqrt(3.0 * 5.0))
        self.assertEqual(e["setup_s"], 7.0)


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_run_py_prints(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "..", "BENCHMARK.json")
        with open(path) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
