"""Tests for the benchmark's arithmetic: percentiles, span self time and
the metric folds.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import statistics
import unittest

import metrics


def span(i, name, parent, start, end, it=0, **exec_):
    return {"id": i, "name": name, "parent": parent, "iter": it,
            "start": start, "end": end, "exec": exec_,
            "plan": {"analysis_s": 0.0, "optimization_s": 0.0,
                     "planning_s": 0.0}}


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3]
        self.assertEqual(metrics.median(xs), statistics.median(xs))
        self.assertAlmostEqual(metrics.percentile(xs, 90), 6.78)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 9.0)

    def test_even_count_median_is_midpoint(self):
        self.assertEqual(metrics.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_single_and_empty(self):
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertTrue(math.isnan(metrics.percentile([], 50)))

    def test_missing_values_are_skipped(self):
        self.assertEqual(metrics.median([float("nan"), None, 2.0, 4.0]), 3.0)


class SelfTimeTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(metrics.covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.covered([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(0, "iteration", -1, 0.0, 10.0),
                 span(1, "monthly.run", 0, 1.0, 4.0),
                 span(2, "monthly.publish", 0, 4.0, 9.0),
                 span(3, "inner", 2, 5.0, 6.0),
                 span(4, "inner", 2, 5.5, 7.0)]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[0], 2.0)   # 10 - (3 + 5)
        self.assertAlmostEqual(s[1], 3.0)   # leaf
        self.assertAlmostEqual(s[2], 3.0)   # 5 - union(5..7)
        self.assertAlmostEqual(s[3], 1.0)

    def test_children_are_clipped_to_parent(self):
        spans = [span(0, "p", -1, 0.0, 2.0), span(1, "c", 0, 1.0, 5.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 1.0)


class FoldTest(unittest.TestCase):
    def record(self):
        its = [{"iter": 0, "traced": False, "wall_s": 2.0, "cpu_s": 5.0,
                "host_foreign_cpu_share": 0.0, "host_steal_share": 0.0,
                "ops": [{"name": "q1", "s": 0.5, "ok": True},
                        {"name": "q2", "s": 1.5, "ok": True}]},
               {"iter": 1, "traced": True, "wall_s": 2.2, "cpu_s": 5.5,
                "host_foreign_cpu_share": 0.1, "host_steal_share": 0.01,
                "ops": [{"name": "q1", "s": 0.6, "ok": True},
                        {"name": "q2", "s": 1.6, "ok": True}]}]
        spans = [span(0, "iteration", -1, 0.0, 2.0, it=1),
                 span(1, "query.q1", 0, 0.0, 0.5, it=1),
                 span(2, "build", 1, 0.0, 0.1, it=1),
                 span(3, "action", 1, 0.1, 0.5, it=1, task_s=1.6,
                      stage_max_task_s=0.8, input_bytes=50)]
        return {"workload": "reporting_mix", "setup_s": 9.0,
                "mem_peak_mb": 100.0, "cores": 4, "input_bytes": 100,
                "iterations": its, "spans": spans}

    def test_timings_use_untraced_iterations(self):
        vals, attempted, failed = metrics.end_to_end(self.record())
        self.assertEqual((attempted, failed), (4, 0))
        self.assertEqual(vals["wall_s"], 2.0)
        self.assertEqual(vals["query_p50_s"], 1.0)
        self.assertEqual(vals["ok_frac"], 1.0)

    def test_oracle_mismatch_fails_every_run_of_that_key(self):
        vals, attempted, failed = metrics.end_to_end(self.record(), {"q2"})
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(vals["ok_frac"], 0.5)

    def test_failed_traced_op_makes_the_run_incorrect(self):
        rec = self.record()
        rec["iterations"][1]["ops"][0]["ok"] = False
        ok = [{"name": "c", "ok": True, "detail": ""}]
        self.assertEqual(metrics.verdict(rec, ok), (False, 4, 1))
        self.assertEqual(metrics.verdict(self.record(), ok), (True, 4, 0))

    def test_failed_check_makes_the_run_incorrect(self):
        bad = [{"name": "c", "ok": False, "detail": "drift"}]
        self.assertEqual(metrics.verdict(self.record(), bad), (False, 4, 0))

    def test_per_layer_ratios(self):
        v = metrics.per_layer(self.record())
        self.assertAlmostEqual(v["query.build_s"], 0.1)
        self.assertAlmostEqual(v["query.action_s"], 0.4)
        self.assertAlmostEqual(v["exec.busy_share"], 1.6 / (4 * 2.0))
        self.assertAlmostEqual(v["exec.max_task_share"], 0.5)
        self.assertAlmostEqual(v["exec.input_ratio"], 0.5)
        self.assertAlmostEqual(v["iteration.self_s"], 1.5)
        self.assertAlmostEqual(v["trace.overhead"], 1.1)
        self.assertAlmostEqual(v["query_p90_s"], 1.4)
        self.assertEqual(set(v), set(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
