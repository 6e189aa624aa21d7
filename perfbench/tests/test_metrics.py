"""Unit tests for the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_percentile_matches_inclusive_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        qs = statistics.quantiles(xs, n=10, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), qs[8])
        self.assertAlmostEqual(metrics.percentile(xs, 0.5), statistics.median(xs))
        self.assertEqual(metrics.percentile([3.0], 0.9), 3.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_samples_beyond_counts_strictly_past_the_quantile(self):
        for n in range(1, 400):
            xs = list(range(n))
            p = metrics.percentile(xs, 0.9)
            self.assertEqual(metrics.samples_beyond(n, 0.9), sum(1 for x in xs if x > p), n)
        self.assertEqual(metrics.samples_beyond(100, 0.9), 10)
        self.assertLess(metrics.samples_beyond(90, 0.9), 10)

    def test_passes_for_tail_is_the_fewest_that_reach_ten(self):
        for keys in (1, 11, 14, 19, 27, 419):
            p = metrics.passes_for_tail(keys)
            self.assertGreaterEqual(metrics.samples_beyond(p * keys, 0.9), 10)
            if p > 1:
                self.assertLess(metrics.samples_beyond((p - 1) * keys, 0.9), 10)
        self.assertEqual(metrics.passes_for_tail(27), 4)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_is_span_minus_union_of_clipped_children(self):
        # children cover [1,5] and [8,10] inside the span once clipped
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(-5, 20)]), 0)
        self.assertEqual(metrics.self_time((0, 10), [(12, 15)]), 10)


class Attribution(unittest.TestCase):
    QUERIES = [
        {"start_ms": 100, "build_end_ms": 150, "end_ms": 200},
        {"start_ms": 0, "build_end_ms": 40, "end_ms": 50},
        {"start_ms": 300, "build_end_ms": 300, "end_ms": 320},
    ]

    def test_jobs_map_to_the_window_and_phase_that_contain_their_start(self):
        jobs = [{"start_ms": t} for t in (0, 39, 40, 60, 120, 150, 200, 250, 310, 400)]
        self.assertEqual(metrics.attribute(self.QUERIES, jobs), [
            (1, "build"), (1, "build"), (1, "action"), (None, None), (0, "build"),
            (0, "action"), (0, "action"), (None, None), (2, "action"), (None, None)])

    def test_other_time_field(self):
        stages = [{"submit_ms": 149}]
        self.assertEqual(metrics.attribute(self.QUERIES, stages, "submit_ms"), [(0, "build")])


class CoreUtil(unittest.TestCase):
    def test_core_util(self):
        self.assertAlmostEqual(metrics.core_util(8.0, 4.0, 4), 0.5)
        self.assertAlmostEqual(metrics.core_util(16.0, 4.0, 4), 1.0)
        self.assertEqual(metrics.core_util(1.0, 0.0, 4), 0.0)


def _record():
    """Two passes of one key; pass 1 has one build job, one action job
    and one untimed job (the harness's output check) after the window."""
    q = lambda p, s: {"pass": p, "key": "k", "start_ms": s, "build_end_ms": s + 600,
                      "end_ms": s + 1000, "build_s": 0.6, "action_s": 0.4, "wall_s": 1.0,
                      "rows": 3, "ok": True}
    job = lambda i, a, b, st, untimed=False: {"id": i, "start_ms": a, "end_ms": b,
                                               "stages": st, "untimed": untimed, "ok": True}
    stage = lambda i, a, b, run: {"id": i, "attempt": 0, "submit_ms": a, "end_ms": b,
                                  "tasks": 4, "run_ms": run, "cpu_ns": run * 10**6,
                                  "gc_ms": 1, "result_bytes": 0, "shuffle_write_bytes": 0,
                                  "shuffle_read_bytes": 0, "fetch_wait_ms": 0,
                                  "spill_bytes": 0, "input_bytes": 1048576,
                                  "input_rows": 10, "output_bytes": 0, "output_rows": 0}
    return {
        "cpus": 4,
        "passes": [{"pass": 0, "start_ms": 0, "end_ms": 1100, "storage_mb": 1.0,
                    "codegen_compiles": 7},
                   {"pass": 1, "start_ms": 2000, "end_ms": 3500, "storage_mb": 2.0,
                    "codegen_compiles": 0}],
        "queries": [q(0, 0), q(1, 2000)],
        "trace": {
            "jobs": [job(0, 100, 300, [0]), job(1, 2100, 2300, [1]),
                     job(2, 2700, 2900, [2]), job(3, 3010, 3100, [3], untimed=True)],
            "stages": [stage(0, 100, 300, 400), stage(1, 2100, 2300, 800),
                       stage(2, 2700, 2900, 800), stage(3, 3010, 3100, 999)],
            "executions": [{"func": "count", "ok": True, "analysis_ms": 5,
                            "optimization_ms": 6, "planning_ms": 7, "seen_ms": 1050}],
            "batches": [{"query": "s", "run": "r1", "batch": 0,
                         "timestamp": "1970-01-01T00:00:02.500Z",
                         "duration_ms": {"triggerExecution": 40, "addBatch": 30,
                                         "queryPlanning": 5, "walCommit": 2},
                         "rows": 9, "state_commit_ms": 3, "state_rows": 11}],
        },
    }


class Layers(unittest.TestCase):
    def test_layer_passes_attribute_and_skip_untimed_jobs(self):
        by_pass, tree = metrics.layer_passes(_record())
        p1 = by_pass[1]
        self.assertEqual(p1["exec.jobs"], 2)
        self.assertEqual(p1["ops.build_jobs"], 1)
        self.assertEqual(p1["exec.action_jobs"], 1)
        self.assertAlmostEqual(p1["ops.no_job_s"], 0.4)  # 600 ms build, 200 ms in a job
        self.assertAlmostEqual(p1["exec.run_s"], 1.6)      # untimed stage 3 left out
        self.assertAlmostEqual(p1["exec.core_util"], 1.6 / (1.0 * 4))
        self.assertAlmostEqual(p1["ops.build_share"], 0.6)
        self.assertEqual(p1["streaming.batches"], 1)
        self.assertEqual(p1["streaming.state_rows"], 11)
        self.assertEqual(by_pass[0]["streaming.batches"], 0)
        self.assertEqual(by_pass[0]["plans.executions"], 1)
        self.assertEqual(by_pass[0]["plans.codegen_compiles"], 7)
        q1 = tree[1]["queries"][0]
        self.assertAlmostEqual(q1["phases"][0]["self_s"], 0.4)
        self.assertAlmostEqual(q1["phases"][1]["self_s"], 0.2)
        self.assertAlmostEqual(tree[1]["self_s"], 0.0)

    def test_per_layer_reads_plans_from_the_cold_pass(self):
        layers, _, _ = metrics.per_layer(_record())
        self.assertEqual(layers["plans.codegen_compiles"], 7)
        self.assertEqual(layers["exec.jobs"], 2)
        self.assertEqual(set(layers), set(metrics.LAYER_NAMES))

    def test_end_to_end(self):
        e2e, extra = metrics.end_to_end(dict(_record(), peak_rss_mb=512.0), [3.0, 1.0, 2.0])
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["cold_pass_s"], 1.0)
        self.assertEqual(e2e["warm_pass_s"], 1.0)
        self.assertEqual(extra, {"peak_rss_mb": 512.0, "query_samples": 1,
                                 "samples_beyond_p90": 0})


if __name__ == "__main__":
    unittest.main()
