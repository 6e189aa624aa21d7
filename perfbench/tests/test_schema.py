"""BENCHMARK.json schema, the layer map, the engine-definition check and
the seeded bulk input.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import layers  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.b = load()

    def test_top_level_keys_and_command(self):
        self.assertEqual(set(self.b), {"command", "paths", "run_seconds", "workloads",
                                       "end_to_end", "per_layer"})
        self.assertEqual(self.b["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(self.b["paths"], ["perfbench"])
        self.assertIsInstance(self.b["run_seconds"], int)
        self.assertTrue(1 <= self.b["run_seconds"] <= 60)

    def test_workloads_exist_with_one_line_reasons(self):
        ws = self.b["workloads"]
        self.assertTrue(2 <= len(ws) <= 8)
        for w in ws:
            self.assertEqual(set(w), {"name", "why"})
            self.assertIn(w["name"], WORKLOADS)
            self.assertEqual(w["why"], WORKLOADS[w["name"]]["why"])
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"])

    def test_metric_names_units_and_directions(self):
        names = []
        for group, keys in (("end_to_end", {"name", "unit", "better", "bound"}),
                            ("per_layer", {"name", "unit", "better"})):
            for m in self.b[group]:
                self.assertEqual(set(m), keys, m)
                self.assertRegex(m["name"], NAME)
                self.assertRegex(m["unit"], UNIT)
                self.assertEqual(m["unit"], metrics.unit(m["name"]), m["name"])
                self.assertIn(m["better"], ("higher", "lower"))
                names.append(m["name"])
        self.assertEqual(len(names), len(set(names)))

    def test_end_to_end_matches_what_the_runner_reports(self):
        e2e = {m["name"]: m for m in self.b["end_to_end"]}
        record = {"passes": [{"pass": 0}, {"pass": 1}], "peak_rss_mb": 1.0,
                  "queries": [{"pass": p, "wall_s": 1.0} for p in (0, 1)]}
        reported, extra = metrics.end_to_end(record, [1.0])
        self.assertEqual(set(e2e), set(reported))
        self.assertIn("peak_rss_mb", extra)
        self.assertFalse(set(e2e) & set(metrics.REPORTED_ONLY))
        for m in e2e.values():
            self.assertTrue(0 < m["bound"] <= 0.25)
            self.assertEqual(m["better"], "lower")
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_per_layer_matches_the_layer_names(self):
        self.assertEqual([m["name"] for m in self.b["per_layer"]], metrics.LAYER_NAMES)
        better = {m["name"]: m["better"] for m in self.b["per_layer"]}
        self.assertEqual(better["exec.core_util"], "higher")


class LayerMap(unittest.TestCase):
    def test_every_layer_metric_maps_to_an_end_to_end_metric_and_workloads(self):
        b = load()
        e2e = {m["name"] for m in b["end_to_end"]} | set(metrics.REPORTED_ONLY)
        mapped = [n for entry in layers.LAYER_MAP for n in entry["metrics"]]
        self.assertEqual(sorted(mapped), sorted(metrics.LAYER_NAMES))
        for entry in layers.LAYER_MAP:
            self.assertTrue(entry["moves"] and set(entry["moves"]) <= e2e, entry)
            self.assertTrue(entry["on"])
            for w in entry["on"] + entry["not_on"]:
                self.assertIn(w, WORKLOADS)
            self.assertFalse(set(entry["on"]) & set(entry["not_on"]))

    def test_every_listed_workload_measures_some_layer(self):
        on = {w for entry in layers.LAYER_MAP for w in entry["on"]}
        for w in load()["workloads"]:
            self.assertIn(w["name"], on)


class EngineDefinition(unittest.TestCase):
    def test_harness_session_block_equals_bench(self):
        """The harness copies Bench.scala's session conf; the two must agree."""
        bench = run.bench_conf(ROOT)
        harness_src = os.path.join(BENCH_DIR, "harness", "src", "main", "scala",
                                   "perfbench", "Harness.scala")
        with open(harness_src) as fh:
            self.assertEqual(run.config_pairs(fh.read()), bench)
        self.assertIn("spark.sql.codegen.cache.maxEntries", bench)

    def test_check_conf_flags_differences(self):
        bench = run.bench_conf(ROOT)
        conf = {k: ("4" if v is None else v) for k, v in bench.items()}
        conf.update({"spark.master": "local[4]", "spark.app.id": "local-1",
                     "spark.ui.enabled": "false"})
        self.assertEqual(run.check_conf(ROOT, conf, 4), [])
        conf["spark.sql.shuffle.partitions"] = "8"
        conf["spark.sql.adaptive.enabled"] = "false"
        problems = run.check_conf(ROOT, conf, 4)
        self.assertEqual(len(problems), 2, problems)


class OutputChecks(unittest.TestCase):
    def test_unstable_or_empty_outputs_are_flagged(self):
        q = lambda key, rows, h=None, ok=True: {"key": key, "rows": rows, "hash": h, "ok": ok}
        record = {"oracle_keys": ["a"], "queries": [
            q("a", 5), q("a", 5), q("b", 2, "x"), q("b", 2, "y"),
            q("c", 0, "z"), q("d", 3, "w"), q("d", -1, ok=False)]}
        self.assertEqual(run.output_checks(record), {"b", "c"})


class BulkInput(unittest.TestCase):
    def test_blow_up_offsets_keys_and_is_seeded(self):
        import pyarrow as pa
        import inputs
        base = {n: pa.table({k: pa.array(range(5), pa.int64()), "v": list("abcde")})
                for n, k in inputs.FACT_KEYS.items()}
        base["region"] = pa.table({"r_regionkey": pa.array([0, 1], pa.int32())})
        a = inputs.blow_up(base, 3, seed=7)
        b = inputs.blow_up(base, 3, seed=7)
        c = inputs.blow_up(base, 3, seed=8)
        self.assertEqual(a["region"].num_rows, 2)
        keys = sorted(a["orders"]["o_orderkey"].to_pylist())
        self.assertEqual(keys, sorted(c * inputs.OFFSET + i for c in range(3) for i in range(5)))
        self.assertTrue(a["orders"].equals(b["orders"]))
        self.assertFalse(a["orders"].equals(c["orders"]))


if __name__ == "__main__":
    unittest.main()
