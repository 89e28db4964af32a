"""Tests of the benchmark's own pieces (no JVM needed).

Run: python3 -m unittest perfbench/test_perfbench.py   (from the repo root)
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkFileTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_keys_and_limits(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int))
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= len(b["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"]] + \
            [m["name"] for m in b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_workloads_have_configs(self):
        cfg = run.load_json("config.json")
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], cfg)

    def test_battery_list_has_expected_hashes_and_families(self):
        cfg = run.load_json("config.json")
        expected = run.load_json("expected.json")["hashes"]
        names = cfg["battery"]["queries"]
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([n for n in names if n not in expected], [])
        families = {n.split("_")[1] for n in names if n.startswith("q_")}
        for f in ["agg", "dedup", "ann", "fn", "text", "funnel", "join", "win", "filter",
                  "ts", "geo", "gapfill", "upsert", "clp"]:
            self.assertIn(f, families)


class ContractLineTest(unittest.TestCase):
    def test_exact_keys_and_metric_set(self):
        bench = {"end_to_end": [{"name": "p50_ms", "unit": "ms"}, {"name": "setup_s", "unit": "s"}],
                 "per_layer": [{"name": "exec.jobs", "unit": "count"}]}
        record = {"trace": 0, "correct": True, "attempted": 3, "failed": 0,
                  "end_to_end": {"p50_ms": {"value": 1.5, "unit": "ms"},
                                 "setup_s": {"value": 2.0, "unit": "s"},
                                 "fail_frac": {"value": 0.0, "unit": "ratio"}},
                  "per_layer": {}}
        line = run.contract_line(record, bench)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), {"p50_ms", "setup_s"})
        record["trace"] = 1
        self.assertEqual(set(run.contract_line(record, bench)["metrics"]), {"exec.jobs"})


class UpsertTrafficTest(unittest.TestCase):
    def test_derived_from_capacity(self):
        c = {"capacity_rows_per_s": 40000, "live_load_share": 0.1, "drain_s": 1.0,
             "keys": 1500, "zipf": 0.99, "readers": 2}
        t = run.upsert_traffic(c, 10)
        self.assertEqual(t["rate"], 4000)
        self.assertEqual(t["warmup_records"], 4000)
        self.assertEqual(t["backlog"], 40000)
        self.assertEqual(t["live_seconds"], 9.0)
        self.assertEqual(run.upsert_traffic(c, 1)["live_seconds"], 1.0)

    def test_configured_traffic_fits_a_tick(self):
        c = run.load_json("config.json")["upsert"]
        t = run.upsert_traffic(c, 10)
        self.assertEqual(t["rate"] * 20 % 1000, 0)  # whole records per 20 ms tick
        self.assertLess(c["live_load_share"], 1.0)


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(inputs.read_inputs(5, 30), inputs.read_inputs(5, 30))
        self.assertNotEqual(inputs.read_inputs(5, 30)[0], inputs.read_inputs(6, 30)[0])

    def test_balanced_mix_and_every_template_warmed(self):
        reads, warmup = inputs.read_inputs(1, 48)
        self.assertEqual(len(reads), 48)
        for k in range(6, 49, 6):  # every whole round holds each template once
            self.assertEqual(len({r["template"] for r in reads[k - 6:k]}), 6)
        self.assertEqual(sorted(w["template"] for w in warmup), sorted(inputs.TEMPLATES))

    def test_rows_equal(self):
        self.assertTrue(inputs.rows_equal([["a", 1, 2.0]], [("a", 1, 2.0000000000001)]))
        self.assertFalse(inputs.rows_equal([["a", 1]], [("b", 1)]))
        self.assertFalse(inputs.rows_equal([["a", 1]], [("a", 2)]))
        self.assertFalse(inputs.rows_equal([["a", 1]], []))
        self.assertFalse(inputs.rows_equal([["1", 1]], [(1, 1)]))


class DataTest(unittest.TestCase):
    def test_tables_are_deterministic(self):
        import numpy as np
        a = gen_data.tables(np.random.default_rng(gen_data.DATA_SEED))
        b = gen_data.tables(np.random.default_rng(gen_data.DATA_SEED))
        self.assertEqual(sorted(a), sorted(["region", "nation", "customer", "supplier", "part",
                                            "orders", "lineitem", "events", "documents",
                                            "embeddings"]))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertEqual(a["lineitem"].num_rows, 600000)

    def test_generate_writes_once(self):
        with tempfile.TemporaryDirectory() as d:
            gen_data.generate(d)
            stamp = os.path.getmtime(os.path.join(d, "lineitem.parquet"))
            gen_data.generate(d)
            self.assertEqual(stamp, os.path.getmtime(os.path.join(d, "lineitem.parquet")))


if __name__ == "__main__":
    unittest.main()
