#!/usr/bin/env python3
"""Tests of the benchmark's own pieces: the seeded graph generator and
the metric names. Run from the root of a checkout:

    python3 perfbench/test_gen.py
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def generate(seed, n_kinds=200, n_nodes=3000):
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix="gen_test_", dir=target) as d:
        expect = gen.write_inputs(d, seed, n_kinds, n_nodes, [0, 1], 40)
        files = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                files[name] = f.read()
    return expect, files


def lines(data):
    return set(data.decode().splitlines())


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.a = generate(11)
        cls.b = generate(11)
        cls.c = generate(12)

    def test_same_seed_is_byte_identical(self):
        self.assertEqual(self.a[1], self.b[1])
        self.assertEqual(self.a[0]["counts"], self.b[0]["counts"])

    def test_other_seed_changes_rows_and_edges_not_kinds(self):
        (ea, fa), (ec, fc) = self.a, self.c
        self.assertEqual(fa["model.json"], fc["model.json"])
        kinds = [k["fqn"] for k in json.loads(fa["model.json"])["kinds"]
                 if k["aggregate_root"]]
        self.assertEqual(len(kinds), 200)
        nodes_a = {ln for ln in lines(fa["g0.ndjson"]) if '"bench_kind' in ln}
        nodes_c = {ln for ln in lines(fc["g0.ndjson"]) if '"bench_kind' in ln}
        self.assertFalse(nodes_a & nodes_c)
        edges_a = {ln for ln in lines(fa["g0.ndjson"]) if '"from":"n' in ln}
        edges_c = {ln for ln in lines(fc["g0.ndjson"]) if '"from":"n' in ln}
        self.assertTrue(edges_a and edges_c)
        self.assertFalse(edges_a & edges_c)
        self.assertEqual(set(ea["counts"]["0"]), set(ec["counts"]["0"]))
        self.assertNotEqual(ea["counts"]["0"], ec["counts"]["0"])

    def test_counts_match_the_ndjson(self):
        expect, files = self.a
        for g in ("0", "1"):
            data = files[f"g{g}.ndjson"].decode().splitlines()
            self.assertEqual(expect["envelopes"][g], len(data))
            per_kind = {}
            for ln in data:
                env = json.loads(ln)
                if env["type"] == "node":
                    k = env["reported"]["kind"]
                    per_kind[k] = per_kind.get(k, 0) + 1
            for k, n in expect["counts"][g].items():
                if not k.startswith("link_"):
                    self.assertEqual(per_kind.get(k, 0), n, k)
        self.assertTrue(expect["empty_link_tables"])
        for t in expect["empty_link_tables"]:
            self.assertEqual(expect["counts"]["0"][t], 0)

    def test_generations_answer_differently(self):
        reads = json.loads(self.a[1]["reads.json"])
        self.assertEqual(len(reads), 40)
        differ = sum(r["expect"]["0"] != r["expect"]["1"] for r in reads)
        self.assertGreater(differ, len(reads) // 2)


def scala_source(name):
    with open(os.path.join(HERE, "src", "main", "scala", "perfbench",
                           name)) as f:
        return f.read()


class MetricNamesTest(unittest.TestCase):

    def test_benchmark_metric_names_and_units(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)

    def test_harness_emits_every_declared_end_to_end_metric(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            declared = {m["name"]: m["unit"]
                        for m in json.load(f)["end_to_end"]}
        emitted = {}
        for src in ("SyncBench.scala", "GateBench.scala"):
            emitted.update(re.findall(
                r'metric\("([^"]+)",[^\n]*?"([^"]+)"\)', scala_source(src)))
        with open(os.path.join(HERE, "run.py")) as f:
            emitted.update(re.findall(
                r'metrics\["([^"]+)"\] = \{"value": [^,]+,\s*"unit": "([^"]+)"',
                f.read()))
        for name, unit in emitted.items():
            self.assertRegex(name, NAME)
            self.assertRegex(unit, UNIT)
        for name, unit in declared.items():
            self.assertEqual(emitted.get(name), unit, name)

    def test_harness_emits_exactly_the_declared_per_layer_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            declared = {m["name"]: m["unit"]
                        for m in json.load(f)["per_layer"]}
        text = scala_source("Layers.scala")
        emitted = dict(re.findall(r'"([a-z_.]+)" -> "([A-Za-z%]+)"', text))
        for mod in re.findall(r'"(core|fn|graph|snapshot|pipeline|extra|'
                              r'stream|text|vector)"', text):
            emitted[f"queries.{mod}.wall_s"] = "s"
        for layer in ("sources", "sync", "tables", "queries"):
            emitted[f"spark.jobs.{layer}"] = "count"
            emitted[f"self.{layer}_s"] = "s"
        emitted["self.harness_s"] = "s"
        self.assertEqual(emitted, declared)


if __name__ == "__main__":
    unittest.main()
