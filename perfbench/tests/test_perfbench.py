"""Tests of the benchmark's own code (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import gen_dump  # noqa: E402
import gen_tables  # noqa: E402


def tree_digest(path):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def check(self, make):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            make(a, 1)
            make(b, 1)
            make(c, 2)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_dump(self):
        self.check(lambda p, seed: gen_dump.generate(p, 150, seed))

    def test_tables(self):
        self.check(lambda p, seed: gen_tables.generate(p, 0.001, seed))

    def test_dump_manifest_counts(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen_dump.generate(d, 250, 5)
            self.assertEqual(m["pages"], 250)
            self.assertEqual(m["bz2_streams"], 3)
            self.assertEqual(m["sha1_mismatches"], max(1, m["revisions"] // 100))
            self.assertEqual(sum(m["pages_by_ns"].values()), 250)

    def test_documents_shares(self):
        import numpy as np
        _, truth = gen_tables.make_documents(np.random.default_rng(3), 2000)
        copies = sum(len(g) - 1 for g in truth["exact_groups"])
        self.assertEqual(copies, 600)
        self.assertEqual(len(truth["near_pairs"]), 100)
        self.assertEqual(len(truth["low_quality"]), 100)
        ids = [d for g in truth["exact_groups"] for d in g] + \
            [d for p in truth["near_pairs"] for d in p] + truth["low_quality"]
        self.assertEqual(len(ids), len(set(ids)))


class MetricNames(unittest.TestCase):
    def test_names_and_units(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        self.assertEqual(len(names), len(set(names)))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("lower", "higher"))
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])

    def test_harness_names_are_valid(self):
        """Every metric name the harness can emit, literal or built from a
        query, family or memo tag, is a valid metric name."""
        src = ""
        for name in os.listdir(os.path.join(BENCH, "harness")):
            with open(os.path.join(BENCH, "harness", name)) as f:
                src += f.read()
        with open(os.path.join(BENCH, "query_mix.json")) as f:
            queries = json.load(f)["queries"]
        literal = re.findall(r'(?:layers|e2e|L)\("([^"$]+)"\)', src)
        built = [f"query.{q}.warm_s" for q in queries] + [f"query.{q}.jobs" for q in queries]
        self.assertTrue(literal)
        for n in literal + built:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class CompareVerdicts(unittest.TestCase):
    SPEC = {"end_to_end": [
        {"name": "latency_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "throughput_per_s", "unit": "1/s", "better": "higher", "bound": 0.1}]}

    def runs(self, latencies):
        return {("w", str(i)): {"latency_s": v, "throughput_per_s": 1.0 / v}
                for i, v in enumerate(latencies)}

    def verdicts(self, parent, change):
        rows = compare.compare(self.runs(parent), self.runs(change), self.SPEC)
        return {r[1]: r[-1] for r in rows}

    def test_improved(self):
        parent = [1.00, 1.01, 0.99, 1.02, 1.00, 0.98, 1.01, 1.00, 0.99, 1.02]
        change = [x * 0.8 for x in parent]
        self.assertEqual(self.verdicts(parent, change),
                         {"latency_s": "improved", "throughput_per_s": "improved"})

    def test_worse(self):
        parent = [1.00, 1.01, 0.99, 1.02, 1.00, 0.98, 1.01, 1.00, 0.99, 1.02]
        change = [x * 1.3 for x in parent]
        self.assertEqual(self.verdicts(parent, change),
                         {"latency_s": "worse", "throughput_per_s": "worse"})

    def test_unchanged(self):
        parent = [1.00, 1.01, 0.99, 1.02, 1.00, 0.98, 1.01, 1.00, 0.99, 1.02]
        change = [1.01, 1.00, 1.00, 0.99, 1.02, 1.01, 0.98, 1.00, 1.01, 1.00]
        self.assertEqual(self.verdicts(parent, change)["latency_s"], "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 0.9, 1.1, 1.0, 1.0]
        change = [1.05, 0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 0.9, 1.1, 1.0]
        self.assertEqual(self.verdicts(parent, change)["latency_s"], "unresolved")

    def test_a_small_win_is_not_a_gain(self):
        """Medians closer than the parent's own spread: no gain claimed."""
        parent = [1.00, 1.04, 0.96, 1.03, 0.97, 1.02, 0.98, 1.01, 0.99, 1.00]
        change = [x - 0.01 for x in parent]
        self.assertEqual(self.verdicts(parent, change)["latency_s"], "unchanged")


if __name__ == "__main__":
    unittest.main()
