#!/usr/bin/env python3
"""Tests of the benchmark itself, on tiny inputs (sf0.001, a 1,200-vertex
link graph). Each JVM run takes well under a minute.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

TINY = ["--seconds", "0.1", "--sf", "sf0.001", "--cycles", "200"]


def bench(workload, trace, *extra):
    """Run the benchmark; return (last-line JSON, kept result with spans)."""
    with tempfile.TemporaryDirectory() as tmp:
        keep = os.path.join(tmp, "result.json")
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--trace", str(trace), "--keep", keep, *TINY, *extra],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-4000:]}")
        out = p.stdout
        with open(keep) as f:
            kept = json.load(f)
    return json.loads(out.strip().splitlines()[-1]), kept


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs_are_counted_once(self):
        # two overlapping jobs and one outside the span: busy 0-30 and 40-50
        jobs = [(0, 20), (10, 30), (40, 50), (90, 120)]
        self.assertEqual(run.union_ms(jobs, 0, 60), 40)
        span = {"id": "s", "parent": "p", "start_ms": 0, "end_ms": 60, "jobs": jobs}
        row = run.span_table([span])[0]
        self.assertAlmostEqual(row["driver_gap_s"], 0.020)

    def test_self_time_leaves_out_children(self):
        parent = {"id": "p", "parent": "run", "start_ms": 0, "end_ms": 100, "jobs": []}
        kids = [{"id": f"c{i}", "parent": "p", "start_ms": a, "end_ms": b, "jobs": []}
                for i, (a, b) in enumerate([(10, 40), (30, 70)])]
        rows = {r["id"]: r for r in run.span_table([parent] + kids)}
        self.assertAlmostEqual(rows["p"]["self_s"], 0.040)


class BenchTest(unittest.TestCase):
    def assert_metrics(self, line, spec_key):
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        self.assertEqual(got, want)
        for v in line["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_every_end_to_end_metric_is_printed_with_its_unit(self):
        for w in (x["name"] for x in SPEC["workloads"]):
            with self.subTest(workload=w):
                line, _ = bench(w, 0, "--queries", "q_agg")
                self.assert_metrics(line, "end_to_end")
                self.assertTrue(line["correct"])
                self.assertGreaterEqual(line["attempted"], 2)
                self.assertEqual(line["failed"], 0)

    def test_traced_run_prints_every_layer_metric_and_nests_spans(self):
        line, kept = bench("sf-pipeline", 1, "--queries", "q_agg,q_catalog_scan,q_text_quality")
        self.assert_metrics(line, "per_layer")
        self.assertTrue(line["correct"])
        # the overhead compares untraced and traced passes in pairs
        self.assertGreaterEqual(len(kept["passes"]), 2)
        self.assertEqual(len(kept["passes"]), len(kept["untraced"]))
        spans = {s["id"]: s for s in kept["spans"]}
        ops = [s for s in spans.values() if s["group"] not in ("pass", "setup")]
        self.assertTrue(ops)
        for s in ops:
            if s["phase"] == "setup":
                continue
            parent = spans[s["parent"]]
            self.assertEqual(parent["group"], "pass")
            self.assertEqual(parent["phase"], s["phase"])
            self.assertLessEqual(parent["start_ms"], s["start_ms"])
            self.assertLessEqual(s["end_ms"], parent["end_ms"])
            self.assertTrue(s["jobs"], f"{s['name']} ran no attributed job")
        timed = {s["group"] for s in ops if s["phase"] == "timed"}
        self.assertEqual(timed, {"entry.sql", "sources.TableCatalog", "functions.TextAnalysis"})
        m = line["metrics"]
        self.assertGreater(m["sources.TableCatalog.jobs"]["value"], 0)
        self.assertEqual(m["operators.Scc.wall_s"]["value"], 0)

    def test_injected_wrong_output_counts_as_failed(self):
        for w, op in (("sf-pipeline", "q_agg"), ("linkgraph", "scc")):
            with self.subTest(workload=w):
                queries = ["--queries", op] if w != "linkgraph" else []
                line, kept = bench(w, 1, "--inject-fault", op, *queries)
                self.assertFalse(line["correct"])
                self.assertEqual(line["failed"], 1)
                self.assertEqual([c["op"] for c in kept["checks"] if not c["ok"]], [op])
        # the traced linkgraph run calls operators and sources, no pipeline layer
        timed = {s["group"] for s in kept["spans"] if s["phase"] == "timed"}
        self.assertEqual(timed, {"pass", "operators.Scc", "operators.PageRank", "operators.Wcc",
                                 "operators.Triangles", "operators.Degrees",
                                 "operators.LabelProp", "sources.CodeTable"})
        self.assertTrue(any(s["group"] == "sources.GraphGen" for s in kept["spans"]))


if __name__ == "__main__":
    unittest.main(verbosity=2)
