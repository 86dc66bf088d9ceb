"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import plans  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 90), 90)
        self.assertEqual(run.percentile(xs, 100), 100)
        self.assertEqual(run.percentile([7.0], 50), 7.0)
        # order of the samples does not matter
        self.assertEqual(run.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(run.percentile([3, 1, 2, 4], 75), 3)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(10))
        self.assertEqual(run.tail_percentile(200), 95)
        self.assertEqual(run.tail_percentile(1000), 99)
        for n in (11, 40, 137, 200):
            p = run.tail_percentile(n)
            beyond = n - int(-(-p * n // 100))
            self.assertGreaterEqual(beyond, 10)

    def test_geomean(self):
        self.assertAlmostEqual(run.geomean([1.0, 100.0]), 10.0)


def _tree_digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            if f == "plan.json":
                # paths inside the plan name the output directory
                plan = json.load(open(p))
                h.update(json.dumps(plan, sort_keys=True)
                         .replace(root, "<root>").encode())
            else:
                h.update(open(p, "rb").read())
    return h.hexdigest()


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for workload in ("serve_mixed", "suite_ingest"):
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                plans.make(workload, 7, a)
                plans.make(workload, 7, b)
                self.assertEqual(_tree_digest(a).replace(a, ""),
                                 _tree_digest(b).replace(b, ""), workload)

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(plans.serve_bodies(1), plans.serve_bodies(2))
        self.assertEqual([b["key"] for b in plans.serve_bodies(1)],
                         [b["key"] for b in plans.serve_bodies(2)])
        seq = plans.serve_sequence(4, 8)
        self.assertEqual({seq.count(i) for i in range(8)}, {len(seq) // 8})

    def test_ingest_plan_keeps_takedowns_apart_from_planted_sources(self):
        batches = plans.ingest_plan(3, 500, 500)
        removed_docs = {d for b in batches for d in b["takedown_docs"]}
        removed_vecs = {v for b in batches for v in b["takedown_vecs"]}
        for b in batches:
            self.assertTrue(removed_docs.isdisjoint(s for _, s in b["planted_docs"]))
            self.assertTrue(removed_vecs.isdisjoint(s for _, s in b["planted_vecs"]))

    def test_corpus_schema(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_corpus(d, 1, 0.001)
            import pyarrow.parquet as pq
            docs = pq.read_table(os.path.join(d, "documents.parquet"))
            self.assertEqual(docs.column_names,
                             ["doc_id", "text", "lang", "source", "n_chars"])
            self.assertEqual(docs.num_rows, 500)
            ev = pq.read_table(os.path.join(d, "events.parquet"))
            self.assertEqual(str(ev.schema.field("ts").type), "timestamp[us]")


class DigestNormalization(unittest.TestCase):
    def test_cells(self):
        c = oracle.canon_cell
        self.assertEqual(c(None), "NULL")
        self.assertEqual(c(float("nan")), "NULL")
        self.assertEqual(c(3.0), "3")
        self.assertEqual(c(0.1 + 0.2), "0.3")
        self.assertEqual(c(-0.0000001), "0")
        self.assertEqual(c(1.23456789), "1.234568")
        self.assertEqual(c(b"\x01\xff"), "01ff")
        self.assertEqual(c([1.0, None, "a"]), "[1,NULL,a]")
        self.assertEqual(c(True), "true")
        self.assertEqual(c(datetime.datetime(2024, 1, 2, 3, 4, 5)),
                         "2024-01-02 03:04:05")

    def test_digest_ignores_row_and_column_order(self):
        a = oracle.digest(["x", "y"], [(1, "a"), (2, "b")])
        b = oracle.digest(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[1], 2)

    def test_digest_sees_values_names_and_duplicates(self):
        base = oracle.digest(["x"], [(1,), (2,)])
        self.assertNotEqual(base, oracle.digest(["x"], [(1,), (3,)]))
        self.assertNotEqual(base, oracle.digest(["z"], [(1,), (2,)]))
        self.assertNotEqual(base, oracle.digest(["x"], [(1,), (2,), (2,)]))

    def test_float_noise_below_six_decimals_is_equal(self):
        self.assertEqual(oracle.digest(["v"], [(0.30000000000000004,)]),
                         oracle.digest(["v"], [(0.3,)]))


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in bench["per_layer"]], layers.PER_LAYER)
        raw = {"ops_ms": [1.0, 2.0], "window_s": 1.0, "setup_s": [1.0],
               "window_ops": 2, "window_cpu_ms": 3.0,
               "info": {"peak_rss_mb": 1.0}}
        e2e = run.end_to_end(raw)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
