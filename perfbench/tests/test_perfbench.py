"""Tests of the benchmark's own parts that need no JVM: seeded generators,
output checks, percentile rule and BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAMES = ["dedup_a", "dedup_b", "dedup_c", "dedup_d", "dedup_e", "kg_a", "kg_b",
         "graph_x", "ts_1", "ts_2", "ts_3", "ts_4", "ts_5", "ts_6"]


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def inputs(workload, seed, scale=0.05):
    with tempfile.TemporaryDirectory() as d:
        gen.make_inputs(workload, seed, 2, d, NAMES, scale=scale, registry=True)
        return tree_digest(d)


class GeneratorsTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = inputs(w, 7), inputs(w, 7), inputs(w, 8)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_crawl_manifest_counts(self):
        pages, clusters = gen.crawl(3, 400)
        m = gen.crawl_manifest(pages, clusters)
        self.assertEqual(m["pages"], 400)
        self.assertEqual(sum(m["pages_per_site"].values()), 400)
        self.assertGreater(m["near_dup_clusters"], 0)
        self.assertEqual(m["survivors"], 400 - m["near_dup_pages"] + m["near_dup_clusters"])
        self.assertEqual(m["kg_rows_per_field"]["title"], m["survivors"])

    def test_registry_sample_covers_every_stratum(self):
        picks = gen.registry_sample(1, NAMES)
        self.assertEqual(sorted(p["family"] for p in picks), ["dedup", "misc", "ts"])


def kg_store(dir_, pages, drop=0):
    """A KG store as a correct extraction would write it, minus `drop` rows."""
    rows = []
    for p in pages:
        for f, n in gen.kg_rows(p).items():
            rows += [{"doc_id": str(p["doc_id"]), "field": f, "value": f"v{i}"} for i in range(n)]
    rows = rows[drop:]
    for f in gen.FIELDS:
        part = [r for r in rows if r["field"] == f]
        if part:
            os.makedirs(os.path.join(dir_, f"field={f}"))
            pq.write_table(pa.Table.from_pylist([{"doc_id": r["doc_id"], "value": r["value"]} for r in part]),
                           os.path.join(dir_, f"field={f}", "part-0.parquet"))


class ChecksTest(unittest.TestCase):
    def test_ingest_check_rejects_a_dropped_kg_row(self):
        pages, clusters = gen.crawl(5, 200)
        losers = {i for c in clusters for i in c if i != min(c)}
        survivors = [p for p in pages if p["doc_id"] not in losers]
        man = {"s.jsonl": gen.crawl_manifest(pages, clusters)}
        with tempfile.TemporaryDirectory() as d:
            good, bad = os.path.join(d, "good"), os.path.join(d, "bad")
            kg_store(good, survivors)
            kg_store(bad, survivors, drop=1)
            self.assertEqual(check.ingest([{"shard": "s.jsonl", "store": good, "ok": True}], man), [])
            self.assertEqual(len(check.ingest([{"shard": "s.jsonl", "store": bad, "ok": True}], man)), 1)

    def test_search_check_rejects_a_dropped_hit(self):
        pages, _ = gen.crawl(6, 300, dup_share=0.0)
        queries = gen.query_mix(6, 40)
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "batch-00000.parquet")
            gen.write_parquet(path, pages)
            con = check._pages_db([path])
            q = next(q for q in queries if len(con.sql(check._search_sql(q)).fetchall()) > 1)
            hits = [list(r) for r in con.sql(check._search_sql(q)).fetchall()]
            facets = con.sql(check._facets_sql([h[0] for h in hits])).fetchall()
            good = {"id": q["id"], "hits": hits, "facets": [list(f) for f in facets]}
            bad = copy.deepcopy(good)
            bad["hits"].pop()
            self.assertEqual(check.search([good], queries, [path]), [])
            self.assertEqual(len(check.search([bad], queries, [path])), 1)

    def test_refresh_check_rejects_a_batch_committed_twice(self):
        sched = gen.refresh_schedule(2, 3, 250, 10, 20)
        with tempfile.TemporaryDirectory() as d:
            man = gen.refresh_batches(2, sched, os.path.join(d, "b"))
            batches = [gen.crawl(2, b["pages"], 0.0, b["id_base"])[0] for b in sched]
            kg_store(os.path.join(d, "store"), [p for b in batches for p in b])
            files = [f"batch-{i:05d}.parquet" for i in range(3)]
            ok = {"store": os.path.join(d, "store"), "committed": files}
            self.assertEqual(check.refresh(ok, man["per_batch"], files[1:]), [])
            # planned twice by the source log
            twice = dict(ok, committed=files + files[2:])
            self.assertEqual(len(check.refresh(twice, man["per_batch"], files[1:])), 1)
            # written twice into the store
            kg_store(os.path.join(d, "store2"), [p for b in batches + batches[2:] for p in b])
            rows_twice = dict(ok, store=os.path.join(d, "store2"))
            self.assertEqual(len(check.refresh(rows_twice, man["per_batch"], files[1:])), 1)

    def test_registry_check_rejects_a_dropped_row(self):
        sql = "SELECT o_orderstatus AS status, count(*) AS n FROM orders GROUP BY 1"
        with tempfile.TemporaryDirectory() as d:
            corpus = os.path.join(d, "corpus")
            gen.registry_corpus(4, corpus, scale=0.05)
            con = duckdb.connect()
            con.sql(f"CREATE VIEW orders AS SELECT * FROM '{corpus}/orders.parquet'")
            table = con.sql(sql).arrow()
            for name, t in (("good", table), ("bad", table.slice(1))):
                os.makedirs(os.path.join(d, "out", "registry", name))
                pq.write_table(t, os.path.join(d, "out", "registry", name, "part-0.parquet"))
            checked = [{"name": "good", "sql": sql}]
            self.assertEqual(check.registry(checked, os.path.join(d, "out"), corpus), [])
            checked = [{"name": "bad", "sql": sql}]
            self.assertEqual(len(check.registry(checked, os.path.join(d, "out"), corpus)), 1)


class SpecTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_and_units(self):
        metrics = self.spec["end_to_end"] + self.spec["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in metrics:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("lower", "higher"))
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in self.spec["end_to_end"])}])
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], gen.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)

    def test_percentile_metrics_have_ten_samples_beyond(self):
        pct = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]
               if re.search(r"_p\d+_", m["name"])]
        self.assertTrue(pct)
        for name in pct:
            q = int(re.search(r"_p(\d+)_", name).group(1))
            need = next(n for n in range(1, 10**5) if n * (1 - q / 100) >= 10)
            self.assertIsNone(run.percentile([1.0] * (need - 1), q))
            self.assertIsNotNone(run.percentile([1.0] * need, q))


if __name__ == "__main__":
    unittest.main()
