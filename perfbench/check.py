"""Output checks. Each function returns a list of failure messages (empty
when every output is right); each message counts as one failed operation.
The oracles run in DuckDB over the generated inputs, after the timed run.
"""
import glob
import json
import math
import os

import duckdb

import gen


def _store_counts(con, store):
    files = glob.glob(os.path.join(store, "**", "*.parquet"), recursive=True)
    if not files:
        return None, {}
    src = f"read_parquet({files!r}, hive_partitioning = true)"
    docs = con.sql(f"SELECT count(DISTINCT doc_id) FROM {src}").fetchone()[0]
    rows = dict(con.sql(f"SELECT field, count(*) FROM {src} GROUP BY field").fetchall())
    return docs, {f: rows.get(f, 0) for f in gen.FIELDS}


def ingest(ops, manifests):
    """Each op's KG store holds the manifest's survivors and rows per field."""
    con = duckdb.connect()
    bad = []
    for op in ops:
        if not op["ok"]:
            continue
        want = manifests[op["shard"]]
        docs, rows = _store_counts(con, op["store"])
        if docs != want["survivors"] or rows != want["kg_rows_per_field"]:
            bad.append(f"ingest {op['store']}: docs {docs} rows {rows}, "
                       f"manifest {want['survivors']} {want['kg_rows_per_field']}")
    return bad


def _pages_db(page_files):
    """DuckDB tables over the pages: `docs` (visible text), `tk` (tokens)
    and `kg` (the glossary facts a correct extraction finds)."""
    con = duckdb.connect()
    con.sql(f"""CREATE TABLE docs AS SELECT doc_id, site,
        trim(regexp_replace(raw_content, '<[^>]*>', ' ', 'g')) AS text
        FROM read_parquet({page_files!r})""")
    con.sql("""CREATE TABLE tk AS SELECT doc_id, site,
        regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM docs""")
    selects = []
    for field, entries in gen.GLOSSARIES.items():
        sites = [s for s, fs in gen.SITES.items() if field in fs]
        grams = ("list_concat(toks, list_transform(range(1, len(toks)), "
                 "i -> toks[i] || ' ' || toks[i + 1]))")
        selects.append(f"""SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id, '{field}' AS field, g AS key
            FROM (SELECT doc_id, unnest({grams}) AS g FROM tk WHERE site IN {tuple(sites)!r})
            WHERE g IN {tuple(entries)!r}""")
    con.sql("CREATE TABLE kg AS " + " UNION ALL ".join(selects))
    return con


def _search_sql(q):
    """The request's top 20 hits: docs matching every constraint, scored by
    the catalog's field weights (KgPipeline.kgSearchSql pattern)."""
    weights = {"country": 10.0, "product": 5.0, "topic": 3.0}
    legs = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS cid, {weights[t]} AS w FROM kg "
        f"WHERE field = '{t}' AND key = '{v.lower().strip()}'"
        for i, (t, v) in enumerate(q["constraints"]))
    return f"""SELECT doc_id, sum(w) AS score, count(DISTINCT cid) AS matched
        FROM ({legs}) GROUP BY doc_id HAVING count(DISTINCT cid) = {len(q['constraints'])}
        ORDER BY score DESC, doc_id LIMIT 20"""


def _facets_sql(ids):
    return f"""SELECT field, key, cnt, rank FROM (
        SELECT field, key, cnt, row_number() OVER (PARTITION BY field ORDER BY cnt DESC, key) AS rank
        FROM (SELECT field, key, count(*) AS cnt FROM kg
              WHERE doc_id IN {tuple(ids) + ('',)!r} AND field IN ('country', 'product', 'topic')
              GROUP BY field, key)) WHERE rank <= 5"""


def search(samples, queries, page_files):
    """Sampled requests against the oracle over the pages they searched:
    the same hits in the same order, and the same facets."""
    if not samples:
        return []
    con = _pages_db(page_files)
    bad = []
    for s in samples:
        q = queries[s["id"]]
        hits = [list(r) for r in con.sql(_search_sql(q)).fetchall()]
        facets = sorted(con.sql(_facets_sql([h[0] for h in hits])).fetchall()) if hits else []
        got_f = sorted(map(tuple, s["facets"]))
        if s["hits"] != hits or got_f != facets:
            bad.append(f"search request {s['id']}: spark {s['hits'][:3]} {got_f[:3]} "
                       f"oracle {hits[:3]} {facets[:3]}")
    return bad


def refresh(result, batch_manifest, dropped):
    """The final store holds every dropped batch once, as the manifest says."""
    bad = []
    committed = result["committed"]
    dropped = dropped + ["batch-00000.parquet"]  # committed in set-up
    if len(committed) != len(set(committed)) or set(committed) != set(dropped):
        bad.append(f"refresh: committed {len(committed)} files, dropped {len(dropped)}")
    idx = [int(f[6:11]) for f in dropped]
    want_rows = {f: sum(batch_manifest[i][f] for i in idx) for f in gen.FIELDS}
    want_docs = sum(batch_manifest[i]["pages"] for i in idx)
    docs, rows = _store_counts(duckdb.connect(), result["store"])
    if docs != want_docs or rows != want_rows:
        bad.append(f"refresh store: docs {docs} rows {rows}, manifest {want_docs} {want_rows}")
    return bad


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        return bool(a == b)
    except Exception:
        return str(a) == str(b)


def registry(checked, out_dir, corpus):
    """Sampled registry outputs against their DuckDB oracle, compared the
    way the repository's correctness gate compares: columns sorted by
    name, rows sorted, exact cell values."""
    con = duckdb.connect()
    for t in gen.REGISTRY_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    bad = []
    for c in checked:
        files = glob.glob(os.path.join(out_dir, "registry", c["name"], "*.parquet"))
        try:
            got = _canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
            want = _canon(con.sql(c["sql"]).df())
        except Exception as e:  # a failing oracle or unreadable output is a failed check
            bad.append(f"registry {c['name']}: {e}")
            continue
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad.append(f"registry {c['name']}: shape {got.shape} vs {want.shape}")
            continue
        for col in got.columns:
            pairs = zip(got[col].tolist(), want[col].tolist())
            if not all(_cells_equal(a, b) for a, b in pairs):
                bad.append(f"registry {c['name']}: column {col} differs")
                break
    return bad


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
