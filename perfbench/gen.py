"""Seeded input generators for the benchmark.

Every generator takes a seed and writes plain files (JSON lines, parquet,
JSON) plus a manifest of the counts it planted. The same seed always gives
the same bytes. The program under test sees only these files.

Crawl pages follow the CDR shape myDIG ingests (doc_id, url, raw_content)
plus the crawl site. Their visible text is built from pseudo-words that
never collide with a glossary entry, so the planted glossary hits, dates,
emails and hosts are exactly what a correct extractor finds.
"""
import itertools
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Glossary fields with Zipf-skewed term frequencies. Two-word entries
# exercise the n-gram glossary path; no entry token is a pseudo-word.
GLOSSARIES = {
    "country": ["nigeria", "kenya", "brazil", "canada", "france", "germany",
                "india", "japan", "mexico", "peru", "chile", "egypt", "ghana",
                "norway", "spain", "italy", "new zealand", "south africa",
                "sri lanka", "costa rica"],
    "product": ["laptop", "phone", "tablet", "camera", "printer", "router",
                "monitor", "keyboard", "speaker", "headset", "charger",
                "drone", "scanner", "smart watch", "game console"],
    "topic": ["election", "flood", "protest", "drought", "festival",
              "strike", "outbreak", "summit", "earthquake", "wildfire"],
}

# Which fields each site's extraction module produces (per-site ETK modules).
SITES = {
    "news": ["title", "country", "topic", "date", "host"],
    "forum": ["title", "product", "email", "date", "host"],
    "shop": ["title", "product", "country", "host"],
    "blog": ["title", "country", "product", "topic", "date", "email", "host"],
}
FIELDS = ["title", "country", "product", "topic", "date", "email", "host"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]


def _vocabulary():
    cons, vows = "bdfgklmnprstvz", "aeiou"
    syl = [c + v for c in cons for v in vows]
    words = [a + b for a in syl for b in syl] + [a + b + c for a in syl[:20]
                                                 for b in syl[:20] for c in syl[:5]]
    banned = {t for terms in GLOSSARIES.values() for e in terms for t in e.split()}
    return [w for w in words if w not in banned]


VOCAB = _vocabulary()


_CUM = {}


def zipf_pick(rng, items, s=1.2):
    """One item, rank r drawn with weight 1 / (r + 1) ** s."""
    key = (id(items), len(items), s)
    if key not in _CUM:
        _CUM[key] = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(items))))
    return rng.choices(items, cum_weights=_CUM[key], k=1)[0]


def _new_page(rng, doc_id, site, host):
    """A page as a list of visible-text pieces plus its planted facts."""
    n_words = rng.randint(60, 160)
    words = [zipf_pick(rng, VOCAB, 0.6) for _ in range(n_words)]
    planted = {f: set() for f in GLOSSARIES}
    fields = SITES[site]
    for field in GLOSSARIES:
        if field not in fields:
            continue
        for _ in range(rng.randint(0, 4)):
            term = zipf_pick(rng, GLOSSARIES[field])
            planted[field].add(term)
            words.insert(rng.randrange(len(words) + 1), term)
    dates = []
    if "date" in fields:
        for _ in range(rng.randint(0, 2)):
            y, m, d = rng.randint(2000, 2024), rng.randint(1, 12), rng.randint(1, 28)
            iso = f"{y:04d}-{m:02d}-{d:02d}"
            shown = rng.choice([iso, f"{m:02d}/{d:02d}/{y:04d}", f"{MONTHS[m - 1]} {d}, {y:04d}"])
            dates.append((iso, shown))
    emails = []
    if "email" in fields:
        for _ in range(rng.randint(0, 2)):
            emails.append(f"{rng.choice(VOCAB)}.{rng.choice(VOCAB)}@{rng.choice(VOCAB)}.example.com")
    title = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 6)))
    return {"doc_id": doc_id, "site": site, "host": host, "title": title,
            "words": words, "dates": dates, "emails": emails,
            "planted": {f: sorted(v) for f, v in planted.items()},
            "path": f"/{rng.choice(VOCAB)}/{doc_id}.html"}


def _mirror(rng, page, doc_id, host):
    """A near-duplicate copy: ~2% of the pseudo-words swapped."""
    words = list(page["words"])
    terms = {t for ts in GLOSSARIES.values() for t in ts}
    slots = [i for i, w in enumerate(words) if w not in terms]
    for i in rng.sample(slots, max(1, len(words) // 50)):
        words[i] = rng.choice(VOCAB)
    m = dict(page, doc_id=doc_id, host=host, words=words)
    m["path"] = page["path"].replace(str(page["doc_id"]), str(doc_id))
    return m


def render(page):
    """HTML for a page (one line: the extractors see no newlines)."""
    w = page["words"]
    cut = sorted({len(w) // 3, 2 * len(w) // 3})
    paras = [w[:cut[0]], w[cut[0]:cut[1]], w[cut[1]:]]
    body = "".join(f"<p>{' '.join(p)}</p>" for p in paras)
    extras = "".join(f'<p>posted <span class="date">{shown}</span></p>'
                     for _, shown in page["dates"])
    extras += "".join(f'<p>contact <a href="mailto:{e}">{e}</a></p>' for e in page["emails"])
    site = page["site"]
    return (f"<html><head><title>{page['title']}</title></head><body>"
            f'<div class="nav">{site} desk</div><article>{body}{extras}</article>'
            f'<footer><a href="http://{page["host"]}/">{site} home</a></footer></body></html>')


def kg_rows(page):
    """KG rows per field a correct extraction emits for one page."""
    fields = SITES[page["site"]]
    out = {f: 0 for f in FIELDS}
    out["title"] = 1
    out["host"] = 1
    for f in GLOSSARIES:
        if f in fields:
            out[f] = len(page["planted"][f])
    if "date" in fields:
        out["date"] = len(page["dates"])
    if "email" in fields:
        out["email"] = len(page["emails"])
    return out


def record(page):
    return {"doc_id": page["doc_id"], "url": f"http://{page['host']}{page['path']}",
            "site": page["site"], "raw_content": render(page)}


def crawl(seed, n_pages, dup_share=0.15, id_base=0):
    """Seeded crawl: pages over four sites, with near-duplicate mirror
    clusters (2-4 members) making up `dup_share` of the pages.
    Doc ids are shuffled so a cluster's survivor (its least id) can be
    the original or a mirror."""
    rng = random.Random(f"crawl:{seed}:{id_base}")
    sites = list(SITES)
    ids = list(range(id_base, id_base + n_pages))
    rng.shuffle(ids)
    # a fixed number of clusters, sizes cycling 2, 3, 4, at seeded positions
    n_clusters = int(n_pages * dup_share / 3)
    mirrored = set(rng.sample(range(n_pages - n_pages // 10), n_clusters))
    pages, clusters = [], []
    while len(pages) < n_pages:
        site = rng.choice(sites)
        host = f"www.{site}{rng.randint(1, 9)}.example.org"
        page = _new_page(rng, ids[len(pages)], site, host)
        pages.append(page)
        left = n_pages - len(pages)
        if left and len(pages) - 1 in mirrored:
            members = [page]
            for _ in range(min(left, 1 + len(clusters) % 3)):
                mhost = f"mirror{rng.randint(1, 9)}.example.net"
                members.append(_mirror(rng, page, ids[len(pages)], mhost))
                pages.append(members[-1])
            clusters.append([p["doc_id"] for p in members])
    return pages, clusters


def crawl_manifest(pages, clusters):
    losers = {i for c in clusters for i in c if i != min(c)}
    survivors = [p for p in pages if p["doc_id"] not in losers]
    per_field = {f: 0 for f in FIELDS}
    for p in survivors:
        for f, n in kg_rows(p).items():
            per_field[f] += n
    sites = {s: sum(1 for p in pages if p["site"] == s) for s in SITES}
    hits = {f: sum(len(p["planted"][f]) for p in pages) for f in GLOSSARIES}
    return {"pages": len(pages), "pages_per_site": sites, "glossary_hits": hits,
            "near_dup_clusters": len(clusters),
            "near_dup_pages": sum(len(c) for c in clusters),
            "confirmed_pairs": sum(len(c) * (len(c) - 1) // 2 for c in clusters),
            "survivors": len(survivors), "kg_rows_per_field": per_field}


def write_jsonl(path, pages):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for p in pages:
            f.write(json.dumps(record(p), sort_keys=True) + "\n")


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)


PAGE_SCHEMA = pa.schema([("doc_id", pa.int64()), ("url", pa.string()),
                         ("site", pa.string()), ("raw_content", pa.string())])


def write_parquet(path, pages):
    rows = [record(p) for p in pages]
    table = pa.Table.from_pylist(rows, schema=PAGE_SCHEMA)
    pq.write_table(table, path, compression="snappy")


def query_mix(seed, n):
    """The DIG UI analyst's requests: 1-3 typed constraints with Zipf-skewed
    values. Each block of three requests holds every constraint count
    once, in seeded order, so a short run sees the same mix of request
    shapes on every seed."""
    rng = random.Random(f"queries:{seed}")
    out = []
    for i in range(n):
        if i % 3 == 0:
            block = rng.sample([1, 2, 3], 3)
        types = rng.sample(list(GLOSSARIES), block[i % 3])
        cons = [[t, zipf_pick(rng, GLOSSARIES[t], 1.5)] for t in types]
        out.append({"id": i, "constraints": cons})
    return out


def refresh_schedule(seed, n_batches, period_ms, pages_per_batch, first_pages):
    """Open-loop arrival plan: batch 0 seeds the store in set-up; batch i
    is due at i * period_ms."""
    rng = random.Random(f"refresh:{seed}")
    batches = []
    next_id = 0
    for i in range(n_batches):
        n = first_pages if i == 0 else \
            pages_per_batch + rng.randint(-pages_per_batch // 4, pages_per_batch // 4)
        batches.append({"batch": i, "due_ms": i * period_ms, "pages": n, "id_base": next_id})
        next_id += n
    return batches


def refresh_batches(seed, schedule, out_dir):
    """Write one parquet file per scheduled batch; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    per_batch = []
    for b in schedule:
        pages, _ = crawl(seed, b["pages"], dup_share=0.0, id_base=b["id_base"])
        write_parquet(os.path.join(out_dir, f"batch-{b['batch']:05d}.parquet"), pages)
        rows = {f: sum(kg_rows(p)[f] for p in pages) for f in FIELDS}
        per_batch.append(dict(rows, pages=len(pages)))
    return {"batches": len(schedule), "batch_sizes": [b["pages"] for b in per_batch],
            "per_batch": per_batch}


def registry_sample(seed, names, per_family=1):
    """Seeded sample of registry queries, stratified by name family (the
    prefix before the first '_'); families with fewer than five queries
    share one 'misc' stratum so every run stays short."""
    rng = random.Random(f"registry:{seed}")
    fam = {}
    for n in sorted(names):
        fam.setdefault(n.split("_")[0], []).append(n)
    strata = {}
    for f, members in fam.items():
        strata.setdefault(f if len(members) >= 5 else "misc", []).extend(members)
    picks = []
    for f in sorted(strata):
        for n in rng.sample(strata[f], min(per_family, len(strata[f]))):
            picks.append({"family": f, "name": n})
    rng.shuffle(picks)
    return picks


REGISTRY_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
             "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
             "the", "value", "vector", "window"]


def registry_corpus(seed, out_dir, scale=1.0):
    """The registry's star schema plus events, documents and embeddings at
    sf0.01 shape (TESTDATA.md): same tables, columns, types and value
    domains as the oracle-checked corpus, drawn from this seed."""
    import datetime

    import numpy as np
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev, n_doc = int(15000 * scale), int(60000 * scale), int(10000 * scale), int(500 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        s = datetime.datetime(*start)
        span = (datetime.datetime(*end) - s).days
        return [s + datetime.timedelta(days=int(d)) for d in rng.integers(0, span + 1, n)]

    def pick(values, n):
        return [values[i] for i in rng.integers(0, len(values), n)]

    ts = pa.timestamp("us")
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {"c_custkey": pa.array(range(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                           "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": pa.array(range(n_part), pa.int64()),
                 "p_name": [a + " " + b for a, b in zip(
                     pick(["small", "large", "hot", "cold", "blue", "red", "old", "new"], n_part),
                     pick(["rod", "bolt", "plate", "gear", "gizmo", "anvil", "widget", "ring"], n_part))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                 "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                 "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_part)]},
        "orders": {"o_orderkey": pa.array(range(n_ord), pa.int64()),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": pa.array(days((1995, 1, 1), (2001, 8, 1), n_ord), ts),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                            "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                     "l_quantity": rng.integers(1, 51, n_li).astype(float),
                     "l_extendedprice": money(900, 105000, n_li),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": pick(["A", "N", "R"], n_li),
                     "l_linestatus": pick(["F", "O"], n_li),
                     "l_shipdate": pa.array(days((1995, 1, 2), (2001, 11, 4), n_li), ts)},
    }
    start = datetime.datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=int(o)) for o in offs], ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = [" ".join(pick(DOC_WORDS, int(n))) for n in rng.integers(10, 90, n_doc)]
    tables["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()), "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    emb = rng.normal(size=(n_doc, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": pa.array([list(map(float, r)) for r in emb], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


WORKLOADS = ["ingest", "refresh"]
INGEST_SHARDS, INGEST_PAGES, WARM_PAGES = 2, 2400, 300
REFRESH_PERIOD_MS, REFRESH_BATCH, REFRESH_FIRST = 250, 30, 300
# the registry layer's corpus, as a share of the sf0.01 shape
REGISTRY_SCALE = 0.1


def make_inputs(workload, seed, seconds, run_dir, names, scale=1.0, registry=False):
    """Write the workload's seeded inputs under run_dir/in; return the
    manifests the output checks compare against. With `registry`, refresh
    also gets the registry layer's corpus and query sample (traced runs)."""
    d = os.path.join(run_dir, "in")
    os.makedirs(d)
    n = lambda x: max(20, int(x * scale))  # noqa: E731
    man = {}
    if workload == "ingest":
        pages, clusters = crawl(seed, n(WARM_PAGES), id_base=10_000_000)
        write_jsonl(os.path.join(d, "warm.jsonl"), pages)
        for s in range(INGEST_SHARDS):
            pages, clusters = crawl(seed, n(INGEST_PAGES), id_base=s * 1_000_000)
            name = f"shard-{s}.jsonl"
            write_jsonl(os.path.join(d, "shards", name), pages)
            man[name] = crawl_manifest(pages, clusters)
    elif workload == "refresh":
        k = int(seconds * 1000 / REFRESH_PERIOD_MS) + 4
        sched = refresh_schedule(seed, k, REFRESH_PERIOD_MS, REFRESH_BATCH, n(REFRESH_FIRST))
        write_json(os.path.join(d, "schedule.json"), sched)
        man["batches"] = refresh_batches(seed, sched, os.path.join(d, "batches"))
        man["queries"] = query_mix(seed, 5000)
        write_json(os.path.join(d, "queries.json"), man["queries"])
        if registry:
            registry_corpus(seed, os.path.join(d, "corpus"), REGISTRY_SCALE)
            write_json(os.path.join(d, "registry_sample.json"), registry_sample(seed, names))
    write_json(os.path.join(d, "manifest.json"), man)
    return man
