"""Seeded input generators for the benchmark workloads.

Every generator takes a numpy Generator built from the run's seed, so the
same seed writes byte-identical inputs and another seed writes a different
corpus of the same size. The tables mirror the schema and value domains of
the repository's synthetic test data (TPC-H-like star schema plus events,
documents and embeddings), so the registry's queries and their DuckDB
oracles apply unchanged.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "spark", "a", "group",
         "part", "big", "sort", "query", "fast", "the"]
# Glossaries of the KG demo project (KgPipeline.OpGlossary etc.); the search
# stream draws constraint values from them, and its missing values from the
# vocabulary words a type's glossary lacks.
GLOSSARIES = {
    "op": ["join", "scan", "sort", "merge", "filter", "group", "agg", "window", "hash"],
    "speed": ["fast", "slow"],
    "size": ["big", "small"],
}
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH = dt.datetime(1970, 1, 1)


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _texts(rng, n):
    """Token texts of 10-99 vocabulary words; about 5% carry a 'dup' tail."""
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    dups = rng.random(n) < 0.05
    out, pos = [], 0
    for i in range(n):
        t = " ".join(VOCAB[w] for w in words[pos:pos + lens[i]])
        pos += lens[i]
        out.append(t + " dup" if dups[i] else t)
    return out


def documents(rng, n):
    """The `documents` table: doc_id, text, lang, source, n_chars."""
    texts = _texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _days(rng, n, first, last):
    span = (last - first).days
    return pa.array([first + dt.timedelta(days=int(d)) for d in rng.integers(0, span + 1, n)],
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, rng, scale):
    """Write the ten registry tables; `scale` 1.0 matches sf0.01's row counts.
    Returns the documents table."""
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_users = max(15, int(150 * scale))
    w = lambda name, t: write(t, f"{out}/{name}.parquet")
    w("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    w("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    w("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust).tolist()}))
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}))
    adj = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
    noun = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
    w("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
                             n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}))
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord).tolist()}))
    w("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))}))
    start_us = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    w("events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(start_us + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    docs = documents(rng, 500)
    w("documents", docs)
    emb = rng.standard_normal((500, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    w("embeddings", pa.table({
        "vec_id": pa.array(np.arange(500, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500), pa.int32())}))
    return docs


def cdr_files(out, docs, n_files):
    """The documents as a CDR feed (doc_id, url, text, lang) of `n_files`
    parquet files, for the streaming ingest to drain."""
    ids = [str(i) for i in docs.column("doc_id").to_pylist()]
    cdr = pa.table({
        "doc_id": ids,
        "url": [f"http://site{int(d) % 97}.example/{d}" for d in ids],
        "text": docs.column("text"),
        "lang": docs.column("lang")})
    per = -(-len(ids) // n_files)
    for f in range(n_files):
        write(cdr.slice(f * per, per), f"{out}/part-{f:05d}.parquet")


def _words(rng, n):
    return " ".join(rng.choice(VOCAB, n).tolist())


# The kg_search stream copies the shapes of the registry's four kg_* entries
# that call the query compiler directly, one op of each per block (1:1:1:1,
# as the registry runs each entry once): kg_search (2 DemoCatalog
# constraints, 2 free-text words, limit 50), kg_search_facets (facets on
# op,size with k 10 over that search), kg_bm25 (3 query words, limit 50) and
# kg_phrase (a 2-word phrase). The searches, plain and under facets, vary
# what the registry leaves fixed over a cycle of three blocks: the cycle's
# six searches take 1, 2 and 3 constraints each with and without free text,
# and at each count one of the two carries a value that the documents hold
# but that type's glossary lacks. A run measures whole cycles, so every
# seed measures the same shapes; the seed draws the values, the words and
# each block's order. A shape is (constraints, free text, missing value).
SEARCH_CYCLE = [((1, True, True), (1, False, False)),   # (search, facets)
                ((2, False, False), (2, True, True)),
                ((3, True, False), (3, False, True))]
FACET_FIELDS, FACET_K, LIMIT = "op,size", 10, 50
BM25_WORDS, PHRASE_WORDS, FREE_WORDS = 3, 2, 2


def _constraints(rng, n, missing):
    types = rng.permutation(list(GLOSSARIES))[:n].tolist()
    cs = []
    for i, ctype in enumerate(types):
        pool = GLOSSARIES[ctype]
        if missing and i == 0:
            pool = [w for w in VOCAB if w not in pool]
        cs.append(f"{ctype}={rng.choice(pool)}")
    return ";".join(cs)


def _search(rng, shape):
    n, free, missing = shape
    return [_constraints(rng, n, missing), _words(rng, FREE_WORDS) if free else "-", str(LIMIT)]


def search_ops(rng, n_blocks):
    """The kg_search operation stream, one tab-separated line per op.

    search  constraints  free_text|-  limit
    facets  constraints  free_text|-  limit  fields  k
    bm25    query        limit
    phrase  w1 w2
    """
    ops = []
    for b in range(n_blocks):
        search, facets = SEARCH_CYCLE[b % len(SEARCH_CYCLE)]
        block = [
            "\t".join(["search"] + _search(rng, search)),
            "\t".join(["facets"] + _search(rng, facets) + [FACET_FIELDS, str(FACET_K)]),
            f"bm25\t{_words(rng, BM25_WORDS)}\t{LIMIT}",
            f"phrase\t{_words(rng, PHRASE_WORDS)}"]
        ops += [block[i] for i in rng.permutation(len(block)).tolist()]
    return ops
