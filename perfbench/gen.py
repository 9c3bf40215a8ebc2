"""Seeded generator for the benchmark's input tables.

Writes the ten engine tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as one parquet file each,
with the schemas and value domains the engine's catalog expects (see
FIXTURES.md at the repository root). Row counts scale with `sf` the way
the engine's test tables do (lineitem is 6,000,000 x sf rows).

The base tables depend only on `base_seed`. The run seed enters through
`doc_perm_seed`: a permutation of `doc_id`, which moves documents between
the id ranges and residues the text entries slice on without changing the
corpus.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86400 * 1_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(n, base_seed, doc_perm_seed=None):
    """Word-bag documents, a few percent of them near-duplicates of an
    earlier one (a couple of words changed and a `dup` marker added)."""
    rng = np.random.default_rng(base_seed + 7)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.04:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    if doc_perm_seed is not None:
        ids = np.random.default_rng(doc_perm_seed).permutation(n).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    return {
        "doc_id": pa.array(ids[order]),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)[order]),
        "source": pa.array(np.array([f"src{j}" for j in rng.integers(0, 20, n)])[order]),
        "n_chars": pa.array(np.array([len(texts[i]) for i in order], dtype=np.int64)),
    }


def generate(out, sf, base_seed=42, doc_perm_seed=None):
    """Write the tables for scale factor `sf` into `out`; returns
    {table: rows}."""
    os.makedirs(out, exist_ok=True)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables = {}
    tables["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                        "r_name": pa.array(REGIONS)}
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}
    r = np.random.default_rng(base_seed + 1)
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust))}
    r = np.random.default_rng(base_seed + 2)
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, n_supp, -999.99, 9999.99))}
    r = np.random.default_rng(base_seed + 3)
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": pa.array(r.choice(PART_TYPES, n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))}
    r = np.random.default_rng(base_seed + 4)
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(r, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(r, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord))}
    r = np.random.default_rng(base_seed + 5)
    tables["lineitem"] = {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(r.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(r, n_line, "1995-01-02", "2001-11-04"))}
    r = np.random.default_rng(base_seed + 6)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offs = np.sort(r.integers(0, 30 * 86400 * 1_000_000, n_ev))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array((t0 + offs).astype("datetime64[us]")),
        "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(r.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])}
    tables["documents"] = documents(n_docs, base_seed, doc_perm_seed)
    r = np.random.default_rng(base_seed + 8)
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, 64))
    v = centers[labels] + r.normal(0.0, 0.8, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))}
    rows = {}
    for name, cols in tables.items():
        _write(out, name, cols)
        rows[name] = len(next(iter(cols.values())))
    return rows
