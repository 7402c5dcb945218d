"""Seeded input generator for the engine benchmark.

Writes the ten star-schema tables the gate registry reads (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`, `events`,
`documents`, `embeddings`) as one parquet file each, with the schemas and
value distributions of the test fixtures described in TESTDATA.md:
uniform keys and measures, sorted event timestamps over 30 days, a
31-word document vocabulary with 5% planted near-duplicates (an earlier
document plus " dup") and 0.2% planted exact copies, and 64-d unit
embeddings.

The same seed gives byte-identical files (fixed writer options, no
timestamps in the output).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE BUILDING FURNITURE HOUSEHOLD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002


def _days(start, end):
    return (np.datetime64(end) - np.datetime64(start)).astype(int)


def _ts_days(rng, n, start, end):
    d = rng.integers(0, _days(start, end) + 1, n)
    return (np.datetime64(start, "us") + d.astype("timedelta64[D]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def row_counts(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(seed, sf):
    """Every table as a pyarrow Table, deterministic in (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)]})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, k)})
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, k), rng.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, k)],
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _ts_days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)]})
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
        "l_shipdate": _ts_days(rng, k, "1995-01-02", "2001-11-04")})
    k = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, k))
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, int(15_000 * sf) or 1, k).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    t["documents"] = _documents(rng, n["documents"])
    k = n["embeddings"]
    x = rng.standard_normal((k, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k).astype(np.int32))})
    return t


def _documents(rng, k):
    words = np.array(VOCAB)
    texts = []
    for _ in range(k):
        texts.append(" ".join(words[rng.integers(0, len(VOCAB),
                                                 rng.integers(10, 101))]))
    kind = rng.random(k)
    src = rng.integers(0, k, k)
    for i in range(1, k):
        j = src[i] % i
        if kind[i] < NEAR_DUP_SHARE:
            texts[i] = texts[j] + " dup"
        elif kind[i] < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts[i] = texts[j]
    ids = np.arange(k, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        _write(tab, os.path.join(out_dir, f"{name}.parquet"))


def generate(seed, sf, out_dir):
    """Write every table for (seed, sf) under out_dir."""
    write_tables(make_tables(seed, sf), out_dir)

