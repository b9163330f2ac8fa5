"""Seeded synthesis of the catalog's ten input tables.

The catalog reads a TPC-H-like star schema plus `events`, `documents`
and `embeddings` (see Tables.scala). This module writes the same
tables, with the same parquet physical types (arrow writer, int64
keys, microsecond timestamps without UTC adjustment, float lists),
from a workload seed alone, so every run of the benchmark builds its
inputs in its own directory and the same seed always gives the same
bytes.

Column distributions follow the shapes the catalog was written
against: independent uniform keys and measures, 64 part names, a
30-word document vocabulary with 5% near-duplicate documents (a copy
of an earlier document with one word appended), and unit-norm 64-dim
embeddings with ten random labels.

Usage: python3 gen.py <out_dir> <sf> <seed>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH = datetime.datetime(1970, 1, 1)


def _us(dt):
    return int((dt - EPOCH).total_seconds() * 1_000_000)


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng, n):
    lengths = rng.integers(8, 91, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
             for k in lengths]
    # 5% of documents are near-duplicates of an earlier one
    copies = rng.choice(np.arange(n // 10, n), size=n // 20, replace=False)
    for c in sorted(copies):
        texts[c] = texts[int(rng.integers(0, c))] + " dup"
    return texts


def generate(out_dir, sf, seed, tables=None):
    """Writes every table, or only `tables` when given."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def write(name, cols):
        if tables is None or name in tables:
            pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n = sizes(sf)
    i32, i64 = pa.int32(), pa.int64()

    write("region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    c = n["customer"]
    write("customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})

    s = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})

    p = n["part"]
    write("part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})

    day = 86_400_000_000
    o = n["orders"]
    o_lo = _us(datetime.datetime(1995, 1, 1))
    write("orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(o_lo + rng.integers(0, 2404, o) * day),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})

    li = n["lineitem"]
    l_lo = _us(datetime.datetime(1995, 1, 2))
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _ts(l_lo + rng.integers(0, 2498, li) * day)})

    e = n["events"]
    e_lo = _us(datetime.datetime(2024, 1, 1))
    write("events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": _ts(np.sort(e_lo + rng.integers(0, 30 * day, e))),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    texts = _documents(rng, d)
    write("documents", {
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, size=d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    v = n["embeddings"]
    x = rng.standard_normal((v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32)})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
