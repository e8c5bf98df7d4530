#!/usr/bin/env python3
"""Deterministic sf0.1 input tables for the benchmark.

Writes the ten tables `graft.Tables` reads (one parquet file each) with
the schemas, key ranges and value domains of the engine's TPC-H-ish test
data: lineitem 600k rows, orders 150k, events 100k, documents 5,000,
embeddings 2,000, about 17 MB of parquet in total.

The tables are a fixed input: they are generated from DATA_SEED, never
from the workload seed, so every run of every workload reads the same
bytes and the workload seed only drives request order and the index
operation stream.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = 15_000
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })
    n = 1_000
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = 20_000
    keys = np.arange(n)
    names = np.char.add(np.char.add(rng.choice(ADJECTIVES, n), " "), rng.choice(NOUNS, n))
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    n = 150_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })
    n = 600_000
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
    })
    n = 100_000
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    out["documents"] = documents(rng, 5_000)
    out["embeddings"] = embeddings(rng, 2_000)
    return out


def documents(rng, n):
    """Bag-of-words texts, 10-99 words over a 30-word vocabulary; every
    20th document is a near-duplicate of an earlier one (a prefix of it
    followed by the word "dup"), so the dedup operators find pairs."""
    texts = []
    for i in range(n):
        if i % 20 == 11:
            src = texts[int(rng.integers(0, i))].split(" ")
            keep = max(5, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, clusters=10):
    """Unit vectors around `clusters` random centres (label = centre)."""
    centres = rng.normal(0.0, 1.0, (clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n)
    v = centres[labels] + rng.normal(0.0, 0.12, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def main(out_dir):
    tmp = out_dir + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main(sys.argv[1])
