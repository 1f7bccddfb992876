"""Seeded input tables for the `board` workload.

Writes the ten parquet tables the query registry reads (`region`, `nation`,
`customer`, `supplier`, `part`, `orders`, `lineitem`, `events`,
`documents`, `embeddings`) with the same schemas and value domains as the
project's sf0.01 test data. Every value is drawn from one numpy generator
seeded by the workload seed, so the same seed always gives byte-identical
inputs and a claim can be re-checked on a seed it was not tuned on.

    python3 graftbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts (lineitem 60k), the scale the board runs at
N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = 1500, 100, 2000, 15000, 60000
N_EVT, N_DOC, N_VEC, DIM = 10000, 500, 500, 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = ["red", "gear", "small", "hot", "cold", "old", "gizmo", "widget",
              "ring", "plate", "anvil", "bolt", "rod", "new", "large", "blue"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _ts(base, offsets, unit):
    return (np.datetime64(base) + offsets.astype(f"timedelta64[{unit}]")).astype(
        "datetime64[us]")


def tables(seed):
    """Return {name: pyarrow.Table} for one seed."""
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUST)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2)})
    words = rng.choice(PART_WORDS, (N_PART, 2))
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in words],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORD),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORD), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, N_ORD), "D"),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORD)})
    flags = rng.integers(0, 6, N_LINE)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINE), 2),
        "l_discount": np.round(rng.uniform(0, 10, N_LINE)) / 100.0,
        "l_tax": np.round(rng.uniform(0, 8, N_LINE)) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["O", "F"])[flags % 2],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, N_LINE), "D")})
    secs = np.sort(rng.integers(0, 30 * 86400 * 1000000, N_EVT))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVT), pa.int64()),
        "ts": _ts("2024-01-01", secs, "us"),
        "user_id": pa.array(rng.integers(0, 150, N_EVT), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVT),
        "value": np.round(rng.exponential(50.0, N_EVT), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVT)]})
    texts = [" ".join(rng.choice(DOC_WORDS, rng.integers(10, 101)))
             for _ in range(N_DOC)]
    # near-duplicates (a copy plus one marker token) and a few exact copies:
    # the dedup keys need both kinds to have work to do
    for i in rng.choice(N_DOC, N_DOC // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOC))] + " dup"
    for i in rng.choice(N_DOC, 2, replace=False):
        texts[i] = texts[(i + 1) % N_DOC]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOC), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOC, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, N_VEC)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (N_VEC, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VEC), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
