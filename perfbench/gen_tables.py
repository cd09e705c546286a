"""Seeded star-schema tables for the registry workload.

Same table names, columns and value domains as the repository's
query registry expects (``<dir>/<table>.parquet``): region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings. Row counts scale with ``sf`` like the TPC-H-style layout
the registry was written against (sf 0.01 = 60k lineitem rows).
"""

from __future__ import annotations

import json
import os

import numpy as np

_VOCAB = ("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
          "small", "slow", "merge", "order", "vector", "line", "table", "data",
          "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
          "big", "sort", "query", "fast", "the")
_LANGS = ("en", "zh", "es", "de", "fr")
_PART_ADJ = ("red", "small", "hot", "old", "large", "blue", "new", "tiny")
_PART_NOUN = ("plate", "widget", "ring", "rod", "gear", "bolt", "valve", "pipe")


def _write(out: str, name: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def make_tables(seed: int, sf: float, out: str) -> dict:
    """Write the ten tables under ``out``; return their row counts."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = n_ord * 4
    n_docs = max(int(50_000 * sf), 100)
    n_vec = max(int(50_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 1000)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE",
                                    "HOUSEHOLD"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 2)})
    day = np.timedelta64(1, "D")
    start = np.datetime64("1995-01-01", "us")
    odate = start + rng.integers(0, 2400, n_ord) * day
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    li_order = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": li_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": odate[li_order] + rng.integers(1, 122, n_li) * day})
    ev_ts = (np.datetime64("2024-01-01", "us")
             + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_docs):
        words = rng.choice(_VOCAB, rng.integers(8, 90))
        texts.append(" ".join(words))
    for i in rng.choice(n_docs, max(n_docs // 20, 2), replace=False):
        texts[i] = texts[(i + 1) % n_docs] + " dup"  # planted near-duplicates
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.44, 0.15, 0.15, 0.14, 0.12]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"lineitem": n_li, "documents": n_docs, "embeddings": n_vec}
