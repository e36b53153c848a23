"""Seeded generator of the catalog's input tables.

`generate(out_dir, seed)` writes one parquet file per table (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the column names, types and value domains the catalog queries read.
Row counts follow the scale factor SF (lineitem ~ 6M x SF); the corpus
tables have their own sizes.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "blue", "small", "large", "hot", "old", "new", "green"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "nut"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "spark", "a", "group",
         "part", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

SF = 0.002   # scale factor of the relational and event tables
DOCS = 500   # documents
VECS = 500   # embeddings


def _ts(days0: dt.datetime, offsets_s: np.ndarray) -> pa.Array:
    base = int(days0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_s.astype(np.int64) * 1_000_000,
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet", compression="snappy")


def generate(out: str, seed: int) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_users = max(10, int(15_000 * SF))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    day = 86_400
    order_day = rng.integers(0, 2400, n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_day * day),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2500, n_line) * day)})
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
                           * 1_000_000)
                       + np.sort(rng.integers(0, 30 * day * 1_000_000, n_ev)),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})

    # corpus: random texts over a small vocabulary; one in twenty documents
    # is an earlier document plus a " dup" suffix (a near duplicate)
    texts = []
    for i in range(DOCS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB),
                                                                  int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), DOCS)],
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.standard_normal((VECS, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(VECS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, VECS), pa.int32())})

