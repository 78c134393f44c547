"""Seeded input tables for the query_suite workload.

Writes the ten tables `SparkEntry.queries` read from their table directory
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), one parquet file each, with the schemas and value
ranges of the engine's TPC-H-style test tables at scale factor 0.001, but
250 documents instead of 500: the DuckDB oracle of the near-duplicate
query compares every pair of documents, and takes about 18 s at 500.
The same seed gives the same files.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 11 + ["de", "es", "fr", "zh"] * 2
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(base, seconds):
    return pa.array([base + datetime.timedelta(seconds=float(s)) for s in seconds],
                    pa.timestamp("us"))


def generate(out_dir, seed, sf=0.001):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_orders, n_events = int(1500000 * sf), int(1000000 * sf)
    n_docs, n_vecs, dim = 250, 500, 64

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_part)]})

    day0 = datetime.datetime(1995, 1, 1)
    order_days = rng.integers(0, 2400, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(day0, order_days * 86400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})

    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_lines = len(l_order)
    qty = rng.integers(1, 51, n_lines).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_lines)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(day0, (order_days[l_order] + rng.integers(1, 122, n_lines)) * 86400)})

    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(datetime.datetime(2024, 1, 1), np.round(np.cumsum(gaps), 6)),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
             for _ in range(n_docs)]
    # one document in twenty is a planted near-duplicate of another,
    # unplanted one: the duplicate groups are pairs on every seed, so the
    # dedup queries do the same number of rounds whatever the seed
    planted = rng.choice(n_docs, n_docs // 20, replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n_docs), planted), len(planted),
                           replace=False)
    for d, o in zip(planted, originals):
        texts[d] = texts[o] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
