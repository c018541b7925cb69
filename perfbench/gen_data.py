"""Deterministic synthetic tables for the benchmark.

The tables follow the layout the program reads (`graft.Tables.names`): a
TPC-H-like star schema, an `events` stream, a `documents` corpus and an
`embeddings` table, one parquet file each. Row counts scale with `sf`
(sf 0.01 gives 1,500 customers and 60,000 line items). The data is a
pure function of (sf, seed): the benchmark varies its statements by
seed, never its data, so set-up cost is the same on every run.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data table row column key value part order customer line "
         "query scan filter join agg group sort hash merge window stream "
         "batch spark big small fast slow vector").split()


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(x):
    return np.round(x, 2)


def sizes(sf):
    """Row counts: customers, orders, suppliers, parts, users, events,
    documents (line items are four per order)."""
    return (max(int(150_000 * sf), 50), max(int(1_500_000 * sf), 200),
            max(int(10_000 * sf), 10), max(int(200_000 * sf), 50),
            max(int(15_000 * sf), 20), max(int(1_000_000 * sf), 200),
            max(int(50_000 * sf), 50))


def generate(out_dir, sf=0.01, seed=DATA_SEED):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_supp, n_part, n_user, n_event, n_doc = sizes(sf)
    n_line = 4 * n_ord

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}))

    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))}))

    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}))

    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}))

    l_order = np.sort(rng.integers(0, n_ord, n_line))
    linenum = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):
        if l_order[i] == l_order[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    price = 900.0 + (l_part % 1000) / 10.0
    ship = odate[l_order] + rng.integers(1, 122, n_line).astype("timedelta64[D]")
    perm = rng.permutation(n_line)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(l_order[perm], pa.int64()),
        "l_partkey": pa.array(l_part[perm], pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenum[perm], pa.int32()),
        "l_quantity": qty[perm],
        "l_extendedprice": _money(qty * price)[perm],
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship[perm].astype("datetime64[us]"))}))

    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_event)) + \
        np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_event), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_user, n_event), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_event)],
        "value": _money(rng.exponential(50.0, n_event) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_event)]}))

    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n))
             for n in rng.integers(8, 90, n_doc)]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    vecs = rng.normal(0.0, 1.0, (n_doc, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())}))

