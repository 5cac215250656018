#!/usr/bin/env python3
"""Deterministic synthetic corpus for the benchmark (the sf0.1 shape).

Writes the ten catalog tables (TPC-H-style star schema, an `events`
stream, a `documents` text corpus and an `embeddings` table) as one
single-row-group parquet file each, with the column names, types and
value domains the catalog queries read. The corpus depends only on
`--seed`; the benchmark passes one fixed seed (`CORPUS_SEED` in
`run.py`) so that the committed reference digests stay valid.

    python3 perfbench/gen_corpus.py OUT_DIR --seed N
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DUP_FRAC = 0.05


def days(start, end, n, rng):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(values, n, rng, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return texts


def generate(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))

    write(out, "region", {"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    write(out, "customer", {
        "c_custkey": i64(range(N_CUSTOMER)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
        "c_acctbal": money(-999.99, 9999.99, N_CUSTOMER, rng),
        "c_mktsegment": pick(SEGMENTS, N_CUSTOMER, rng)})
    write(out, "supplier", {
        "s_suppkey": i64(range(N_SUPPLIER)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
        "s_acctbal": money(-999.99, 9999.99, N_SUPPLIER, rng)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write(out, "part", {
        "p_partkey": i64(range(N_PART)),
        "p_name": pick(names, N_PART, rng),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], N_PART, rng),
        "p_type": pick(PART_TYPES, N_PART, rng),
        "p_size": i32(rng.integers(1, 51, N_PART)),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)})
    write(out, "orders", {
        "o_orderkey": i64(range(N_ORDERS)),
        "o_custkey": i64(rng.integers(0, N_CUSTOMER, N_ORDERS)),
        "o_orderstatus": pick(["F", "O", "P"], N_ORDERS, rng),
        "o_totalprice": money(1000.0, 500000.0, N_ORDERS, rng),
        "o_orderdate": days("1995-01-01", "2001-08-01", N_ORDERS, rng),
        "o_orderpriority": pick(PRIORITIES, N_ORDERS, rng)})
    write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, N_ORDERS, N_LINEITEM)),
        "l_partkey": i64(rng.integers(0, N_PART, N_LINEITEM)),
        "l_suppkey": i64(rng.integers(0, N_SUPPLIER, N_LINEITEM)),
        "l_linenumber": i32(rng.integers(1, 8, N_LINEITEM)),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, N_LINEITEM, rng),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], N_LINEITEM, rng),
        "l_linestatus": pick(["F", "O"], N_LINEITEM, rng),
        "l_shipdate": days("1995-01-02", "2001-11-04", N_LINEITEM, rng)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span, N_EVENTS))
    write(out, "events", {
        "event_id": i64(range(N_EVENTS)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": i64(rng.integers(0, 1500, N_EVENTS)),
        "event_type": pick(EVENT_TYPES, N_EVENTS, rng),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)])})
    texts = documents(rng)
    write(out, "documents", {
        "doc_id": i64(range(N_DOCS)),
        "text": pa.array(texts),
        "lang": pick(LANGS, N_DOCS, rng, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": i64([len(t) for t in texts])})
    m = rng.standard_normal((N_VECS, DIM))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": i64(range(N_VECS)),
        "embedding": pa.array(list(m.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, N_VECS))})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    generate(a.out, a.seed)
