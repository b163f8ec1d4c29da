#!/usr/bin/env python3
"""Deterministic generator for the catalog tables the engine queries.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one parquet file each, with the
column names, types and value domains the catalog queries expect
(a TPC-H-like star schema, an event stream, a text corpus with ~5%
near-duplicates, and 64-dim unit embeddings). The tables depend only
on the scale factor and DATA_SEED, so golden outputs stay valid for
every benchmark seed.

Usage: python3 gen_tables.py <out_dir> <scale_factor>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260817

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]


def micros(day0, offsets_us):
    base = int((day0 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_evt, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day = 86_400_000_000

    yield "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}
    yield "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    yield "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}
    yield "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": micros(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": micros(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_line) * day)}
    gaps = rng.integers(1, 2 * 30 * day // max(n_evt, 1), n_evt)
    yield "events", {
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": micros(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    yield "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    out, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(sf):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
