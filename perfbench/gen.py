"""Seeded generator for the registry fixture (the TESTDATA star schema).

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one parquet file each, with the
column names, types and value domains of the read-only sf fixtures the
registry queries were written against. Every value depends only on
(seed, sf), so one seed always yields byte-identical tables.

The ANN workload's corpus is a larger set of clustered 64-d vectors in
the same embeddings layout.

Usage: python3 gen.py fixture <out_dir> <seed> <sf>
       python3 gen.py corpus <out_dir> <seed> <n_vectors>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
         "spark line sort window join order column data query stream filter "
         "group small big customer vector").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.44, 0.14, 0.13, 0.14, 0.15]
ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
SEGMENTS = np.array(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
ETYPES = np.array(["click", "signup", "error", "view", "purchase"])
DAY_NS = 86_400 * 10**9


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "ns").astype(np.int64)
    return base + rng.integers(0, n_days, n, dtype=np.int64) * DAY_NS


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   version="2.6", coerce_timestamps=None,
                   allow_truncated_timestamps=False)


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=False)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) / 10.0, 1)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_ts("1995-01-01", 2404, rng, n_ord), pa.timestamp("ns")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    n_li = 4 * n_ord
    li_part = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": li_part,
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[li_part] * rng.uniform(0.9, 3.3, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_ts("1995-01-02", 2498, rng, n_li), pa.timestamp("ns"))})

    base_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = base_us + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev, dtype=np.int64))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": ETYPES[rng.integers(0, 5, n_ev)],
        "value": money(0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random word sequences; every 10th is a one-word edit of
    # an earlier unedited document of at least 60 words, each edited at
    # most once, so the near-duplicate operators find pairs. A one-word
    # edit changes at most 3 of the document's word 3-grams, which keeps
    # every pair at Jaccard >= 0.89: the regime in which the registry's
    # LSH blocking finds every pair (Dedup's parameter note) and its exact
    # DuckDB oracle therefore grades the LSH queries. Edits of short or
    # already edited documents fall to Jaccard 0.3-0.8, where banding
    # misses pairs by design.
    texts, sources = [], []
    for i in range(n_docs):
        if i % 10 == 9 and sources:
            ws = texts[sources.pop(int(rng.integers(0, len(sources))))].split()
            ws[int(rng.integers(0, len(ws)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            ws = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
            if len(ws) >= 60:
                sources.append(i)
        texts.append(" ".join(ws))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    write_vectors(out, rng, n_vecs, 64, 10)


def clustered(rng, n, dim, clusters, spread=0.35):
    """n unit-norm float32 vectors around `clusters` random centres, with
    each vector's cluster id as its label."""
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    v = centres[label] + spread * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), label.astype(np.int32)


def write_vectors(out, rng, n, dim, clusters):
    v, label = clustered(rng, n, dim, clusters)
    _write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label})


def corpus(out, seed, n):
    os.makedirs(out, exist_ok=False)
    write_vectors(out, np.random.default_rng(seed), n, 64, 64)


if __name__ == "__main__":
    kind, out_dir, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if kind == "fixture":
        generate(out_dir, seed, float(sys.argv[4]))
    else:
        corpus(out_dir, seed, int(sys.argv[4]))
