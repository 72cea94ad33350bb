#!/usr/bin/env python3
"""Seeded generator for the analytics tables the query_mix workload reads.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
types and value domains the graft operators expect (a TPC-H-like star
schema, an event stream, a text corpus and a 64-dimensional embedding
table), plus _manifest.json with the corpus's ground truth (exact-duplicate
groups, near-duplicate pairs, low-quality docs). Row counts scale with
``sf``: sf 0.1 gives 600,000 lineitem rows and 5,000 documents.

    python3 perfbench/gen_tables.py <out_dir> <sf> <seed>

The same (sf, seed) gives byte-identical files.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return np.asarray(values)[rng.choice(len(values), n, p=p)]


def make_documents(rng, n):
    """Word-salad docs of 10-100 words over the graded corpus's 30-word
    vocabulary, with controlled shares of shared work: about 30% of the
    docs are exact copies inside duplicate groups of 2-6, about 10% are
    near-duplicates (a copy with 2-3 tokens replaced) and about 5% are
    repetitive low-quality docs. Returns the table and its ground truth."""
    vocab = np.array(VOCAB)

    def salad():
        return " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])

    slots = rng.permutation(n).tolist()  # doc_id order mixes the kinds
    texts = [None] * n
    exact_groups, near_pairs, low = [], [], []
    copies = 0
    while copies < int(n * 0.30):
        size = min(int(rng.integers(2, 7)), int(n * 0.30) - copies + 1)
        group = sorted(slots.pop() for _ in range(size))
        text = salad()
        for d in group:
            texts[d] = text
        exact_groups.append(group)
        copies += size - 1
    for _ in range(int(n * 0.10) // 2):
        a, b = slots.pop(), slots.pop()
        toks = salad().split(" ")
        while len(toks) < 30:
            toks = salad().split(" ")
        texts[a] = " ".join(toks)
        for i in rng.choice(len(toks), int(rng.integers(2, 4)), replace=False):
            toks[i] = str(vocab[rng.integers(0, len(vocab))])
        texts[b] = " ".join(toks)
        near_pairs.append(sorted([a, b]))
    for _ in range(int(n * 0.05)):
        d = slots.pop()
        k = int(rng.integers(40, 120))
        w = vocab[rng.integers(0, len(vocab), 2)]
        texts[d] = (" ".join([w[0]] * k) if rng.random() < 0.5
                    else " ".join([w[0], w[1]] * (k // 2)))
        low.append(d)
    for d in slots:
        texts[d] = salad()
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_choice(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    truth = {"docs": n, "exact_groups": sorted(exact_groups),
             "near_pairs": sorted(near_pairs), "low_quality": sorted(low)}
    return table, truth


def make_embeddings(rng, n, dim=64, labels=10):
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centroids[label] * 0.6 + rng.normal(0.0, 1.0, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_cust)}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))
    adj = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
    noun = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(keys),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, ["LARGE", "ECONOMY", "STANDARD", "PROMO",
                                "SMALL", "MEDIUM"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _choice(rng, ["O", "F"], n_line),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * DAY_US,
                               pa.timestamp("us"))}))
    offsets = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offsets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": _choice(rng, ["view", "click", "purchase", "signup", "error"], n_evt),
        "value": np.round(rng.exponential(60.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}))
    documents, truth = make_documents(rng, n_docs)
    _write(out_dir, "documents", documents)
    _write(out_dir, "embeddings", make_embeddings(rng, n_emb))
    # underscore-prefixed: invisible to Spark's file listing
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump({"sf": sf, "seed": seed, "lineitem": n_line, "embeddings": n_emb,
                   "documents": truth}, f, sort_keys=True)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
