#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the engine's queries read (`region` ...
`embeddings`, one file each) with the column names and types listed in
FIXTURES.md and value domains shaped like the engine's test data: a
TPC-H-like star schema, a time-ordered `events` stream, a word-soup
`documents` corpus with ~5% planted near-duplicates, and 64-dim
`embeddings`.

The data never depends on the benchmark's `--seed`: the seed only orders
requests and splits the iterative workload's batches, so every seed
measures the same total work. Usage:

    python3 perfbench/gen_data.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "blue hot small old red new cold big tiny".split()
NOUN = "bolt gear anvil widget rod plate ring".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def ts_us(values):
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)],
                    type=pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document, one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    langs = np.where(rng.random(n) < 0.44, "en",
                     np.asarray(["de", "es", "fr", "zh"], dtype=object)[rng.integers(0, 4, n)])
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.astype(object), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def generate(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = (max(10, int(round(k * sf))) for k in (150_000, 10_000, 200_000))
    n_ord, n_li, n_ev = (int(round(k * sf)) for k in (1_500_000, 6_000_000, 1_000_000))
    n_users = max(10, int(round(15_000 * sf)))
    # 500 of each up to sf0.01, then 5,000 documents and 2,000 embeddings at sf0.1
    n_docs, n_emb = (max(500, int(round(k * sf))) for k in (50_000, 20_000))

    write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp), pa.float64())})
    write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), pa.float64())})
    write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 1000, 500_000, n_ord), pa.float64()),
        "o_orderdate": ts_us(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(money(rng, 900, 105_000, n_li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": ts_us(EPOCH_1995 + rng.integers(1, 2500, n_li) * US_PER_DAY)})
    gap_us = 30 * US_PER_DAY // max(1, n_ev)
    write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts_us(EPOCH_2024 + np.arange(n_ev) * gap_us + rng.integers(0, gap_us, n_ev)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    write(out_dir, "documents", documents(rng, n_docs))
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.15, (n_emb, 64))).astype(np.float32)
    write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))
