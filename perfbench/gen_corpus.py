#!/usr/bin/env python3
"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables graft's queries read (TPC-H-like star schema plus
events, documents and embeddings) as one single-row-group parquet file
each, with the schemas and value domains FIXTURES.md records for the
reference test corpus: uniform keys, two-decimal money, midnight order
and ship dates, a sorted microsecond event clock, pseudo-word documents
of which 5 % are near-copies of an earlier document ending in "dup",
and unit-norm float32[64] embeddings.

The corpus seed is fixed by the caller, not by the benchmark's --seed:
every run of a workload reads the same tables, so outputs have one
correct answer per query.

Usage: python3 gen_corpus.py <out_dir> <scale> [corpus_seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def money(rng, lo_cents, hi_cents, n):
    # cents / 100 is the double nearest the two-decimal value
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def days(rng, first, last, n):
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(np.int64)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[ms]")


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].removesuffix(" dup").split(" ")
            if rng.random() < 0.7:
                for j in rng.choice(len(words), max(1, len(words) // 10)):
                    words[j] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def generate(out, scale, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_evt = int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs, n_emb = max(500, int(50_000 * scale)), max(500, int(20_000 * scale))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -99_999, 999_999, n_cust)),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -99_999, 999_999, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array((9_000 + pk % 1_000) / 10.0)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 100_000, 49_999_999, n_ord)),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 90_000, 10_499_999, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n_line))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, month_us, n_evt))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt)),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    texts = documents(rng, n_docs)
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
