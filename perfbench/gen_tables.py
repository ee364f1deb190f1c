"""Deterministic generator for the batch_suite tables.

Writes the ten tables the engine's query inventory reads (`region nation
customer supplier part orders lineitem events documents embeddings`), one
parquet file each, with the column names, physical types and value domains of
the engine's sf0.1 testdata: TPC-H-ish star schema, an `events` stream table,
a `documents` corpus with 5% near-duplicates and a unit-norm `embeddings`
table. The same seed always gives byte-identical values, so result digests
computed over these tables can be committed.

Usage: python3 perfbench/gen_tables.py <out_dir> [--seed N]
"""
import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
WORDS = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join batch sort value hash filter big data spark "
         "line small fast group customer").split()
ADJ = "blue cold hot red small new old large".split()
NOUN = "ring plate gear rod bolt anvil widget gizmo".split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def generate(out, seed=42):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_vec, dim = 5000, 2000, 64

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})

    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)]),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)])})

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 21, n_line) / 200.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 17, n_line) / 200.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498), pa.timestamp("us"))})

    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * SF), n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.integers(0, len(langs), n_doc)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    labels = rng.integers(0, 10, n_vec, dtype=np.int32)
    centers = rng.normal(0.0, 0.01, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels)})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp, a.seed)
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
