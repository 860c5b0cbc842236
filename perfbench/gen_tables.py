#!/usr/bin/env python3
"""Seeded generator of the relational and corpus tables the benchmark reads.

Writes one parquet file per table (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) with the column names and
types graft's queries expect (FIXTURES.md section B). The row counts are
those of the project's seed-42 testdata sets (TESTDATA.md), counted from
their parquet files: FIXTURES.md section B says every count grows x10 and
x100 from sf0.001, but in the files `documents` has 500, 500 and 5000 rows
and `embeddings` 500, 500 and 2000 at sf0.001, sf0.01 and sf0.1.

The value distributions also follow those files. Columns are drawn
independently and uniformly. In `documents`, 5 % of the rows are an earlier
document's text plus the token `dup` (25 of 500 rows at sf0.01, 250 of 5000
at sf0.1) and about 0.2 % are exact copies (8 of 5000 at sf0.1); the other
texts are 10 to 100 words drawn uniformly from a 30-word vocabulary.
`embeddings` are uniformly random unit vectors of dimension 64, with a
label drawn uniformly from 0-9 and independent of the vector.

The same (seed, sf) always gives byte-identical files.

Usage: gen_tables.py <out_dir> [--seed N] [--sf sf0.001|sf0.01|sf0.1]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["large", "hot", "cold", "blue", "old", "red", "small", "new"]
NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# rows per table in the testdata sets (region and nation are fixed at 5, 25)
ROWS = {
    "sf0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                    lineitem=6000, events=1000, documents=500, embeddings=500),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500, embeddings=500),
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, documents=5000,
                  embeddings=2000),
}


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"),
                   row_group_size=1 << 30)


def generate(out, seed=42, sf="sf0.01"):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    r = ROWS[sf]
    n_cust, n_supp, n_part = r["customer"], r["supplier"], r["part"]
    n_ord, n_li, n_ev = r["orders"], r["lineitem"], r["events"]
    n_doc, n_emb = r["documents"], r["embeddings"]

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), pa.timestamp("us"))})
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", choices=sorted(ROWS), default="sf0.01")
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf)
