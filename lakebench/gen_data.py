#!/usr/bin/env python3
"""Deterministic generator for the benchmark's OLAP tables.

Writes the tables the benchmark's queries read (region, nation, customer,
supplier, orders, lineitem, events, documents), one parquet file each, with
the column names, types and value ranges the engine's queries are written
against (FIXTURES.md, TESTDATA.md). Row counts scale with the scale factor: sf0.1 holds 600,000 lineitems, 150,000 orders
and 100,000 events.

The same (seed, sf) always gives byte-identical tables, so the expected
result digests stored beside the benchmark stay valid.

Usage: python3 gen_data.py <out_dir> <sf> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]


def us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def day_ts(rng, n, lo, hi):
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    days = rng.integers(0, (us(hi) - us(lo)) // US_PER_DAY + 1, n)
    return pa.array(us(lo) + days * US_PER_DAY, pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": day_ts(rng, n_line, "1995-01-02", "2001-11-04")})
    start, span = us("2024-01-01"), 30 * US_PER_DAY
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(start + np.sort(rng.integers(0, span, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # 5% of documents are near-duplicates: an earlier document plus a marker
    # token (two copies of the same source are exact duplicates of each other)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": pick(rng, LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf, seed):
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)


if __name__ == "__main__":
    main()
