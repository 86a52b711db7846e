"""Synthetic source tables for the benchmark.

Writes the ten parquet tables the program reads (`graft.Tables.all`) in
the schema, row counts and column distributions of the TPC-H-ish test
tables the program's tests use (NOTES.md records the comparison): four
lineitem rows per order with random order keys, spread uniformly over
2,499 ship days (about 240 per day at sf 0.1), dimension keys contiguous
from 0, money columns with two decimals, the 31-word document vocabulary,
64-dim unit-norm embeddings and a one-month event stream with
exponential values. Timestamps are microseconds, as in the test tables.

The tables are a fixed function of the scale factor; the workload seed
never changes them. It only picks what the benchmark feeds the program
(the date window, the entry order), so the tables are generated once per
checkout and reused.

Usage: python3 perfbench/tables.py <out_dir> <sf>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIP_START = datetime.date(1995, 1, 2)  # run.py keeps a copy of this range
SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
ORDER_START = datetime.date(1995, 1, 1)
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01
EVENTS_START = datetime.datetime(2024, 1, 1)

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
PART_ADJ = "red blue small large hot cold old new".split()
PART_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
PART_TYPES = "STANDARD SMALL MEDIUM LARGE ECONOMY PROMO".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click view purchase signup error".split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def day_micros(start, days):
    """Microseconds since the epoch of `start + days` (vectorised)."""
    epoch = datetime.date(1970, 1, 1)
    base = (start - epoch).days
    return (base + np.asarray(days, dtype=np.int64)) * 86_400_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_array(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), pa.timestamp("us"))


def counts(sf):
    """Row counts per table, matching the test tables at sf 0.001/0.01/0.1."""
    return {
        "supplier": max(10, round(10_000 * sf)),
        "customer": round(150_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "events": round(1_000_000 * sf),
        "users": max(15, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def generate(out, sf):
    rng = np.random.default_rng(42)
    n = counts(sf)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    s = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})

    c = n["customer"]
    write("customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})

    p = n["part"]
    keys = np.arange(p)
    write("part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p),
                                               rng.choice(PART_NOUN, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    o = n["orders"]
    write("orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], o),
        "o_totalprice": money(rng, 1000.0, 500000.0, o),
        "o_orderdate": ts_array(day_micros(ORDER_START, rng.integers(0, ORDER_DAYS, o))),
        "o_orderpriority": rng.choice(PRIORITIES, o)})

    # Four lines per order on average, each naming a random order and a
    # random line number 1..7, so (orderkey, linenumber) repeats as it does
    # in the test tables.
    nl = 4 * o
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": ts_array(day_micros(SHIP_START, rng.integers(0, SHIP_DAYS, nl)))})

    e = n["events"]
    month = 30 * 86_400_000_000
    base = int((EVENTS_START - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    write("events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": ts_array(base + np.sort(rng.integers(0, month, e))),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    words = np.array(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, d)]
    for i in rng.integers(1, d, d * 16 // 10000):  # ~0.16% exact dups
        texts[i] = texts[int(i) // 2]
    write("documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    m = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})

if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
