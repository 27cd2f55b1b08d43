"""Seeded generator for the star schema, events, documents and embeddings
tables that `SparkEntry.queries` read.

The tables have the column names, parquet types and value distributions
of the engine's fixture data (TPC-H-like star schema, a 30-day `events`
stream, a 30-word-vocabulary text corpus with 5% near-duplicates, and
unit-normalised 64-dim embeddings). Row counts are fixed; only the values
depend on the seed, so two seeds give the same amount of work.

    python3 perfbench/datagen.py <outdir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: the fixture's sf0.01 shape
ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
            events=10000, users=150, documents=500, embeddings=500)

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

US_PER_DAY = 86_400_000_000


def _us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n, first, last):
    """n day-resolution timestamps (µs) uniform over [first, last]."""
    lo, hi = _us(first) // US_PER_DAY, _us(last) // US_PER_DAY
    return rng.integers(lo, hi + 1, n) * US_PER_DAY


def _cents(rng, n, lo, hi):
    """n 2-decimal doubles uniform over [lo, hi]."""
    return rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n) / 100.0


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 100 and rng.random() < 0.05:
            # near-duplicate: an earlier text with a few words replaced
            words = texts[rng.integers(len(texts))].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[rng.integers(len(words))] = "dup"
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    return texts


def generate(out, seed):
    n = ROWS
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    ts_us = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents(rng, nc, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, nc).tolist()})

    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _cents(rng, ns, -999.99, 9999.99)})

    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, npart), _pick(rng, NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": (9000 + np.arange(npart) % 1000) / 10.0})

    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no).tolist(),
        "o_totalprice": _cents(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), ts_us),
        "o_orderpriority": _pick(rng, PRIORITIES, no).tolist()})

    nl = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl).tolist(),
        "l_linestatus": _pick(rng, ["O", "F"], nl).tolist(),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), ts_us)})

    ne = n["events"]
    t0 = _us("2024-01-01")
    ts = np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, ts_us),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne).tolist(),
        "value": np.maximum(1, np.round(rng.exponential(50.0, ne) * 100)) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = _documents(rng, nd)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, nd, p=LANG_W).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
