"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads through `graft.Tables` (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the same column names, parquet
types and value domains as the engine's TPC-H-ish testdata. Row counts
scale with `sf` the way that testdata does; documents and embeddings have
their own counts because the near-dup workload sizes them separately.

The sizes are fixed (SF, DOCS, VECS below) and so is the seed, so the
tables are always byte-identical and result fingerprints pinned once stay
valid.

    python3 perfbench/gen.py <out_dir>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# TPC-H-ish tables at sf 0.01 (60k lineitem rows); documents and
# embeddings for the near-dup queries
SF, DOCS, VECS = 0.01, 500, 500
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, start, end):
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start, "us")
    return base + (d * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out):
    sf, docs, vecs = SF, DOCS, VECS
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [types[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 1) for i in range(n_part)]})
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime.date(1995, 1, 1),
                                      datetime.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": [prio[p] for p in rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, datetime.date(1995, 1, 2),
                                     datetime.date(2001, 11, 4)), pa.timestamp("us"))})
    # events: exponential gaps spread over 30 days, microsecond timestamps
    gaps = rng.exponential(1.0, n_ev)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * 86_400 - 60)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        (offs * 1e6).astype(np.int64).astype("timedelta64[us]")
    etypes = ["click", "error", "purchase", "signup", "view"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 15), n_ev), pa.int64()),
        "event_type": [etypes[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random vocabulary text; 5% are another doc's text + " dup"
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
             for _ in range(docs)]
    for i in sorted(rng.choice(docs, docs // 20, replace=False)):
        j = int(rng.integers(0, docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = rng.standard_normal((vecs, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(vecs), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs), pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1])
