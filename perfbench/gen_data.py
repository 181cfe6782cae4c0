"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the engine reads (TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` tables) as ONE `<table>.parquet` file
each, with the same column names, types and value ranges as the engine's
reference test data. The streaming sources select their input by file leaf
name, so the engine relies on the one-file-per-table layout.

The same (sf, seed) always produces byte-identical files. Rows are written in
a seeded permutation, so the row order the engine sees changes with the seed
as well as the values.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
COLORS = "red blue hot old large small green tiny".split()
NOUNS = "plate widget ring rod bolt gizmo anvil".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds() * 1_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = _us(start) // 86_400_000_000, _us(end) // 86_400_000_000
    return rng.integers(lo, hi + 1, n) * 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols, rng):
    t = pa.table(cols)
    t = t.take(pa.array(rng.permutation(t.num_rows)))
    pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def generate(out, sf, seed):
    """Write every table for scale factor `sf` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}, rng)
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}, rng)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()}, rng)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}, rng)
    colors, nouns = np.array(COLORS), np.array(NOUNS)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, len(colors), n_part)], " "),
                              nouns[rng.integers(0, len(nouns), n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)},
        rng)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist()}, rng)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 104999.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4), n_li))}, rng)
    start = _us(dt.datetime(2024, 1, 1))
    span = 30 * 86_400_000_000
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(start + rng.integers(0, span, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}, rng)
    words = np.array(WORDS)
    texts = []
    for _ in range(n_docs):
        ws = words[rng.integers(0, len(words), int(rng.integers(10, 100)))].tolist()
        if rng.random() < 0.05:
            ws += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(ws))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}, rng)
    e = rng.standard_normal((n_vec, 64))
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(e.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())}, rng)


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
