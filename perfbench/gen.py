"""Seeded input generator for the benchmark.

Writes the ten graft tables (TPC-H-like star schema plus `events`,
`documents` and `embeddings`) at scale factor 0.1 under one directory,
one sub-directory per table: `<out>/<table>.parquet/part-NNNNN.parquet`.

Table contents are fixed (content seed 42; the column distributions of
graft's own synthetic test data); `--seed` chooses the row order, and so
which rows land in which of a table's equal-sized files. Seed 0 keeps the
generated order. The same seed gives byte-identical files.

    python3 perfbench/gen.py OUT_DIR --seed N
"""
import argparse
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
SF = 0.1
# tables at or above this row count are split into FILES files
SPLIT_MIN_ROWS = 10_000
FILES = 4

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot red small new old large".split()
NOUN = "ring plate gear rod bolt anvil widget pipe".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _days(start, end, n, rng):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables():
    rng = np.random.Generator(np.random.PCG64(CONTENT_SEED))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = int(150_000 * SF)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})

    n = int(10_000 * SF)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))})

    n = int(200_000 * SF)
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1))})

    n_orders = int(1_500_000 * SF)
    n_cust = int(150_000 * SF)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_orders)),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_orders, rng)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})

    n = int(6_000_000 * SF)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * SF), n)),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * SF), n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n, rng))})

    n = int(1_000_000 * SF)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.integers(0, span_us, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})

    n = int(50_000 * SF)
    texts = []
    for i in range(n):
        if i >= 100 and rng.random() < 0.05:
            # a near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    n = int(20_000 * SF)
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})
    return out


def layout(seed, n_rows):
    """Row order and file cut points for one table under `seed`. Files are
    equal in size; the seed decides which rows land in which file."""
    files = FILES if n_rows >= SPLIT_MIN_ROWS else 1
    if seed == 0:
        order = np.arange(n_rows)
    else:
        order = np.random.Generator(np.random.PCG64(seed)).permutation(n_rows)
    return order, [n_rows * i // files for i in range(files + 1)]


def generate(out_dir, seed):
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    for name, t in tables().items():
        order, cuts = layout(seed, t.num_rows)
        t = t.take(pa.array(order))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        for i in range(len(cuts) - 1):
            pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]),
                           os.path.join(d, f"part-{i:05d}.parquet"),
                           compression="snappy")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    generate(a.out_dir, a.seed)
