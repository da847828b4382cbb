#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the query registry reads (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) in the same schema and
with the same value domains as the project's test fixtures (TESTDATA.md).
The output depends only on the scale factor and the data seed, so the
oracle results stored under `expected/` apply to every run.

    python3 perfbench/gen_tables.py <out_dir> <sf> [table ...]
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the row query stream value hash batch sort data big filter fast "
         "spark line small customer group key agg scan slow table part merge "
         "window order column join vector").split()
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(start, end, n, rng):
    lo = (np.datetime64(start, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    hi = (np.datetime64(end, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(name, sf, rng):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
        return pa.table({"c_custkey": np.arange(n_cust, dtype="int64"),
                         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                         "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                         "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                         "c_mktsegment": seg[rng.integers(0, 5, n_cust)]})
    if name == "supplier":
        return pa.table({"s_suppkey": np.arange(n_supp, dtype="int64"),
                         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                         "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                         "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    if name == "part":
        names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
        types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
        keys = np.arange(n_part, dtype="int64")
        return pa.table({"p_partkey": keys,
                         "p_name": names[rng.integers(0, len(names), n_part)],
                         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                         "p_type": types[rng.integers(0, 6, n_part)],
                         "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                         "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    if name == "orders":
        prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        return pa.table({"o_orderkey": np.arange(n_ord, dtype="int64"),
                         "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                         "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                         "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                         "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
                         "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    if name == "lineitem":
        n = int(6_000_000 * sf)
        return pa.table({"l_orderkey": rng.integers(0, n_ord, n).astype("int64"),
                         "l_partkey": rng.integers(0, n_part, n).astype("int64"),
                         "l_suppkey": rng.integers(0, n_supp, n).astype("int64"),
                         "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                         "l_quantity": rng.integers(1, 51, n).astype("float64"),
                         "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
                         "l_discount": rng.integers(0, 11, n) / 100.0,
                         "l_tax": rng.integers(0, 9, n) / 100.0,
                         "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                         "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                         "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng)})
    if name == "events":
        n = int(1_000_000 * sf)
        start = np.datetime64("2024-01-01T00:00:00", "us")
        offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
        types = np.array(["click", "error", "purchase", "signup", "view"])
        value = np.maximum(np.round(rng.lognormal(np.log(35.0), 0.85, n), 2), 0.01)
        return pa.table({"event_id": np.arange(n, dtype="int64"),
                         "ts": pa.array(((start - EPOCH).astype("int64") + offs),
                                        pa.timestamp("us")),
                         "user_id": rng.integers(0, max(15, int(15_000 * sf)), n).astype("int64"),
                         "event_type": types[rng.integers(0, 5, n)],
                         "value": value,
                         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if name == "documents":
        n = max(500, int(50_000 * sf))
        langs = np.array(["en", "de", "es", "fr", "zh"])
        texts = []
        for i in range(n):
            if i > 10 and rng.random() < 0.05:
                src = texts[rng.integers(0, i)]
                texts.append(src + " dup" * int(rng.integers(1, 3)))
            else:
                w = rng.integers(0, len(WORDS), int(rng.integers(10, 90)))
                texts.append(" ".join(WORDS[j] for j in w))
        return pa.table({"doc_id": np.arange(n, dtype="int64"),
                         "text": texts,
                         "lang": langs[rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
                         "source": [f"src{s}" for s in rng.integers(0, 20, n)],
                         "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    if name == "embeddings":
        n = max(500, int(20_000 * sf))
        vecs = rng.normal(0.0, 0.12, (n, 64)).astype("float32")
        return pa.table({"vec_id": np.arange(n, dtype="int64"),
                         "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                         "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    raise ValueError(f"unknown table {name}")


def generate(out_dir, sf, tables=TABLES):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for i, name in enumerate(TABLES):
        if name not in tables:
            continue
        # one stream per table, so generating a subset gives the same rows
        rng = np.random.default_rng([DATA_SEED, i, int(round(sf * 1e6))])
        tmp = out / f".{name}.parquet.tmp"
        pq.write_table(build(name, sf, rng), tmp)
        tmp.rename(out / f"{name}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), sys.argv[3:] or TABLES)
