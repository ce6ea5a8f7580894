#!/usr/bin/env python3
"""Write the benchmark's read-only query tables into a directory.

The ten tables have the schemas, value domains and row counts of the
engine's sf0.01 test scale (TPC-H-like star schema, an event stream, a
document corpus and an embedding table). They are a fixed input: the
generator seed is a constant, so every run of every workload queries the
same bytes; the benchmark seed only permutes query order.

    python3 perfbench/tables.py OUT_DIR
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SCALE = 0.01
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()


def n(rows_at_sf1):
    return max(1, int(rows_at_sf1 * SCALE))


def region():
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(names)})


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})


def customer(rng, rows):
    segs = np.array(["MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "AUTOMOBILE"])
    return pa.table({
        "c_custkey": pa.array(range(rows), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(rows)]),
        "c_nationkey": pa.array(rng.integers(0, 25, rows), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000.0, 10000.0, rows), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, rows)]),
    })


def supplier(rng, rows):
    return pa.table({
        "s_suppkey": pa.array(range(rows), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(rows)]),
        "s_nationkey": pa.array(rng.integers(0, 25, rows), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000.0, 10000.0, rows), 2)),
    })


def part(rng, rows):
    adjs = ["large", "hot", "blue", "small", "red", "green", "old", "dark"]
    nouns = ["ring", "bolt", "plate", "widget", "rod", "cap", "gear", "tube"]
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                      "PROMO"])
    i = np.arange(rows)
    return pa.table({
        "p_partkey": pa.array(i, pa.int64()),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, rows),
                                rng.integers(0, 8, rows))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, rows)]),
        "p_type": pa.array(types[rng.integers(0, 6, rows)]),
        "p_size": pa.array(rng.integers(1, 51, rows), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (i % 1000) / 10.0, 1)),
    })


def days_between(a, b):
    return int((np.datetime64(b) - np.datetime64(a)) / np.timedelta64(1, "D"))


def orders(rng, rows, customers):
    d0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, days_between("1995-01-01", "2001-08-01") + 1, rows)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(range(rows), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, rows), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[
            rng.integers(0, 3, rows)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, rows), 2)),
        "o_orderdate": pa.array(
            d0 + (days * 86_400_000_000).astype("timedelta64[us]"),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, rows)]),
    })


def lineitem(rng, rows, n_orders, parts, supps):
    d0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, days_between("1995-01-02", "2001-11-04") + 1, rows)
    qty = rng.integers(1, 51, rows).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, rows), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, supps, rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900.0, 1000.0, rows), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, rows) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, rows) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, rows)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[
            rng.integers(0, 2, rows)]),
        "l_shipdate": pa.array(
            d0 + (days * 86_400_000_000).astype("timedelta64[us]"),
            pa.timestamp("us")),
    })


def events(rng, rows, users):
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span = np.timedelta64(30, "D").astype("timedelta64[us]").astype(np.int64)
    types = np.array(["click", "view", "signup", "purchase", "error"])
    return pa.table({
        "event_id": pa.array(range(rows), pa.int64()),
        "ts": pa.array(t0 + rng.integers(0, span, rows).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, rows), pa.int64()),
        "event_type": pa.array(types[rng.integers(0, 5, rows)]),
        "value": pa.array(np.round(
            np.minimum(rng.exponential(60.0, rows), 490.0) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, rows)]),
    })


def documents(rng, rows):
    langs = ["en"] * 8 + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"]
    texts = []
    for i in range(rows):
        words = [WORDS[j] for j in rng.integers(0, len(WORDS),
                                                int(rng.integers(8, 101)))]
        t = " ".join(words)
        r = rng.random()
        if i > 10 and r < 0.02:    # exact duplicates
            t = texts[int(rng.integers(0, i))]
        elif i > 10 and r < 0.1:   # near duplicates sharing a prefix
            donor = texts[int(rng.integers(0, i))]
            t = donor[: len(donor) // 2] + " " + t
        texts.append(t)
    return pa.table({
        "doc_id": pa.array(range(rows), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([langs[j] for j in rng.integers(0, len(langs), rows)]),
        "source": pa.array([f"src{i % 20}" for i in range(rows)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, rows, dim=64, labels=10):
    v = np.clip(rng.normal(0.0, 0.125, (rows, dim)), -0.4, 0.4).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(rows), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, rows), pa.int32()),
    })


def generate(out):
    rng = np.random.default_rng(TABLE_SEED)
    customers, parts, supps, n_orders = n(150_000), n(200_000), n(10_000), n(1_500_000)
    tables = {
        "region": region(),
        "nation": nation(),
        "customer": customer(rng, customers),
        "supplier": supplier(rng, supps),
        "part": part(rng, parts),
        "orders": orders(rng, n_orders, customers),
        "lineitem": lineitem(rng, n(6_000_000), n_orders, parts, supps),
        "events": events(rng, n(1_000_000), users=n(15_000)),
        "documents": documents(rng, n(50_000)),
        "embeddings": embeddings(rng, n(50_000)),
    }
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1])
