"""Seeded input generator for the benchmark.

Every table the workloads read is made here from the seed alone, with the
schemas of the program's TPC-H-like test tables: the same seed always gives
byte-identical parquet files. The program only ever sees these files.
"""
import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(2024, 1, 1)

# Sizes per scale. `bench` is what the benchmark measures; `smoke` is the tiny
# set its own tests use.
#
# `bench` keeps the shape of TPC-H sf0.1 on a thirtieth of its calendar. sf0.1
# has 150,000 orders on 2,406 order days (62 a day), 1-7 line items per order,
# each shipping 1-121 days after its order, and one customer per ten orders.
# DAY-partitioned, it writes 4,905 files, and that fan-out is most of a full
# refresh. Here 5,000 orders fall on 80 days, at the same 62 a day, with the
# same line-item count and ship lag, so a day partition holds as many rows as
# at sf0.1: about 20,000 line items on 200 ship days, 500 customers, and about
# 280 partition files per refresh.
SCALES = {
    "bench": dict(orders=5000, order_days=80, ship_lag=121, customers=500,
                  documents=500, embeddings=500),
    "smoke": dict(orders=320, order_days=16, ship_lag=10, customers=30,
                  documents=120, embeddings=120),
}

# The program's test corpus vocabulary; "dup" marks planted near-duplicates.
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
EMB_DIM = 64
EMB_LABELS = 10

TS = pa.timestamp("us", tz="UTC")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days_to_ts(days):
    base = np.datetime64(EPOCH.isoformat(), "us")
    return (base + days.astype("timedelta64[D]")).astype("datetime64[us]")


def etl_tables(rng, size):
    n_cust, n_ord, n_days = size["customers"], size["orders"], size["order_days"]
    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    # every day gets orders, so the DAY fan-out is the same for every seed
    order_day = np.sort(np.concatenate([
        np.arange(n_days), rng.integers(0, n_days, n_ord - n_days)]))
    ord_ = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n_ord), 2)),
        "o_orderdate": pa.array(_days_to_ts(order_day), TS),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(l_order)
    line_no = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    ship_day = np.repeat(order_day, per_order) + rng.integers(1, size["ship_lag"] + 1, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    li = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(line_no),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(_days_to_ts(ship_day), TS),
    })
    return {"customer": cust, "orders": ord_, "lineitem": li}


def documents(rng, n):
    """Bag-of-words documents; every 20th one is a near-duplicate of an
    earlier document with one word replaced by "dup"."""
    texts = []
    for i in range(n):
        if i % 20 == 19:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    """Unit vectors scattered around one centroid per label."""
    centroids = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    v = centroids[labels] + 0.8 * rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


# The held-out quarter of the documents arrives in this many micro-batches.
INGEST_BATCHES = 8


REGISTRY_TYPES = {pa.int64(): "INTEGER", pa.int32(): "INTEGER", pa.float64(): "FLOAT",
                  pa.string(): "STRING", TS: "TIMESTAMP"}


def registry(tables):
    """The ETL write-side schema registry in the reference's
    {table: [{"name", "type"}]} shape, declaring every input column."""
    return {name: [{"name": f.name, "type": REGISTRY_TYPES[f.type]} for f in t.schema]
            for name, t in tables.items()}


def plan(workload, seed, scale):
    """The seeded choices the harness makes about its inputs: the ingest
    batch split, the probe term bags and the redelivered batch."""
    size = SCALES[scale]
    rng = np.random.default_rng([seed, 1])
    if workload == "curation_ops":
        held_out = np.arange(3, size["documents"], 4)
        batches = [sorted(int(i) for i in b)
                   for b in np.array_split(rng.permutation(held_out), INGEST_BATCHES)]
        bags = [sorted(str(w) for w in rng.choice(WORDS, int(rng.integers(3, 6)), replace=False))
                for _ in range(INGEST_BATCHES)]
        return {"batches": batches, "bags": bags,
                # redelivered from batch 1 on, so every run reaches it
                "redeliver": int(rng.integers(0, 2))}
    return {}


def generate(workload, seed, scale, out_dir):
    """Write the workload's inputs as <out_dir>/<table>.parquet (plus the
    ETL schema registry as <out_dir>/registry.json) and return {table: rows}."""
    size = SCALES[scale]
    rng = np.random.default_rng(seed)
    if workload.startswith("etl_"):
        tables = etl_tables(rng, size)
        with open(f"{out_dir}/registry.json", "w") as f:
            json.dump(registry(tables), f)
    else:
        tables = {"documents": documents(rng, size["documents"]),
                  "embeddings": embeddings(rng, size["embeddings"])}
    for name, t in tables.items():
        _write(t, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
