"""Seeded input generator for the benchmark.

Everything the program reads in a benchmark run comes from here: the ten
fixture-shaped parquet tables the query suite scans (same column names and
types as the repository's test fixtures), and the `orders` table and the
staged CSV file of the ETL job. The same seed always gives byte-identical
inputs.

Usage: python3 perfbench/gen_data.py <out_dir> <seed>
"""
import datetime as dt
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture scale of the query suite: the sf0.001 row counts, where about
# half of a query's time is data-independent cost (planning, eager jobs).
SUITE_ROWS = {"customer": 150, "orders": 1500, "lineitem": 6000,
              "part": 200, "supplier": 10, "events": 1000,
              "documents": 500, "embeddings": 500}
# The ETL job's catalog `orders` table; a job's time is mostly per-statement
# fixed cost at this size.
ETL_ORDERS = 15000
# Rows of the CSV file staged by every ETL job: half update existing
# orders (MERGE matched), half insert new keys at NEW_KEY_BASE and up.
ETL_STAGE = 2000
NEW_KEY_BASE = 10_000_000

WORDS = ("the a b fast slow big small key order sort table scan merge part "
         "window hash join batch stream spark dup group query row data "
         "filter customer line value agg vector").split()
ADJ = "small blue cold old new hot large red".split()
NOUN = "widget rod ring anvil plate bolt gear".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY0 = dt.datetime(1995, 1, 1)
TS0 = dt.datetime(2024, 1, 1)


def money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(out, f"{name}.parquet"))


def orders_cols(r, n, n_cust):
    return {
        "o_orderkey": list(range(n)),
        "o_custkey": [r.randrange(n_cust) for _ in range(n)],
        "o_orderstatus": [r.choice("FOP") for _ in range(n)],
        "o_totalprice": [money(r, 1000, 500000) for _ in range(n)],
        "o_orderdate": [DAY0 + dt.timedelta(days=r.randrange(2400))
                        for _ in range(n)],
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n)],
    }


ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])


def suite_tables(out, r):
    n = SUITE_ROWS
    write(out, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write(out, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)]},
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]))
    c = n["customer"]
    write(out, "customer", {
        "c_custkey": list(range(c)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": [r.randrange(25) for _ in range(c)],
        "c_acctbal": [money(r, -999, 9999) for _ in range(c)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(c)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    s = n["supplier"]
    write(out, "supplier", {
        "s_suppkey": list(range(s)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": [r.randrange(25) for _ in range(s)],
        "s_acctbal": [money(r, 500, 9999) for _ in range(s)]},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    p = n["part"]
    write(out, "part", {
        "p_partkey": list(range(p)),
        "p_name": [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(p)],
        "p_brand": [f"Brand#{r.randrange(1, 26)}" for _ in range(p)],
        "p_type": [r.choice(PTYPES) for _ in range(p)],
        "p_size": [r.randrange(1, 51) for _ in range(p)],
        "p_retailprice": [round(900 + (i % 200) * 0.1, 2) for i in range(p)]},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    o = n["orders"]
    write(out, "orders", orders_cols(r, o, c), ORDERS_SCHEMA)
    li = n["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": [r.randrange(o) for _ in range(li)],
        "l_partkey": [r.randrange(p) for _ in range(li)],
        "l_suppkey": [r.randrange(s) for _ in range(li)],
        "l_linenumber": [r.randrange(1, 8) for _ in range(li)],
        "l_quantity": [float(r.randrange(1, 51)) for _ in range(li)],
        "l_extendedprice": [money(r, 900, 105000) for _ in range(li)],
        "l_discount": [r.randrange(11) / 100 for _ in range(li)],
        "l_tax": [r.randrange(9) / 100 for _ in range(li)],
        "l_returnflag": [r.choice("ANR") for _ in range(li)],
        "l_linestatus": [r.choice("FO") for _ in range(li)],
        "l_shipdate": [DAY0 + dt.timedelta(days=r.randrange(1, 2500))
                       for _ in range(li)]},
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()),
                   ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()),
                   ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))
    e = n["events"]
    gaps = sorted(r.randrange(30 * 86400 * 10**6) for _ in range(e))
    write(out, "events", {
        "event_id": list(range(e)),
        "ts": [TS0 + dt.timedelta(microseconds=g) for g in gaps],
        "user_id": [r.randrange(15) for _ in range(e)],
        "event_type": [r.choice(EVENT_TYPES) for _ in range(e)],
        "value": [money(r, 0, 330) for _ in range(e)],
        "props": ['{"k": %d}' % r.randrange(100) for _ in range(e)]},
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))
    d = n["documents"]
    texts = [" ".join(r.choice(WORDS) for _ in range(r.randrange(8, 90)))
             for _ in range(d)]
    write(out, "documents", {
        "doc_id": list(range(d)), "text": texts,
        "lang": [r.choice(LANGS) for _ in range(d)],
        "source": [f"src{r.randrange(20)}" for _ in range(d)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))
    m = n["embeddings"]
    g = np.random.default_rng(r.randrange(2**32))
    centers = g.normal(size=(10, 64))
    labels = g.integers(0, 10, size=m)
    vecs = centers[labels] * 0.4 + g.normal(size=(m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": list(range(m)),
        "embedding": [list(map(float, v.astype(np.float32))) for v in vecs],
        "label": labels.astype(np.int32).tolist()},
        pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))


def etl_inputs(out, r):
    cols = orders_cols(r, ETL_ORDERS, 1500)
    write(out, "etl_orders", cols, ORDERS_SCHEMA)
    half = ETL_STAGE // 2
    keys = r.sample(range(ETL_ORDERS), half) + \
        list(range(NEW_KEY_BASE, NEW_KEY_BASE + half))
    with open(os.path.join(out, "stage.csv"), "w") as f:
        f.write("o_orderkey,o_custkey,o_orderstatus,o_totalprice,"
                "o_orderdate,o_orderpriority\n")
        for k in keys:
            day = DAY0 + dt.timedelta(days=r.randrange(2400))
            f.write(f"{k},{r.randrange(1500)},{r.choice('FOP')},"
                    f"{money(r, 1000, 500000)},{day:%Y-%m-%d %H:%M:%S},"
                    f"{r.choice(PRIORITIES)}\n")


def generate(out, seed):
    """Write every input of a run for `seed` under `out`."""
    os.makedirs(out, exist_ok=True)
    suite_tables(out, random.Random(seed))
    etl_inputs(out, random.Random(seed * 7919 + 1))
    sizes = {f: os.path.getsize(os.path.join(out, f))
             for f in sorted(os.listdir(out))}
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump({"seed": seed, "bytes": sizes, "rows": {
            **SUITE_ROWS, "etl_orders": ETL_ORDERS, "stage.csv": ETL_STAGE}},
            f, indent=1, sort_keys=True)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
