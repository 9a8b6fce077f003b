"""Output check of the query suite: each query's Spark result against its
DuckDB oracle over the same generated parquet tables.

The comparison is the one the repository's oracle gate makes: columns
sorted by name on both sides, the same row count, and row-for-row equal
values, doubles compared by their exact repr. A query without an oracle
fails the check; the suite only holds queries that have one.
"""
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def compare(spark_tbl, duck_tbl):
    """None when the two tables hold the same result, else why not."""
    s_cols = sorted(spark_tbl.column_names)
    d_cols = sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        return f"columns spark={s_cols} duckdb={d_cols}"
    if spark_tbl.num_rows != duck_tbl.num_rows:
        return f"rows spark={spark_tbl.num_rows} duckdb={duck_tbl.num_rows}"
    s_rows = zip(*[spark_tbl.column(c).to_pylist() for c in s_cols])
    d_rows = zip(*[duck_tbl.column(c).to_pylist() for c in d_cols])
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if tuple(map(canon, sr)) != tuple(map(canon, dr)):
            return f"row {i}: spark={sr} duckdb={dr}"
    return None


def check(results_dir, data_dir):
    """{query name: failure} for every query whose result does not match
    its oracle; an empty dict when all match."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(results_dir, "oracles.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name, sql in sorted(oracles.items()):
        if not sql:
            bad[name] = "no oracle"
            continue
        try:
            spark_tbl = pq.read_table(os.path.join(results_dir, name))
            duck_tbl = con.sql(sql).arrow()
        except Exception as e:  # a missing result or a broken oracle
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        why = compare(spark_tbl, duck_tbl)
        if why:
            bad[name] = why
    con.close()
    return bad
