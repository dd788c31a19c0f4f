"""Local replica of the driver's correctness gate: run every
driver_queries entry on Spark and its oracle on DuckDB, compare row count +
column names + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

The Spark master is $SPARK_GRAFT_MASTER (default local[8]), e.g.
SPARK_GRAFT_MASTER='local[1]' python tools/check_oracles.py ...
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# local Spark workers import the engine via PYTHONPATH, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(pdf: pd.DataFrame) -> list:
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for t in pdf.itertuples(index=False):
        row = []
        for v in t:
            if isinstance(v, float):
                row.append(f"{v:.9g}")
            else:
                row.append(str(v))
        rows.append("|".join(row))
    return sorted(rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from balrog_spark import driver_queries as dq
    from balrog_spark.session import get_spark

    spark = get_spark(app="oracle-check",
                      master=os.environ.get("SPARK_GRAFT_MASTER",
                                            "local[8]"),
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{sf_dir}/{t}.parquet'")

    queries = dq.all_queries()
    oracles = dq.all_oracles()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(got)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL  {name}: columns {sorted(got.columns)} != "
                  f"{sorted(exp.columns)}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL  {name}: rows {len(got)} != {len(exp)}")
            n_fail += 1
            continue
        cg, ce = canon(got), canon(exp)
        if cg != ce:
            diff = [(a, b) for a, b in zip(cg, ce) if a != b][:5]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            n_fail += 1
            continue
        print(f"PASS  {name}: {len(got)} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
