"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB at the given
SF, compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

# the tree this tool is in, so an exported checkout checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from vtzero_spark.engine.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"[SPARK-ERR] {name}: {type(e).__name__}: {str(e)[:500]}")
            continue
        if sql is None:
            print(f"[ROWS-ONLY] {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:
            failures.append(name)
            print(f"[ORACLE-ERR] {name}: {str(e)[:500]}")
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"[COL-MISMATCH] {name}: spark={list(a.columns)} oracle={list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"[ROWCOUNT] {name}: spark={len(a)} oracle={len(b)}")
            continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            failures.append(name)
            print(f"[VALUE-MISMATCH] {name}: {int(neq.sum())}/{len(a)} rows differ")
            print("spark:", a[neq].head(3).to_dict("records"))
            print("oracle:", b[neq].head(3).to_dict("records"))
            continue
        print(f"[OK] {name}: {len(a)} rows")
    print("FAILURES:", failures if failures else "none")
    spark.stop()


if __name__ == "__main__":
    main()
