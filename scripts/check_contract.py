"""Local twin of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at the given sf, compare row count,
column names, and order-insensitive values.

Usage: python scripts/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from graphzeppelin_spark import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark = get_spark(app_name="contract_check", cores=8, shuffle_partitions=8)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(got)} rows (rows-only check)")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(exc).__name__}: {exc}")
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(e.columns)}")
        elif len(g) != len(e):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}")
        elif not g.equals(e):
            failures.append(name)
            diff = (g != e).any(axis=1)
            print(f"FAIL  {name}: {int(diff.sum())} differing rows of {len(g)}")
            print(pd.concat([g[diff].head(3), e[diff].head(3)]))
        else:
            print(f"OK    {name}: {len(g)} rows match")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
