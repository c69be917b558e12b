"""Local mimic of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at the given
sf, compare row count + column names + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from crypto_crawler_rs_spark.functions.lifetimes import scope  # noqa: E402
from crypto_crawler_rs_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def norm(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app="check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # one scope per query: what the build persists, checkpoints
            # or broadcasts is released once its rows are collected
            with scope():
                got = fn(spark, sf).toPandas()
        except Exception as ex:
            failures.append((name, f"SPARK ERROR {type(ex).__name__}: {str(ex)[:300]}"))
            print(f"FAIL  {name}: spark error {str(ex)[:200]}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(got)} rows")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {str(ex)[:300]}"))
            print(f"FAIL  {name}: duckdb error {str(ex)[:200]}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"cols {sorted(got.columns)} vs {sorted(exp.columns)}"))
            print(f"FAIL  {name}: column mismatch {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rowcount {len(got)} vs {len(exp)}"))
            print(f"FAIL  {name}: rowcount {len(got)} vs {len(exp)}")
            continue
        g, e = norm(got), norm(exp)
        if g != e:
            diff = [i for i, (x, y) in enumerate(zip(g, e)) if x != y][:3]
            msg = "; ".join(f"row{i}: {g[i]} != {e[i]}" for i in diff)
            failures.append((name, f"values: {msg[:400]}"))
            print(f"FAIL  {name}: value mismatch {msg[:300]}")
            continue
        print(f"ok    {name}: {len(got)} rows")
    spark.stop()
    print(f"\n{len(failures)} failures")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
