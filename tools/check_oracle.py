"""Dev replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its
``oracle_sql()`` twin in DuckDB over the same parquet, then compares
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [name_filter ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from lucene_solr_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    import os

    sf_dir = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
    filters = sys.argv[1:]
    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duck_conn(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(sdf)} ({time.time()-t0:.1f}s, no oracle)")
            n_weak += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
        elif len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            print(f"FAIL  {name}: value mismatch in {int(neq.sum())}/{len(a)} rows")
            print(pd.concat([a[neq].head(3), b[neq].head(3)], axis=1))
            n_fail += 1
        else:
            print(f"pass  {name}: rows={len(a)} ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} weak, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
