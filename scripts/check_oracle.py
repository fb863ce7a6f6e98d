"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB at sf0.01, compares row count, column
names, and order-insensitive values (columns sorted by name, rows
sorted). Exit 1 on any mismatch.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from pke_spark.session import get_spark  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # unify dtypes for compare: ints -> int64, floats -> rounded float64
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        else:
            out[c] = s.astype(str)
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_oracle", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    kinds = entry.oracle_kinds()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        kind = kinds.get(name, "derived")
        sdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"  {name:28s} rows={len(sdf):6d}  (rows-only, no oracle)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        a, b = normalize(sdf), normalize(odf)
        ok = True
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns spark={list(a.columns)} duck={list(b.columns)}")
            ok = False
        elif len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
            ok = False
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())} differing rows, e.g.:")
            print(pd.concat([a[neq].head(3).add_suffix("_spark"),
                             b[neq].head(3).add_suffix("_duck")], axis=1))
            ok = False
        if ok:
            print(f"  {name:28s} rows={len(a):6d}  OK  [{kind}]")
        else:
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
