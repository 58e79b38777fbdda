"""Driver-style correctness check: run each __spark_entry__ query on Spark and
its DuckDB oracle side-by-side at a given sf dir; compare row count, schema
(column names), and order-insensitive values (sorted columns, sorted rows).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

if len(sys.argv) > 1:
    # propagate the sf dir to the extract_* golden-relation oracles BEFORE
    # oracle_sql() is called (they derive the golden path from it)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sys.argv[1]

import __spark_entry__ as E
from paddleocr_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"[FAIL] {name}: spark error {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: rows={len(sdf)} cols={sorted(sdf.columns)}")
            if len(sdf) == 0:
                print(f"  WARNING {name}: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"[FAIL] {name}: duckdb error {ex}")
            failures += 1
            continue
        ok = True
        if len(sdf) != len(odf):
            print(f"[FAIL] {name}: rowcount spark={len(sdf)} duckdb={len(odf)}")
            ok = False
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"[FAIL] {name}: cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
            ok = False
        if ok:
            a, b = canon(sdf), canon(odf)
            b = b.astype(a.dtypes.to_dict(), errors="ignore")
            if not a.equals(b):
                neq = (a != b) & ~(a.isna() & b.isna())
                print(f"[FAIL] {name}: value mismatch in {list(a.columns[neq.any()])}")
                bad = neq.any(axis=1)
                print("  spark:\n", a[bad].head(3).to_string())
                print("  duck :\n", b[bad].head(3).to_string())
                ok = False
        if ok:
            print(f"[OK]   {name}: rows={len(sdf)}")
        else:
            failures += 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
