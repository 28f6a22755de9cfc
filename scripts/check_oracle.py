"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry at sf0.01 and compare against ``oracle_sql()`` via
DuckDB — row count, column names, and exact values (rows sorted,
columns sorted by name).

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from triple_accel_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v)).lower()
    if hasattr(v, "item"):  # numpy scalar
        return norm_cell(v.item())
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(pdf)} rows, cols={sorted(pdf.columns)}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[FAIL] {name}: duckdb error: {e}")
            continue
        if sorted(pdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(f"[FAIL] {name}: cols spark={sorted(pdf.columns)} oracle={sorted(odf.columns)}")
            continue
        if len(pdf) != len(odf):
            failures.append(name)
            print(f"[FAIL] {name}: rows spark={len(pdf)} oracle={len(odf)}")
            continue
        a, b = canon(pdf), canon(odf)
        if a != b:
            failures.append(name)
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"[FAIL] {name}: value mismatch; first diffs: {bad}")
        else:
            print(f"[OK]   {name}: {len(pdf)} rows match")
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
