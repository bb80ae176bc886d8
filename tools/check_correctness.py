"""Local mirror of the driver's t2 correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count,
schema (column names), and order-insensitive values."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        if str(df[c].dtype) in ("int32", "int64", "uint32", "Int64", "Int32"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    import __spark_entry__ as entrymod
    from rasterframes_spark import create_rf_spark_session

    spark = create_rf_spark_session(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows={len(sdf)} (no oracle)")
            continue
        odf = con.sql(oracles[name]).df()
        s, o = norm(sdf), norm(odf)
        ok_rows = len(s) == len(o)
        ok_schema = list(s.columns) == list(o.columns)
        ok_vals = False
        if ok_rows and ok_schema:
            try:
                pd.testing.assert_frame_equal(s, o, check_dtype=False, atol=1e-9, rtol=0)
                ok_vals = True
            except AssertionError as e:
                msg = str(e).split("\n")[0]
        status = "PASS" if (ok_rows and ok_schema and ok_vals) else "FAIL"
        dt = time.time() - t0
        print(f"{status} {name}: rows {len(s)}/{len(o)} schema={ok_schema} vals={ok_vals} ({dt:.1f}s)")
        if status == "FAIL":
            failed.append(name)
            if not ok_schema:
                print(f"   spark cols: {list(s.columns)}\n   oracle cols: {list(o.columns)}")
            elif ok_rows and not ok_vals:
                print(f"   {msg}")
                merged = s.compare(o) if s.shape == o.shape else None
                if merged is not None and len(merged):
                    print(merged.head(5))
    spark.stop()
    print("\n" + ("ALL PASS" if not failed else f"FAILED: {failed}"))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
