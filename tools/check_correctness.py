"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 next to its
DuckDB oracle and compares row count, column names, and order-insensitive
values. Usage: python tools/check_correctness.py [sf_dir] [names...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

# this script's checkout, for the driver and (through PYTHONPATH) its
# Python workers; PYTHONSAFEPATH keeps the workers' working directory,
# maybe another checkout, off the front of their sys.path
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
os.environ["PYTHONSAFEPATH"] = "1"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6).astype("float64")
        elif df[c].dtype == bool:
            pass
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.datetime64):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from gliner_spark.session import build_session

    spark = build_session(cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark_df = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name}: rows-only ({len(spark_df)} rows)")
            continue
        oracle_df = con.execute(oracles[name]).df()
        a, b = canon(spark_df), canon(oracle_df)
        ok_cols = list(a.columns) == list(b.columns)
        ok_rows = len(a) == len(b)
        ok_vals = ok_cols and ok_rows and a.equals(b)
        status = "OK" if (ok_cols and ok_rows and ok_vals) else "FAIL"
        print(
            f"{name}: {status} spark={len(a)} oracle={len(b)} "
            f"cols={'ok' if ok_cols else (list(a.columns), list(b.columns))}"
        )
        if not ok_vals and ok_cols and ok_rows:
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            print("  first diffs (spark vs oracle):")
            print(a[bad].head(3).to_string())
            print(b[bad].head(3).to_string())
        failures += 0 if status == "OK" else 1
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
