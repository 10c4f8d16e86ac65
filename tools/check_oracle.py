"""Local harness replicating the driver's correctness gate.

Runs every __spark_entry__.queries() entry against its oracle_sql()
via DuckDB at a given sf dir, compares row count, column names and an
order-insensitive value hash, and ends with one count line
(``ok=N skip=N fail=N``). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from axosyslog_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        h.update(pd.util.hash_pandas_object(df[c].astype(str), index=False).values.tobytes())
    return h.hexdigest()[:16]


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    # gate queries (what the driver checks) + the extra non-driver
    # queries — the local replica verifies BOTH sets
    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    osql = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}
    counts = {"ok": 0, "skip": 0, "fail": 0}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            counts["fail"] += 1
            continue
        if name not in osql:
            print(f"SKIP {name}: no oracle (rows={len(sdf)})")
            counts["skip"] += 1
            continue
        try:
            ddf = con.execute(osql[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            counts["fail"] += 1
            continue
        s, d = norm(sdf), norm(ddf)
        ok_rows = len(s) == len(d)
        ok_cols = list(s.columns) == list(d.columns)
        ok_vals = ok_rows and ok_cols and value_hash(s) == value_hash(d)
        status = "OK  " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        counts["ok" if status == "OK  " else "fail"] += 1
        print(f"{status} {name}: rows {len(s)}/{len(d)} cols={ok_cols} vals={ok_vals}")
        if not ok_vals and ok_rows and ok_cols and len(s) == len(d):
            diff = s.compare(d) if s.shape == d.shape else None
            if diff is not None and len(diff):
                print(diff.head(5))
    # one count line to read the run from: the per-query lines share the
    # terminal with Spark's '\r' progress bar, so line-anchored greps
    # over a captured log undercount them
    print(" ".join(f"{k}={v}" for k, v in counts.items()))
    return 1 if counts["fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
