#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare
row-count, schema column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [--sf /root/testdata/sf0.01] [--only q7]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    """EXACT, type-distinguishing normalization.  The driver's hash is
    value- and dtype-sensitive (DuckDB HUGEINT sums land in pandas as
    float64 and hash differently from Spark's int64 even when equal) —
    so int 1758 and float 1758.0 must NOT normalize alike, and floats
    compare by shortest-round-trip repr, not a lossy %.9g."""
    import numpy as np

    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "f:nan"
        return f"f:{f!r}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR_ORACLE"] = args.sf
    import __spark_entry__ as entrymod
    from geotile.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_ok = n_rows_only = n_filtered = 0
    for name, fn in qs.items():
        if args.only and args.only not in name:
            n_filtered += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            cols = sorted(sdf.columns)
            srows = sorted(tuple(_norm(r[c]) for c in cols) for r in sdf.collect())
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"ok-   {name}: rows-only ({len(srows)} rows, no oracle) "
                  f"[spark {t1 - t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        dcols = sorted(ddf.columns)
        drows = sorted(tuple(_norm(v) for v in row)
                       for row in ddf[dcols].itertuples(index=False, name=None))
        status = []
        if cols != dcols:
            status.append(f"schema {cols} != {dcols}")
        if len(srows) != len(drows):
            status.append(f"rows {len(srows)} != {len(drows)}")
        if not status and srows != drows:
            bad = next(i for i, (a, b) in enumerate(zip(srows, drows)) if a != b)
            status.append(f"values differ at sorted idx {bad}: {srows[bad]} != {drows[bad]}")
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            n_ok += 1
            print(f"OK    {name}: {len(srows)} rows match [spark {t1 - t0:.1f}s, "
                  f"duck {time.time() - t1:.1f}s]")
    print(f"\n{n_ok} OK, {len(failures)} FAIL, {n_rows_only} rows-only (no oracle), "
          f"{n_filtered} filtered out by --only; {len(qs)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
