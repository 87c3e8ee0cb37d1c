"""Local replica of the driver's correctness gate.

Runs each __spark_entry__.queries() entry and its oracle_sql() twin on
the same sf dir, compares row count, column names, and an
order-insensitive value multiset. Usage:

    python tools/check_oracles.py [--hash-strict] [sf_dir] [query ...]

``--hash-strict`` compares floats by their raw IEEE-754 double bits
(struct.pack) instead of the default 9-significant-digit text
normalization — the local replica of the driver's bitwise value hash,
which catches last-ulp divergences (e.g. BigDecimal HALF_UP vs libm
round paths) that 9-sig-fig text hides.

A query where Spark and DuckDB both return 0 rows prints ``OK-empty``
instead of ``OK``: agreeing on nothing shows nothing, so those queries
are listed apart in the summary.
"""

from __future__ import annotations

import math
import struct
import sys
import os
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from webgraph_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


STRICT = False


def norm_cell(v):
    if isinstance(v, float):
        if STRICT:
            if math.isnan(v):
                return "<nan>"
            return struct.pack("<d", float(v)).hex()
        return f"{v:.9g}"
    if pd.isna(v):
        return "<null>"
    return str(v)


def frame_multiset(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [
        tuple(norm_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    return sorted(rows)


def main():
    global STRICT
    argv = [a for a in sys.argv[1:] if a != "--hash-strict"]
    STRICT = "--hash-strict" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    empty = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{t_spark:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0]}")
            failures.append(name)
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            ok_vals = frame_multiset(sdf) == frame_multiset(odf)
        if not (ok_rows and ok_cols and ok_vals):
            status = "FAIL "
        elif len(sdf) == 0:
            status = "OK-empty"
            empty.append(name)
        else:
            status = "OK   "
        col_info = "=" if ok_cols else f"{sorted(sdf.columns)} != {sorted(odf.columns)}"
        print(
            f"{status} {name}: spark={len(sdf)} duck={len(odf)} "
            f"cols={col_info} vals={'=' if ok_vals else 'DIFF'} [{t_spark:.1f}s]"
        )
        if not (ok_rows and ok_cols and ok_vals):
            failures.append(name)
            if ok_cols and not ok_vals:
                a, b = frame_multiset(sdf), frame_multiset(odf)
                sa, sb = set(a), set(b)
                extra = list(sa - sb)[:3]
                missing = list(sb - sa)[:3]
                print(f"       spark-only: {extra}")
                print(f"       duck-only : {missing}")
    print()
    if empty:
        print("EMPTY (both sides 0 rows):", empty)
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
