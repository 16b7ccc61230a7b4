"""Driver-mimic: run each __spark_entry__ query on Spark AND its DuckDB
oracle at sf0.01; compare row count, column names, and order-insensitive
values (sorted rows, columns sorted by name, rounded floats).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    """Type-stable normalization. Two requirements beyond rounding:
    (1) None (Spark null) and float NaN must map to the SAME sentinel —
    duckdb's .df() surfaces nullable-int NULLs as NaN, so a semantically
    equal null would otherwise spuriously mismatch; (2) every cell must
    sort against every other, so rows mixing null sentinels with
    numbers cannot crash sorted() — hence the comparison key below is
    the stringified cell, never the raw mixed-type tuple. Floats keep
    the driver's ABSOLUTE round(6) on purpose: this tool mirrors the
    driver's compare; loosening to a relative tolerance here could hide
    a mismatch the driver would record."""
    if v is None:
        return "\x00null"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00null"
        return round(v, 6)
    if isinstance(v, bool):
        return bool(v)
    # temporal canonicalization: duckdb's .df() surfaces NULL timestamps
    # as pd.NaT (neither None nor float-NaN) and DATE columns as
    # pd.Timestamp, while Spark returns datetime.date / datetime.datetime
    # — normalize both engines to ISO strings so semantically equal
    # temporals compare (and sort) equal
    import datetime as _dt

    import pandas as _pd

    if v is _pd.NaT or (isinstance(v, _pd.Timestamp) and _pd.isna(v)):
        return "\x00null"
    if isinstance(v, _pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat(sep=" ")
    return v


def row_key(row):
    return tuple(str(x) for x in row)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must not silently test nothing and exit 0
        raise SystemExit(
            f"unknown query name(s) {sorted(unknown)}; "
            f"registered: {sorted(qs)}"
        )
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(srows)} rows) — no oracle")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures += 1
            continue
        dcols = list(ddf.columns)
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(dcols)}")
            failures += 1
            continue
        cols = sorted(scols)
        sset = sorted(
            (tuple(norm(r[c]) for c in cols) for r in srows), key=row_key
        )
        dset = sorted(
            (
                tuple(norm(v) for v in row)
                for row in ddf[cols].itertuples(index=False, name=None)
            ),
            key=row_key,
        )
        if len(sset) != len(dset):
            print(f"FAIL {name}: rowcount {len(sset)} != {len(dset)}")
            failures += 1
            continue
        if sset != dset:
            diff = [i for i, (a, b) in enumerate(zip(sset, dset)) if a != b][:3]
            print(f"FAIL {name}: value mismatch at sorted rows {diff}")
            for i in diff:
                print(f"   spark={sset[i]}\n   duck ={dset[i]}")
            failures += 1
            continue
        print(f"OK   {name}: {len(sset)} rows match")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
