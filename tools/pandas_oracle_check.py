#!/usr/bin/env python
"""Pandas-dtype replica of the driver's t2 comparator.

tools/oracle_check.py compares ``df.collect()`` against ``fetchall()`` —
both yield plain Python scalars, so it cannot see dtype asymmetries that
a pandas-based comparator (Spark ``toPandas`` vs DuckDB ``.df()``)
would: DuckDB returns ``sum(INTEGER)`` as HUGEINT → float64 while Spark
keeps int64, so the same value canonicalizes as "1.0" on one side and
"1" on the other (the exact failure shape of dedup_exact's red
CORRECTNESS_r02 row: rows/schema match, hash mismatch).

This tool converts BOTH sides through pandas and reports, per query:
  - dtype-kind mismatches per shared column (int vs float vs object...)
  - a strict value compare on (column-sorted, row-sorted) stringified
    frames WITHOUT numeric canonicalization — the most driver-hostile
    formatting assumption.

Any query green here AND in oracle_check.py is robust to either
comparator style.

Usage: python tools/pandas_oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def canon_frame(pdf):
    """Column-sorted, row-sorted, cell-stringified frame (no numeric
    smoothing beyond float repr; NaN/None/NaT all map to "NULL")."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]

    def cell(v):
        if v is None:
            return "NULL"
        try:
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):  # arrays/lists
            pass
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, bytes):
            return v.hex()
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    rows = sorted(
        "\x01".join(cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return rows


def main():
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and os.path.isdir(sys.argv[1])
        else "/root/testdata/sf0.01"
    )
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from wasaffi_spark.engine import TESTDATA_TABLES

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("pandas-oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from read_parquet('{p}')")

    queries = {**entrymod.queries(), **entrymod.extra_queries()}
    oracles = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}

    ok = bad = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"  ROWS-ONLY {name}")
            ok += 1
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"  ERROR     {name}: spark: {type(e).__name__}: {str(e)[:140]}")
            bad += 1
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"  ERROR     {name}: duckdb: {type(e).__name__}: {str(e)[:140]}")
            bad += 1
            continue
        problems = []
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"schema spark={sorted(spdf.columns)} duck={sorted(opdf.columns)}"
            )
        else:
            for c in sorted(spdf.columns):
                ks, ko = spdf[c].dtype.kind, opdf[c].dtype.kind
                if ks != ko:
                    problems.append(f"dtype[{c}] spark={spdf[c].dtype} duck={opdf[c].dtype}")
            if len(spdf) != len(opdf):
                problems.append(f"rows spark={len(spdf)} duck={len(opdf)}")
            elif not problems and canon_frame(spdf) != canon_frame(opdf):
                s, o = canon_frame(spdf), canon_frame(opdf)
                diff = next(
                    (f"row {i}: spark={a[:120]!r} duck={b[:120]!r}"
                     for i, (a, b) in enumerate(zip(s, o)) if a != b),
                    "row sets differ",
                )
                problems.append(f"values: {diff}")
        if problems:
            print(f"  MISMATCH  {name}: " + "; ".join(problems))
            bad += 1
        else:
            print(f"  MATCH     {name}")
            ok += 1
    print(f"\n{ok} ok, {bad} bad")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
