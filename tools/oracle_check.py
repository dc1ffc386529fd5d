#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and its
``oracle_sql()`` counterpart on DuckDB over the same parquet tables,
then compares row count, schema (column names), and an order-insensitive
value hash (floats canonicalized to 12 significant digits; also reports
whether the full-precision compare matches, to surface summation-order
sensitivity early).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def canon_value(v, sig=12):
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.{sig}g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x, sig) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple], sig=12):
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon_value(r[i], sig) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x02")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from wasaffi_spark.engine import TESTDATA_TABLES

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from read_parquet('{p}')")

    # the extras are hash-checked here even though the driver's 50-entry
    # window never sees them
    queries = {**entrymod.queries(), **entrymod.extra_queries()}
    oracles = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}
    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        status = {}
        try:
            df = fn(spark, sf_dir)
            srows = [tuple(r) for r in df.collect()]
            scols = df.columns
        except Exception as e:
            results[name] = {"error": f"spark: {type(e).__name__}: {str(e)[:160]}"}
            continue
        if name not in oracles:
            results[name] = {"rows": len(srows), "oracle": "none (rows-only check)"}
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = [tuple(r) for r in cur.fetchall()]
        except Exception as e:
            results[name] = {"error": f"duckdb: {type(e).__name__}: {str(e)[:160]}"}
            continue
        status["rows"] = (len(srows), len(orows), len(srows) == len(orows))
        status["schema"] = (sorted(scols) == sorted(ocols), sorted(scols), sorted(ocols))
        h_s = table_hash(scols, srows)
        h_o = table_hash(ocols, orows)
        status["hash12"] = h_s == h_o
        status["hash_exact"] = table_hash(scols, srows, 17) == table_hash(ocols, orows, 17)
        results[name] = status

    print()
    ok = bad = 0
    for name, st in results.items():
        if "error" in st:
            print(f"  ERROR     {name}: {st['error']}")
            bad += 1
        elif "oracle" in st:
            print(f"  ROWS-ONLY {name}: {st['rows']} rows")
            ok += 1
        else:
            match = st["rows"][2] and st["schema"][0] and st["hash12"]
            tag = "MATCH" if match else "MISMATCH"
            extra = "" if st["hash_exact"] else "  (fp: sig12 only)" if st["hash12"] else ""
            if match:
                ok += 1
            else:
                bad += 1
                extra = f"  rows={st['rows'][:2]} schema_ok={st['schema'][0]} hash12={st['hash12']}"
                if not st["schema"][0]:
                    extra += f" spark={st['schema'][1]} duck={st['schema'][2]}"
            print(f"  {tag:9s} {name}{extra}")
    print(f"\n{ok} ok, {bad} bad")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
