"""Round-6 review fixes (ADVICE r5): NULL-text retention in the
length-percentile gate, exact integer floor division in the EWMA fold
across all three engines, global_ntile argument validation, and
expectations_report's rule-order contract."""

import math

import pytest
from pyspark.sql import functions as F


def test_length_percentile_filter_keeps_null_text_rows(spark):
    """A corpus with NULL text must not lose rows: the operator's
    contract is 'adds columns'. NULL text counts as 0 tokens (the
    oracle's coalesce(text, '')), lands at the bottom of the length
    distribution, and survives with len_keep computed normally."""
    from wasaffi_spark.operators.text import length_percentile_filter

    rows = [(i, "w " * (i + 1)) for i in range(20)] + [(97, None), (98, None)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = length_percentile_filter(docs)
    assert out.count() == 22  # nothing dropped
    nulls = {
        r["n_tokens"]
        for r in out.where(F.col("doc_id") > 90).select("n_tokens").collect()
    }
    assert nulls == {0}
    # 0 tokens is the corpus minimum -> len_pct 0.0, outside [0.05, 0.95]
    keeps = out.where(F.col("doc_id") > 90).select("len_keep").collect()
    assert all(r["len_keep"] is False for r in keeps)


def test_ewma_exact_floor_past_double_mantissa(spark):
    """|30·q + 70·s| > 2^53: the old double-division fold could floor
    one off from exact integer arithmetic. The decimal(38,0) fold must
    match a pure-Python int replay (`//`) bit-for-bit."""
    from wasaffi_spark.operators.temporal import ewma

    vals = [9.1e9, 9.3e9, 9.7e9, 8.9e9, 9.999999999e9]  # q ~ 1e16
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id bigint, event_id bigint, value double")
    got = {
        r["event_id"]: r["ewma_micro"]
        for r in ewma(df).orderBy("event_id").collect()
    }
    s = None
    for i, v in enumerate(vals):
        q = math.floor(v * 1_000_000 + 0.5)
        s = q if s is None else (30 * q + 70 * s) // 100
        assert got[i] == s, (i, got[i], s)


def test_ewma_duckdb_oracle_exact_in_big_regime():
    """The recursive-CTE oracle's pmod-adjusted hugeint `//` must equal
    Python's exact floor division in the >2^53 regime too."""
    import duckdb

    q, s = 9_100_000_000_000_000, 9_300_000_000_000_001
    expect = (30 * q + 70 * s) // 100
    got = duckdb.sql(
        f"""select cast((30::hugeint * {q} + 70::hugeint * {s}
                    - (((30::hugeint * {q} + 70::hugeint * {s})
                        % 100 + 100) % 100)) // 100 as bigint)"""
    ).fetchone()[0]
    assert got == expect


def test_global_ntile_rejects_bad_n_tiles(spark):
    from wasaffi_spark.operators.ranking import global_ntile

    df = spark.range(10).select(F.col("id"))
    for bad in (0, -3):
        with pytest.raises(ValueError, match="n_tiles"):
            global_ntile(df, bad, [F.col("id")])


def test_expectations_report_preserves_rule_order(spark):
    """Rules are evaluated grouped by kind (one wide aggregate for the
    in-row rules, one job per unique/referential rule) but the REPORT
    must come back in the caller's rule order — interleaved kinds."""
    from wasaffi_spark.operators.expect import expectations_report

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None)], "k bigint, v string"
    )
    ref = spark.createDataFrame([(1,), (2,)], "k bigint")
    rules = [
        {"column": "k", "kind": "unique"},
        {"column": "v", "kind": "not_null"},
        {"column": "k", "kind": "referential", "ref": ref, "ref_column": "k"},
        {"column": "k", "kind": "range", "min": 0, "max": 10},
    ]
    got = [r["rule"] for r in expectations_report(df, rules).collect()]
    assert got == ["k_unique", "v_not_null", "k_referential", "k_range"]


def test_media_neardup_valve_binds_and_oracle_mirrors(spark):
    """r6 (VERDICT r5 wrong #1): the declared media_neardup passes a
    deterministic bucket cap, and the DuckDB oracle replays banding +
    cap, so Spark and oracle stay hash-identical even when the valve
    BINDS (a degenerate mega-bucket of identical payloads)."""
    import duckdb
    import pandas as pd

    from wasaffi_spark.operators import catalog, multimodal

    cap = catalog.MEDIA_BUCKET_CAP
    rows = [(i, "dup dup dup", "web") for i in range(cap + 24)] + [
        (1000 + i, f"unique text number {i} with words", "web")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    media = multimodal.ingest_as_media(docs)
    got = sorted(
        map(
            tuple,
            multimodal.media_neardup_pairs(
                media,
                max_hamming=catalog.AHASH_MAX_HAMMING,
                n_segments=catalog.AHASH_SEGMENTS,
                max_bucket_size=cap,
            ).collect(),
        )
    )
    # the mega-bucket (cap+24 identical payloads) must be dropped:
    # no pair may touch two low ids
    assert not any(a < 1000 and b < 1000 for a, b, _ in got)

    sql = catalog.ORACLE["media_neardup"]
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
