"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in ``wasaffi_spark.plans.relational`` (SURVEY §2C/§2D
relational surface) and ``wasaffi_spark.operators`` (LLM-pipeline
extensions: dedup, similarity search, text analysis, multimodal).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

Query = Callable[[SparkSession, str], DataFrame]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's novel
    surface (a DDL-registered vectorized UDF) applied inside a TPC-H-Q1
    style aggregation."""
    from wasaffi_spark.engine import Engine

    sf_dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    eng = Engine(spark)
    eng.load_tables(sf_dir, ("lineitem",))
    udfs = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "udfs.py")
    eng.sql(
        "CREATE OR REPLACE FUNCTION f1(DOUBLE, DOUBLE) RETURNS DOUBLE "
        f"LANGUAGE WASM AS '{udfs}!f1'"
    )
    return eng.sql(
        """select l_returnflag, l_linestatus,
                  sum(l_quantity) as sum_qty,
                  round(sum(disc_price), 2) as sum_disc_price,
                  round(avg(qty_sq), 4) as avg_qty_sq,
                  count(*) as cnt
           from (select l_returnflag, l_linestatus, l_quantity,
                        l_extendedprice * (1 - l_discount) as disc_price,
                        f1(l_quantity, 2.0) as qty_sq
                 from lineitem) li
           group by l_returnflag, l_linestatus
           order by l_returnflag, l_linestatus"""
    )


def _utc(fn: Query):
    """Pin the session timezone to UTC for the duration of query
    construction: DuckDB computes on naive timestamps, and a driver
    session running in a non-UTC zone would shift every collected
    timestamp value."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


# The driver's correctness window: the 50 queries ``queries()`` declares,
# in order. Pipeline-extension queries come first so a bounded window
# always covers the riskiest surface (VERDICT r1 #1); the relational
# anchor follows. Every other registered query is an extra.
WINDOW: tuple[str, ...] = (
    "curation_pipeline", "pq_topk_rerank", "semantic_dedup_pruned",
    "window_extended", "ivf_sq8_topk", "ivf_bq_topk", "bq_codes",
    "filtered_ann", "filtered_ann_ivf", "ivf_pq_residual_topk",
    "ann_ivf_lloyd", "knn_descent", "prototype_prune", "mmr_rerank",
    "retrieval_eval", "bm25_mmr", "pca_power", "mmr_rerank_ivf",
    "pca_outliers", "unigram_lm", "label_propagation", "unigram_fertility",
    "text_stats_r1", "tokenizer_compare", "ivf_retrain_delta",
    "graph_maintained_search", "incremental_snapshot", "graph_refresh",
    "compaction_plan", "ivf_maintained_topk", "graph_recall_monitor",
    "ivf_recall_monitor", "index_maintenance_policy", "asof_join",
    "clean_pack", "decontaminate", "leakage_safe_split", "media_frame_sample",
    "policy_applied", "video_neardup", "split_drift", "range_join",
    "events_pivot", "events_unpivot", "embedding_drift",
    "graph_policy_applied", "drift_policy_applied", "graph_drift_applied",
    "snapshot_upgrade",
    # relational (plans/relational.py)
    "udf_types",
)


def _registry() -> tuple[dict[str, Query], dict[str, str]]:
    """Every registered query and oracle: the extension catalog, then the
    relational catalog."""
    from wasaffi_spark.operators import catalog as op_catalog
    from wasaffi_spark.plans import relational

    clash = set(op_catalog.QUERIES) & set(relational.QUERIES)
    assert not clash, f"query name collision: {sorted(clash)}"
    return (
        {**op_catalog.QUERIES, **relational.QUERIES},
        {**op_catalog.ORACLE, **relational.ORACLE},
    )


def queries() -> dict[str, Query]:
    """The driver's window: one entry per name in ``WINDOW``, in order."""
    qs, _ = _registry()
    return {name: _utc(qs[name]) for name in WINDOW}


def extra_queries() -> dict[str, Query]:
    """Every registered query outside ``WINDOW`` — hash-checked locally by
    tools/oracle_check.py (see ORACLE_SWEEP reports) and pinned by
    pytest. NOT called by the driver."""
    qs, _ = _registry()
    return {name: _utc(fn) for name, fn in qs.items() if name not in WINDOW}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle for each hash-checkable window query; keys
    absent here get the driver's weaker rows-only check (approx
    aggregates, genuinely non-SQL-expressible ops)."""
    _, oracles = _registry()
    return {name: oracles[name] for name in WINDOW if name in oracles}


def extra_oracle_sql() -> dict[str, str]:
    """DuckDB oracles for ``extra_queries()``. NOT called by the driver."""
    _, oracles = _registry()
    return {name: sql for name, sql in oracles.items() if name not in WINDOW}
