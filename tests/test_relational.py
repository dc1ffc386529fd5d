"""Catalog sanity tests over sf0.001 (fast; the full DuckDB-oracle parity
run is tools/oracle_check.py at sf0.01 — the driver's t2 gate)."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMOKE

from wasaffi_spark.plans import relational


needs_data = pytest.mark.skipif(
    not os.path.isdir(SF_SMOKE), reason="testdata not present"
)


def test_catalog_well_formed():
    # every oracle key refers to a registered query
    assert set(relational.ORACLE) <= set(relational.QUERIES)
    # approx aggregates are deliberately rows-only
    assert "approx_aggs" in relational.QUERIES
    assert "approx_aggs" not in relational.ORACLE


@needs_data
def test_scan_and_cross_counts(spark):
    [row] = relational.QUERIES["subqueries_cte"](spark, SF_SMOKE).collect()
    assert row["lineitem_cnt"] == 6000  # scan count(*)
    assert row["region_pairs"] == 25  # region × region cross join
    assert 0 <= row["cnt"] <= 1500


@needs_data
def test_agg_pricing_sets_shape(spark):
    rows = relational.QUERIES["agg_pricing_sets"](spark, SF_SMOKE).collect()
    # cube grains: (a,b) ≤6, (a) ≤3, (b) ≤2, () =1
    assert 4 <= len(rows) <= 12
    # the grand-total row counts every lineitem exactly once
    [total] = [
        r for r in rows if r["l_returnflag"] is None and r["l_linestatus"] is None
    ]
    assert total["cnt"] == 6000
    finest = [
        r
        for r in rows
        if r["l_returnflag"] is not None and r["l_linestatus"] is not None
    ]
    assert sum(r["cnt"] for r in finest) == 6000


@needs_data
def test_outer_join_topk_ordering(spark):
    rows = relational.QUERIES["outer_join_topk"](spark, SF_SMOKE).collect()
    counts = [r["order_cnt"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert len(rows) == 20


@needs_data
def test_window_fns_partitions(spark):
    rows = relational.QUERIES["window_fns"](spark, SF_SMOKE).collect()
    seen: dict[int, int] = {}
    prev_ok: dict[int, int | None] = {}
    running: dict[int, float] = {}
    for r in rows:
        expected = seen.get(r["o_custkey"], 0) + 1
        assert r["rn"] == expected
        seen[r["o_custkey"]] = expected
        # lag follows the same order as rn
        assert r["prev_ok"] == prev_ok.get(r["o_custkey"])
        prev_ok[r["o_custkey"]] = r["o_orderkey"]
        # running total is monotone within a partition
        assert r["running_total"] >= running.get(r["o_custkey"], 0.0)
        running[r["o_custkey"]] = r["running_total"]


@needs_data
def test_semi_anti_counts_consistent(spark):
    # semi/anti live inside subqueries_cte since the round-3 merge
    [row] = relational.QUERIES["subqueries_cte"](spark, SF_SMOKE).collect()
    n_cust = spark.table("customer").count()
    assert 0 <= row["semi_cnt"] <= n_cust
    assert 0 <= row["anti_cnt"] <= n_cust


@needs_data
def test_reshape_setops_branches(spark):
    rows = relational.QUERIES["reshape_setops"](spark, SF_SMOKE).collect()
    setops = {r["k1"] for r in rows if r["src"] == "s"}
    assert setops == {"d", "e", "i", "v"} or setops == {"d", "i", "v"}
    assert sorted(r["v"] for r in rows if r["src"] == "s" and r["k1"] == "v") == [98, 99]
    # the pivot leg carries every (priority, status) cell
    pivot_k2 = {r["k2"] for r in rows if r["src"] == "p"}
    assert pivot_k2 == {"st_o", "st_f", "st_p"}


@needs_data
def test_udf_pow_values(spark):
    rows = relational.QUERIES["udf_pow"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r["sq"] == float(r["l_linenumber"]) ** 2


@needs_data
def test_udf_types_values(spark):
    rows = relational.QUERIES["udf_types"](spark, SF_SMOKE).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["emb_len"] > 0
        assert r["l2"] >= 0.0
        assert r["idlen"] == len(str(r["vec_id"]))


@needs_data
def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30
    # the whole declared set must fit the driver's 50-entry correctness
    # window, extensions first (VERDICT r1 #1)
    assert len(qs) <= 50
    names = list(qs)
    # every pipeline-extension entry precedes every relational entry
    from wasaffi_spark.operators import catalog as op_catalog

    ext_idx = [names.index(n) for n in names if n in op_catalog.QUERIES]
    rel_idx = [names.index(n) for n in names if n in relational.QUERIES]
    assert ext_idx and rel_idx and max(ext_idx) < min(rel_idx)
