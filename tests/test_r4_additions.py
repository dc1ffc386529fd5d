"""Round-4 additions: BM25 retrieval, bigram-LM scoring, Z-order
layout + file skipping, ORC roundtrip, canonical-pick dedup."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# BM25


def _bm25_corpus(spark):
    return spark.createDataFrame(
        [(1, "cat dog"), (2, "cat cat fish"), (3, "bird")],
        "doc_id bigint, text string",
    )


def test_bm25_hand_computed(spark):
    from wasaffi_spark.operators.retrieval import bm25_topk

    docs = _bm25_corpus(spark)
    q = spark.createDataFrame([("q1", "cat")], "query_id string, term string")
    rows = bm25_topk(docs, q, k=5).orderBy("rank").collect()

    # N=3, dl = {1: 2, 2: 3, 3: 1}, dl_sum=6; tf(cat): d1=1, d2=2; df=2
    idf = math.log(1 + (3 - 2 + 0.5) / 2.5)
    c1 = idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 * 3 / 6))
    c2 = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 * 3 / 6))
    assert [r["doc_id"] for r in rows] == [2, 1]  # c2 > c1
    assert rows[0]["score_micro"] == math.floor(c2 * 1e6 + 0.5)
    assert rows[1]["score_micro"] == math.floor(c1 * 1e6 + 0.5)
    assert abs(rows[1]["score"] - c1) < 1e-6


def test_bm25_multi_term_sums_and_ties(spark):
    from wasaffi_spark.operators.retrieval import bm25_topk

    docs = _bm25_corpus(spark)
    q = spark.createDataFrame(
        [("q1", "cat"), ("q1", "dog"), ("q2", "bird")],
        "query_id string, term string",
    )
    out = {
        (r["query_id"], r["doc_id"]): r
        for r in bm25_topk(docs, q, k=5).collect()
    }
    # doc 1 scores cat+dog, doc 2 cat only; q2 hits only doc 3
    assert ("q1", 1) in out and ("q1", 2) in out
    assert out[("q2", 3)]["rank"] == 1
    assert ("q2", 1) not in out


def test_bm25_max_df_frac_stopword_prune(spark):
    from wasaffi_spark.operators.retrieval import bm25_topk

    docs = _bm25_corpus(spark)
    q = spark.createDataFrame([("q1", "cat")], "query_id string, term string")
    # df(cat)=2 of N=3 > 0.5 → pruned from scoring entirely
    assert bm25_topk(docs, q, k=5, max_df_frac=0.5).count() == 0


# ---------------------------------------------------------------------------
# bigram LM scoring


def test_lm_score_hand_computed(spark):
    from wasaffi_spark.operators.text import lm_score

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "z")], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in lm_score(docs).collect()}
    # C(a,b)=2, C(b,a)=1; C1: a=3, b=2, z=1; V=3
    p_ab = (2 + 1) / (3 + 3)
    p_ba = (1 + 1) / (2 + 3)
    m_ab = math.floor(math.log(p_ab) * 1e6 + 0.5)
    m_ba = math.floor(math.log(p_ba) * 1e6 + 0.5)
    assert rows[1]["n_bigrams"] == 2
    assert rows[1]["logprob_micro"] == m_ab + m_ba
    assert rows[2]["logprob_micro"] == m_ab
    assert rows[3]["n_bigrams"] == 0 and rows[3]["logprob_micro"] == 0
    assert rows[3]["avg_logprob"] is None
    assert abs(rows[2]["avg_logprob"] - math.log(p_ab)) < 2e-6


def test_lm_score_held_out_unseen_bigrams(spark):
    from wasaffi_spark.operators.text import lm_score

    train = spark.createDataFrame(
        [(1, "a b a"), (2, "a b")], "doc_id bigint, text string"
    )
    held = spark.createDataFrame([(9, "a z")], "doc_id bigint, text string")
    row = lm_score(train, held).collect()[0]
    # unseen bigram (a,z): (0+1)/(C1(a)+V) = 1/(3+2)
    assert row["logprob_micro"] == math.floor(math.log(1 / 5) * 1e6 + 0.5)


# ---------------------------------------------------------------------------
# Z-order layout


def test_zvalue_interleave(spark):
    from wasaffi_spark.operators.layout import zvalue

    df = spark.range(1).select(
        zvalue(F.lit(3).cast("bigint"), F.lit(1).cast("bigint"), 2).alias("z")
    )
    # x=0b11 → bits 1 and 3; y=0b01 → bit 0: z = 8 + 2 + 1
    assert df.collect()[0]["z"] == 11


def test_zorder_file_skipping(spark, tmp_path):
    from wasaffi_spark.operators.layout import (
        file_skip_fraction,
        zorder_write,
    )

    # x and y must be decorrelated (id*7 % 1000 would make y a function
    # of x for this id range): multiply by 37 mod the coprime 1009
    df = spark.range(10000).select(
        (F.col("id") % 1000).alias("x"),
        ((F.col("id") * 37) % 1009 % 1000).alias("y"),
    )
    zpath = os.path.join(str(tmp_path), "zorder")
    xpath = os.path.join(str(tmp_path), "xsorted")
    zorder_write(df, zpath, "x", "y", 0, 4, 0, 4, bits=8, num_files=16)
    # the single-dimension strawman: perfect x clustering, none on y
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xpath)
    )

    # y-only box: x anywhere, y in [0, 100] (~10% of the y range)
    z_hit, z_tot = file_skip_fraction(zpath, "x", "y", 0, 999, 0, 100)
    x_hit, x_tot = file_skip_fraction(xpath, "x", "y", 0, 999, 0, 100)
    assert x_hit == x_tot  # x-sorted layout cannot skip on y
    assert z_hit <= z_tot // 2  # z-order skips most files on EITHER dim

    # 2-D box: both layouts prune on x, z-order prunes further on y
    z2, _ = file_skip_fraction(zpath, "x", "y", 0, 100, 0, 100)
    assert z2 <= z_hit


# ---------------------------------------------------------------------------
# canonical-pick dedup


def test_canonical_per_cluster(spark):
    from wasaffi_spark.operators.dedup import canonical_per_cluster

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5)], "doc_id bigint, component_id bigint"
    )
    scored = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 7), (5, 5), (6, 5)],
        "doc_id bigint, q bigint",
    )
    rows = {
        r["doc_id"]: r
        for r in canonical_per_cluster(clusters, scored, "q").collect()
    }
    assert rows[2]["keep"] and not rows[1]["keep"]  # highest quality wins
    assert rows[3]["keep"] and rows[3]["cluster_id"] == 3  # singleton kept
    assert rows[5]["keep"] and not rows[6]["keep"]  # tie → lowest id
    assert len(rows) == 5


# ---------------------------------------------------------------------------
# ORC sink/source


def test_orc_roundtrip_engine(spark, tmp_path):
    import datetime

    from wasaffi_spark.engine import Engine

    eng = Engine(spark)
    src = spark.createDataFrame(
        [
            (1, "a", 1.5, datetime.datetime(2001, 2, 3, 4, 5, 6)),
            (2, None, None, None),
        ],
        "id bigint, s string, v double, ts timestamp",
    )
    eng.register("orc_src", src)
    out = os.path.join(str(tmp_path), "orc_out")
    eng.sql(f"COPY orc_src TO '{out}' STORED AS ORC")
    eng.sql(f"CREATE EXTERNAL TABLE orc_back STORED AS ORC LOCATION '{out}'")
    back = sorted(
        spark.table("orc_back").collect(), key=lambda r: r["id"]
    )
    assert [tuple(r) for r in back] == [tuple(r) for r in sorted(
        src.collect(), key=lambda r: r["id"]
    )]


def test_copy_format_validation_still_rejects_unknown():
    from wasaffi_spark.ddl import parse_function_ddl
    from wasaffi_spark.errors import FunctionDefinitionError

    with pytest.raises(FunctionDefinitionError):
        parse_function_ddl("COPY t TO '/tmp/x' STORED AS AVROX")


# ---------------------------------------------------------------------------
# dataset manifest


def test_dataset_manifest_localizes_change(spark):
    from wasaffi_spark.operators.diff import dataset_manifest, manifest_diff

    a = spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "doc_id bigint, text string"
    )
    # one edited row, one deleted, one added
    b = spark.createDataFrame(
        [(i, f"text {i}" if i != 7 else "EDITED") for i in range(99)]
        + [(500, "new row")],
        "doc_id bigint, text string",
    )
    ma = dataset_manifest(a, n_shards=8)
    mb = dataset_manifest(b, n_shards=8)
    d = {r["shard"]: r["status"] for r in manifest_diff(ma, mb).collect()}
    changed = [s for s, st in d.items() if st != "equal"]
    # three touched rows live in at most three shards; the rest match
    assert 1 <= len(changed) <= 3
    assert len(d) - len(changed) >= 5


def test_dataset_manifest_order_invariant(spark):
    from wasaffi_spark.operators.diff import dataset_manifest

    a = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], "doc_id bigint, text string"
    )
    shuffled = a.orderBy(F.md5(F.col("text"))).repartition(7)
    ra = {r["shard"]: r for r in dataset_manifest(a, n_shards=4).collect()}
    rb = {r["shard"]: r for r in dataset_manifest(shuffled, n_shards=4).collect()}
    assert set(ra) == set(rb)
    for s in ra:
        assert ra[s]["content_sig"] == rb[s]["content_sig"]
        assert ra[s]["cnt"] == rb[s]["cnt"]


# ---------------------------------------------------------------------------
# BM25 over chunked passages (composition)


def test_bm25_passages_provenance(spark):
    from wasaffi_spark.operators.retrieval import bm25_topk
    from wasaffi_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(["filler"] * 40) + " needle needle"),
            (2, " ".join(["filler"] * 40)),
        ],
        "doc_id bigint, text string",
    )
    chunks = chunk_documents(docs, chunk_tokens=16, overlap=4)
    passages = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("pid"),
        "chunk_text",
    )
    q = spark.createDataFrame([("q", "needle")], "query_id string, term string")
    rows = bm25_topk(passages, q, k=3, text_col="chunk_text", id_col="pid").collect()
    assert rows, "needle passage must be retrieved"
    # every hit decodes back to doc 1 (provenance survives ranking)
    assert all(r["pid"] // 1000 == 1 for r in rows)


# ---------------------------------------------------------------------------
# weighted sampling (A-ES)


def test_weighted_sample_deterministic_and_filtered(spark):
    from wasaffi_spark.operators.pipeline import weighted_sample_n

    df = spark.createDataFrame(
        [(i, float(1 + i % 5)) for i in range(200)] + [(999, 0.0), (998, -1.0)],
        "doc_id bigint, w double",
    )
    s1 = weighted_sample_n(df, "w", 20).select("doc_id", "rank").collect()
    s2 = weighted_sample_n(
        df.repartition(13), "w", 20
    ).select("doc_id", "rank").collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # partition-free
    assert len(s1) == 20
    picked = {r["doc_id"] for r in s1}
    assert 999 not in picked and 998 not in picked  # w <= 0 excluded


def test_weighted_sample_weight_dominance(spark):
    from wasaffi_spark.operators.pipeline import weighted_sample_n

    # one row with overwhelming weight is (for this seed, essentially
    # always) selected: its key ln(u)/w ≈ 0, everything else « 0
    df = spark.createDataFrame(
        [(i, 0.001) for i in range(100)] + [(777, 1e9)],
        "doc_id bigint, w double",
    )
    picked = {
        r["doc_id"] for r in weighted_sample_n(df, "w", 5).collect()
    }
    assert 777 in picked


def test_quality_buckets_cover_corpus(spark):
    from wasaffi_spark.operators.catalog import QUERIES

    rows = QUERIES["quality_buckets"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["bucket"] for r in rows] == list(range(1, 11))
    counts = [r["cnt"] for r in rows]
    assert max(counts) - min(counts) <= 1  # ntile balance
    # buckets are ordered by quality: mins must be nondecreasing
    mins = [r["min_avg"] for r in rows]
    assert mins == sorted(mins)


# ---------------------------------------------------------------------------
# ANN rerank (refine stage)


def _planted_embeddings(spark, n=200, dim=64, n_clusters=5, noise=0.15):
    import numpy as np

    rng = np.random.default_rng(99)
    centers = rng.standard_normal((n_clusters, dim))
    rows = [
        (
            i,
            [
                float(x)
                for x in centers[i % n_clusters]
                + noise * rng.standard_normal(dim)
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_ivf_pq_rerank_recovers_true_neighbours(spark):
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity as sim

    emb = _planted_embeddings(spark)
    q = emb.where(F.col("vec_id") < 4)
    truth = {
        (r["qid"], r["nid"])
        for r in sim.brute_force_topk(q, emb, k=3).collect()
    }
    # no rerank: codes collapse inside clusters, id-tiebreak recall
    flat = {
        (r["qid"], r["nid"])
        for r in sim.ivf_pq_topk(q, emb, k=3, n_probe=4).collect()
    }
    # rerank sized past the tie group (N/codebook_k = 200/16 ≈ 13): the
    # refine stage must recover ≥90% of the exact neighbours
    refined_rows = sim.ivf_pq_topk(
        q, emb, k=3, n_probe=4, rerank=48
    ).collect()
    refined = {(r["qid"], r["nid"]) for r in refined_rows}
    assert len(refined & truth) / len(truth) >= 0.9
    assert len(refined & truth) > len(flat & truth)
    # refine output carries exact cosine, ranked per query
    assert {r["rank"] for r in refined_rows} == {1, 2, 3}
    assert all("cos_sim" in r for r in refined_rows)


def test_pq_topk_rerank_schema_and_depth(spark):
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity as sim

    emb = _planted_embeddings(spark, n=100)
    q = emb.where(F.col("vec_id") < 2)
    out = sim.pq_topk(q, emb, k=2, rerank=20)
    assert set(out.columns) == {"qid", "nid", "cos_sim", "rank"}
    rows = out.collect()
    assert all(r["rank"] <= 2 for r in rows)
