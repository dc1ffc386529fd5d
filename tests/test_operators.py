"""Behavioral tests for the LLM-pipeline operators (dedup, similarity,
text, multimodal) on synthetic micro-fixtures — the DuckDB parity run at
sf0.01 lives in tools/oracle_check.py."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from wasaffi_spark.operators import dedup, multimodal, similarity, text

from .conftest import SF_SMOKE

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill and the birds sing in the garden"
)
NEAR_DUP = BASE.replace("warm window sill", "cold window ledge")  # ~90% shingles shared
DISTINCT = (
    "completely different content about spark shuffles partitions and "
    "broadcast joins at terabyte scale with adaptive query execution"
)


@pytest.fixture()
def docs(spark):
    rows = [
        (0, BASE, "en", "s0", len(BASE)),
        (1, NEAR_DUP, "en", "s1", len(NEAR_DUP)),
        (2, DISTINCT, "en", "s2", len(DISTINCT)),
        (3, BASE, "en", "s3", len(BASE)),  # exact dup of 0
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs).select("doc_id").collect()
    ids = sorted(r.doc_id for r in kept)
    assert ids == [0, 1, 2]  # doc 3 (exact dup of 0) removed, min id kept


def test_word_shingles_count(docs):
    sh = dedup.word_shingles(docs.where("doc_id = 2"))
    n_tokens = len(DISTINCT.split())
    assert sh.count() == n_tokens - dedup.SHINGLE_K + 1


def test_minhash_lsh_finds_neardups(docs):
    sigs = dedup.minhash_signatures(docs)
    assert sigs.count() == 4
    pairs = {
        (r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(sigs).collect()
    }
    assert (0, 3) in pairs  # exact dups always collide in every band
    assert (0, 1) in pairs  # near-dups collide in at least one band
    assert (0, 2) not in pairs and (1, 2) not in pairs  # distinct doc stays out
    est = dedup.minhash_jaccard_estimate(sigs, dedup.lsh_candidate_pairs(sigs))
    by_pair = {(r.id_a, r.id_b): r.est_jaccard for r in est.collect()}
    assert by_pair[(0, 3)] == 1.0
    assert by_pair[(0, 1)] >= 0.5


def test_lsh_bucket_cap(spark):
    # docs 0,1: a near-dup pair (size-2 buckets); docs 10-13: four exact
    # copies of an unrelated text (size-4 buckets in every band).
    rows = [
        (0, BASE, "en", "s", len(BASE)),
        (1, NEAR_DUP, "en", "s", len(NEAR_DUP)),
    ] + [(10 + i, DISTINCT, "en", "s", len(DISTINCT)) for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sigs = dedup.minhash_signatures(df)
    uncapped = {(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in uncapped and (10, 11) in uncapped
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket_size=3).collect()
    }
    assert (10, 11) not in capped  # degenerate size-4 cluster dropped
    assert (0, 1) in capped  # small near-dup buckets survive


def test_simhash_near_vs_far(docs):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert sigs[0] == sigs[3]  # identical text → identical signature

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert hamming(sigs[0], sigs[1]) < hamming(sigs[0], sigs[2])


def test_jaccard_pairs_exact(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs  # high token overlap
    assert (0, 2) not in pairs


def test_quality_on_empty_doc(spark):
    # ANSI mode: an empty text must yield NULL features, not DIVIDE_BY_ZERO
    df = spark.createDataFrame(
        [(1, "", "en", "s", 0), (2, "two words", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.doc_id: r for r in text.with_quality(df).collect()}
    # '' splits to [''] → n_tokens=1 (same as DuckDB); 0-char text makes
    # space_ratio 0/0 → NULL instead of an ANSI error
    assert rows[1].n_tokens == 1
    assert rows[1].space_ratio is None
    assert rows[1].avg_token_len == 0.0
    assert rows[2].n_tokens == 2


def test_cell_on_short_vector(spark):
    # vectors shorter than SIGN_BITS dims must bucket, not crash
    emb = spark.createDataFrame(
        [(1, [1.0, -1.0]), (2, [1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cells = {r.vec_id: r.cell for r in similarity.with_cell(emb).collect()}
    assert cells[1] == 1  # only dim 1 positive among present dims
    assert cells[2] == 0b11111101


def test_chunk_documents(spark):
    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, words, "en", "s", len(words))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    chunks = text.chunk_documents(df, chunk_tokens=40, overlap=10).collect()
    # step=30 → starts 0,30,60; a start at 90 would be a strict suffix
    # of the chunk at 60 (which already reaches token 100) — suppressed
    assert [c.chunk_start for c in chunks] == [0, 30, 60]
    assert chunks[0].chunk_text.split()[:2] == ["w0", "w1"]
    assert len(chunks[0].chunk_text.split()) == 40
    assert chunks[-1].chunk_text.split()[-1] == "w99"  # full coverage
    # overlap lineage: chunk 1 starts 10 tokens before chunk 0 ends
    assert chunks[1].chunk_text.split()[0] == "w30"
    with pytest.raises(ValueError):
        text.chunk_documents(df, chunk_tokens=8, overlap=8)


def test_text_operators(docs, spark):
    out = text.with_quality(text.with_lang_guess(text.with_fingerprint(docs)))
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[0].lang_guess == "en"
    assert rows[0].fingerprint == rows[3].fingerprint
    assert rows[0].fingerprint != rows[2].fingerprint
    assert rows[0].n_tokens == len(BASE.split())
    assert 0.0 <= rows[0].quality_score <= 1.0


def test_brute_force_topk(spark):
    # vec 0 ≈ vec 1 (same direction), vec 2 orthogonal, vec 3 opposite
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    topk = similarity.brute_force_topk(emb.where("vec_id = 0"), emb, k=3)
    got = [(r.nid, r.rank) for r in topk.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2), (3, 3)]
    sims = {r.nid: r.cos_sim for r in topk.collect()}
    assert sims[1] == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, abs=1e-6)
    assert sims[2] == pytest.approx(0.0, abs=1e-9)
    assert sims[3] == pytest.approx(-1.0, abs=1e-9)


def test_bucketed_topk_prunes(spark):
    # r5 hyperplane cells (with_cell_rh): 3 rows -> auto bits=1, and the
    # bit is the sign of the Rademacher projection. hyperplane 0's signs
    # over 8 dims sum to +2, so the all-ones vector projects positive,
    # its negation projects negative (exactly opposite cell), and vec 1
    # (0.9 in dim 1) projects to +2.1 — same cell as vec 0.
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (1, [0.9, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),  # same cell
        (2, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.bucketed_topk(emb.where("vec_id = 0"), emb, k=5).collect()
    assert {r.nid for r in got} == {1}  # cell pruning drops vec 2


def test_ivf_topk(spark):
    # three tight clusters; queries must find their own cluster's members
    import random

    rng = random.Random(7)
    rows = []
    for cid, center in enumerate([[10, 0, 0, 0], [0, 10, 0, 0], [0, 0, 10, 0]]):
        for i in range(20):
            rows.append(
                (
                    cid * 100 + i,
                    [c + rng.uniform(-0.5, 0.5) for c in center],
                )
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id in (0, 100, 200)")
    got = similarity.ivf_topk(q, emb, k=3, n_cells=3, n_probe=1, seed=1)
    for r in got.collect():
        # every neighbour comes from the query's own cluster
        assert r.nid // 100 == r.qid // 100
        assert r.cos_sim > 0.99
    assert got.count() == 9  # 3 queries × k


def test_media_features_match_payload(docs):
    media = multimodal.ingest_as_media(docs)
    feats = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
    assert feats[0].n_bytes == len(BASE.encode())
    assert feats[0].digest == hashlib.md5(BASE.encode()).hexdigest()
    assert feats[0].head_byte == BASE.encode()[0]


def test_media_meta_struct(docs):
    media = multimodal.ingest_as_media(docs)
    assert "meta" in media.columns
    row = media.where("doc_id = 0").collect()[0]
    assert row.meta.n_bytes == len(BASE.encode())
    assert row.media_type == "text/plain"


def test_decode_image_is_gated_stub():
    with pytest.raises(NotImplementedError, match="Pillow"):
        multimodal.decode_image(b"\x89PNG\r\n")


def test_pii_redaction(spark):
    rows = [
        (0, "mail me at jane.doe+x@example.co.uk or visit https://a.example/path?q=1 now"),
        (1, "call +1 (555) 123-4567 today"),
        (2, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.with_pii_redaction(df).collect()}
    assert (out[0].n_emails, out[0].n_urls, out[0].n_phones) == (1, 1, 0)
    assert "<EMAIL>" in out[0].clean_text and "<URL>" in out[0].clean_text
    assert "example.co.uk" not in out[0].clean_text
    assert out[1].n_phones == 1 and "<PHONE>" in out[1].clean_text
    assert out[2].clean_text == rows[2][1]  # untouched


def test_pii_counts_follow_redaction_precedence(spark):
    """A digit run inside a URL is redacted as part of the URL, so it
    must NOT be counted as a phone; counts equal placeholders inserted."""
    df = spark.createDataFrame(
        [(0, "visit https://t.co/12345678901 now")], "doc_id long, text string"
    )
    [r] = text.with_pii_redaction(df).collect()
    assert (r.n_emails, r.n_urls, r.n_phones) == (0, 1, 0)
    assert r.clean_text == "visit <URL> now"
    assert "<PHONE>" not in r.clean_text


def test_pack_streams_bins(spark):
    # 5 docs of 100 tokens each in one stream, budget 256:
    # offsets 0,100,200,300,400 → bins 0,0,0,1,1
    rows = [(i, "en", 100) for i in range(5)] + [(0, "fr", 300), (1, "fr", 10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = text.pack_streams(df, budget_tokens=256)
    got = {(r.lang, r.doc_id): (r.stream_offset, r.pack_bin) for r in out.collect()}
    assert [got[("en", i)] for i in range(5)] == [
        (0, 0), (100, 0), (200, 0), (300, 1), (400, 1)
    ]
    # streams are independent; a doc longer than the budget still lands
    # at its own offset's bin (it straddles — concat-and-chunk semantics)
    assert got[("fr", 0)] == (0, 0) and got[("fr", 1)] == (300, 1)


def test_stratified_sample_deterministic_and_proportional(spark):
    from wasaffi_spark.operators import pipeline

    rows = [(i, "en" if i % 2 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    frac = {"en": 0.2, "fr": 0.8}
    s1 = {r.doc_id for r in pipeline.stratified_sample(df, frac).collect()}
    s2 = {r.doc_id for r in pipeline.stratified_sample(df, frac).collect()}
    assert s1 == s2  # hash-bernoulli: bit-for-bit reproducible
    en = sum(1 for i in s1 if i % 2)
    fr = sum(1 for i in s1 if not i % 2)
    assert 60 <= en <= 140  # ~20% of 500
    assert 340 <= fr <= 460  # ~80% of 500
    # default fraction excludes unlisted strata entirely at 0.0
    assert pipeline.stratified_sample(df, {"en": 0.2}).where("lang='fr'").count() == 0


def test_ngram_guard_short_docs(spark):
    """Docs shorter than n tokens yield NO grams (sequence(1, negative)
    would otherwise count down and fabricate reversed-slice grams)."""
    from wasaffi_spark.operators import decontam

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    out = df.select(
        "doc_id", F.size(decontam.word_ngrams("text", 3)).alias("n")
    ).collect()
    assert {r["doc_id"]: r["n"] for r in out} == {1: 3, 2: 0, 3: 0}


def test_contamination_hits_and_decontaminate(spark):
    from wasaffi_spark.operators import decontam

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here none shared at all"),
            (3, "quick brown fox appears again quick brown fox twice"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday")],
        "doc_id long, text string",
    )
    hits = {
        r["doc_id"]: r["hits"]
        for r in decontam.contamination_hits(train, eval_set, n=3).collect()
    }
    # doc 1 shares "the quick brown" + "quick brown fox"; doc 3 shares
    # "quick brown fox" (counted once though it occurs twice); doc 2 clean
    assert hits == {1: 2, 3: 1}

    kept = decontam.decontaminate(train, eval_set, n=3).collect()
    assert [r["doc_id"] for r in kept] == [2]


def test_repetition_stats(spark):
    """Gopher-style repetition features; bigram mode comes from the
    in-row sorted-run aggregate, not an explode shuffle."""
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: ab,ba,ab,ba,ab → top "a b"×3/5
            (2, "x y z w"),            # all unique: top 1/3
            (3, "q"),                  # no bigrams → NULL
            (4, "r r r r"),            # dup 3/4; "r r"×3/3
        ],
        "doc_id long, text string",
    )
    from wasaffi_spark.operators import text as t

    rows = {
        r["doc_id"]: (r["dup_word_frac"], r["top_bigram_frac"])
        for r in t.with_repetition(df).collect()
    }
    assert rows[1] == (round(1 - 2 / 6, 6), 0.6)
    assert rows[2] == (0.0, round(1 / 3, 6))
    assert rows[3] == (0.0, None)
    assert rows[4] == (0.75, 1.0)


def test_extract_features_carries_nonstring_types(spark, docs):
    media = multimodal.ingest_as_media(docs).withColumn(
        "n_bytes_meta", F.col("meta.n_bytes")
    )
    out = multimodal.extract_features(media, carry_cols=("n_bytes_meta",))
    assert dict(out.dtypes)["n_bytes_meta"] == "bigint"
    [r] = out.where("doc_id = 0").collect()
    assert r["n_bytes_meta"] == r["n_bytes"]


def test_incremental_dedup(spark):
    seen = spark.createDataFrame(
        [(0, BASE), (1, DISTINCT)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, BASE),       # already ingested → dropped
            (11, NEAR_DUP),   # fresh
            (12, NEAR_DUP),   # dup within the new batch → min id kept
            (13, DISTINCT),   # already ingested → dropped
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in dedup.incremental_dedup(new, seen).collect()
    )
    assert kept == [11]

    # hash-table state variant: same result from exact_dedup_keys output
    state = dedup.exact_dedup_keys(seen).select("text_hash")
    kept2 = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(new, state, seen_is_hashes=True).collect()
    )
    assert kept2 == [11]


def test_incremental_dedup_matches_catalog_view(spark):
    """new_keep_id in the dedup_exact query = incremental_dedup survivors
    (seen snapshot = source 'src0')."""
    rows = [
        (0, BASE, "en", "src0", len(BASE)),
        (1, NEAR_DUP, "en", "src1", len(NEAR_DUP)),
        (2, BASE, "en", "src1", len(BASE)),
        (3, DISTINCT, "en", "src1", len(DISTINCT)),
        (4, DISTINCT, "en", "src1", len(DISTINCT)),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    survivors = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(
            docs.where("source <> 'src0'"), docs.where("source = 'src0'")
        ).collect()
    )
    from wasaffi_spark.operators.catalog import QUERIES

    docs.createOrReplaceTempView("documents")
    h = F.md5(F.col("text"))
    seen = (F.col("source") == "src0").cast("long")
    view = (
        docs.groupBy(h.alias("text_hash"))
        .agg(
            F.sum(seen).alias("n_seen"),
            F.min(F.when(F.col("source") != "src0", F.col("doc_id"))).alias("m"),
        )
        .where("n_seen = 0")
    )
    assert survivors == sorted(r["m"] for r in view.collect())


def test_dedup_lines(spark):
    doc = "alpha beta\ngamma\nalpha beta\ndelta\ngamma\nalpha beta"
    df = spark.createDataFrame([(1, doc), (2, "solo")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in text.dedup_lines(df).collect()}
    assert rows[1]["dedup_text"] == "alpha beta\ngamma\ndelta"
    assert (rows[1]["n_lines"], rows[1]["n_unique_lines"]) == (6, 3)
    assert rows[2]["dedup_text"] == "solo"
    assert (rows[2]["n_lines"], rows[2]["n_unique_lines"]) == (1, 1)


def test_linear_text_score(spark):
    df = spark.createDataFrame(
        [
            (1, "the analysis of the data and the research"),
            (2, "click here to buy your free casino prize"),
            (3, "zzz qqq xxx"),  # fully out-of-vocabulary
        ],
        "doc_id long, text string",
    )
    w = spark.createDataFrame(
        list(text.DEFAULT_QUALITY_WEIGHTS), "tok string, w double"
    )
    rows = {r["doc_id"]: r for r in text.linear_text_score(df, w).collect()}
    assert rows[1]["lin_score"] > 0.5 > rows[2]["lin_score"]
    # OOV tokens contribute zero weight -> logit 0, sigmoid exactly 0.5
    assert rows[3]["logit"] == 0.0 and rows[3]["lin_score"] == 0.5
    assert 0.0 < rows[2]["lin_score"] < rows[3]["lin_score"]


def test_linear_text_score_broadcasts_model(spark):
    df = spark.createDataFrame([(1, "the end")], "doc_id long, text string")
    w = spark.createDataFrame(
        list(text.DEFAULT_QUALITY_WEIGHTS), "tok string, w double"
    )
    plan = (
        text.linear_text_score(df, w)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the model side must broadcast (it is KB-sized by construction);
    # the only exchange is the per-document aggregation
    assert "BroadcastHashJoin" in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_mixture_resample(spark):
    from wasaffi_spark.operators import pipeline as pipe
    from wasaffi_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, "/root/testdata/sf0.01/documents.parquet")
    weights = {"en": 0.6, "de": 0.3, "fr": 0.1}
    out = pipe.mixture_resample(docs, weights)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    # only weighted domains survive
    assert set(got) <= set(weights)
    total = sum(got.values())
    # output mixture tracks the target within hash-sampling noise
    for d, w in weights.items():
        assert abs(got[d] / total - w) < 0.05, (d, got, total)
    # the binding domain (largest n_d/w_d deficit) is kept ~whole
    n_d = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    binding = min(weights, key=lambda d: n_d.get(d, 0) / weights[d])
    assert got[binding] >= 0.99 * n_d[binding]
    # deterministic: same input -> identical sample
    again = pipe.mixture_resample(docs, weights)
    assert out.select("doc_id").exceptAll(again.select("doc_id")).count() == 0
    assert out.count() == again.count()


def test_paragraph_dedup_matches_duckdb_oracle(spark):
    """Cross-doc paragraph dedup vs the REGISTERED catalog oracle (no
    duplicated SQL): keep the globally-first occurrence of each
    paragraph, blanks always survive, NULL text behaves as an empty
    document, documents reassemble in order."""
    import duckdb

    from wasaffi_spark.operators.catalog import ORACLE
    from wasaffi_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "alpha beta\ncommon para\n\ntail one"),
        (2, "common para\nunique two"),
        (3, "alpha beta\ncommon para"),  # fully duplicated -> empty doc
        (4, ""),  # empty doc: one blank paragraph, kept
        (5, "unique five\nunique five"),  # intra-doc dup also removed
        (6, None),  # NULL text: empty doc, NOT dropped from the output
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(tuple(r) for r in paragraph_dedup(df).collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r) for r in con.execute(ORACLE["paragraph_dedup"]).fetchall()
    )
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[3][1] == ""  # fully-duplicated doc empties out
    assert by_id[1][3] == 4  # first doc keeps everything incl. blank
    assert by_id[6] == (6, "", 1, 1)  # NULL text present as empty doc


def test_paragraph_dedup_literal_separator(spark):
    """sep is a literal, not a regex: '.' must split on dots only."""
    from wasaffi_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "alpha.beta"), (2, "beta.gamma")], "doc_id bigint, text string"
    )
    got = {r.doc_id: r.dedup_text for r in paragraph_dedup(df, sep=".").collect()}
    assert got == {1: "alpha.beta", 2: "gamma"}


def test_paragraph_dedup_real_corpus(spark):
    """Smoke on the driver-generated documents table: idempotent sizes."""
    from wasaffi_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = paragraph_dedup(docs)
    agg = out.selectExpr(
        "count(*) AS n",
        "sum(n_paras) AS total",
        "sum(n_kept_paras) AS kept",
    ).collect()[0]
    assert agg.n == docs.count()
    assert 0 < agg.kept <= agg.total


def test_gopher_filter_rules(spark):
    """Each rule fires on its engineered document; clean text keeps."""
    rows = [
        (1, "short"),  # 1 token -> too_few_tokens (+ bad_avg_token_len? len 5 ok)
        (2, "spam " * 20),  # one word repeated -> dup_words + top_bigram
        (3, "the quick brown fox jumps over a lazy dog near the river bank today"),
        (4, "a b c d e f g h i j"),  # 10 tokens of len 1 -> bad_avg_token_len
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in text.gopher_filter(df).collect()}
    assert "too_few_tokens" in got[1]["drop_reasons"]
    assert "dup_words" in got[2]["drop_reasons"]
    assert "top_bigram" in got[2]["drop_reasons"]
    assert got[3]["keep"] and got[3]["drop_reasons"] == ""
    assert "bad_avg_token_len" in got[4]["drop_reasons"]
    # one-token doc: top_bigram_frac is NULL -> rule must NOT fire
    assert "top_bigram" not in got[1]["drop_reasons"]


def test_global_shuffle_deterministic_and_dense(spark):
    """Shard/pos are pure functions of (seed, id): invariant to input
    partitioning; positions are dense 1..n per shard; seed re-shuffles."""
    from wasaffi_spark.operators import pipeline

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: (r.shard, r.shard_pos)
         for r in pipeline.global_shuffle(df, n_shards=8).collect()}
    b = {r.doc_id: (r.shard, r.shard_pos)
         for r in pipeline.global_shuffle(df.repartition(13), n_shards=8).collect()}
    assert a == b
    shards = {}
    for shard, pos in a.values():
        assert 0 <= shard < 8
        shards.setdefault(shard, []).append(pos)
    for poss in shards.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    c = {r.doc_id: (r.shard, r.shard_pos)
         for r in pipeline.global_shuffle(df, n_shards=8, seed="v2").collect()}
    assert c != a  # a new seed is a new global order


def test_gopher_filter_null_text_dropped(spark):
    """A NULL-text document must NOT pass the gate (all features NULL)."""
    df = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox jumps over a lazy dog today ok")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in text.gopher_filter(df).collect()}
    assert got[1].keep is False and got[1].drop_reasons == "null_text"
    assert got[2].keep is True


def test_group_sample_n_fixed_size_and_deterministic(spark):
    from wasaffi_spark.operators import pipeline

    df = (
        spark.range(0, 300)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") < 200, "en")
            .when(F.col("doc_id") < 297, "de")
            .otherwise("fr"),  # only 3 rows: group smaller than n
        )
    )
    out = pipeline.group_sample_n(df, n=10, group_col="lang")
    sizes = {r.lang: r.c for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert sizes == {"en": 10, "de": 10, "fr": 3}  # min(n, |group|)
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(
        tuple(r)
        for r in pipeline.group_sample_n(df.repartition(7), n=10, group_col="lang").collect()
    )
    assert a == b  # layout-independent


def test_ngram_lang_id(spark):
    rows = [
        (1, "the king and the queen are singing in the morning"),
        (2, "le chat est sur le toit avec les oiseaux de la ville"),
        (3, "der hund und die katze schlafen in der schule nicht"),
        (4, "xyz"),  # no profile trigram -> und with score 0
        (5, ""),  # shorter than a trigram -> und
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.lang_pred, r.lang_score) for r in text.ngram_lang_id(df).collect()}
    assert got[1][0] == "en" and got[1][1] > 0
    assert got[2][0] == "fr"
    assert got[3][0] == "de"
    assert got[4] == ("und", 0)
    assert got[5] == ("und", 0)
    # determinism across layouts
    again = {r.doc_id: (r.lang_pred, r.lang_score)
             for r in text.ngram_lang_id(df.repartition(5)).collect()}
    assert again == got


def test_semantic_dedup_keep_first(spark):
    from wasaffi_spark.operators import similarity

    # 1 and 5 are near-identical (cos ≈ 1); 7 is 5's exact negative
    # (cos = -1, never a dup); the rest are axis-orthogonal.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.999, 0.001, 0.0, 0.0]),
        (7, [-0.999, -0.001, 0.0, 0.0]),
        (9, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # k_seeds=1: a single cluster, so the keep-first rule is isolated
    # from codebook granularity (with k>1 a near-dup pair may land in
    # different clusters and both survive — SemDeDup's documented
    # recall/granularity trade-off, exercised by the oracle query).
    out = similarity.semantic_dedup(df, k_seeds=1, threshold=0.9)
    got = {r.vec_id: (r.cluster, r.keep) for r in out.collect()}
    assert set(got) == {1, 3, 5, 7, 9}  # one row per vector
    assert got[5][1] is False  # near-dup of lower id 1
    assert got[1][1] is True  # keeper (lowest id in the near-dup pair)
    assert got[7][1] is True  # negative vector: cosine -1, not a dup
    assert len({c for c, _ in got.values()}) == 1  # one cluster
    # determinism across physical layouts
    again = {
        r.vec_id: (r.cluster, r.keep)
        for r in similarity.semantic_dedup(
            df.repartition(4), k_seeds=1, threshold=0.9
        ).collect()
    }
    assert again == got


def test_inverted_index_postings(spark):
    rows = [
        (10, " b a b"),  # leading space: empty token holds position 1
        (2, "a c"),
        (1, "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.tok: r for r in text.inverted_index(df).collect()}
    # 'b' at positions 2 and 4 of doc 10 (leading '' occupies pos 1,
    # excluded from postings but holding its slot)
    assert out["b"].postings == "10:2|4"
    assert out["b"].doc_freq == 1 and out["b"].total_freq == 2
    # docs ascend numerically (2 before 10 would break under string sort)
    assert out["a"].postings == "2:1;10:3"
    assert out["c"].postings == "1:1;2:2"
    assert text.inverted_index(df, min_df=2).count() == 2  # a, c
    # determinism across layouts
    again = {
        r.tok: r.postings
        for r in text.inverted_index(df.repartition(5)).collect()
    }
    assert again == {t: r.postings for t, r in out.items()}


def test_pmi_bigrams_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id bigint, text string"
    )
    out = {
        (r.w1, r.w2): (r.pair_count, r.pmi)
        for r in text.pmi_bigrams(df, min_count=1).collect()
    }
    # unigrams a:3 b:2 c:1 (Nu=6); bigrams (a,b):2 (a,c):1 (Nb=3)
    # pmi(a,b) = ln(2*36 / (3*3*2)) = ln(4); pmi(a,c) = ln(36/9) = ln(4)
    assert out[("a", "b")] == (2, round(math.log(4.0), 6))
    assert out[("a", "c")] == (1, round(math.log(4.0), 6))
    assert set(out) == {("a", "b"), ("a", "c")}
    assert text.pmi_bigrams(df, min_count=2).count() == 1


def test_merge_upsert_branches(spark):
    from wasaffi_spark.operators import merge as merge_ops

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id bigint, name string, extra int",
    )
    # update 1, delete 2 (flag<0), insert 9; 3 untouched; 'extra' is
    # target-only and must survive updates / be NULL on inserts
    source = spark.createDataFrame(
        [(1, "a2", 5), (2, "b2", -1), (9, "z", 7)],
        "id bigint, name string, flag int",
    )
    out = merge_ops.merge_upsert(
        target, source, ["id"], delete_condition=F.col("src_flag") < 0
    )
    got = {r.id: (r.name, r.extra) for r in out.collect()}
    assert got == {1: ("a2", 10), 3: ("c", 30), 9: ("z", None)}
    assert [f.name for f in out.schema.fields] == ["id", "name", "extra"]
    with pytest.raises(ValueError):
        merge_ops.merge_upsert(target, source.drop("id"), ["id"])


def test_funnel_strict_ordering(spark):
    from wasaffi_spark.operators import funnel

    rows = [
        # u1 converts fully: view@1 click@2 purchase@3
        (1, "view", 1.0), (1, "click", 2.0), (1, "purchase", 3.0),
        # u2 purchased BEFORE clicking: view@1 purchase@2 click@4
        (2, "view", 1.0), (2, "purchase", 2.0), (2, "click", 4.0),
        # u3 clicked before viewing: click@1 view@2 → stage2 not reached
        (3, "click", 1.0), (3, "view", 2.0),
        # u4 never viewed
        (4, "click", 1.0), (4, "purchase", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts double"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    f = funnel.funnel_steps(df, ["view", "click", "purchase"])
    got = {r.user_id: (r.ts_1 is not None, r.ts_2 is not None, r.ts_3 is not None)
           for r in f.collect()}
    assert got == {
        1: (True, True, True),
        2: (True, True, False),  # click@4 after view, no purchase after
        3: (True, False, False),
    }
    assert 4 not in got  # never entered the funnel
    with pytest.raises(ValueError):
        funnel.funnel_steps(df, [])


def test_cohort_retention_triangle(spark):
    import datetime

    from wasaffi_spark.operators import funnel

    day = lambda d: datetime.datetime(2024, 1, d)  # Jan 1 2024 is a Monday
    rows = [
        (1, day(1)), (1, day(8)), (1, day(16)),  # w0, w1, w2
        (2, day(2)), (2, day(9)),                # w0, w1
        (3, day(10)),                            # cohort week 2, w0 only
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {
        (str(r.cohort), r.week_offset): r.users
        for r in funnel.cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_keepfirst_blocked_join_multiblock(spark, monkeypatch):
    """The r6 blocked pair join (similarity.py _keepfirst_within_cluster)
    must produce IDENTICAL keep flags to the naive all-pairs rule when
    clusters span many blocks: every unordered pair must meet in
    exactly one (cluster, block_p, block_q) bucket — a missed pair
    under-drops, a doubled same-block pair is masked by the distinct
    but would double the dot-fold work. Shrinks KEEPFIRST_BLOCK to 3
    so 40 vectors in one cluster split into ~14 blocks, then checks
    (a) flags equal the brute-force O(n²) python reference and (b) a
    huge block size (single-block path) gives the same answer."""
    import math

    # 8 near-dup families of 5 rotations each; family f points in a
    # distinct direction, members are tiny perturbations (cos ≈ 1
    # within a family, well below 0.9 across families).
    rows = []
    for i in range(40):
        fam, mem = divmod(i, 5)
        theta = 0.7 * fam + 0.001 * mem
        rows.append(
            (i, [math.cos(theta), math.sin(theta), 0.01 * fam, 0.0])
        )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    def brute_keep(threshold):
        def cos(u, v):
            d = sum(a * b for a, b in zip(u, v))
            nu = math.sqrt(sum(a * a for a in u))
            nv = math.sqrt(sum(a * a for a in v))
            return round(d / (nu * nv), 6)

        vecs = dict(rows)
        return {
            i: not any(
                j < i and cos(vecs[i], vecs[j]) >= threshold
                for j in vecs
            )
            for i in vecs
        }

    monkeypatch.setattr(similarity, "KEEPFIRST_BLOCK", 3)
    out = similarity.semantic_dedup(df, k_seeds=1, threshold=0.9)
    got = {r.vec_id: r.keep for r in out.collect()}
    assert got == brute_keep(0.9)
    # exactly one keeper (the lowest id) per family
    assert sorted(i for i, k in got.items() if k) == [0, 5, 10, 15, 20, 25, 30, 35]

    monkeypatch.setattr(similarity, "KEEPFIRST_BLOCK", 10**9)
    single = {
        r.vec_id: r.keep
        for r in similarity.semantic_dedup(
            df.repartition(7), k_seeds=1, threshold=0.9
        ).collect()
    }
    assert single == got
