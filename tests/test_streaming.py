"""Structured Streaming tests: each streaming operator drains the fixture
events file with an availableNow trigger into a memory sink and must
equal its batch twin."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMOKE

from wasaffi_spark.streaming import events as stream_ops

needs_data = pytest.mark.skipif(
    not os.path.isdir(SF_SMOKE), reason="testdata not present"
)


@pytest.fixture()
def event_stream(spark):
    return stream_ops.read_events_stream(spark, SF_SMOKE)


@needs_data
def test_stream_is_streaming(event_stream):
    assert event_stream.isStreaming
    # testdata generations vary: ns-precision files normalize to ltz
    # "timestamp"; us-precision naive files infer as "timestamp_ntz".
    # Either is fine — what matters is the batch reader agrees (asserted
    # by the stream≡batch tests below).
    assert dict(event_stream.dtypes)["ts"] in ("timestamp", "timestamp_ntz")


@needs_data
def test_tumbling_stream_equals_batch(spark, event_stream):
    from wasaffi_spark.operators.catalog import q_events_tumbling

    stream_ops.run_to_memory(
        stream_ops.tumbling_counts(event_stream), "tumbling_test"
    )
    got = {
        (r.hour_start, r.event_type): (r.cnt, r.sum_value)
        for r in spark.table("tumbling_test").collect()
    }
    want = {
        (r.hour_start, r.event_type): (r.cnt, r.sum_value)
        for r in q_events_tumbling(spark, SF_SMOKE).collect()
    }
    assert got == want


@needs_data
def test_session_window_stream_equals_batch(spark, event_stream):
    from wasaffi_spark.operators.catalog import QUERIES

    stream_ops.run_to_memory(
        stream_ops.session_counts(event_stream), "sessions_test"
    )
    got = {
        (r.user_id, r.session_start): r.cnt
        for r in spark.table("sessions_test").collect()
    }
    want = {
        (r.user_id, r.session_start): r.cnt
        for r in QUERIES["events_session_window"](spark, SF_SMOKE).collect()
    }
    assert got == want
    # ...and the per-user session count agrees with the lag-based batch op
    n_sessions = {}
    for (uid, _), _cnt in got.items():
        n_sessions[uid] = n_sessions.get(uid, 0) + 1
    from wasaffi_spark.operators.catalog import q_events_sessions

    lag_based = {
        r.user_id: r.n_sessions
        for r in q_events_sessions(spark, SF_SMOKE).collect()
    }
    assert n_sessions == lag_based


@needs_data
def test_sliding_stream_equals_batch(spark, event_stream):
    stream_ops.run_to_memory(
        stream_ops.sliding_counts(event_stream), "sliding_test"
    )
    rows = spark.table("sliding_test").collect()
    assert len(rows) > 0
    # every event lands in 4 sliding windows (1h window, 15m slide):
    # total count across windows = 4 × events
    total = sum(r.cnt for r in rows)
    from wasaffi_spark.sources.parquet import read_parquet

    n_events = read_parquet(spark, os.path.join(SF_SMOKE, "events.parquet")).count()
    assert total == 4 * n_events
    # and the full window×type count map equals the oracle-checked
    # batch twin (q_events_sliding)
    from wasaffi_spark.operators.catalog import QUERIES

    got = {(r.win_start, r.win_end, r.event_type): r.cnt for r in rows}
    want = {
        (r.win_start, r.win_end, r.event_type): r.cnt
        for r in QUERIES["events_sliding"](spark, SF_SMOKE).collect()
    }
    assert got == want


@needs_data
def test_dedup_stream(spark, event_stream):
    # the fixture file has unique event_ids; duplicate the stream by
    # unioning it with itself → dedup must restore the original count
    doubled = event_stream.union(event_stream)
    stream_ops.run_to_memory(
        stream_ops.dedup_stream(doubled), "dedup_test", output_mode="append"
    )
    n = spark.table("dedup_test").count()
    from wasaffi_spark.sources.parquet import read_parquet

    expected = read_parquet(spark, os.path.join(SF_SMOKE, "events.parquet")).count()
    assert n == expected


@needs_data
def test_stateful_user_stats(spark, event_stream):
    stream_ops.run_to_memory(
        stream_ops.stateful_user_stats(event_stream),
        "user_stats_test",
        output_mode="update",
    )
    got = {
        r.user_id: (r.n_events, r.max_value)
        for r in spark.table("user_stats_test").collect()
    }
    from wasaffi_spark.engine import Engine

    eng = Engine(spark)
    eng.load_tables(SF_SMOKE, ("events",))
    want = {
        r.user_id: (r.n, r.v)
        for r in spark.sql(
            "select user_id, count(*) as n, max(value) as v "
            "from events group by user_id"
        ).collect()
    }
    assert got == want


@needs_data
def test_streaming_decontamination_equals_batch(spark):
    """Stream-static semi-join decontamination: the streamed contaminated
    id set must equal the batch operator's."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import decontam
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdocs

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    eval_set = docs.where(F.pmod(F.col("doc_id"), F.lit(17)) == 3)
    train = docs.where(F.pmod(F.col("doc_id"), F.lit(17)) != 3)
    batch_ids = {
        r["doc_id"]
        for r in decontam.contamination_hits(train, eval_set, n=6).collect()
    }
    assert batch_ids, "fixture should produce at least one contaminated doc"

    eval_grams = eval_set.select(
        F.explode(decontam.word_ngrams("text", 6)).alias("gram")
    )
    stream = sdocs.read_documents_stream(spark, SF_SMOKE).where(
        F.pmod(F.col("doc_id"), F.lit(17)) != 3
    )
    from wasaffi_spark.streaming.events import run_to_memory

    run_to_memory(
        sdocs.contaminated_ids_stream(stream, eval_grams, n=6),
        "contam_ids",
        output_mode="append",
    )
    stream_ids = {
        r["doc_id"] for r in spark.sql("select doc_id from contam_ids").collect()
    }
    assert stream_ids == batch_ids


@needs_data
def test_streaming_quality_filter(spark):
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import text as t
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdocs
    from wasaffi_spark.streaming.events import run_to_memory

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    batch_n = t.with_quality(docs).where("n_tokens >= 20").count()
    run_to_memory(
        sdocs.quality_filter_stream(
            sdocs.read_documents_stream(spark, SF_SMOKE), min_tokens=20
        ).select("doc_id"),
        "quality_docs",
        output_mode="append",
    )
    assert spark.sql("select count(*) c from quality_docs").collect()[0]["c"] == batch_n


@needs_data
def test_sketch_distinct_stream_equals_batch(spark, event_stream):
    """The streaming HLL sketch estimate must equal the batch estimate
    over the same data — the mergeability property under micro-batched
    partial aggregation (what keeps state O(windows) at any cardinality)."""
    from pyspark.sql import functions as F

    from wasaffi_spark.sources.parquet import read_parquet

    stream_ops.run_to_memory(
        stream_ops.sketch_distinct_counts(event_stream), "sketch_test"
    )
    got = {
        r.hour_start: (r.distinct_users, r.cnt)
        for r in spark.table("sketch_test").collect()
    }
    events = read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    want = {
        r.hour_start: (r.distinct_users, r.cnt)
        for r in events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias(
                "distinct_users"
            ),
            F.count("*").alias("cnt"),
        )
        .select(F.col("w.start").alias("hour_start"), "distinct_users", "cnt")
        .collect()
    }
    assert got == want


def test_countmin_stream_equals_batch(spark, event_stream):
    """Streamed count-min cells must equal the batch sketch over the
    same events bit-for-bit (algebraic merge across micro-batches), and
    querying the streamed cells gives exact counts for the low-cardinality
    event_type column."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import sketches
    from wasaffi_spark.sources.parquet import read_parquet

    stream_ops.run_to_memory(
        stream_ops.countmin_cells_stream(event_stream), "cm_stream_test"
    )
    streamed = spark.table("cm_stream_test")
    events = read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    batch = sketches.countmin_table(
        events.select(F.col("event_type").alias("item")), "item"
    )
    got = {(r.r, r.c): r.cnt for r in streamed.collect()}
    want = {(r.r, r.c): r.cnt for r in batch.collect()}
    assert got == want
    est = {
        r.item: r.cm_est
        for r in sketches.countmin_query(
            streamed, events.select(F.col("event_type").alias("item"))
        ).collect()
    }
    exact = {
        r.item: r.cnt
        for r in events.groupBy(F.col("event_type").alias("item"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert est == exact  # 5 event types << width: no collisions


@needs_data
def test_view_click_join_stream_equals_batch(spark, event_stream):
    """Stream-stream inner join (watermarked both sides) drains to the
    same pairs the identical expressions produce on the batch frame."""
    from wasaffi_spark.sources.parquet import read_parquet

    stream_ops.run_to_memory(
        stream_ops.view_click_join(event_stream), "vc_join_test", "append"
    )
    got = {
        (r.user_id, r.view_id, r.click_id)
        for r in spark.table("vc_join_test").collect()
    }
    batch = read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    want = {
        (r.user_id, r.view_id, r.click_id)
        for r in stream_ops.view_click_join(batch).collect()
    }
    assert got == want
    assert len(want) > 0  # the fixture actually produces pairs


@needs_data
def test_incremental_dedup_sink_equals_batch_dedup(spark):
    """foreachBatch continuous-ingest dedup accumulates exactly the
    batch exact-dedup keeper set, regardless of micro-batch slicing
    (maxFilesPerTrigger=1 over the fixture)."""
    from pyspark.sql import functions as F

    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdoc

    import tempfile

    # split the corpus into 3 files and stream 1 file per trigger, so
    # the state genuinely crosses micro-batch boundaries (duplicate
    # texts span the fixture's id range → later batches must anti-join
    # against earlier batches' hashes)
    src_dir = tempfile.mkdtemp(prefix="inc_src_")
    read_parquet(spark, f"{SF_SMOKE}/documents.parquet").repartition(3).write.mode(
        "overwrite"
    ).parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    state_dir = tempfile.mkdtemp(prefix="inc_dedup_")
    q = sdoc.incremental_dedup_sink(stream, spark, state_dir)
    q.awaitTermination()
    kept = spark.read.parquet(f"{state_dir}/docs")
    # keeper semantics are first-ARRIVAL (micro-batch order), so compare
    # the order-independent invariants against batch exact dedup:
    # exactly one kept doc per distinct text, covering every text.
    per_hash = kept.groupBy(F.md5("text").alias("h")).count().collect()
    assert len(per_hash) > 0 and all(r["count"] == 1 for r in per_hash)
    batch = read_parquet(spark, f"{SF_SMOKE}/documents.parquet")
    want_hashes = {
        r["h"] for r in batch.select(F.md5("text").alias("h")).distinct().collect()
    }
    assert {r["h"] for r in per_hash} == want_hashes
    # and every kept (id, text) pair is a real corpus row
    assert kept.join(batch, ["doc_id", "text"], "left_anti").count() == 0


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@needs_data
@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's state protocol needs google.protobuf, "
    "not installed in this container (environment block, see COVERAGE.md)",
)
def test_transform_with_state_equals_batch(spark, event_stream):
    """The Spark-4 transformWithStateInPandas twin of
    stateful_user_stats must produce the same final per-user stats as
    the batch aggregate (RocksDB provider set for the query's session —
    transformWithState state layout is RocksDB-only)."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream_ops.run_to_memory(
            stream_ops.stateful_user_stats_tws(event_stream),
            "user_stats_tws_test",
            output_mode="update",
        )
        got = {
            r.user_id: (r.n_events, r.max_value)
            for r in spark.table("user_stats_tws_test").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    from wasaffi_spark.engine import Engine

    eng = Engine(spark)
    eng.load_tables(SF_SMOKE, ("events",))
    want = {
        r.user_id: (r.n, r.v)
        for r in spark.sql(
            "select user_id, count(*) as n, max(value) as v "
            "from events group by user_id"
        ).collect()
    }
    assert got == want


@needs_data
def test_streaming_fuzzy_decontamination_equals_batch(spark):
    """Stream-static banded MinHash decontamination: the streamed fuzzy-
    flagged id set must equal the batch fuzzy_contamination's — possible
    statelessly because the in-row minhash_signatures rewrite is a
    narrow map (no streaming aggregation needed)."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import decontam
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdocs
    from wasaffi_spark.streaming.events import run_to_memory

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    eval_set = docs.where(F.pmod(F.col("doc_id"), F.lit(17)) == 3)
    train = docs.where(F.pmod(F.col("doc_id"), F.lit(17)) != 3)
    batch_ids = {
        r["doc_id"]
        for r in decontam.fuzzy_contamination(
            train, eval_set, threshold=0.25
        ).collect()
    }
    assert batch_ids, "fixture should flag at least one fuzzy match"

    stream = sdocs.read_documents_stream(spark, SF_SMOKE).where(
        F.pmod(F.col("doc_id"), F.lit(17)) != 3
    )
    run_to_memory(
        sdocs.fuzzy_contaminated_ids_stream(stream, eval_set, threshold=0.25),
        "fuzzy_contam_ids",
        output_mode="append",
    )
    stream_ids = {
        r["doc_id"]
        for r in spark.sql("select doc_id from fuzzy_contam_ids").collect()
    }
    assert stream_ids == batch_ids


@needs_data
@pytest.mark.slow
def test_streaming_media_neardup_equals_batch(spark):
    """Stream-static aHash media dedup: streamed flagged-id set must
    equal the batch banded-hamming join against the same known set."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import multimodal
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdocs
    from wasaffi_spark.streaming.events import run_to_memory

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    known = multimodal.ingest_as_media(
        docs.where(F.pmod("doc_id", F.lit(17)) == 3)
    )
    incoming = docs.where(F.pmod("doc_id", F.lit(17)) != 3)

    # batch expectation: banded-hamming join of incoming sigs vs known
    sig_i = multimodal.ahash_signature(multimodal.ingest_as_media(incoming))
    sig_k = multimodal.ahash_signature(known).select(
        F.col("ahash").alias("_kh")
    )
    batch_ids = {
        r["doc_id"]
        for r in sig_i.crossJoin(sig_k)
        .where(F.bit_count(F.col("ahash").bitwiseXOR(F.col("_kh"))) <= 1)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert batch_ids, "fixture should contain near-dup media"

    stream = sdocs.read_documents_stream(spark, SF_SMOKE).where(
        F.pmod("doc_id", F.lit(17)) != 3
    )
    media_stream = multimodal.ingest_as_media(stream)
    run_to_memory(
        sdocs.media_neardup_ids_stream(media_stream, known),
        "media_dup_ids",
        output_mode="append",
    )
    stream_ids = {
        r["doc_id"]
        for r in spark.sql("select doc_id from media_dup_ids").collect()
    }
    # banding is exact for hamming<=1 with 2 bands (pigeonhole), so the
    # streamed candidate set must equal the exhaustive batch join
    assert stream_ids == batch_ids


@needs_data
def test_streaming_classifier_gate_equals_batch(spark):
    """Stateless streamed classifier scoring must reproduce the batch
    scorer bit-for-bit (integer logits), and the in-row scorer must
    equal the join-based one on the same model."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import training
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdocs
    from wasaffi_spark.streaming.events import run_to_memory

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    labeled = docs.withColumn("_label", (F.col("lang") == "en").cast("int"))
    model_df = training.train_linear_classifier(labeled, "_label")
    model = training.model_as_dict(model_df)

    batch_join = {
        (r["doc_id"], r["logit_micro"], r["prob"])
        for r in training.score_with_model(docs, model_df).collect()
    }
    batch_inrow = {
        (r["doc_id"], r["logit_micro"], r["prob"])
        for r in training.score_with_model_inrow(docs, model).collect()
    }
    assert batch_inrow == batch_join  # bit-exact integer logits

    expected = {t for t in batch_join if t[2] >= 0.5}
    stream = sdocs.read_documents_stream(spark, SF_SMOKE)
    run_to_memory(
        sdocs.quality_scored_stream(stream, model, threshold=0.5),
        "clf_gate",
        output_mode="append",
    )
    got = {
        (r["doc_id"], r["logit_micro"], r["prob"])
        for r in spark.sql(
            "select doc_id, logit_micro, prob from clf_gate"
        ).collect()
    }
    assert got == expected


@needs_data
def test_ewma_stream_equals_batch(spark, event_stream):
    """The streaming EWMA fold (applyInPandasWithState, integer
    micro-unit recurrence in state) must be bit-identical to the batch
    temporal.ewma over the same events."""
    from wasaffi_spark.operators import temporal
    from wasaffi_spark.sources.parquet import read_parquet

    stream_ops.run_to_memory(
        stream_ops.ewma_stream(event_stream), "ewma_test", "update"
    )
    got = {
        (r.user_id, r.event_id): r.ewma_micro
        for r in spark.table("ewma_test").collect()
    }
    batch = read_parquet(spark, os.path.join(SF_SMOKE, "events.parquet"))
    want = {
        (r.user_id, r.event_id): r.ewma_micro
        for r in temporal.ewma(batch).collect()
    }
    assert got == want and len(got) > 0


@needs_data
def test_ewma_stream_multichunk_out_of_order(spark, tmp_path):
    """The stateful EWMA must sort across ALL Arrow chunks of a
    micro-batch, not per chunk: stream a descending-event_id copy of
    the events with a tiny Arrow batch size so every user's rows span
    several chunks in reverse order — the result must still equal the
    batch fold (r5 review finding: a per-chunk sort silently broke
    this)."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import temporal
    from wasaffi_spark.sources.parquet import read_parquet

    batch = read_parquet(spark, os.path.join(SF_SMOKE, "events.parquet"))
    src = str(tmp_path / "events_desc")
    batch.orderBy(F.desc("event_id")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        stream = spark.readStream.schema(batch.schema).parquet(src)
        if dict(stream.dtypes)["ts"] == "timestamp_ntz":
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        stream_ops.run_to_memory(
            stream_ops.ewma_stream(stream), "ewma_desc_test", "update"
        )
        got = {
            (r.user_id, r.event_id): r.ewma_micro
            for r in spark.table("ewma_desc_test").collect()
        }
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
    want = {
        (r.user_id, r.event_id): r.ewma_micro
        for r in temporal.ewma(batch).collect()
    }
    assert got == want and len(got) > 0


@needs_data
@pytest.mark.slow
def test_streaming_semantic_neardup_gate_equals_batch(spark):
    """Stream-static semantic near-dup gate (streaming/vectors.py):
    (1) with every cell probed the flagged set must equal the
    exhaustive batch crossJoin (cell routing is a partition of the
    corpus, so full probing loses nothing); (2) with n_probe=2 the
    streamed set must equal the SAME operator evaluated in batch mode
    (all its expressions are batch-legal), pinning that cell routing
    is deterministic across execution modes."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators.similarity import cosine
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import vectors as svec
    from wasaffi_spark.streaming.events import run_to_memory

    emb = read_parquet(spark, os.path.join(SF_SMOKE, "embeddings.parquet"))
    known = emb.where(F.pmod("vec_id", F.lit(7)) == 0)
    threshold = 0.35  # smoke embeddings are isotropic (max pair cosine ~0.45)

    brute = {
        r["vec_id"]
        for r in emb.alias("a")
        .crossJoin(known.select(F.col("embedding").alias("kv"),
                                F.col("vec_id").alias("kid")))
        .where(F.col("a.vec_id") != F.col("kid"))
        .where(F.round(cosine(F.col("a.embedding"), F.col("kv")), 6)
               >= threshold)
        .select("a.vec_id")
        .distinct()
        .collect()
    }
    assert brute, "fixture should contain semantic near-dups at threshold"

    stream = svec.read_embeddings_stream(spark, SF_SMOKE)
    run_to_memory(
        svec.semantic_neardup_ids_stream(
            stream, known, threshold=threshold, n_cells=8, n_probe=8
        ),
        "sem_dup_full",
        output_mode="append",
    )
    full = {
        r["vec_id"]
        for r in spark.sql("select vec_id from sem_dup_full").collect()
    }
    assert full == brute

    run_to_memory(
        svec.semantic_neardup_ids_stream(
            stream, known, threshold=threshold, n_cells=8, n_probe=2
        ),
        "sem_dup_p2",
        output_mode="append",
    )
    streamed = {
        r["vec_id"]
        for r in spark.sql("select vec_id from sem_dup_p2").collect()
    }
    batch_twin = {
        r["vec_id"]
        for r in svec.semantic_neardup_ids_stream(
            emb, known, threshold=threshold, n_cells=8, n_probe=2
        ).collect()
    }
    assert streamed == batch_twin
    assert streamed <= brute  # partial probing only ever prunes


@pytest.mark.slow
def test_streaming_filtered_semantic_gate_respects_attribute(spark):
    """filter_col (r7): the gate flags an arriving vector only when a
    SAME-label known vector is within threshold — the streaming twin
    of filtered_ivf_topk's attribute isolation. With every cell probed
    the flagged set must equal the label-restricted brute force, and
    must be a (typically strict) subset of the unfiltered gate's."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators.similarity import cosine
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import vectors as svec
    from wasaffi_spark.streaming.events import run_to_memory

    emb = read_parquet(spark, os.path.join(SF_SMOKE, "embeddings.parquet"))
    known = emb.where(F.pmod("vec_id", F.lit(7)) == 0)
    threshold = 0.35

    brute_same_label = {
        r["vec_id"]
        for r in emb.alias("a")
        .crossJoin(
            known.select(
                F.col("embedding").alias("kv"),
                F.col("vec_id").alias("kid"),
                F.col("label").alias("klabel"),
            )
        )
        .where(F.col("a.vec_id") != F.col("kid"))
        .where(F.col("a.label") == F.col("klabel"))
        .where(
            F.round(cosine(F.col("a.embedding"), F.col("kv")), 6)
            >= threshold
        )
        .select("a.vec_id")
        .distinct()
        .collect()
    }

    stream = svec.read_embeddings_stream(spark, SF_SMOKE)
    run_to_memory(
        svec.semantic_neardup_ids_stream(
            stream, known, threshold=threshold, n_cells=8, n_probe=8,
            filter_col="label",
        ),
        "sem_dup_filt",
        output_mode="append",
    )
    filtered = {
        r["vec_id"]
        for r in spark.sql("select vec_id from sem_dup_filt").collect()
    }
    assert filtered == brute_same_label

    # subset of the unfiltered gate (same routing, fewer candidates)
    run_to_memory(
        svec.semantic_neardup_ids_stream(
            stream, known, threshold=threshold, n_cells=8, n_probe=8
        ),
        "sem_dup_nofilt",
        output_mode="append",
    )
    unfiltered = {
        r["vec_id"]
        for r in spark.sql("select vec_id from sem_dup_nofilt").collect()
    }
    assert filtered <= unfiltered


@needs_data
@pytest.mark.slow
def test_streaming_prototype_gate_equals_batch(spark):
    """Stateless prototype-redundancy gate (streaming/vectors.py::
    prototype_gate_stream): streamed kept-set must equal (1) the SAME
    operator evaluated in batch mode (all expressions batch-legal),
    and (2) the batch prototype_prune kept-set on the calibration
    corpus itself whenever no distance tie straddles the per-cell
    boundary (the dist-only stream rule and the (dist, id) batch rule
    agree except on boundary ties, which this fixture lacks)."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators.similarity import prototype_prune
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import vectors as svec
    from wasaffi_spark.streaming.events import run_to_memory

    emb = read_parquet(spark, os.path.join(SF_SMOKE, "embeddings.parquet"))

    stream = svec.read_embeddings_stream(spark, SF_SMOKE)
    run_to_memory(
        svec.prototype_gate_stream(stream, emb, frac=0.3, n_cells=8),
        "proto_gate",
        output_mode="append",
    )
    streamed = {
        r["vec_id"] for r in spark.sql("select vec_id from proto_gate").collect()
    }
    batch_twin = {
        r["vec_id"]
        for r in svec.prototype_gate_stream(emb, emb, frac=0.3, n_cells=8).collect()
    }
    assert streamed == batch_twin

    batch_kept = {
        r["vec_id"]
        for r in prototype_prune(emb, frac=0.3, keep="hard", n_cells=8).collect()
    }
    # guard: the equality below is only meaningful tie-free — check no
    # kept/dropped pair shares a distance at the boundary
    all_rows = prototype_prune(emb, frac=0.0, keep="hard", n_cells=8).collect()
    by_cell = {}
    for r in all_rows:
        by_cell.setdefault(r.cell, []).append(r)
    tie_free = all(
        len({x.proto_dist for x in rows}) == len(rows)
        or all(
            (x.vec_id in batch_kept) == (y.vec_id in batch_kept)
            for x in rows
            for y in rows
            if x.proto_dist == y.proto_dist and x.vec_id != y.vec_id
        )
        for rows in by_cell.values()
    )
    if tie_free:
        assert streamed == batch_kept
    else:  # still a hard invariant: stream keeps a superset (ties kept)
        assert streamed >= batch_kept


@needs_data
@pytest.mark.slow
def test_streaming_pseudo_label_gate_equals_batch(spark):
    """Stateless pseudo-labeling gate (streaming/vectors.py::
    pseudo_label_stream — the stream-static twin of
    graph.label_propagation): the streamed (id, cell, label) rows must
    equal (1) the SAME operator evaluated in batch mode (all
    expressions batch-legal), and (2) an independent recomputation of
    the per-cell argmax vote with label_propagation's (count desc,
    label asc) tiebreak; arriving vectors landing in a cell with no
    labeled member must come out NULL-labeled."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators.similarity import (
        hashed_centroids,
        ivf_assign_hashed,
    )
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import vectors as svec
    from wasaffi_spark.streaming.events import run_to_memory

    emb = read_parquet(spark, os.path.join(SF_SMOKE, "embeddings.parquet"))
    # trusted labeled slice: every 5th vector keeps its label, the rest
    # of the known corpus is unlabeled (rides along with NULL)
    known = emb.select(
        "vec_id",
        "embedding",
        F.when(F.pmod("vec_id", F.lit(5)) == 0, F.col("label")).alias(
            "label"
        ),
    )

    stream = svec.read_embeddings_stream(spark, SF_SMOKE)
    run_to_memory(
        svec.pseudo_label_stream(stream, known, n_cells=8),
        "pseudo_label_gate",
        output_mode="append",
    )
    streamed = {
        (r.vec_id, r.cell, r.label)
        for r in spark.sql(
            "select vec_id, cell, label from pseudo_label_gate"
        ).collect()
    }
    assert len(streamed) == emb.count()
    batch_twin = {
        (r.vec_id, r.cell, r.label)
        for r in svec.pseudo_label_stream(emb, known, n_cells=8).collect()
    }
    assert streamed == batch_twin

    # independent vote recomputation from the assigned known corpus
    cents = hashed_centroids(known, 8)
    rows = ivf_assign_hashed(
        known, cents, 8, extra_cols=("label",)
    ).collect()
    votes: dict[int, dict[int, int]] = {}
    for r in rows:
        if r.label is not None:
            votes.setdefault(r.cell, {}).setdefault(r.label, 0)
            votes[r.cell][r.label] += 1
    want_label = {
        cell: min(cnts, key=lambda lab: (-cnts[lab], lab))
        for cell, cnts in votes.items()
    }
    for vec_id, cell, label in streamed:
        assert label == want_label.get(cell), (vec_id, cell, label)


@needs_data
@pytest.mark.slow
def test_streaming_ivf_append_equals_batch(spark):
    """The streaming write path of the incremental IVF index
    (streaming/vectors.py::ivf_append_stream): the streamed postings
    rows must be IDENTICAL to the batch similarity.ivf_append
    assignment of the same vectors against the same frozen codebook —
    the in-row literal-centroid argmin IS ivf_assign_hashed's
    packed-min contract."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import vectors as svec
    from wasaffi_spark.streaming.events import run_to_memory

    emb = read_parquet(spark, os.path.join(SF_SMOKE, "embeddings.parquet"))
    base = emb.where(F.col("vec_id") % 8 != 7)

    stream = svec.read_embeddings_stream(spark, SF_SMOKE)
    run_to_memory(
        svec.ivf_append_stream(stream, base, n_cells=8),
        "ivf_append_gate",
        output_mode="append",
    )
    streamed = {
        (r.vec_id, r.cell)
        for r in spark.sql("select vec_id, cell from ivf_append_gate").collect()
    }
    assert len(streamed) == emb.count()

    cents = similarity.lloyd_centroids(base, n_cells=8, iters=2)
    batch = {
        (r.vec_id, r.cell)
        for r in similarity.ivf_append(emb, cents, n_cells=8)
        .select("vec_id", "cell")
        .collect()
    }
    assert streamed == batch


@needs_data
@pytest.mark.slow
def test_graph_insert_sink_equals_sequential_batch(spark, tmp_path):
    """foreachBatch graph maintenance (streaming/vectors.py::
    graph_insert_sink): streaming the ingest slice through the sink in
    two micro-batches must leave EXACTLY the state that two sequential
    batch graph_insert calls produce — same latest-wins adjacency,
    batch 2 inserted against the batch-1-updated graph (the
    frozen-snapshot-per-batch contract)."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import vectors as svec

    emb = read_parquet(spark, os.path.join(SF_SMOKE, "embeddings.parquet")).where(
        F.col("vec_id") < 200
    )
    base = emb.where(F.col("vec_id") % 8 != 7)
    ingest = emb.where(F.col("vec_id") % 8 == 7)

    # two parquet files => two micro-batches under maxFilesPerTrigger=1
    ingest_dir = str(tmp_path / "ingest")
    ingest.where(F.col("vec_id") < 100).coalesce(1).write.parquet(
        ingest_dir + "/f0"
    )
    ingest.where(F.col("vec_id") >= 100).coalesce(1).write.parquet(
        ingest_dir + "/f1"
    )
    stream = (
        spark.readStream.schema(ingest.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(ingest_dir)
    )

    state_dir = str(tmp_path / "state")
    kw = dict(k=4, beam=8, rounds=3, n_entry=3, ring=3, max_reverse=8,
              descent_rounds=2)
    q = svec.graph_insert_sink(stream, spark, state_dir, base, **kw)
    q.awaitTermination()
    got = {
        tuple(r)
        for r in svec.read_graph_state(spark, state_dir).collect()
    }

    # replicate sequentially, honoring the sink's actual batch order
    import glob

    b_ids = sorted(
        int(p.rsplit("batch_id=", 1)[1])
        for p in glob.glob(os.path.join(state_dir, "vectors", "batch_id=*"))
        if not p.endswith("=-1")
    )
    assert b_ids == [0, 1]
    seq_kw = dict(k=4, beam=8, rounds=3, n_entry=3, ring=3, max_reverse=8)
    graph = similarity.knn_descent(
        base, k=4, rounds=2, max_reverse=8, ring=3
    ).localCheckpoint(eager=True)
    corpus = base.select("vec_id", "embedding")
    state = {}  # src -> set of rows (latest wins)
    for r in graph.collect():
        state.setdefault(r.src, set()).add((r.src, r.dst, r.cos_sim, r.rank))
    for bid in b_ids:
        bvec = spark.read.parquet(
            os.path.join(state_dir, "vectors", f"batch_id={bid}")
        ).select("vec_id", "embedding")
        cur_rows = [row for rows in state.values() for row in rows]
        cur_graph = spark.createDataFrame(
            cur_rows, "src bigint, dst bigint, cos_sim double, rank int"
        )
        upd = similarity.graph_insert(
            bvec, cur_graph, corpus, **seq_kw
        ).collect()
        by_src = {}
        for r in upd:
            by_src.setdefault(r.src, set()).add(
                (r.src, r.dst, r.cos_sim, r.rank)
            )
        state.update(by_src)
        corpus = corpus.unionByName(bvec).localCheckpoint(eager=True)
    want = {row for rows in state.values() for row in rows}
    assert got == want


@needs_data
@pytest.mark.slow
def test_graph_delete_sink_equals_sequential_batch(spark, tmp_path):
    """foreachBatch delete maintenance (streaming/vectors.py::
    graph_delete_sink): streaming two delete micro-batches against a
    seeded graph state must leave EXACTLY the state two sequential
    batch graph_delete calls produce — same latest-wins adjacency,
    batch 2 deleted against the batch-1-repaired graph, tombstoned
    srcs gone from the resolved state, and no surviving edge pointing
    into the deleted set."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.operators.similarity import graph_apply_delta
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import vectors as svec

    emb = read_parquet(spark, os.path.join(SF_SMOKE, "embeddings.parquet")).where(
        F.col("vec_id") < 200
    )
    d0 = emb.where(F.col("vec_id") % 16 == 3).select("vec_id")
    d1 = emb.where(F.col("vec_id") % 16 == 8).select("vec_id")

    del_dir = str(tmp_path / "dels")
    d0.coalesce(1).write.parquet(del_dir + "/f0")
    d1.coalesce(1).write.parquet(del_dir + "/f1")
    stream = (
        spark.readStream.schema(d0.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(del_dir)
    )

    state_dir = str(tmp_path / "state")
    q = svec.graph_delete_sink(
        stream, spark, state_dir, base=emb, k=4, descent_rounds=2,
        max_reverse=8, ring=3,
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in svec.read_graph_state(spark, state_dir).collect()
    }

    # replicate sequentially, honoring the sink's actual batch order
    import glob

    batches = {}
    for p in glob.glob(os.path.join(state_dir, "deleted", "batch_id=*")):
        bid = int(p.rsplit("batch_id=", 1)[1])
        if bid >= 0:
            batches[bid] = spark.read.parquet(p).select("vec_id")
    assert sorted(batches) == [0, 1]

    graph = similarity.knn_descent(
        emb, k=4, rounds=2, max_reverse=8, ring=3
    ).localCheckpoint(eager=True)
    corpus = emb.select("vec_id", "embedding")
    all_del = None
    for bid in sorted(batches):
        dele = batches[bid]
        rep = similarity.graph_delete(dele, graph, corpus, k=4)
        dd = dele.withColumnRenamed("vec_id", "_did")
        graph = (
            graph_apply_delta(graph, rep)
            .join(dd, F.col("src") == F.col("_did"), "left_anti")
            .localCheckpoint(eager=True)
        )
        corpus = corpus.join(
            dd, F.col("vec_id") == F.col("_did"), "left_anti"
        ).localCheckpoint(eager=True)
        all_del = dele if all_del is None else all_del.unionByName(dele)
    want = {tuple(r) for r in graph.collect()}
    assert got == want

    deleted_ids = {r.vec_id for r in all_del.collect()}
    assert deleted_ids
    assert all(r[0] not in deleted_ids for r in got)  # src never deleted
    assert all(r[1] not in deleted_ids for r in got)  # no edge into deleted


@needs_data
@pytest.mark.slow
def test_snapshot_sink_equals_sequential_batch(spark, tmp_path):
    """foreachBatch nightly snapshot (streaming/documents.py::
    snapshot_sink): streaming the ingest slice in two micro-batches
    must publish, per batch, EXACTLY the report a sequential
    pipeline.incremental_snapshot call over the same pre-batch state
    produces, and leave hash/counts/postings state matching the
    admitted sets (counts state is additive, so pre-batch totals are
    partition sums)."""
    import glob

    from pyspark.sql import functions as F

    from wasaffi_spark.operators import pipeline as pipe
    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdoc

    DIM, CELLS = 16, 8
    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    base = docs.where(F.col("doc_id") % 4 != 3)
    ingest = docs.where(F.col("doc_id") % 4 == 3)
    mid = ingest.approxQuantile("doc_id", [0.5], 0.0)[0]

    th = F.md5(F.coalesce(F.col("text"), F.lit("")))
    base_hashes = base.groupBy(th.alias("text_hash")).agg(
        F.min("doc_id").alias("doc_id")
    )
    base_counts = (
        base_hashes.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n_d"))
    )
    bemb = (
        similarity.hashed_embedding(base, dim=DIM)
        .where(F.col("norm_sq") > 0)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
    )
    cents = similarity.hashed_centroids(bemb, CELLS).localCheckpoint(
        eager=True
    )

    # two parquet files => two micro-batches under maxFilesPerTrigger=1
    ingest_dir = str(tmp_path / "ingest")
    lo = ingest.where(F.col("doc_id") <= mid)
    hi = ingest.where(F.col("doc_id") > mid)
    lo.coalesce(1).write.parquet(ingest_dir + "/f0")
    hi.coalesce(1).write.parquet(ingest_dir + "/f1")
    stream = (
        spark.readStream.schema(ingest.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(ingest_dir)
    )

    state_dir = str(tmp_path / "state")
    q = sdoc.snapshot_sink(
        stream, spark, state_dir, cents,
        base_hashes=base_hashes, base_domain_counts=base_counts,
        n_cells=CELLS, dim=DIM,
    )
    q.awaitTermination()

    b_ids = sorted(
        int(p.rsplit("batch_id=", 1)[1])
        for p in glob.glob(os.path.join(state_dir, "report", "batch_id=*"))
    )
    assert b_ids == [0, 1]
    # identify which file landed in which micro-batch from the admitted
    # ids (the two files occupy disjoint doc_id ranges)
    s0 = spark.read.parquet(
        os.path.join(state_dir, "state", "batch_id=0")
    )
    assert s0.count() > 0
    first_lo = s0.agg(F.max("doc_id")).first()[0] <= mid
    slices = [lo, hi] if first_lo else [hi, lo]

    seen = base_hashes.select("text_hash")
    counts = base_counts
    for bid, batch_docs in zip(b_ids, slices):
        want_df = pipe.incremental_snapshot(
            batch_docs, seen, counts, cents, n_cells=CELLS, dim=DIM
        )
        want = {tuple(r) for r in want_df.collect()}
        got = {
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, "report", f"batch_id={bid}")
            ).select(*want_df.columns).collect()
        }
        assert got == want, f"report mismatch at batch {bid}"

        _, _, fresh = pipe.snapshot_admission(batch_docs, seen)
        fresh = fresh.localCheckpoint(eager=True)
        got_state = {
            (r.text_hash, r.doc_id)
            for r in spark.read.parquet(
                os.path.join(state_dir, "state", f"batch_id={bid}")
            ).collect()
        }
        want_state = {
            (r["_th"], r["doc_id"])
            for r in fresh.select("_th", "doc_id").collect()
        }
        assert got_state == want_state, f"hash state mismatch at batch {bid}"
        got_post = {
            (r.cell, r.vec_id)
            for r in spark.read.parquet(
                os.path.join(state_dir, "postings", f"batch_id={bid}")
            ).collect()
        }
        emb = (
            similarity.hashed_embedding(fresh, dim=DIM)
            .where(F.col("norm_sq") > 0)
            .select(F.col("doc_id").alias("vec_id"), "embedding")
        )
        want_post = {
            (r.cell, r.vec_id)
            for r in similarity.ivf_assign_hashed(
                emb, cents, CELLS, dim=DIM
            ).select("cell", "vec_id").collect()
        }
        assert got_post == want_post, f"postings mismatch at batch {bid}"

        seen = seen.union(
            fresh.select(F.col("_th").alias("text_hash"))
        ).localCheckpoint(eager=True)
        delta = fresh.groupBy("lang").agg(F.count("*").alias("n_d"))
        counts = (
            counts.unionByName(delta)
            .groupBy("lang")
            .agg(F.sum("n_d").alias("n_d"))
            .localCheckpoint(eager=True)
        )


@needs_data
@pytest.mark.slow
def test_snapshot_sink_replay_is_idempotent(spark, tmp_path):
    """The effectively-once contract: re-running an already-committed
    snapshot micro-batch (the at-least-once foreachBatch replay after a
    crash-before-checkpoint) leaves every state table EXACTLY as it
    was — reads exclude the batch's own partitions, writes overwrite
    them."""
    import glob

    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdoc
    from wasaffi_spark.streaming.documents import _snapshot_batch

    DIM, CELLS = 16, 8
    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    base = docs.where(F.col("doc_id") % 4 != 3)
    ingest = docs.where(F.col("doc_id") % 4 == 3)
    mid = ingest.approxQuantile("doc_id", [0.5], 0.0)[0]

    th = F.md5(F.coalesce(F.col("text"), F.lit("")))
    base_hashes = base.groupBy(th.alias("text_hash")).agg(
        F.min("doc_id").alias("doc_id")
    )
    bemb = (
        similarity.hashed_embedding(base, dim=DIM)
        .where(F.col("norm_sq") > 0)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
    )
    cents = similarity.hashed_centroids(bemb, CELLS).localCheckpoint(
        eager=True
    )
    ingest_dir = str(tmp_path / "ingest")
    ingest.where(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        ingest_dir + "/f0"
    )
    ingest.where(F.col("doc_id") > mid).coalesce(1).write.parquet(
        ingest_dir + "/f1"
    )
    stream = (
        spark.readStream.schema(ingest.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(ingest_dir)
    )
    state_dir = str(tmp_path / "state")
    q = sdoc.snapshot_sink(
        stream, spark, state_dir, cents, base_hashes=base_hashes,
        n_cells=CELLS, dim=DIM,
    )
    q.awaitTermination()

    def table_rows():
        out = {}
        for t in ("state", "counts", "postings", "report"):
            out[t] = sorted(
                map(tuple, spark.read.parquet(
                    os.path.join(state_dir, t)
                ).collect())
            )
        return out

    before = table_rows()
    # replay the LAST batch: recover which file it held from its own
    # state partition (disjoint id ranges), then re-run the batch body
    s1 = spark.read.parquet(os.path.join(state_dir, "state", "batch_id=1"))
    last_lo = s1.agg(F.max("doc_id")).first()[0] <= mid
    last = ingest.where(
        F.col("doc_id") <= mid if last_lo else F.col("doc_id") > mid
    )
    _snapshot_batch(
        last, 1, state_dir, n_cells=CELLS, dim=DIM, alpha=0.5,
        id_col="doc_id", text_col="text", domain_col="lang",
    )
    assert table_rows() == before
    # and replaying it twice more changes nothing either
    _snapshot_batch(
        last, 1, state_dir, n_cells=CELLS, dim=DIM, alpha=0.5,
        id_col="doc_id", text_col="text", domain_col="lang",
    )
    assert table_rows() == before


@needs_data
@pytest.mark.slow
def test_vacuum_graph_state_preserves_reads_and_continuation(spark, tmp_path):
    """Offline state compaction (streaming/vectors.py::
    vacuum_graph_state): after folding every batch partition into the
    seeds, (a) the resolved adjacency is IDENTICAL to an unvacuumed
    twin state dir, (b) each table holds only batch_id=-1, and (c) a
    CONTINUED sink run (new micro-batch against the vacuumed state)
    still produces exactly what the unvacuumed twin produces — vacuum
    is invisible to both readers and writers."""
    import glob

    from pyspark.sql import functions as F

    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import vectors as svec

    emb = read_parquet(spark, os.path.join(SF_SMOKE, "embeddings.parquet")).where(
        F.col("vec_id") < 200
    )
    base = emb.where(F.col("vec_id") % 8 != 7)
    ingest = emb.where(F.col("vec_id") % 8 == 7)
    ingest_dir = str(tmp_path / "ingest")
    ingest.where(F.col("vec_id") < 80).coalesce(1).write.parquet(
        ingest_dir + "/f0"
    )
    ingest.where((F.col("vec_id") >= 80) & (F.col("vec_id") < 140)).coalesce(
        1
    ).write.parquet(ingest_dir + "/f1")

    kw = dict(k=4, beam=8, rounds=3, n_entry=3, ring=3, max_reverse=8,
              descent_rounds=2)

    def run(state_dir):
        stream = (
            spark.readStream.schema(ingest.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(ingest_dir)
        )
        svec.graph_insert_sink(
            stream, spark, state_dir, base, **kw
        ).awaitTermination()

    sa, sb = str(tmp_path / "A"), str(tmp_path / "B")
    run(sa)
    run(sb)

    folded = svec.vacuum_graph_state(spark, sa)
    assert folded["graph"] >= 2 and folded["vectors"] >= 2
    for t in ("graph", "vectors", "deleted"):
        parts = glob.glob(os.path.join(sa, t, "batch_id=*"))
        assert [os.path.basename(p) for p in parts] == ["batch_id=-1"], t
    got = {tuple(r) for r in svec.read_graph_state(spark, sa).collect()}
    want = {tuple(r) for r in svec.read_graph_state(spark, sb).collect()}
    assert got == want

    # continuation: a third micro-batch lands AFTER the vacuum
    ingest.where(F.col("vec_id") >= 140).coalesce(1).write.parquet(
        ingest_dir + "/f2"
    )
    run(sa)
    run(sb)
    got = {tuple(r) for r in svec.read_graph_state(spark, sa).collect()}
    want = {tuple(r) for r in svec.read_graph_state(spark, sb).collect()}
    assert got == want


@needs_data
def test_vacuum_set_state_dedup_sink_continuation(spark, tmp_path):
    """vacuum_set_state on the dedup sink's hash table: reads and a
    continued run are unchanged vs an unvacuumed twin (set semantics —
    the anti-join reader never cared about duplicates or layout)."""
    import glob

    from pyspark.sql import functions as F

    from wasaffi_spark.sources.parquet import read_parquet
    from wasaffi_spark.streaming import documents as sdoc
    from wasaffi_spark.streaming.state import vacuum_set_state

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    src_dir = str(tmp_path / "src")
    docs.where(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        src_dir + "/f0"
    )
    docs.where(F.col("doc_id") > mid).coalesce(1).write.parquet(
        src_dir + "/f1"
    )

    def run(state_dir):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        sdoc.incremental_dedup_sink(stream, spark, state_dir).awaitTermination()

    sa, sb = str(tmp_path / "A"), str(tmp_path / "B")
    run(sa)
    run(sb)
    folded = vacuum_set_state(spark, os.path.join(sa, "state"))
    assert folded >= 2
    parts = glob.glob(os.path.join(sa, "state", "batch_id=*"))
    assert [os.path.basename(p) for p in parts] == ["batch_id=-1"]

    # duplicate re-ingest AFTER the vacuum: the compacted state must
    # still block every already-seen text
    docs.where(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        src_dir + "/f2"
    )
    run(sa)
    run(sb)
    ga = {
        (r.text_hash, r.doc_id)
        for r in spark.read.parquet(os.path.join(sa, "state")).select(
            "text_hash", "doc_id"
        ).collect()
    }
    gb = {
        (r.text_hash, r.doc_id)
        for r in spark.read.parquet(os.path.join(sb, "state")).select(
            "text_hash", "doc_id"
        ).collect()
    }
    assert ga == gb
