"""Default-path pins for the shared search stages of similarity.py.

The exact-cosine IVF variants (hashed, Lloyd, append, maintained,
retrained) all return :func:`similarity.ivf_postings_topk` over the
``(cents, postings)`` they build, and every variant ranks through
``_ranked_shortlist``. These tests pin those seams on in-memory corpora
of at most 64 vectors, so they run on the default (not-``slow``) path:

- a single-cell IVF index equals exact brute force row for row (the
  exact-cosine twin of the SQ8/BQ single-cell bridges in test_r6_ops);
- cheap twins of two ``slow`` sf0.001 pins:
  ``test_r13_opt::test_ivf_postings_topk_equals_maintained`` and
  ``test_r9_ops::test_ivf_append_empty_batch_degenerates_to_lloyd``.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from wasaffi_spark.operators import similarity

N_VECS = 48
DIM = 64
K = 3
CELLS = 4
ITERS = 1


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(23)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(N_VECS)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.where(F.col("vec_id") < 4)


def test_ivf_hashed_single_cell_equals_brute_force(corpus, queries):
    flat = _rows(similarity.brute_force_topk(queries, corpus, k=K))
    assert len(flat) == 4 * K
    got = similarity.ivf_topk_hashed(
        queries, corpus, k=K, n_cells=1, n_probe=1
    )
    assert _rows(got) == flat


def test_ivf_lloyd_single_cell_equals_brute_force(corpus, queries):
    flat = _rows(similarity.brute_force_topk(queries, corpus, k=K))
    got = similarity.ivf_topk_lloyd(
        queries, corpus, k=K, n_cells=1, n_probe=1, iters=ITERS
    )
    assert _rows(got) == flat


def test_ivf_postings_topk_equals_maintained_small(corpus, queries):
    """Cheap twin of test_r13_opt::test_ivf_postings_topk_equals_maintained."""
    base = corpus.where(F.col("vec_id") % 8 != 7)
    batch = corpus.where(F.col("vec_id") % 8 == 7)
    dele = corpus.where(F.col("vec_id") % 13 == 4).select("vec_id")
    q = queries.where(F.col("vec_id") % 13 != 4)
    whole = similarity.ivf_maintained_topk(
        q, base, batch, dele, k=K, n_cells=CELLS, n_probe=2, iters=ITERS
    )
    cents = similarity.lloyd_centroids(base, CELLS, ITERS)
    postings = similarity.ivf_assign_hashed(base, cents, CELLS).unionByName(
        similarity.ivf_append(batch, cents, CELLS)
    )
    postings = similarity.ivf_delete(dele, postings)
    shared = similarity.ivf_postings_topk(q, cents, postings, k=K, n_probe=2)
    expected = _rows(whole)
    assert expected
    assert _rows(shared) == expected


def test_ivf_append_empty_batch_degenerates_to_lloyd_small(corpus, queries):
    """Cheap twin of
    test_r9_ops::test_ivf_append_empty_batch_degenerates_to_lloyd."""
    empty = corpus.where(F.col("vec_id") < 0)
    a = similarity.ivf_append_topk(
        queries, corpus, empty, k=K, n_cells=CELLS, n_probe=2, iters=ITERS
    )
    b = similarity.ivf_topk_lloyd(
        queries, corpus, k=K, n_cells=CELLS, n_probe=2, iters=ITERS
    )
    expected = _rows(b)
    assert expected
    assert _rows(a) == expected
