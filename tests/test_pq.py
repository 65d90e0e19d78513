"""Product quantization (operators.pq): encode/ADC structural contracts
vs NumPy, recall floors vs the exact operator, and the ADC→exact re-rank
shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
    knn_single,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
    adc_lut,
    pq_adc_rerank_topk,
    pq_adc_topk,
    pq_encode,
    slice_codebooks,
)

from .conftest import SF_SMOKE

M = 8


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()
    df.count()
    yield df
    # a cache left behind serves every later read of the file
    df.unpersist()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat


@pytest.fixture(scope="module")
def books(emb_np):
    _, mat = emb_np
    return slice_codebooks([list(map(float, mat[i])) for i in range(16)], M)


def test_pq_encode_matches_numpy(emb, emb_np, books):
    ids, mat = emb_np
    dsub = mat.shape[1] // M
    got = {
        r.vec_id: [r[f"code_{j}"] for j in range(M)]
        for r in pq_encode(emb, books).collect()
    }
    for j in range(M):
        centers = np.asarray(books[j])  # (16, dsub)
        subs = mat[:, j * dsub : (j + 1) * dsub]
        d = ((subs[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        want = d.argmin(axis=1)  # first-min tie-break, same as array_position
        assert [got[i][j] for i in ids] == list(want)
    # every code addresses a real center
    assert all(0 <= c < 16 for codes in got.values() for c in codes)


def test_adc_equals_reconstruction_distance(emb, emb_np, books):
    """ADC(q, codes(x)) must equal ‖q − reconstruct(codes(x))‖² exactly:
    the lookup table IS the per-subspace distance to the assigned center."""
    ids, mat = emb_np
    q = list(map(float, mat[0]))
    dsub = mat.shape[1] // M
    enc = pq_encode(emb, books)
    got = {r.vec_id: r.adc_dist for r in pq_adc_topk(enc, books, q, k=20).collect()}
    lut = adc_lut(books, q)
    codes = {
        r.vec_id: [r[f"code_{j}"] for j in range(M)] for r in enc.collect()
    }
    for vid, adc in got.items():
        want = 0.0
        for j in range(M):
            want = want + lut[j][codes[vid][j]]
        assert adc == want


def test_pq_adc_recall_floor(emb, emb_np, books):
    """Random unit vectors are the worst case for PQ (no subspace
    structure); the bar is deliberately modest — the re-rank test below
    is the production-recall contract."""
    ids, mat = emb_np
    q = list(map(float, mat[0]))
    corpus = emb.filter(F.col("vec_id") != 0)
    qlit = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    exact = {r.vec_id for r in knn_single(corpus, qlit, k=10).collect()}
    enc = pq_encode(corpus, books)
    got = {r.vec_id for r in pq_adc_topk(enc, books, q, k=10).collect()}
    assert len(got & exact) / 10 >= 0.2


def test_pq_rerank_beats_raw_adc(emb, emb_np, books):
    """ADC shortlist → exact re-rank: recall@10 must be ≥ the raw ADC
    recall and ≥ 0.5 at 5× overfetch; returned dists are exact floats."""
    ids, mat = emb_np
    q = list(map(float, mat[0]))
    corpus = emb.filter(F.col("vec_id") != 0)
    qlit = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    exact_rows = knn_single(corpus, qlit, k=10).collect()
    exact = {r.vec_id for r in exact_rows}
    enc = pq_encode(corpus, books)
    adc = {r.vec_id for r in pq_adc_topk(enc, books, q, k=10).collect()}
    rr_rows = pq_adc_rerank_topk(enc, corpus, books, q, k=10, overfetch=5).collect()
    rr = {r.vec_id for r in rr_rows}
    assert len(rr & exact) >= len(adc & exact)
    assert len(rr & exact) / 10 >= 0.5
    # re-ranked distances are true L2, not quantized approximations
    true_d = {r.vec_id: r.dist for r in exact_rows}
    for r in rr_rows:
        if r.vec_id in true_d:
            assert abs(r.dist - true_d[r.vec_id]) < 1e-12


def test_sq_topk_high_recall(spark, emb, emb_np):
    """int8 scalar quantization loses far less than PQ (64 codes vs 8):
    recall@10 vs exact ≥ 0.6 on worst-case random vectors with a 16-row
    calibration (out-of-range dims clamp; a larger training sample
    raises this — the 16-row sample is the oracle-portability contract,
    not a recommendation)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        sq_dist_sq,
        sq_encode,
        sq_train_bounds,
    )

    ids, mat = emb_np
    bounds = sq_train_bounds([list(map(float, mat[i])) for i in range(16)])
    q = list(map(float, mat[0]))
    corpus = emb.filter(F.col("vec_id") != 0)
    qlit = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    exact = {r.vec_id for r in knn_single(corpus, qlit, k=10).collect()}
    enc = sq_encode(corpus, bounds)
    got = {
        r.vec_id
        for r in enc.withColumn("d", sq_dist_sq(bounds, q))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    }
    assert len(got & exact) / 10 >= 0.6
    # codes are genuinely 8-bit
    row = enc.first()
    assert all(0 <= c <= 255 for c in row.sq_codes)
