"""Unit tests for the n-gram decontamination operator."""

from __future__ import annotations

import __spark_entry__ as entrymod
from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
    ngram_overlap,
)

from .conftest import SF_SMOKE

import pytest


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_verbatim_leak_flagged_severe(spark):
    bench = _docs(spark, [(0, "the quick brown fox jumps over the lazy dog")])
    corpus = _docs(
        spark,
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "completely different words here nothing shared at all okay"),
        ],
    )
    out = {r.doc_id: r for r in ngram_overlap(corpus, bench, n=4).collect()}
    assert set(out) == {10}, "only the verbatim copy may be flagged"
    assert out[10].overlap_frac == 1.0
    assert out[10].severe


def test_partial_overlap_counts_one_gram(spark):
    bench = _docs(spark, [(0, "a b c d e")])
    # exactly one shared 4-gram ("a b c d") among 7 distinct corpus grams
    corpus = _docs(spark, [(10, "x x x a b c d y z w")])
    rows = ngram_overlap(corpus, bench, n=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_grams, r.n_shared, r.n_bench_docs) == (7, 1, 1)
    assert not r.severe


def test_shuffle_mode_matches_broadcast_mode(spark):
    """broadcast_bench=False (benchmark too big to broadcast) must give
    identical results through the hash-partitioned join path."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    bench = docs.filter("doc_id < 20")
    corpus = docs.filter("doc_id >= 20")
    a = sorted(
        map(tuple, ngram_overlap(corpus, bench, n=4, broadcast_bench=True).collect())
    )
    b = sorted(
        map(tuple, ngram_overlap(corpus, bench, n=4, broadcast_bench=False).collect())
    )
    assert a == b and a


from datetime import datetime, timezone

from hypothesis import given, settings, strategies as st

from the_build_project_image_retrieval_with_vector_databases_spark.operators.windows import (
    interval_join,
)

_event = st.tuples(
    st.integers(min_value=0, max_value=3),      # user
    st.integers(min_value=0, max_value=7200),   # epoch offset (2 bucket widths)
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    views=st.lists(_event, min_size=0, max_size=12),
    purchases=st.lists(_event, min_size=0, max_size=12),
)
def test_interval_join_matches_bruteforce(spark_global, views, purchases):
    """Bucket-blocked interval join ≡ O(n²) brute force on random event
    sets — pairs strictly-after within 3600 s, each counted exactly once."""
    spark = spark_global
    base = 1_600_000_000

    def mk(rows, idc):
        data = [
            (i, u, datetime.fromtimestamp(base + ep, tz=timezone.utc).replace(tzinfo=None))
            for i, (u, ep) in enumerate(rows)
        ]
        return spark.createDataFrame(data, f"{idc} long, user_id long, ts timestamp")

    vdf = mk(views, "view_id").withColumnRenamed("ts", "v_ts")
    pdf = mk(purchases, "purchase_id").withColumnRenamed("ts", "p_ts")
    got = sorted(
        (r.view_id, r.purchase_id)
        for r in interval_join(
            vdf, pdf, key="user_id", left_ts="v_ts", right_ts="p_ts",
            within_s=3600,
        ).collect()
    )
    want = sorted(
        (vi, pi)
        for vi, (vu, vep) in enumerate(views)
        for pi, (pu, pep) in enumerate(purchases)
        if vu == pu and pep > vep and pep <= vep + 3600
    )
    assert got == want
