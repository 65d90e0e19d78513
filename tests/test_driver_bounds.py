"""Bounds on driver-side state that grows with the input or with the
life of a session: the ``spread()`` partition-count cache and the
byte gate on driver-side k-means training."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
    ann,
)
from the_build_project_image_retrieval_with_vector_databases_spark.sources import (
    tables,
)


def test_spread_semantic_hash_fast_path_runs(spark):
    """The cache key is the analyzed plan's semanticHash, read through
    private ``_jdf`` API. If a Spark upgrade broke that call, spread()
    would silently fall back to planning on every call; here the cached
    count must be present after one call and must decide the next."""
    df = spark.range(0, 64, 1, 1).select(F.col("id").alias("spread_probe"))
    key = df._jdf.queryExecution().analyzed().semanticHash()
    tables._NPARTS_CACHE.pop(key, None)
    target = spark.sparkContext.defaultParallelism
    first = tables.spread(df)
    assert tables._NPARTS_CACHE.get(key) == 1
    assert first is not df  # 1 split < target → round-robin repartition
    # a planted count at the target must be obeyed: no repartition,
    # so the count came from the cache, not from re-planning
    tables._NPARTS_CACHE[key] = target
    try:
        assert tables.spread(df) is df
    finally:
        tables._NPARTS_CACHE.pop(key, None)


def test_spread_cache_is_bounded(spark, monkeypatch):
    monkeypatch.setattr(tables, "_NPARTS_CACHE", {i: 1 for i in range(4)})
    monkeypatch.setattr(tables, "_NPARTS_CACHE_MAX", 4)
    df = spark.range(0, 8, 1, 1).select(F.col("id").alias("spread_cap"))
    tables.spread(df)
    assert len(tables._NPARTS_CACHE) == 4
    assert 0 not in tables._NPARTS_CACHE  # oldest entry evicted
    assert df._jdf.queryExecution().analyzed().semanticHash() in tables._NPARTS_CACHE


def _wide(spark, n_rows: int, dim: int):
    """Deterministic unit-scale vectors generated JVM-side (no Python
    payload): x[i][j] = sin(i·7 + j·0.37) / sqrt(dim)."""
    return spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.sin(F.col("id") * 7 + j * 0.37) / float(dim) ** 0.5,
        ).alias("embedding"),
    )


def test_kmeans_gate_counts_bytes_wide_d_takes_distributed_path(
    spark, monkeypatch
):
    """520 rows are far under the old 65,536-row gate, but at D=8192
    they are 520 × 8192 × 8 B ≈ 34 MB > 32 MiB of driver collect: the
    byte gate must route them through the distributed Lloyd loop."""
    n_rows, dim = 520, 8192
    assert n_rows * dim * 8 > ann.KMEANS_DRIVER_TRAIN_MAX_BYTES

    def no_driver(*_a, **_k):
        raise AssertionError("wide-D input took the driver-collect path")

    monkeypatch.setattr(ann, "_kmeans_train_driver", no_driver)
    cents, rounds = ann.kmeans_train_exact(
        _wide(spark, n_rows, dim), k=2, max_iter=2
    )
    assert len(cents) == 2 and all(len(c) == dim for c in cents)
    assert 1 <= rounds <= 2


@pytest.mark.parametrize(
    "limit,on_driver",
    [(None, True), (64 * 8 * 8, True), (64 * 8 * 8 - 1, False)],
)
def test_kmeans_gate_narrow_d_and_inclusive_boundary(
    spark, monkeypatch, limit, on_driver
):
    """64 × D=8 stays on the driver under the default gate; at an
    explicit limit, rows × D × 8 == limit is inclusive, one byte less
    is not."""
    called = []
    real = ann._kmeans_train_driver

    def spy(*a, **k):
        called.append(True)
        return real(*a, **k)

    monkeypatch.setattr(ann, "_kmeans_train_driver", spy)
    ann.kmeans_train_exact(
        _wide(spark, 64, 8), k=2, max_iter=2, driver_train_max_bytes=limit
    )
    assert bool(called) == on_driver
