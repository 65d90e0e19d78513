"""End-to-end batch index build (SURVEY §3.2 → plans.index_build):
sample → normalize → positional-id assignment → partitioned sink, plus the
IVF layout + partition-pruned probe."""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.plans.index_build import (
    build_index,
    write_metadata_json,
    write_vector_map,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
    ivf_search,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
    knn,
)
from the_build_project_image_retrieval_with_vector_databases_spark.functions.vector import (
    l2_norm,
)
from .conftest import SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_build_index_contract(spark):
    out = build_index(_emb(spark), per_class=20).cache()
    n = out.count()
    # exact-k stratified: 10 labels × min(20, 50) = 200 rows
    assert n == 200
    # positional identity: row_id is dense 0..N-1, assigned once
    ids = sorted(r.row_id for r in out.select("row_id").collect())
    assert ids == list(range(n))
    # unit norms after normalize (float32 storage tolerance)
    norms = [r.n for r in out.select(l2_norm("embedding").alias("n")).collect()]
    assert max(abs(x - 1.0) for x in norms) < 1e-3
    # embedding stays float32 (reference dtype contract, utils/__init__.py:74)
    assert dict(out.dtypes)["embedding"] == "array<float>"


def test_build_index_ids_stable_under_repartition(spark):
    a = build_index(_emb(spark), per_class=5)
    b = build_index(_emb(spark).repartition(13), per_class=5)
    ka = sorted((r.vec_id, r.row_id) for r in a.select("vec_id", "row_id").collect())
    kb = sorted((r.vec_id, r.row_id) for r in b.select("vec_id", "row_id").collect())
    assert ka == kb


def test_sidecar_sinks_roundtrip(spark, tmp_path):
    """S7 (JSON metadata) and S8 (key→vector map) sidecar-parity sinks:
    write + re-read preserves rows, keys, and vector payloads exactly."""
    built = build_index(_emb(spark), per_class=5).cache()
    n = built.count()

    jpath = str(tmp_path / "metadata_json")
    write_metadata_json(built, jpath)
    meta = spark.read.json(jpath)
    assert meta.count() == n
    assert "embedding" not in meta.columns  # vectors excluded from S7
    want = {(r.vec_id, r.label, r.row_id) for r in built.collect()}
    got = {(r.vec_id, r.label, r.row_id) for r in meta.collect()}
    assert got == want

    vpath = str(tmp_path / "vector_map")
    write_vector_map(built, vpath)
    vmap = spark.read.parquet(vpath)
    assert vmap.columns == ["row_id", "embedding"]
    assert vmap.count() == n
    a = {r.row_id: list(r.embedding) for r in built.select("row_id", "embedding").collect()}
    b = {r.row_id: list(r.embedding) for r in vmap.collect()}
    assert a == b  # float32 bits survive the parquet roundtrip exactly


def test_ivf_append_maintenance(spark, tmp_path):
    """Appending a new batch into the IVF layout: existing rows intact,
    new rows land in their assigned partitions, probes see both."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        append_to_ivf_index,
        kmeans_train_exact,
        write_ivf_index,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)
    cents = kmeans_train_exact(base, k=4, max_iter=20)[0]
    path = str(tmp_path / "ivf_inc")
    write_ivf_index(base, path, cents)
    n_base = spark.read.parquet(path).count()
    append_to_ivf_index(extra, path, cents)
    merged = spark.read.parquet(path)
    assert merged.count() == emb.count()
    assert n_base == 400
    # appended rows are assigned to the same centroid the expression gives
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        assign_centroids,
    )
    want = {
        r.vec_id: r.centroid
        for r in assign_centroids(extra, cents).select("vec_id", "centroid").collect()
    }
    got = {
        r.vec_id: r.centroid
        for r in merged.filter(F.col("vec_id") >= 400)
        .select("vec_id", "centroid")
        .collect()
    }
    assert got == want
    # a probe over the merged layout can return appended vectors
    qrow = extra.first()
    hits = ivf_search(
        spark, cents, list(map(float, qrow.embedding)), k=3, nprobe=4, path=path
    ).collect()
    assert qrow.vec_id in {r.vec_id for r in hits}


def test_ivf_layout_roundtrip(spark, tmp_path):
    path = str(tmp_path / "ivf_index")
    built = build_index(_emb(spark), out_path=path, per_class=20, ivf_k=4)
    reread = spark.read.parquet(path)
    assert reread.count() == 200
    assert "centroid" in reread.columns
    # partition pruning surface: centroid is a partition column
    assert set(r.centroid for r in reread.select("centroid").distinct().collect()) <= set(
        range(4)
    )
    # probe over the materialized layout returns top-k with metadata intact
    qrow = built.filter(F.col("vec_id") == built.select(F.min("vec_id")).first()[0]).first()
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        kmeans_train_exact,
    )
    cents = kmeans_train_exact(_emb(spark), k=4, max_iter=20)[0]
    got = ivf_search(
        spark, cents, list(map(float, qrow.embedding)), k=3, nprobe=4, path=path
    ).collect()
    assert len(got) == 3
    assert {"vec_id", "label", "dist"} <= set(got[0].asDict())
    # full probe (nprobe == k) includes the query row itself at dist 0
    assert got[0].vec_id == qrow.vec_id
    assert abs(got[0].dist) < 1e-6


def _files_per_list(path: str) -> dict[int, int]:
    """Parquet data files in each ``centroid=<id>`` directory of an IVF
    layout."""
    out = {}
    for d in sorted(os.listdir(path)):
        if d.startswith("centroid="):
            files = os.listdir(os.path.join(path, d))
            out[int(d.split("=")[1])] = sum(f.endswith(".parquet") for f in files)
    return out


@contextlib.contextmanager
def _session_conf(spark, confs: dict):
    """Set session confs for the block, then put back what was there
    (unset keys are unset again)."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# lists far below the advisory partition size (Spark's 64MB default,
# pinned so the layout tests do not depend on the session's state)
_SMALL_LISTS = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB"}


def _append_adds_one_file_per_touched_list(spark, tmp_path, aqe, extra_parts):
    """Write a 4-partition base layout, append the rest of the fixture
    split into ``extra_parts`` partitions (None: the filtered scan as
    is), and require one file per list after the write and one more per
    list the batch touches after the append, every row in the list
    ``assign_centroids`` gives it."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        append_to_ivf_index,
        assign_centroids,
        kmeans_train_exact,
        write_ivf_index,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 400).repartition(4)
    extra = emb.filter(F.col("vec_id") >= 400)
    if extra_parts is not None:
        extra = extra.repartition(extra_parts)
    assert base.rdd.getNumPartitions() == 4
    cents = kmeans_train_exact(base, k=4, max_iter=20)[0]
    path = str(tmp_path / "ivf_lists")
    touched = {
        r.centroid
        for r in assign_centroids(extra, cents).select("centroid").distinct().collect()
    }
    with _session_conf(spark, {**_SMALL_LISTS, "spark.sql.adaptive.enabled": aqe}):
        write_ivf_index(base, path, cents)
        written = _files_per_list(path)
        append_to_ivf_index(extra, path, cents)
    assert written and set(written.values()) == {1}, written
    after = _files_per_list(path)
    assert after == {c: written.get(c, 0) + (c in touched) for c in after}, after
    # every row sits in the list assign_centroids gives it
    got = {
        (r.vec_id, r.centroid)
        for r in spark.read.parquet(path).select("vec_id", "centroid").collect()
    }
    want = {
        (r.vec_id, r.centroid)
        for r in assign_centroids(emb, cents).select("vec_id", "centroid").collect()
    }
    assert got == want


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_ivf_write_and_append_leave_one_file_per_list(spark, monkeypatch, tmp_path, aqe):
    """Each input partition used to write its own file into every list:
    a 4-partition input left up to 4 files per list, and every append up
    to one more per batch partition. With AQE on small lists share a
    task; with it off the rebalance is a hash repartition on centroid.
    Either way a list is one file. A zero driver-path byte bound keeps
    the write and the append on Spark's writer (``write_lists``)."""
    monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
    _append_adds_one_file_per_touched_list(spark, tmp_path, aqe, extra_parts=3)


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_ivf_driver_append_leaves_one_file_per_list(spark, tmp_path, aqe):
    """The driver path's twin: a batch within the driver-path bounds is
    appended by pyarrow, one file per list it touches."""
    _append_adds_one_file_per_touched_list(spark, tmp_path, aqe, extra_parts=None)


def test_ivf_write_splits_a_list_past_the_advisory_size(spark, monkeypatch, tmp_path):
    """A list larger than ``advisoryPartitionSizeInBytes`` is written by
    several tasks, not funnelled into one: at scale a skewed list does
    not land on one task. A zero driver-path byte bound keeps the write
    on Spark's writer."""
    monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        kmeans_train_exact,
        write_ivf_index,
    )

    emb = _emb(spark)
    cents = kmeans_train_exact(emb, k=4, max_iter=20)[0]
    path = str(tmp_path / "ivf_split")
    with _session_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        },
    ):
        write_ivf_index(emb.repartition(4), path, cents)
    assert max(_files_per_list(path).values()) > 1
    assert spark.read.parquet(path).count() == emb.count()


def test_build_index_ivf_leaves_one_file_per_list(spark, monkeypatch, tmp_path):
    """With partition coalescing off the build's last stage keeps every
    shuffle partition, the many-task shape of a large input, and each
    of them used to write its own file into every list. A zero
    driver-path byte bound keeps the build on the Spark path."""
    monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
    path = str(tmp_path / "ivf_build")
    with _session_conf(
        spark, {**_SMALL_LISTS, "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    ):
        built = build_index(_emb(spark), out_path=path, per_class=20, ivf_k=4)
    files = _files_per_list(path)
    assert files and set(files.values()) == {1}, files
    assert sorted(r.vec_id for r in spark.read.parquet(path).collect()) == sorted(
        r.vec_id for r in built.collect()
    )
