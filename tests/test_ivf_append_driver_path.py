"""Driver path of ``append_to_ivf_index``.

A batch within the kNN driver-path bounds, read for its k centroids, on a
layout whose Hadoop file system is ``file``, is collected (by pyarrow
with no job when it is a bare local parquet scan, else by one
``toArrow()`` job), assigned in numpy with the left fold and a
first-minimum argmin, and written by pyarrow, one file per touched list.
Setting ``ARROW_DRIVER_MAX_BYTES`` to 0 forces Spark's writer
(``write_lists(assign_centroids(...))``), so the parity case appends the
same batch both ways and requires the same rows, lists and schema.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
    ann,
    knn,
)

from .conftest import SF_SMOKE


def _jobs(spark, action) -> list[int]:
    """Stage count of every job ``action`` runs."""
    sc = spark.sparkContext
    group = f"ivf-append-driver-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return [len(tracker.getJobInfo(j).stageIds) for j in tracker.getJobIdsForGroup(group)]


def _files(path: str) -> dict[str, set[str]]:
    return {
        d: set(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("centroid=")
    }


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_driver_append_matches_spark_writer(spark, monkeypatch, tmp_path, emb):
    """Same rows and lists as Spark's writer, one new file per touched
    list and no temp file, the same schema read back, also from a list
    only the driver wrote, and a cached layout frame sees the rows."""
    cents = ann.kmeans_train_exact(emb.filter(F.col("vec_id") < 400), k=4, max_iter=20)[0]
    assigned = ann.assign_centroids(emb, cents)
    # the base layout lacks list 0, so only the append writes it
    base = assigned.filter((F.col("vec_id") < 400) & (F.col("centroid") != 0))
    # the batch as its own parquet files, which pyarrow reads
    emb.filter(F.col("vec_id") >= 400).write.parquet(str(tmp_path / "extra"))
    extra = spark.read.parquet(str(tmp_path / "extra"))
    touched = {
        r.centroid
        for r in assigned.filter(F.col("vec_id") >= 400).select("centroid").distinct().collect()
    }
    assert 0 in touched and len(touched) > 1
    paths = {}
    for name in ("driver", "spark"):
        path = str(tmp_path / name)
        ann.write_lists(base, path)
        paths[name] = path
    before = _files(paths["driver"])
    cached = spark.read.parquet(paths["driver"]).cache()
    try:
        n_base = cached.count()
        stages = _jobs(spark, lambda: ann.append_to_ivf_index(extra, paths["driver"], cents))
        # the fast path ran: no job at all (pyarrow read the batch), where
        # Spark's writer runs a shuffle and a write job
        assert stages == [], stages
        assert cached.count() == n_base + extra.count()
    finally:
        cached.unpersist()
    with monkeypatch.context() as m:
        m.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
        assert len(_jobs(spark, lambda: ann.append_to_ivf_index(extra, paths["spark"], cents))) > 1

    after = _files(paths["driver"])
    assert set(after) == set(before) | {f"centroid={c}" for c in touched}
    for d, files in after.items():
        new = files - before.get(d, set())
        assert len(new) == (int(d.split("=")[1]) in touched), (d, new)
        assert all(f.startswith("part-") and f.endswith(".c000.snappy.parquet") for f in new)
    assert not [f for files in after.values() for f in files if f.endswith(".tmp")]

    got, want = (spark.read.parquet(paths[n]) for n in ("driver", "spark"))
    assert got.schema == want.schema
    expected = assigned.filter((F.col("vec_id") >= 400) | (F.col("centroid") != 0))
    assert _rows(got) == _rows(want) == _rows(expected)
    only_driver = spark.read.parquet(os.path.join(paths["driver"], "centroid=0"))
    assert only_driver.schema == spark.read.parquet(
        os.path.join(paths["spark"], "centroid=0")
    ).schema


def _batch(path: str, ids, vecs, **extra) -> str:
    """A parquet batch of (vec_id long, embedding array<float>[, extra])."""
    os.makedirs(path)
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        **extra,
    }
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
    return path


def test_equidistant_vector_takes_the_lower_list(spark, monkeypatch, tmp_path):
    """A vector at the same distance from two centroids goes to the lower
    id on both paths, the first minimum ``array_position(array_min)``
    finds."""
    cents = [[5.0, 5.0], [1.0, 0.0], [-1.0, 0.0]]
    src = _batch(str(tmp_path / "batch"), [1, 2], [[0.0, 0.0], [-0.5, 0.0]])
    got = {}
    for name, bound in (("driver", knn.ARROW_DRIVER_MAX_BYTES), ("spark", 0)):
        path = str(tmp_path / name)
        with monkeypatch.context() as m:
            m.setattr(knn, "ARROW_DRIVER_MAX_BYTES", bound)
            ann.append_to_ivf_index(spark.read.parquet(src), path, cents)
        got[name] = _rows(spark.read.parquet(path).select("vec_id", "centroid"))
    assert got["driver"] == got["spark"] == [(1, 1), (2, 2)]


_OK = [[0.0, 1.0], [1.0, 0.0]]
# case -> (ids, vectors, extra columns) of a batch only Spark's writer may take
_PLANTED = {
    "null vector": ([1, 2], [_OK[0], None], {}),
    "null element": ([1, 2], [_OK[0], [1.0, None]], {}),
    "null id": ([1, None], _OK, {}),
    "short vector": ([1, 2], [_OK[0], [1.0]], {}),
    "nan distance": ([1, 2], [_OK[0], [float("nan"), 0.0]], {}),
    "timestamp column": (
        [1, 2], _OK, {"ts": pa.array([0, 1], pa.timestamp("us", tz="UTC"))}
    ),
}


@pytest.mark.parametrize(
    "case",
    sorted(_PLANTED) + ["non-file path", "past the byte bound", "past the pair bound"],
)
def test_unwritable_batches_take_spark_writer(spark, monkeypatch, tmp_path, case):
    ids, vecs, extra = _PLANTED.get(case, ([1, 2], _OK, {}))
    src = _batch(str(tmp_path / "batch"), ids, vecs, **extra)
    local = str(tmp_path / "layout")
    target = "nosuchfs://host/layout" if case == "non-file path" else local
    calls = []
    monkeypatch.setattr(ann, "write_lists", lambda df, path, mode: calls.append((path, mode)))
    if case == "past the byte bound":
        monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
    if case == "past the pair bound":
        monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_PAIRS", 0)
    ann.append_to_ivf_index(spark.read.parquet(src), target, [[0.0, 0.0], [1.0, 1.0]])
    assert calls == [(target, "append")]
    assert not os.path.exists(local)


def test_local_dir_resolves_only_the_local_file_system(spark, tmp_path):
    path = str(tmp_path / "layout")
    assert ann._local_dir(spark, path) == path
    assert ann._local_dir(spark, "file://" + path) == path
    with pytest.raises(Exception, match="nosuchfs"):
        ann._local_dir(spark, "nosuchfs://host/layout")


def test_driver_append_leaves_existing_files_untouched(spark, tmp_path, emb):
    """Appending twice adds one file per touched list each time and keeps
    every earlier file byte for byte."""
    cents = ann.kmeans_train_exact(emb.filter(F.col("vec_id") < 400), k=4, max_iter=20)[0]
    path = str(tmp_path / "layout")
    ann.write_ivf_index(emb.filter(F.col("vec_id") < 300), path, cents)
    snap = str(tmp_path / "snap")
    shutil.copytree(path, snap)
    ann.append_to_ivf_index(emb.filter(F.col("vec_id").between(300, 399)), path, cents)
    ann.append_to_ivf_index(emb.filter(F.col("vec_id") >= 400), path, cents)
    for d, files in _files(snap).items():
        for f in files:
            with open(os.path.join(snap, d, f), "rb") as a, open(os.path.join(path, d, f), "rb") as b:
                assert a.read() == b.read()
    assert sorted(r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()) == sorted(
        r.vec_id for r in emb.select("vec_id").collect()
    )
