"""``sources.tables.collect_arrow``: ``df.toArrow()`` without a Spark job
for a bare local parquet scan.

Every case requires ``collect_arrow(df).equals(df.toArrow())``: the same
Arrow schema and the same rows in the same order. The fast-path cases
also require that the status store saw no job and that pyarrow opened
exactly the files the scan lists; the fallback cases, that the frame's
own ``toArrow()`` job ran, and, where the plan alone refuses the frame,
that pyarrow opened no file.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
    ann,
)
from the_build_project_image_retrieval_with_vector_databases_spark.sources import (
    tables,
)
from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
    collect_arrow,
    local_frame,
    scan_plan,
)

from .conftest import SF_SMOKE
from .test_index_build import _session_conf


@pytest.fixture(scope="module")
def layout(spark, tmp_path_factory):
    """A 4-list IVF layout of the smoke embeddings, one file per list."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents, _ = ann.kmeans_train_exact(emb, k=4, max_iter=5)
    path = str(tmp_path_factory.mktemp("collect_arrow") / "layout")
    ann.write_ivf_index(emb, path, cents)
    return path


def _collect(spark, monkeypatch, df):
    """(collect_arrow(df), Spark jobs it ran, files pyarrow opened)."""
    opened = []
    parquet_file = pq.ParquetFile

    def spy(path, *args, **kwargs):
        opened.append(path)
        return parquet_file(path, *args, **kwargs)

    sc = spark.sparkContext
    group = f"collect-arrow-{uuid.uuid4().hex}"
    with monkeypatch.context() as m:
        m.setattr(pq, "ParquetFile", spy)
        sc.setJobGroup(group, "job count")
        try:
            table = collect_arrow(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return table, len(sc.statusTracker().getJobIdsForGroup(group)), opened


def _fast(spark, monkeypatch, df) -> list[str]:
    """``df`` is read by pyarrow with no job; the files it opened."""
    got, jobs, opened = _collect(spark, monkeypatch, df)
    want = df.toArrow()
    assert got.equals(want) and got.schema == want.schema
    assert jobs == 0
    return opened


def _fallback(spark, monkeypatch, df, by_plan: bool = True) -> None:
    """``df`` goes to ``toArrow()``: one job or more. ``by_plan``: the
    plan refuses it before pyarrow opens any file (otherwise a file's
    footer does)."""
    got, jobs, opened = _collect(spark, monkeypatch, df)
    want = df.toArrow()
    assert got.equals(want) and got.schema == want.schema
    assert jobs >= 1
    assert (opened == []) == by_plan, opened


def _lists(paths) -> set[str]:
    return {os.path.basename(os.path.dirname(p)) for p in paths}


def test_bare_layout(spark, monkeypatch, layout):
    opened = _fast(spark, monkeypatch, spark.read.parquet(layout))
    assert _lists(opened) == {f"centroid={c}" for c in range(4)}
    assert len(opened) == 4


def test_partition_filter_opens_only_the_probed_lists(spark, monkeypatch, layout):
    df = spark.read.parquet(layout).filter(F.col("centroid").isin([1, 3]))
    assert _lists(_fast(spark, monkeypatch, df)) == {"centroid=1", "centroid=3"}


@pytest.mark.parametrize(
    "cols", [["embedding"], ["centroid", "vec_id"], ["centroid", "embedding", "label", "vec_id"]]
)
def test_pruned_and_reordered_projections(spark, monkeypatch, layout, cols):
    _fast(spark, monkeypatch, spark.read.parquet(layout).select(*cols))


def test_filter_that_prunes_every_file(spark, monkeypatch, layout):
    df = spark.read.parquet(layout).filter(F.col("centroid") == 99)
    assert _fast(spark, monkeypatch, df) == []
    assert collect_arrow(df).num_rows == 0


def test_string_and_binary_columns(spark, monkeypatch, tmp_path):
    """String and binary columns, arrays of them, nulls, and a string
    partition column (one list holds a null partition value)."""
    rows = [
        (i, f"name {i}", bytes([i, 255 - i]), [f"t{i}", None], [bytes([i])],
         None if i % 5 == 0 else ("a", "b/c", "d e")[i % 3])
        for i in range(30)
    ]
    schema = (
        "id long, name string, blob binary, tags array<string>, "
        "blobs array<binary>, part string"
    )
    path = str(tmp_path / "strings")
    local_frame(spark, rows, schema).write.partitionBy("part").parquet(path)
    df = spark.read.parquet(path)
    assert len(_fast(spark, monkeypatch, df)) >= 4
    _fast(spark, monkeypatch, df.filter(F.col("part") == "b/c"))


def test_data_filter_falls_back(spark, monkeypatch, layout):
    """A filter on a data column leaves a Filter node, so the plan walk
    a driver path already made refuses the frame: given that walk, the
    reader makes no py4j call before ``toArrow()``."""
    df = spark.read.parquet(layout).filter(F.col("vec_id") != 3)
    plan = scan_plan(df)
    assert plan.scan is None and plan.size > 0
    calls = []
    send = ClientServerConnection.send_command
    with monkeypatch.context() as m:
        m.setattr(
            ClientServerConnection, "send_command",
            lambda self, command: calls.append(command) or send(self, command),
        )
        assert tables._bare_parquet_files(df, plan) is None
    assert calls == []
    _fallback(spark, monkeypatch, df)


def test_computed_projection_falls_back(spark, monkeypatch, layout):
    df = spark.read.parquet(layout).select((F.col("vec_id") + 1).alias("vec_id"))
    _fallback(spark, monkeypatch, df)


def test_cached_frame_falls_back(spark, monkeypatch, layout):
    cached = spark.read.parquet(layout).cache()
    try:
        cached.count()
        _fallback(spark, monkeypatch, cached)
    finally:
        cached.unpersist()


def test_json_source_falls_back(spark, monkeypatch, tmp_path):
    path = str(tmp_path / "json")
    local_frame(spark, [(1, "a"), (2, "b")], "id long, name string").write.json(path)
    _fallback(spark, monkeypatch, spark.read.json(path))


def test_file_type_unlike_the_relation_falls_back(spark, monkeypatch, tmp_path):
    """One file stores ``id`` as int32 where the relation reads a long:
    Spark widens it, pyarrow would not."""
    path = tmp_path / "mixed"
    path.mkdir()
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), path / "a.parquet")
    pq.write_table(pa.table({"id": pa.array([3], pa.int32())}), path / "b.parquet")
    _fallback(
        spark, monkeypatch, spark.read.schema("id long").parquet(str(path)), by_plan=False
    )


def test_file_missing_a_column_falls_back(spark, monkeypatch, tmp_path):
    """A file without ``extra``: Spark reads it as nulls."""
    path = tmp_path / "missing"
    path.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "extra": pa.array([7], pa.int32())}),
        path / "a.parquet",
    )
    pq.write_table(pa.table({"id": pa.array([2], pa.int64())}), path / "b.parquet")
    _fallback(
        spark, monkeypatch, spark.read.schema("id long, extra int").parquet(str(path)),
        by_plan=False,
    )


def test_case_only_name_difference_falls_back(spark, monkeypatch, tmp_path):
    path = tmp_path / "case"
    path.mkdir()
    pq.write_table(pa.table({"ID": pa.array([1, 2], pa.int64())}), path / "a.parquet")
    _fallback(
        spark, monkeypatch, spark.read.schema("id long").parquet(str(path)), by_plan=False
    )


def test_file_split_into_ranges_falls_back(spark, monkeypatch, layout):
    """Past ``maxPartitionBytes`` Spark reads a file as several ranges."""
    with _session_conf(
        spark,
        {
            "spark.sql.files.maxPartitionBytes": "4096",
            "spark.sql.files.openCostInBytes": "0",
        },
    ):
        df = spark.read.parquet(layout)
        assert df.rdd.getNumPartitions() > 4
        _fallback(spark, monkeypatch, df)


def test_non_file_path_falls_back(spark, monkeypatch, layout):
    """The same files through Hadoop's ``viewfs`` mount table."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "fs.viewfs.mounttable.collectarrow.link./layout"
    conf.set(key, "file://" + layout)
    try:
        df = spark.read.parquet("viewfs://collectarrow/layout")
        assert df.count() == spark.read.parquet(layout).count()
        _fallback(spark, monkeypatch, df)
    finally:
        conf.unset(key)
