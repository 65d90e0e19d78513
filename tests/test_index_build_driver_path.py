"""Driver paths of the IVF build and the IVF layout write.

``build_index(ivf_k > 0, out_path=...)`` and ``write_ivf_index`` run in
the driver when the input is within the kNN driver-path bounds, the
path's Hadoop file system is ``file``, every column is driver-writable
and no vector holds a null or NaN or has another length: the input
collected (the build's sample by one ``toArrow()`` job; a layout write's
bare local parquet input by pyarrow, with no job), then numpy (row ids,
k-means, assignment) and one pyarrow file per list. Setting ``ARROW_DRIVER_MAX_BYTES`` to 0 forces
the Spark path (``kmeans_train_exact`` + ``assign_centroids`` +
``write_lists``), so each parity case writes the same input both ways
and requires the same schema and the same rows, bit for bit.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from the_build_project_image_retrieval_with_vector_databases_spark import (
    queries_ann,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
    ann,
    knn,
)
from the_build_project_image_retrieval_with_vector_databases_spark.plans.index_build import (
    build_index,
    write_metadata_json,
    write_vector_map,
)

from .conftest import SF_SMOKE


def _jobs(spark, action) -> int:
    """Spark jobs ``action`` runs, from the status store."""
    sc = spark.sparkContext
    group = f"index-build-driver-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[tuple]:
    """Every row, columns in name order, each array element as its
    float32 bytes (None for a null), so equal rows are equal bit for
    bit."""
    def cell(v):
        if not isinstance(v, list):
            return v
        return tuple(None if x is None else np.float32(x).tobytes() for x in v)

    rows = (tuple(cell(v) for v in r) for r in df.select(*sorted(df.columns)).collect())
    return sorted(rows, key=repr)  # repr orders rows holding nulls too


def _layout_files(path: str) -> dict[str, list[str]]:
    """Every file under ``path``, by directory relative to it."""
    return {
        os.path.relpath(d, path): sorted(files)
        for d, _, files in os.walk(path)
        if files
    }


def _one_pyarrow_file_per_list(path: str) -> None:
    """One parquet file in each ``centroid=<id>`` list, ``_SUCCESS`` at
    the root and no Hadoop ``.crc`` file anywhere: pyarrow wrote the
    layout, not Spark's writer, which leaves a checksum per file. Each
    footer carries Spark's row schema."""
    files = _layout_files(path)
    assert files.pop(".") == ["_SUCCESS"], files
    assert files and all(d.startswith("centroid=") for d in files), files
    for d, names in files.items():
        assert len(names) == 1 and names[0].endswith(".c000.snappy.parquet"), (d, names)
        footer = pq.ParquetFile(os.path.join(path, d, names[0])).metadata.metadata
        assert b"org.apache.spark.sql.parquet.row.metadata" in footer, (d, footer)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def _both_ways(monkeypatch, write):
    """``write(name)`` on the driver path, then with the driver-path
    byte bound at 0 (Spark's path)."""
    write("driver")
    with monkeypatch.context() as m:
        m.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
        write("spark")


def test_build_index_driver_path_matches_spark_path(spark, monkeypatch, tmp_path, emb):
    """Same schema, rows, row ids, lists and float32 bits as the Spark
    path, one pyarrow file per list, and the returned frame is the
    written layout on both paths."""
    built = {}

    def write(name):
        built[name] = build_index(
            emb, out_path=str(tmp_path / name), per_class=20, ivf_k=4
        )

    _both_ways(monkeypatch, write)
    _one_pyarrow_file_per_list(str(tmp_path / "driver"))
    assert any(f.endswith(".crc") for fs in _layout_files(str(tmp_path / "spark")).values() for f in fs)
    got, want = built["driver"], built["spark"]
    assert got.schema == want.schema
    assert got.columns == ["label", "vec_id", "embedding", "row_id", "centroid"]
    assert _rows(got) == _rows(want)
    assert sorted(r.row_id for r in got.collect()) == list(range(200))
    assert {r.centroid for r in got.select("centroid").distinct().collect()} == {0, 1, 2, 3}


def test_build_index_driver_path_uses_the_exact_trainer(spark, tmp_path, emb):
    """The layout's lists are the nearest of ``kmeans_train_exact``'s
    centroids on the sampled rows, seeded from their lowest ``vec_id``s."""
    path = str(tmp_path / "layout")
    got = build_index(emb, out_path=path, per_class=20, ivf_k=4)
    sample = build_index(emb, per_class=20)
    cents, _ = ann.kmeans_train_exact(sample, k=4, max_iter=20)
    want = ann.assign_centroids(sample, cents)
    assert {(r.vec_id, r.centroid) for r in got.collect()} == {
        (r.vec_id, r.centroid) for r in want.collect()
    }


def test_write_ivf_index_driver_path_matches_spark_writer(spark, monkeypatch, tmp_path, emb):
    cents, _ = ann.kmeans_train_exact(emb, k=4, max_iter=20)

    def write(name):
        ann.write_ivf_index(emb, str(tmp_path / name), cents)

    _both_ways(monkeypatch, write)
    _one_pyarrow_file_per_list(str(tmp_path / "driver"))
    got, want = (spark.read.parquet(str(tmp_path / n)) for n in ("driver", "spark"))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want) == _rows(ann.assign_centroids(emb, cents))


def _manifest(path: str, labels, vecs) -> str:
    """A parquet manifest of (vec_id long, label int, embedding
    array<float>), vec_id 0..n-1."""
    os.makedirs(path)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "label": pa.array(labels, pa.int32()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )
    return path


_RNG = np.random.default_rng(7)
_VECS = _RNG.standard_normal((24, 3)).astype(np.float32).tolist()
_LABELS = [i % 3 for i in range(24)]
# case -> (labels, vectors) of an input only the Spark path may take
_PLANTED = {
    "null stratum": ([None] + _LABELS[1:], _VECS),
    "null element": (_LABELS, [[1.0, None, 0.5]] + _VECS[1:]),
    "nan element": (_LABELS, [[float("nan"), 0.0, 0.5]] + _VECS[1:]),
    "ragged vector": (_LABELS, [[1.0, 0.5]] + _VECS[1:]),
}


def _outcome(action):
    """The rows ``action`` gives, or the class of what it raises (with
    the message of a ``ValueError``, which names no path)."""
    try:
        return _rows(action())
    except ValueError as e:  # the Spark path's own failure, on both sides
        return ValueError, str(e)
    except Exception as e:
        return type(e)


# case -> what the Spark build raises on it: the column and the fault
_BUILD_ERRORS = {
    "null stratum": "stratum column 'label' holds a null",
    "null element": "column 'embedding' holds a null vector or element",
    "ragged vector": "column 'embedding' holds vectors of different lengths",
}


@pytest.mark.parametrize(
    "kind,case",
    [("build", c) for c in sorted(_PLANTED) + ["non-file path"]]
    # a layout write has no stratum
    + [("write", c) for c in sorted(_PLANTED) + ["non-file path"] if c != "null stratum"],
)
def test_unwritable_inputs_take_the_spark_path(spark, monkeypatch, tmp_path, kind, case):
    """A null stratum, a null or NaN element, a ragged vector and a path
    off the ``file`` file system each go to the Spark path, which gives
    what it gives when forced: rows, or the same error (the Spark build
    raises a ``ValueError`` naming the column and the fault on a null
    stratum, a null element and a ragged vector)."""
    labels, vecs = _PLANTED.get(case, (_LABELS, _VECS))
    src = _manifest(str(tmp_path / "src"), labels, vecs)
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]

    def run(name):
        path = str(tmp_path / name)
        df = spark.read.parquet(src)
        if kind == "build":
            return lambda: build_index(df, out_path=path, per_class=10, ivf_k=2)
        return lambda: (ann.write_ivf_index(df, path, cents), spark.read.parquet(path))[1]

    def no_driver_write(*args, **kwargs):
        raise AssertionError("the driver writer ran")

    with monkeypatch.context() as m:
        m.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
        forced = _outcome(run("spark"))
    with monkeypatch.context() as m:
        m.setattr(ann, "_write_list_files", no_driver_write)
        if case == "non-file path":
            m.setattr(ann, "_local_dir", lambda spark, path: None)
        got = _outcome(run("driver"))
    assert got == forced
    if kind == "build" and case in _BUILD_ERRORS:
        assert forced[0] is ValueError and _BUILD_ERRORS[case] in forced[1], forced
    if case == "non-file path":
        assert isinstance(forced, list) and forced
        assert ann._driver_dir(spark.read.parquet(src), "nosuchfs://host/layout", "embedding") is None


def test_driver_write_marks_success_after_every_list(spark, monkeypatch, tmp_path, emb):
    """``queries_ann._layout_complete`` takes ``_SUCCESS`` as "this
    layout is complete": no list file is written after it, an overwrite
    leaves no stale list or marker behind, and a write that fails part
    way leaves no marker."""
    cents, _ = ann.kmeans_train_exact(emb, k=4, max_iter=20)
    path = str(tmp_path / "layout")
    # a stale layout: a list the new one lacks, an old file in a list it
    # has, and the old marker
    for stale in ("centroid=9", "centroid=0"):
        os.makedirs(os.path.join(path, stale))
        open(os.path.join(path, stale, "part-old.c000.snappy.parquet"), "wb").close()
    open(os.path.join(path, "_SUCCESS"), "wb").close()

    write_table = pq.write_table
    marked = []

    def spy(table, where, **kwargs):
        marked.append(queries_ann._layout_complete(path))
        write_table(table, where, **kwargs)

    monkeypatch.setattr(pq, "write_table", spy)
    ann.write_ivf_index(emb, path, cents)
    assert marked == [False] * 4
    assert queries_ann._layout_complete(path)
    _one_pyarrow_file_per_list(path)
    assert sorted(_layout_files(path)) == [".", "centroid=0", "centroid=1", "centroid=2", "centroid=3"]
    assert not [f for fs in _layout_files(path).values() for f in fs if "old" in f]
    assert _rows(spark.read.parquet(path)) == _rows(ann.assign_centroids(emb, cents))

    calls = []

    def fail_second(table, where, **kwargs):
        calls.append(where)
        if len(calls) == 2:
            raise OSError("disk full")
        write_table(table, where, **kwargs)

    monkeypatch.setattr(pq, "write_table", fail_second)
    with pytest.raises(OSError, match="disk full"):
        ann.write_ivf_index(emb, path, cents)
    assert not queries_ann._layout_complete(path)
    assert not [f for fs in _layout_files(path).values() for f in fs if f.endswith(".tmp")]


def test_registry_ivf_rows_unchanged_by_the_driver_writer(spark, monkeypatch, tmp_path, sf_dir):
    """``ivf_topk`` and ``ann_search`` over a layout the driver wrote
    give the rows they give over one Spark's writer wrote."""
    got = {}
    for name, bound in (("driver", knn.ARROW_DRIVER_MAX_BYTES), ("spark", 0)):
        with monkeypatch.context() as m:
            m.setattr(knn, "ARROW_DRIVER_MAX_BYTES", bound)
            m.setattr(queries_ann, "_LAYOUT_ROOT", str(tmp_path / name))
            m.setattr(queries_ann, "_LAYOUTS", {})
            got[name] = [
                sorted(tuple(r) for r in queries_ann.ANN_QUERIES[q](spark, sf_dir).collect())
                for q in ("ivf_topk", "ann_search")
            ]
            (layout,) = os.listdir(tmp_path / name)
            crc = [
                f for fs in _layout_files(str(tmp_path / name / layout)).values()
                for f in fs if f.endswith(".crc")
            ]
            assert bool(crc) == (name == "spark"), crc
    assert got["driver"] == got["spark"]
    assert all(got["driver"])


def test_small_build_and_write_job_budget(spark, tmp_path, emb):
    """Within the bounds, the IVF build and both sidecars run 5 Spark
    jobs: the sample's shuffle and the collect, the read-back's schema
    job, and one write job per sidecar (the Spark path runs 16 here).
    A layout write of a bare local parquet scan runs none: pyarrow reads
    it."""
    out = tmp_path / "build"

    def build():
        idx = build_index(emb, out_path=str(out / "layout"), per_class=20, ivf_k=4)
        write_metadata_json(idx, str(out / "metadata"))
        write_vector_map(idx, str(out / "vector_map"))

    assert _jobs(spark, build) == 5
    cents, _ = ann.kmeans_train_exact(emb, k=4, max_iter=20)
    # a copy no cached frame matches, so the write reads the bare scan
    emb.write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    assert _jobs(spark, lambda: ann.write_ivf_index(src, str(tmp_path / "w"), cents)) == 0
