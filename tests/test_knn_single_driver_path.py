"""Driver path of the single-query top-k (``knn_single``, and through it
``search(index="flat"|"ivf")`` and ``ivf_search``).

A driver-held query over a relation within the kNN driver-path bounds is
collected by ``sources.tables.collect_arrow`` (no job for a bare local
parquet scan, one ``toArrow()`` job otherwise) and ranked in the driver
with the left fold. Setting ``ARROW_DRIVER_MAX_BYTES`` to 0 forces the expression
plan, so every parity case runs both paths on the same input and
requires the same rows in the same order, ``dist`` bit for bit: the
left fold replays the expression's IEEE operations in their order.
"""

from __future__ import annotations

import gc
import uuid

import numpy as np
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from the_build_project_image_retrieval_with_vector_databases_spark.functions.vector import (
    array_lit,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
    knn,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
    ivf_search,
)
from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
    _ivf_layout,
)
from the_build_project_image_retrieval_with_vector_databases_spark.search import (
    search,
)
from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
    local_frame,
)

from .conftest import SF_SMOKE


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df: DataFrame) -> list[tuple]:
    """Collected rows in order, every double as its hex form (bits)."""
    def bits(v):
        if isinstance(v, float):
            return v.hex()
        if isinstance(v, list):
            return [bits(x) for x in v]
        return v

    return [tuple(bits(v) for v in r) for r in df.collect()]


def _both_paths(monkeypatch, make, driver: bool = True):
    """(default-bound frame, expression-plan frame) of ``make()``; the
    first must be the driver path when ``driver``, else the fallback."""
    got = make()
    assert ("LocalTableScan" in _plan(got)) == driver, _plan(got)
    with monkeypatch.context() as m:
        m.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
        want = make()
    assert "TakeOrderedAndProject" in _plan(want)
    return got, want


def _assert_parity(monkeypatch, make, driver: bool = True) -> list:
    got, want = _both_paths(monkeypatch, make, driver)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    return got.collect()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def ivf(spark):
    path, centroids = _ivf_layout(spark, SF_SMOKE)
    return spark.read.parquet(path), centroids


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_flat_single_search_matches_expression_bits(spark, monkeypatch, emb, metric):
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    rng = np.random.default_rng(3)
    for query in (q, rng.normal(size=len(q))):
        rows = _assert_parity(
            monkeypatch,
            lambda: search(emb, query, k=10, index="flat", metric=metric),
        )
        assert len(rows) == 10
    # the ndarray query took the same path as the list
    assert _rows(search(emb, np.asarray(q), k=4, metric=metric)) == _rows(
        search(emb, q, k=4, metric=metric)
    )


@pytest.mark.parametrize("exclude_id", [None, 3])
def test_ivf_single_search_matches_expression_bits(spark, monkeypatch, ivf, exclude_id):
    layout, centroids = ivf
    for qi in (3, 9):
        rows = _assert_parity(
            monkeypatch,
            lambda: search(
                layout, centroids[qi], k=7, index="ivf",
                train_vectors=centroids, nprobe=4, exclude_id=exclude_id,
            ),
        )
        assert len(rows) == 7
        ids = [r.vec_id for r in rows]
        if exclude_id is not None:
            assert exclude_id not in ids
        elif qi == 3:
            assert ids[0] == 3 and rows[0].dist == 0.0


def test_flat_exclude_id_matches_expression_bits(spark, monkeypatch, emb):
    q = [float(x) for x in emb.filter(F.col("vec_id") == 5).first().embedding]
    rows = _assert_parity(
        monkeypatch,
        lambda: knn.knn_single(emb, q, k=6, metric="cosine", exclude_id=5),
    )
    assert 5 not in {r.vec_id for r in rows}


@pytest.mark.parametrize("name", ["ivf_topk", "ann_search"])
def test_registry_rows_match_expression_bits(spark, monkeypatch, name):
    rows = _assert_parity(
        monkeypatch, lambda: entrymod.queries()[name](spark, SF_SMOKE)
    )
    assert len(rows) == {"ivf_topk": 5, "ann_search": 7}[name]


def _planted_corpus(spark, tmp_path, plant):
    """A 40-row 8-D corpus in 3 files with one row changed by ``plant``."""
    rng = np.random.default_rng(9)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(40, 8)))]
    rows[17] = plant(rows[17])
    path = str(tmp_path / f"planted-{uuid.uuid4().hex}.parquet")
    local_frame(spark, rows, "vec_id long, embedding array<double>").repartition(
        3
    ).write.parquet(path)
    return spark.read.parquet(path), rows[0][1]


@pytest.mark.parametrize(
    "plant",
    [
        pytest.param(lambda r: (r[0], None), id="null_vector"),
        pytest.param(lambda r: (r[0], r[1][:5]), id="short_vector"),
        pytest.param(lambda r: (r[0], [float("nan")] + r[1][1:]), id="nan_component"),
        pytest.param(lambda r: (None, r[1]), id="null_id"),
    ],
)
@pytest.mark.parametrize("metric", ["l2", "dot"])
def test_unrankable_rows_take_expression_path(spark, monkeypatch, tmp_path, plant, metric):
    """A row whose expression ``dist`` is null or NaN, or whose id is
    null, sorts where only Spark's ordering puts it: the call falls back
    to the expression plan and returns its answer."""
    corpus, q = _planted_corpus(spark, tmp_path, plant)
    _assert_parity(
        monkeypatch,
        lambda: knn.knn_single(corpus, q, k=40, metric=metric),
        driver=False,
    )


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_exact_ties_rank_by_ascending_id(spark, monkeypatch, tmp_path, metric):
    """Six exact copies of the query vector, stored in descending id
    order, tie on bit-identical distances: both paths rank them by
    ascending id, for the ascending l2 key and the descending ones."""
    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(40, 8))
    dups = [3, 9, 14, 22, 30, 37]
    vecs[dups] = vecs[3]
    rows = [(i, [float(x) for x in vecs[i]]) for i in reversed(range(40))]
    path = str(tmp_path / f"ties-{metric}.parquet")
    local_frame(spark, rows, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.parquet(path)
    corpus = spark.read.parquet(path)
    got = _assert_parity(
        monkeypatch,
        lambda: knn.knn_single(corpus, list(vecs[3]), k=6, metric=metric),
    )
    assert [r.vec_id for r in got] == dups
    assert len({r.dist for r in got}) == 1


def test_empty_ivf_probe_returns_empty_frame(spark, monkeypatch, ivf):
    """A probe whose lists hold no rows (a centroid no row was assigned
    to) answers with no rows and the expression plan's schema."""
    layout, centroids = ivf
    far = [100.0] * len(centroids[0])
    got, want = _both_paths(
        monkeypatch,
        lambda: ivf_search(layout, centroids + [far], far, k=5, nprobe=1),
    )
    assert got.collect() == [] == want.collect()
    assert got.schema == want.schema


def test_column_query_keeps_take_ordered_plan(spark, emb):
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    df = knn.knn_single(emb, array_lit(q), k=5)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan and "LocalTableScan" not in plan, plan
    assert _rows(df) == _rows(knn.knn_single(emb, q, k=5))


def _jobs(spark, action) -> int:
    sc = spark.sparkContext
    group = f"knn-single-driver-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_single_search_job_budget(spark, emb, ivf):
    """An IVF search reads its probed lists with pyarrow and runs no job
    (the probe is a partition filter); ``exclude_id`` is a filter on a
    data column, so that search is one ``toArrow()`` job."""
    layout, centroids = ivf
    q = centroids[2]
    assert _jobs(
        spark, lambda: search(layout, q, 10, index="ivf", train_vectors=centroids).collect()
    ) == 0
    assert _jobs(
        spark, lambda: search(emb, q, 10, index="flat", exclude_id=2).collect()
    ) == 1


# py4j round trips of one search(index="ivf") with exclude_id, from the
# call through .collect(): 322 at the expression plan (most of them
# building the distance's higher-order-function lambdas), 66 on the
# driver path, whose probe and exclusion filters are one SQL condition
# each (with one F.lit per probed id and an F.lit comparison they took
# 131). The exclusion is a filter on a data column, so the collect is a
# toArrow() job. Releases of garbage-collected JVM handles ("m"
# commands) are not the call's own and are not counted.
SEARCH_IVF_PY4J_CALLS = 66
# the same search without exclude_id, whose 4 probed lists pyarrow reads
# with no job: 28 calls walk and check the plan, then 8 go to each list
# file (it took 60 when a toArrow() job collected the lists)
SEARCH_IVF_FAST_PY4J_CALLS = 91


def _py4j_calls(monkeypatch, run) -> int:
    run()  # first use of each JVM class goes through reflection once
    gc.collect()
    calls = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += not command.startswith("m\n")
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        assert len(run()) == 10
    return calls[0]


def test_ivf_search_py4j_call_budget(spark, monkeypatch, ivf):
    layout, centroids = ivf
    calls = _py4j_calls(
        monkeypatch,
        lambda: search(
            layout, centroids[5], 10, index="ivf", train_vectors=centroids,
            exclude_id=5,
        ).collect(),
    )
    assert calls <= SEARCH_IVF_PY4J_CALLS, calls


def test_fast_path_ivf_search_py4j_call_budget(spark, monkeypatch, ivf):
    layout, centroids = ivf
    calls = _py4j_calls(
        monkeypatch,
        lambda: search(
            layout, centroids[5], 10, index="ivf", train_vectors=centroids
        ).collect(),
    )
    assert calls <= SEARCH_IVF_FAST_PY4J_CALLS, calls


def _optimized(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "values", [[3], [5, 1, 7, 2], list(range(0, 24, 2)), [2**40, -(2**40)]]
)
def test_isin_filter_plans_as_per_value_literals(spark, ivf, values):
    """``knn._isin`` (one SQL condition string) analyzes to the ``In`` / ``InSet``
    of ``isin`` with one ``F.lit`` per value."""
    layout, _ = ivf
    assert _optimized(layout.filter(knn._isin("centroid", values))) == _optimized(
        layout.filter(F.col("centroid").isin(values))
    )


@pytest.mark.parametrize("value", [5, np.int64(5), -3, 2**40, "5", 5.0])
def test_not_equal_filter_plans_as_lit_comparison(spark, emb, value):
    assert _optimized(emb.filter(knn._not_equal("vec_id", value))) == _optimized(
        emb.filter(F.col("vec_id") != F.lit(value))
    )
