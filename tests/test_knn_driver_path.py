"""Driver path of the Arrow/BLAS kNN kernels (``knn_join_arrow``,
``knn_join_arrow_ivf``).

An input estimated at or below ``ARROW_DRIVER_MAX_BYTES`` is collected
by ``sources.tables.collect_arrow`` (no job for a bare local parquet
scan, else one ``toArrow()`` job), scored by the kernel's own generator in the
driver and ranked there; a larger one runs the mapInPandas + rank-window
plan. Setting the constant to 0 forces the distributed plan, so every
parity case below runs both paths on the same input and requires the
same (query_id, id, rank), with ``dist`` within the 1e-6 rounding
quantum of the rank key: BLAS accumulation order varies with a block's
shape and its rows' positions, which differ between the two paths'
batches; that moves the low bits (up to ~1e-8 on a self or duplicate
row, where sqrt amplifies the cancellation), and the rank key absorbs
that.
"""

from __future__ import annotations

import threading
import uuid

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
    knn,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
    nearest_centroids,
)
from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
    _ivf_layout,
)
from the_build_project_image_retrieval_with_vector_databases_spark.search import (
    search_batch,
)
from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
    local_frame,
)

from .conftest import SF_SMOKE


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_driver_plan(df: DataFrame) -> None:
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "MapInPandas" not in plan, plan
    assert "Exchange" not in plan, plan


def _both_paths(monkeypatch, make):
    """(driver rows, distributed rows, driver schema, distributed schema)
    of the frame ``make()`` builds."""
    driver = make()
    _assert_driver_plan(driver)
    with monkeypatch.context() as m:
        m.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
        dist = make()
    assert "MapInPandas" in _plan(dist)
    return driver.collect(), dist.collect(), driver.schema, dist.schema


def _assert_parity(monkeypatch, make) -> list:
    got, want, got_schema, want_schema = _both_paths(monkeypatch, make)
    assert got_schema == want_schema
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted((r.query_id, r[1], r.rank) for r in got) == sorted(
        (r.query_id, r[1], r.rank) for r in want
    )
    want_dist = {key(r): r.dist for r in want}
    for r in got:
        assert abs(r.dist - want_dist[key(r)]) <= 1e-6, r
    return got


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def fixture_queries(emb):
    rows = (
        emb.filter((F.col("vec_id") >= 48) & (F.col("vec_id") < 64))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return [int(r.vec_id) for r in rows], [list(r.embedding) for r in rows]


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
@pytest.mark.parametrize("exclude_self", [False, True])
def test_flat_driver_path_matches_distributed(
    spark, monkeypatch, emb, fixture_queries, metric, exclude_self
):
    qids, qvecs = fixture_queries
    got = _assert_parity(
        monkeypatch,
        lambda: knn.knn_join_arrow(
            emb, qids, qvecs, k=10, metric=metric, exclude_self=exclude_self
        ),
    )
    assert len(got) == len(qids) * 10
    top = {r.query_id: r[1] for r in got if r.rank == 1}
    if metric == "l2":
        assert all((top[q] == q) != exclude_self for q in qids)


def test_search_batch_registry_row_matches_distributed(spark, monkeypatch):
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_search_batch,
    )

    got = _assert_parity(monkeypatch, lambda: q_search_batch(spark, SF_SMOKE))
    assert len(got) == 16 * 10


def test_flat_driver_path_breaks_duplicate_vector_ties_by_id(
    spark, monkeypatch, tmp_path
):
    """Planted exact duplicates: BLAS gives them distances a few ulps
    apart, so both paths must rank on the rounded key and then id."""
    rng = np.random.default_rng(5)
    base = rng.normal(size=(60, 8))
    vecs = np.vstack([base, base[:10], base[:10], base[3:4].repeat(6, axis=0)])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    path = str(tmp_path / "dups.parquet")
    local_frame(spark, rows, "vec_id long, embedding array<float>").repartition(
        3
    ).write.parquet(path)
    corpus = spark.read.parquet(path)
    qvecs = [list(vecs[i]) for i in (0, 3, 7, 20)]
    got = _assert_parity(
        monkeypatch,
        lambda: knn.knn_join_arrow(corpus, [0, 3, 7, 20], qvecs, k=5),
    )
    # vector 3 has eight exact copies: ranks 1-5 are the five lowest ids
    ranked = sorted((r.rank, r.vec_id) for r in got if r.query_id == 3)
    assert [v for _, v in ranked] == [3, 63, 73, 80, 81]


@pytest.fixture(scope="module")
def ivf(spark, emb):
    path, centroids = _ivf_layout(spark, SF_SMOKE)
    layout = spark.read.parquet(path)
    rows = layout.select("vec_id", "embedding").orderBy("vec_id").limit(8).collect()
    qids = [int(r.vec_id) for r in rows]
    qvecs = [list(r.embedding) for r in rows]
    probes = [nearest_centroids(centroids, v, 4) for v in qvecs]
    return layout, centroids, qids, qvecs, probes


@pytest.mark.parametrize("exclude_self", [False, True])
def test_ivf_driver_path_matches_distributed(spark, monkeypatch, ivf, exclude_self):
    layout, _, qids, qvecs, probes = ivf
    got = _assert_parity(
        monkeypatch,
        lambda: knn.knn_join_arrow_ivf(
            layout, qids, qvecs, probes, k=5, exclude_self=exclude_self
        ),
    )
    assert len(got) == len(qids) * 5


def test_ivf_driver_path_duplicate_probe_and_thin_list(spark, monkeypatch, ivf):
    layout, _, qids, qvecs, probes = ivf
    dup = [[p[0], p[0], p[1], p[0]] for p in probes]
    got = _assert_parity(
        monkeypatch,
        lambda: knn.knn_join_arrow_ivf(layout, qids, qvecs, dup, k=5),
    )
    assert len({(r.query_id, r.vec_id) for r in got}) == len(got)

    # the smallest inverted list, probed alone with k above its size
    sizes = {
        int(r.centroid): int(r["count"])
        for r in layout.groupBy("centroid").count().collect()
    }
    thin = min(sizes, key=sizes.get)
    member = (
        layout.filter(F.col("centroid") == thin).select("vec_id", "embedding").first()
    )
    got = _assert_parity(
        monkeypatch,
        lambda: knn.knn_join_arrow_ivf(
            layout,
            [int(member.vec_id)],
            [list(member.embedding)],
            [[thin]],
            k=sizes[thin] + 3,
            exclude_self=True,
        ),
    )
    assert len(got) == sizes[thin] - 1
    assert all(np.isfinite(r.dist) and r.vec_id != member.vec_id for r in got)


def test_ivf_driver_path_empty_probe_result(spark, monkeypatch, ivf):
    layout, _, qids, qvecs, _ = ivf
    got = _assert_parity(
        monkeypatch,
        lambda: knn.knn_join_arrow_ivf(
            layout, qids[:2], qvecs[:2], [[10_000], [10_001]], k=5
        ),
    )
    assert got == []


def test_small_search_batch_runs_no_python_worker(spark, monkeypatch, emb, ivf):
    """The fast path really runs: with mapInPandas unusable, a small
    flat and IVF-Arrow search_batch still answer, from a LocalTableScan."""
    layout, centroids, qids, qvecs, _ = ivf

    def boom(*_a, **_k):
        raise AssertionError("mapInPandas on the driver path")

    monkeypatch.setattr(DataFrame, "mapInPandas", boom)
    queries = list(zip(qids, qvecs))
    flat = search_batch(layout, queries, k=5, index="flat")
    ivf_out = search_batch(
        layout, queries, k=5, index="ivf", train_vectors=centroids, arrow=True
    )
    for df in (flat, ivf_out):
        _assert_driver_plan(df)
        rows = df.collect()
        assert len(rows) == len(qids) * 5
        assert {r.vec_id for r in rows if r.rank == 1} == set(qids)


def test_unreadable_size_estimate_takes_distributed_path(
    spark, monkeypatch, emb, fixture_queries
):
    qids, qvecs = fixture_queries
    want = knn.knn_join_arrow(emb, qids, qvecs, k=10).collect()

    def boom(_df):
        raise RuntimeError("plan statistics unavailable")

    monkeypatch.setattr(knn, "scan_plan", boom)
    df = knn.knn_join_arrow(emb, qids, qvecs, k=10)
    assert "MapInPandas" in _plan(df)
    assert sorted((r.query_id, r.vec_id, r.rank) for r in df.collect()) == sorted(
        (r.query_id, r.vec_id, r.rank) for r in want
    )


def test_size_estimate_counts_the_whole_relation(spark, monkeypatch, tmp_path):
    """Narrow extra columns shrink the optimizer's figure for the
    kernel's projection far below the vector bytes (an array counts as 4
    bytes a row). The gate reads the relation before projection, so a
    corpus just above the bound takes the distributed path."""
    rng = np.random.default_rng(11)
    n, d = 400, 64
    cols = {"vec_id": list(range(n))}
    cols["embedding"] = [[float(x) for x in v] for v in rng.normal(size=(n, d))]
    for j in range(24):
        cols[f"c{j}"] = rng.integers(0, 1 << 30, n).tolist()
    schema = ", ".join(
        ["vec_id long", "embedding array<float>"] + [f"c{j} int" for j in range(24)]
    )
    path = str(tmp_path / "wide.parquet")
    local_frame(spark, list(zip(*cols.values())), schema).write.parquet(path)
    corpus = spark.read.parquet(path)
    proj = corpus.select("vec_id", "embedding")

    size = knn.scan_plan(proj).size
    collected = proj.toArrow().nbytes
    projected = int(proj._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert projected < collected <= size

    qids, qvecs = [0, 1], cols["embedding"][:2]
    monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_BYTES", size - 1)
    assert "MapInPandas" in _plan(knn.knn_join_arrow(corpus, qids, qvecs, k=3))
    monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_BYTES", size)
    _assert_driver_plan(knn.knn_join_arrow(corpus, qids, qvecs, k=3))


def test_pair_bound_sends_large_query_sets_to_distributed_path(
    spark, monkeypatch, emb, fixture_queries
):
    """The driver scores on one Python thread, so the work bound (rows
    estimated from the relation's bytes, times queries) picks the
    distributed plan once the query set makes the distance matrix big."""
    qids, qvecs = fixture_queries
    proj = emb.select("vec_id", "embedding")
    rows = knn.scan_plan(proj).size // (4 * len(qvecs[0]))
    assert rows >= proj.count()
    monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_PAIRS", rows * len(qids) - 1)
    assert "MapInPandas" in _plan(knn.knn_join_arrow(emb, qids, qvecs, k=5))
    _assert_driver_plan(knn.knn_join_arrow(emb, qids[:-1], qvecs[:-1], k=5))


def test_unbounded_inputs_take_distributed_path(spark, emb):
    """No over-counting estimate exists for a computed vector column or a
    cache that is not filled yet, so neither reaches the driver."""
    computed = emb.withColumn("embedding", F.array_repeat(F.lit(0.5), 4096))
    assert knn.scan_plan(computed.select("vec_id", "embedding")).size is None
    cached = emb.filter(F.col("vec_id") < 100).cache()
    try:
        assert knn.scan_plan(cached.select("vec_id", "embedding")).size is None
        cached.count()
        assert knn.scan_plan(cached.select("vec_id", "embedding")).size > 0
    finally:
        cached.unpersist()


def test_overlapping_driver_path_calls_agree(spark, emb, fixture_queries):
    """The serve loops call the kernels from foreachBatch threads; two
    driver-path calls running at once return what they return alone."""
    qids, qvecs = fixture_queries
    calls = [
        lambda: knn.knn_join_arrow(emb, qids, qvecs, k=10),
        lambda: knn.knn_join_arrow(emb, qids[:4], qvecs[:4], k=7, metric="cosine"),
    ]

    def rows(df):
        return sorted(df.collect(), key=lambda r: (r.query_id, r.rank))

    want = [rows(c()) for c in calls]
    got = [None, None]
    start = threading.Barrier(2, timeout=60)

    def run(i):
        start.wait()
        got[i] = rows(calls[i]())

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    for g, w in zip(got, want):
        assert [(r.query_id, r.vec_id, r.rank) for r in g] == [
            (r.query_id, r.vec_id, r.rank) for r in w
        ]
        assert np.allclose([r.dist for r in g], [r.dist for r in w], rtol=0, atol=1e-6)


def _jobs(spark, action) -> int:
    sc = spark.sparkContext
    group = f"knn-driver-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_search_batch_runs_no_job(spark, ivf):
    """Over a local parquet layout both Arrow routes read their input
    (the whole layout, or the probed lists) with pyarrow: no job."""
    layout, centroids, qids, qvecs, _ = ivf
    queries = list(zip(qids, qvecs))
    assert _jobs(spark, lambda: search_batch(layout, queries, k=5).collect()) == 0
    assert (
        _jobs(
            spark,
            lambda: search_batch(
                layout, queries, k=5, index="ivf", train_vectors=centroids,
                arrow=True,
            ).collect(),
        )
        == 0
    )


def test_round6_matches_spark_round_on_half_quantum_values(spark):
    """The driver rank key equals F.round(dist, 6), HALF_UP on the
    double's decimal form, including values that land on a half
    quantum, where numpy's half-to-even rint would differ."""
    vals = [
        0.0000005, 0.0000015, 1.2345675, 2.5e-7, 0.1234565, 1.0000005,
        3.9999995, 12345.0000005, 0.3, 1 / 3, 2.0 ** -20, 7.0e9 + 0.5e-6,
        0.0, 1.5, 0.2500005,
    ]
    want = [
        r[0]
        for r in local_frame(spark, [(v,) for v in vals], "d double")
        .select(F.round("d", 6))
        .collect()
    ]
    assert list(knn._round6(np.asarray(vals), spark)) == want


def test_search_batch_rejects_duplicate_query_ids(spark, emb, ivf):
    """Two queries sharing one id would rank as a single merged query."""
    _, centroids, qids, qvecs, _ = ivf
    dup = [(7, qvecs[0]), (7, qvecs[1])]
    for kwargs in (
        {"index": "flat"},
        {"index": "flat", "exact": True},
        {"index": "ivf", "train_vectors": centroids},
        {"index": "ivf", "train_vectors": centroids, "arrow": True},
    ):
        with pytest.raises(ValueError, match="unique"):
            search_batch(emb, dup, k=3, **kwargs)


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([(3, 0), (5, 7)], "label int, __offset long"),
        ([(1, 1), (2, 1)], "node long, comp long"),
        ([], "node long, comp long"),
        ([(4, [0.5, 1.5])], "query_id long, embedding array<double>"),
        (
            [(4, [0.5], [1, 2])],
            "query_id long, __qvec array<double>, __probes array<int>",
        ),
        ([(4,)], "query_id long"),
        ([(4, [0.5])], "query_id long, __qv array<double>"),
        (
            [("web", 3, 2, 0, 2)],
            "source string, n_source long, quota long, __full long, __partial long",
        ),
        ([(0, "a/b.jpg")], "label int, relpath string"),
        ([(0, "bonsai")], "label int, category string"),
    ],
)
def test_local_frame_plans_local_table_scan(spark, rows, schema):
    """Every schema the package builds driver-side tables with, the empty
    union-find labels included, becomes a LocalRelation (a Python list
    would plan as Scan ExistingRDD and fork Python workers)."""
    df = local_frame(spark, rows, schema)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in rows]


def _blas_threads() -> int:
    get, _ = knn._openblas_threads()
    return get()


@pytest.fixture
def openblas():
    """Skip where numpy links no OpenBLAS; put the thread count back."""
    fns = knn._openblas_threads()
    if fns is None:
        pytest.skip("numpy has no OpenBLAS loaded")
    get, put = fns
    old = get()
    yield
    put(old)


def test_driver_path_scores_on_one_blas_thread(
    spark, monkeypatch, emb, fixture_queries, openblas
):
    """``_driver_topk`` runs the kernel's BLAS products on one OpenBLAS
    thread, the count a Python-worker task gets, and restores the count
    after."""
    qids, qvecs = fixture_queries
    _, put = knn._openblas_threads()
    put(2)
    seen = []
    blas = knn._blas

    def recording(*args):
        seen.append(_blas_threads())
        return blas(*args)

    monkeypatch.setattr(knn, "_blas", recording)
    assert len(knn.knn_join_arrow(emb, qids, qvecs, k=5).collect()) == 5 * len(qids)
    assert seen and set(seen) == {1}
    assert _blas_threads() == 2


def test_blas_pin_restores_the_count_after_an_exception(openblas):
    _, put = knn._openblas_threads()
    put(2)
    with pytest.raises(RuntimeError):
        with knn._one_blas_thread():
            assert _blas_threads() == 1
            with knn._one_blas_thread():  # nested: one pin
                assert _blas_threads() == 1
            assert _blas_threads() == 1
            raise RuntimeError("inside the pin")
    assert _blas_threads() == 2


def test_blas_pin_is_a_no_op_without_openblas(monkeypatch, openblas):
    """With no OpenBLAS found the block runs and sets no count."""
    get, put = knn._openblas_threads()
    put(2)
    monkeypatch.setattr(knn, "_openblas_threads", lambda: None)
    with knn._one_blas_thread():
        assert get() == 2
    assert get() == 2
