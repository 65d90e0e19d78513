"""Physical-plan assertions — the 100 TB design contracts (SURVEY §4):
filters and column pruning reach the parquet scan, small dims broadcast,
single-query top-k plans as TakeOrderedAndProject (per-partition heaps,
no shuffle), and the big aggregations keep map-side partial aggregation.

These tests pin the *plan shape*, so a regression that silently turns a
broadcast join into a sort-merge join (or drops pushdown) fails CI even
though results stay correct."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
    hyperplanes,
)

from .conftest import SF_SMOKE

# 8 seeded 64-D hyperplanes (2 bands of 4 sign bits) for the LSH plan pins
LSH_PLANES = hyperplanes(64, 8, seed=42)


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    """Other test modules cache these parquet scans; a cached plan turns
    FileScan into InMemoryTableScan and hides PushedFilters/ReadSchema."""
    spark.catalog.clearCache()
    yield


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain(df) -> str:
    # full optimized + physical text without executing
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    )


def test_knn_single_is_take_ordered_no_shuffle(spark):
    df = entrymod.queries()["knn_l2_topk"](spark, SF_SMOKE)
    plan = _explain(df)
    assert "TakeOrderedAndProject" in plan
    # no exchange other than the tiny broadcast of the 1-row query vector
    body = plan[plan.index("== Physical Plan =="):]
    assert "Exchange hashpartitioning" not in body
    assert "SortMergeJoin" not in body


def test_filter_pushdown_reaches_scan(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    df = emb.filter(F.col("vec_id") < 100).select("vec_id", "label")
    plan = _explain(df)
    assert re.search(r"PushedFilters: \[.*LessThan\(vec_id,100\)", plan)
    # column pruning: embedding must NOT be read for this projection
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "embedding" not in m.group(1)


def test_dim_join_broadcasts(spark):
    df = entrymod.queries()["top_revenue_customers"](spark, SF_SMOKE)
    plan = _explain(df)
    body = plan[plan.index("== Physical Plan =="):]
    assert "BroadcastHashJoin" in body
    assert "SortMergeJoin" not in body


def test_pricing_summary_partial_aggregation(spark):
    df = entrymod.queries()["pricing_summary"](spark, SF_SMOKE)
    plan = _explain(df)
    body = plan[plan.index("== Physical Plan =="):]
    # partial (map-side) aggregate before the exchange, final after
    assert "partial_sum" in body or "partial_count" in body
    assert re.search(r"l_shipdate.*1998-09-02", plan) is not None  # pushed filter


def test_knn_join_broadcasts_queries_not_corpus(spark):
    """knn_join broadcasts the query batch and scans the corpus once."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = knn_join(emb, queries, k=3, metric="l2")
    plan = _explain(df)
    body = plan[plan.index("== Physical Plan =="):]
    assert "BroadcastNestedLoopJoin" in body or "BroadcastExchange" in body
    # the corpus is never hash-repartitioned for the join itself; the only
    # hash exchange allowed is the per-query rank window
    assert body.count("Exchange hashpartitioning") <= 1


def test_knn_join_two_phase_windowgrouplimit(spark):
    """The kNN-join rank filter must plan as two-phase WindowGroupLimit:
    a Partial stage below the exchange (≤k rows per query per map
    partition shuffle — the FAISS local-heap/merge shape) and a Final
    stage above it. The registered ``knn_two_phase`` row is this call."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = knn_join(emb, queries, k=3, metric="l2")
    plan = _physical(df)
    partial = plan.index("Partial")
    assert "WindowGroupLimit" in plan
    exchange = plan.index("Exchange hashpartitioning")
    # physical plans print top-down: Final WindowGroupLimit, then the
    # exchange, then the Partial stage underneath
    final = plan.index("Final")
    assert final < exchange < partial


def test_ngram_jaccard_no_scanfilter_tokenize(spark):
    """The inverted-index self-join must not let InferFiltersFromGenerate
    re-inline the tokenize expression as a per-row scan filter, and must
    stay a sort-merge join (broadcast would compute the pipeline twice)."""
    df = entrymod.queries()["ngram_jaccard_dedup"](spark, SF_SMOKE)
    plan = _physical(df)
    # one tokenize per join side in the projection — not 8× in filters
    assert plan.count("split(trim(lower(") <= 2
    assert "SortMergeJoin" in plan


def test_ivf_topk_partition_pruned(spark, monkeypatch):
    """The benched IVF probe must run against the materialized
    partitioned layout with the centroid IN-filter applied as parquet
    *partition pruning* (nprobe/16 of the data read), self-exclusion
    pushed to the scan, and a zero-shuffle TakeOrderedAndProject top-k.
    This is the expression plan, which the driver path (bound forced to
    0 here) falls back to above its bounds."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        knn,
    )

    monkeypatch.setattr(knn, "ARROW_DRIVER_MAX_BYTES", 0)
    df = entrymod.queries()["ivf_topk"](spark, SF_SMOKE)
    plan = _physical(df)
    assert re.search(r"PartitionFilters: \[.*centroid.*IN \(", plan)
    assert "Not(EqualTo(vec_id,0))" in plan  # self-exclusion pushed down
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_ivf_topk_driver_path_reads_only_probed_lists(spark, monkeypatch):
    """Within the driver-path bounds the same probe is ranked in the
    driver, and the one ``toArrow()`` job behind it still prunes: its
    scan carries the centroid IN-filter as a partition filter and the
    self-exclusion as a pushed filter."""
    frame_cls = type(spark.range(1))
    read = []
    to_arrow = frame_cls.toArrow

    def spy(df):
        read.append(_physical(df))
        return to_arrow(df)

    monkeypatch.setattr(frame_cls, "toArrow", spy)
    df = entrymod.queries()["ivf_topk"](spark, SF_SMOKE)
    assert "LocalTableScan" in _physical(df)
    assert len(read) == 1
    assert re.search(r"PartitionFilters: \[.*centroid.*IN \(", read[0])
    assert "Not(EqualTo(vec_id,0))" in read[0]
    assert len(df.collect()) == 5


def test_pq_topk_scans_codes_only(spark):
    """The ADC search must scan ONLY the code columns of the encoded
    layout (8 ints/row, not the 64-float embedding), with zero shuffles
    and a TakeOrderedAndProject top-k."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        pq_adc_topk,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _pq_layout,
    )

    path, codebooks, qvec = _pq_layout(spark, SF_SMOKE)
    codes = spark.read.parquet(path).filter(F.col("vec_id") != 0)
    df = pq_adc_topk(codes, codebooks, qvec, k=10)
    plan = _physical(df)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "embedding" not in m.group(1) and "code_0" in m.group(1)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_ivfpq_topk_pruned_and_codes_only(spark):
    """The composed IVF+PQ search must BOTH prune centroid partitions AND
    scan only the code columns — the two scan-bytes reductions multiply."""
    df = entrymod.queries()["ivfpq_topk"](spark, SF_SMOKE)
    plan = _physical(df)
    assert re.search(r"PartitionFilters: \[.*centroid.*IN \(", plan)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "embedding" not in m.group(1) and "code_0" in m.group(1)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_registry_wide_plan_hygiene(spark):
    """Global contracts over EVERY registered query's physical plan:
    no row-at-a-time Python UDFs (`BatchEvalPython`) — Arrow
    `MapInPandas`/`FlatMapGroupsInPandas` are the only Python operators
    allowed — and no un-broadcast `CartesianProduct` (the broadcast
    nested-loop form is fine; a shuffled cartesian is never the plan we
    want)."""
    for name, fn in sorted(entrymod.queries().items()):
        plan = _physical(fn(spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: shuffled cartesian"


def test_no_array_columns_in_oracle_checked_outputs(spark):
    """Round-4 lesson (`label_centroids` red row): the driver canonicalizes
    results through pandas ``sort_values``, which dies on list cells — so
    no oracle-checked query may emit ArrayType/MapType/StructType output
    columns. Rows-only queries (no oracle entry) are exempt: the driver
    only counts them."""
    from pyspark.sql import types as T

    oracles = entrymod.oracle_sql()
    for name, fn in sorted(entrymod.queries().items()):
        if name not in oracles:
            continue
        schema = fn(spark, SF_SMOKE).schema
        for field in schema.fields:
            assert not isinstance(
                field.dataType, (T.ArrayType, T.MapType, T.StructType)
            ), f"{name}.{field.name}: {field.dataType} is driver-unhashable"


def test_cosine_dedup_is_bucket_keyed_not_nested_loop(spark):
    """The LSH-banded cosine radius_join: the candidate step is a hash
    equi-join on the band bucket, so NO nested-loop/cartesian join may
    appear anywhere in the plan (the brute-force form planned a
    BroadcastNestedLoopJoin)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        radius_join,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    df = radius_join(
        emb, emb, radius=0.28, metric="cosine",
        blocking="lsh", planes=LSH_PLANES, n_bands=2,
    )
    plan = _physical(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the candidate join keys on the exploded (band, bucket) pair
    assert "__band" in plan and "__key" in plan


def test_dedup_queries_release_cached_blocks(spark):
    """Round-2 ADVICE: the dedup query wrappers own their operators'
    cache_handles — after each query's result materializes, the executor
    storage pool holds nothing new (intermediates live exactly while the
    spill write needs them)."""
    jsc = spark.sparkContext._jsc.sc()
    for name in ("minhash_lsh_dedup", "simhash_near_dup", "dedup_components"):
        before = jsc.getPersistentRDDs().size()
        rows = entrymod.queries()[name](spark, SF_SMOKE).collect()
        assert rows, name
        assert jsc.getPersistentRDDs().size() == before, f"{name} leaked cache"


def test_ivf_topk_batch_shares_one_pruned_scan(spark):
    """The batched IVF join must amortize ONE partition-pruned scan
    across the whole query batch: centroid INSET filter at the scan,
    two-phase WindowGroupLimit for per-query top-k, and exactly one
    hash exchange (the rank window) — no per-query scan jobs."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        ivf_search_batch,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _ivf_layout,
    )

    path, centroids = _ivf_layout(spark, SF_SMOKE)
    queries = [(i, centroids[i]) for i in range(8)]
    df = ivf_search_batch(spark.read.parquet(path), centroids, queries, k=3, nprobe=4)
    plan = _physical(df)
    assert re.search(r"PartitionFilters: \[.*centroid.* INSET ", plan)
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_bucketed_revenue_join_needs_no_exchange(spark):
    """The bucketed fact⋈fact registry query: the join must consume the
    bucketed layout directly — the ONLY hash exchange in the plan is the
    final tiny per-priority aggregate, never a join-side repartition."""
    df = entrymod.queries()["bucketed_revenue"](spark, SF_SMOKE)
    plan = _physical(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_driver_window_ordering_contract():
    """The registry's verification-window ordering is part of the driver
    contract (round-2's only material miss was silent dict-order drift):
    every name in the priority/rotation lists must exist, every
    priority entry must land inside the first 50 dict slots, and only
    deliberately-rotated entries may fall past the window."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries import (
        _CHECK_FIRST,
        _ROTATE_OUT,
        QUERIES,
        ORACLES,
    )

    names = list(QUERIES)
    assert set(_CHECK_FIRST) <= set(names), "stale _CHECK_FIRST entry"
    assert set(_ROTATE_OUT) <= set(names), "stale _ROTATE_OUT entry"
    assert not set(_CHECK_FIRST) & set(_ROTATE_OUT)
    front = set(names[:50])
    assert set(_CHECK_FIRST) <= front, "priority query fell out of the window"
    drifted = set(names[50:]) - set(_ROTATE_OUT)
    assert not drifted, f"silent window drift (pin or rotate): {drifted}"
    # oracles iterate in the same order and cover EVERY entry — round 6
    # upgraded the last rows-only query (image_knn_pipeline) to a full
    # oracle via the integer-exact projection embed
    assert list(ORACLES) == [n for n in names if n in ORACLES]
    assert set(names) - set(ORACLES) == set()


def test_interval_join_is_equi_not_nested_loop(spark):
    """Round-4 contract: the event-time interval join blocks the range
    predicate by time bucket, so the join is a hash EQUI-join on
    (user_id, bucket) — a naive range join would plan a
    BroadcastNestedLoopJoin and explode per-key at scale."""
    df = entrymod.queries()["interval_join"](spark, SF_SMOKE)
    plan = _physical(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_b" in plan, "bucket key missing from the join"


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark n-gram set is tiny by construction (eval sets are
    MBs); it must broadcast so the 100 TB corpus side never shuffles for
    the join — the only hash exchange is the per-doc hit aggregate."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
        ngram_overlap,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
        spread,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = spread(docs).filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    df = ngram_overlap(corpus, bench, n=4, min_hits=1, severe_frac=0.2)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan  # bench grams always broadcast
    assert "CartesianProduct" not in plan
    # the hit-ids join deliberately carries NO broadcast hint — its size
    # tracks contamination rate, so AQE decides from runtime stats
    # round-5 profiled contract: the gram-count projection must NOT fold
    # size(grams) into the explode projection (codegen blowup, ~13x) —
    # the n_grams size() runs on the hit-doc join output, so exactly two
    # shingle Generates exist (corpus explode + bench explode), never a
    # third for a corpus-wide sizes pass
    assert plan.count("Generate explode") == 2


def test_matryoshka_topk_is_take_ordered_no_shuffle(spark):
    """Truncated-embedding top-k keeps the flagship physical shape: the
    1-row truncated query vector broadcasts, the fold stays in the
    scan's projection (its ``aggregate`` runs interpreted inside the
    generated stage), and the top-10 is a zero-shuffle
    TakeOrderedAndProject — truncation
    must not cost the plan anything."""
    df = entrymod.queries()["matryoshka_topk"](spark, SF_SMOKE)
    plan = _explain(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_gap_fill_no_nested_loop_and_bounded_exchanges(spark):
    """Gap-fill's grid join must stay a hash EQUI-join on (key, slot) —
    a range/theta formulation would plan BroadcastNestedLoopJoin and
    explode at scale. The whole operator needs at most 3 hash exchanges
    (slot-dedup window, span aggregate, grid⋈obs + fill window share
    the key partitioning)."""
    df = entrymod.queries()["gap_fill"](spark, SF_SMOKE)
    plan = _physical(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_banded_candidate_joins_pin_shuffle_hash(spark):
    """Round-6 contract (100x sweep finding): the corpus x corpus banded
    candidate self-joins in the LSH dedup/radius family must plan as
    SHUFFLE joins. Their static size estimates (compressed-parquet
    derived, pre-explosion) can land under the broadcast threshold while
    the real banded relation is orders of magnitude bigger - the sweep
    caught the planner attempting a ~1 GB broadcast build inside
    minhash_lsh_pairs at 100x data. The shuffle_hash hint pins the safe
    shape; this test keeps it pinned."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import dedup as D
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import lsh_candidates
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import radius_join

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    # the registered queries materialize through a spill (FileScan plan),
    # so pin the operator-level plans the spill consumes
    cases = {
        "radius_join_lsh": radius_join(
            emb, emb, radius=0.9, metric="cosine",
            blocking="lsh", planes=LSH_PLANES, n_bands=2,
        ),
        "semantic_dedup_incremental": D.semantic_dedup_incremental(
            emb.filter(F.col("vec_id") < 400),
            emb.filter(F.col("vec_id") >= 400),
            [[0] * 64, [1 << 10] * 64],
        ),
    }
    for name, df in cases.items():
        plan = _physical(df)
        assert "ShuffledHashJoin" in plan, f"{name}: banded join not shuffle-pinned"
        assert "BroadcastNestedLoopJoin" not in plan
        # the verify joins are corpus-scaled on BOTH sides too (merge-
        # pinned after the 100× sweep caught a broadcast build of the
        # shingle-set table OOMing inside dedup_components): no join in
        # these operators may plan as a broadcast build of any kind
        assert "BroadcastHashJoin" not in plan, f"{name}: corpus-side broadcast"

    # r18: minhash_lsh_pairs' candidate stage is a per-bucket
    # combination expansion over ONE band-key aggregate — the banded
    # self-join (and with it the shuffle_hash broadcast-hazard pin) is
    # gone. Pin the new invariant: the only joins left are the two
    # merge-pinned verify joins, candidates come from a Generate
    # (in-bucket pair expansion), and nothing broadcasts.
    mh = D.minhash_lsh_pairs(docs, n=3, num_hashes=8, bands=4, threshold=0.5)
    plan = _physical(mh)
    assert plan.count("SortMergeJoin") == 2, "verify joins not merge-pinned"
    assert "ShuffledHashJoin" not in plan, "candidate self-join reappeared"
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan, "in-bucket pair expansion missing"

    # r18: lsh_candidates got the per-bucket expansion too — no join
    # remains at all (one bucket-key exchange, Generate expansion), so
    # there is nothing left to pin but joinlessness.
    lc = lsh_candidates(emb, LSH_PLANES)
    plan = _physical(lc)
    assert "Join" not in plan, "lsh_candidates: join reappeared"
    assert "Generate" in plan, "in-bucket pair expansion missing"

    # r18: simhash_near_dup_pairs got the same per-bucket expansion —
    # the only join left is the merge-pinned fp=0 restore inside
    # simhash(); candidates come from the bucket aggregate + Generate.
    sh = D.simhash_near_dup_pairs(docs, bits=32, bands=4, max_hamming=3)
    plan = _physical(sh)
    assert plan.count("SortMergeJoin") == 1, "fp=0 restore not merge-pinned"
    assert "ShuffledHashJoin" not in plan, "banded self-join reappeared"
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan, "in-bucket pair expansion missing"

    # r17: semantic_dedup's pair stage is a per-cluster Arrow group map
    # over ONE cid-keyed shuffle — no join of any kind remains, so
    # there is no broadcast-mis-estimate hazard left to pin. Pin the
    # stronger invariant instead: zero joins, one group-map operator.
    sem = D.semantic_dedup(
        emb, [[0] * 64, [1 << 10] * 64], threshold_num=3, threshold_den=10
    )
    plan = _physical(sem)
    assert "FlatMapGroupsInPandas" in plan, "semantic_dedup: group map missing"
    for node in ("Join", "CartesianProduct", "BatchEvalPython"):
        assert node not in plan, f"semantic_dedup: unexpected {node}"


def test_size_aware_pins_gate_on_measured_rows(spark):
    """Round-7 contract (VERDICT r6 #3): the scale-safe merge/
    shuffle_hash pins engage from a MEASURED footer row count, not a
    size estimate. Below CORPUS_PIN_ROWS the operators run unpinned
    (AQE free to broadcast — the toy-scale cost of the r6 pins
    recovered); above it, or when the count is unknowable, the pins
    engage. Pinned and unpinned plans must agree on RESULTS exactly
    (hints can only move join strategy)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        dedup as D,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
        table_row_count,
    )

    # threshold semantics on the real fixtures + unknown paths
    assert table_row_count(SF_SMOKE, "documents") == 500
    assert D.pins_for(SF_SMOKE) is False
    assert D.pins_for("/no/such/dir") is True  # unknown → safe
    assert D.CORPUS_PIN_ROWS == 100_000

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pinned = D.minhash_lsh_pairs(
        docs, n=3, num_hashes=8, bands=4, threshold=0.5, pinned=True
    )
    free = D.minhash_lsh_pairs(
        docs, n=3, num_hashes=8, bands=4, threshold=0.5, pinned=False
    )
    # the pinned plan must contain no broadcast join anywhere (the 100×
    # OOM class); the unpinned plan at smoke scale should let the
    # planner broadcast at least one side
    plan_pinned = _physical(pinned)
    assert "BroadcastHashJoin" not in plan_pinned
    plan_free = _physical(free)
    assert "BroadcastHashJoin" in plan_free
    key = lambda r: (r.left_id, r.right_id)
    assert sorted(map(key, pinned.collect())) == sorted(map(key, free.collect()))


def test_ann_recall_eval_one_scan_one_exchange(spark):
    """r11 plan contract (VERDICT r10 #7 — the fold-into-one-scan
    rewrite): the recall evaluation computes BOTH tiers from a single
    Arrow pass over the layout (an exact-tier eval inherently reads
    every row, so the old pruned second scan is gone along with the
    full first scan of the raw table), and exactly ONE hash exchange
    (the query_id repartition) carries the rank windows, the
    intersection count, and the per-query aggregate — its partitioning
    key is a subset of every downstream clustering requirement. The
    previous two-scan pipeline planned 6 hash exchanges + 2 one-row
    BroadcastNestedLoopJoins."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_ann_recall_eval,
    )

    df = q_ann_recall_eval(spark, SF_SMOKE)
    plan = _physical(df)
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mmr_rerank_single_group_shuffle(spark):
    """Staged r8 plan contract: the MMR greedy runs as ONE
    FlatMapGroupsInPandas keyed by query_id over the shortlist — the
    only exchanges are the shortlist's two-phase rank window and the
    greedy's group shuffle; no nested-loop join of candidates."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_mmr_rerank,
    )

    df = q_mmr_rerank(spark, SF_SMOKE)
    plan = _physical(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
