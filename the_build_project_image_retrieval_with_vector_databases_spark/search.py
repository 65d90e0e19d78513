"""Unified ANN search facade (SURVEY §7.4.4).

The engine implements the full FAISS-tier ladder — flat exact scan, IVF
partition probing, PQ asymmetric-distance codes (with optional exact
re-rank), int8 scalar quantization — as separate operators in
``operators/knn.py``, ``operators/ann.py``, ``operators/pq.py``. A real
user of the reference calls ONE thing (``index.search(q, k)``,
``utils/faiss_utils.py:19-22``); this facade is that single entry point,
with the index tier and the similarity metric as explicit parameters:

    search(corpus, qvec, k=10, index="flat", metric="cosine")
    search(layout, qvec, k=5,  index="ivf",  train_vectors=cents, nprobe=4)
    search(corpus, qvec, k=10, index="pq",   train_vectors=cents, rerank=5)
    search(corpus, qvec, k=10, index="sq",   train_vectors=cents)
    search(corpus, qvec, k=10, index="bq",   train_vectors=cents)
    search(corpus, qvec, k=10, index="bq",   train_vectors=cents, rerank=16)

Every tier returns the same shape — the corpus row columns plus a
``dist`` column, best-first — so swapping ``index=`` is a one-word
change, exactly like swapping FAISS index factories.

Scale notes per tier (each inherits its operator's audited plan):
``flat`` = zero-shuffle TakeOrderedAndProject over the corpus scan;
``ivf`` = centroid IN-filter → parquet partition pruning (nprobe/k of
the corpus read); ``pq`` = same zero-shuffle top-k over 32×-smaller
code columns; ``sq`` = ditto over int8 codes; ``bq`` = ditto over two
packed-bit BIGINT halves (16 bytes/row, ``bit_count(xor)`` Hamming —
staged r12, serving twin ``knn_join_arrow_hamming``). Training artifacts
(centroids / codebooks / calibration bounds) are tiny driver-side
lists — pass ``train_vectors`` explicitly for reproducible builds, or
let the facade take the lowest-``n_train`` ids as the deterministic
default (one O(n_train)-row collect, documented).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.vector import array_lit
from .operators.ann import ivf_search
from .operators.knn import knn_single
from .operators.pq import (
    pq_adc_topk,
    pq_encode,
    slice_codebooks,
    sq_dist_sq,
    sq_encode,
    sq_train_bounds,
)

INDEX_KINDS = ("flat", "ivf", "pq", "sq", "bq")


def _default_train_vectors(
    corpus: DataFrame, n_train: int, vec_col: str, id_col: str
) -> list[list[float]]:
    """Deterministic training sample: the ``n_train`` lowest-id rows.
    Driver-side collect of n_train × dim floats — O(small), the same
    build-time pattern as queries_ann._training_vectors."""
    rows = sorted(
        corpus.filter(F.col(id_col) < n_train)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    if not rows:
        raise ValueError(f"no rows with {id_col} < {n_train} to train on")
    return [[float(x) for x in r[1]] for r in rows]


def search(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    index: str = "flat",
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_vectors: list[list[float]] | None = None,
    n_train: int = 16,
    nprobe: int = 4,
    m: int = 8,
    rerank: int = 0,
    reuse_codes: bool = False,
    exclude_id=None,
) -> DataFrame:
    """Top-k search over ``corpus`` for one query vector via the chosen
    index tier. Returns corpus columns + ``dist`` (rounded raw metric
    value for flat; squared/approximate distances dequantized per tier),
    best-first, ties broken by ascending id.

    ``metric`` ("l2" | "cosine" | "dot") applies to the ``flat`` tier;
    the quantized tiers are L2-metric structures (same constraint as
    FAISS's IVF/PQ defaults) and raise on anything else rather than
    silently mis-ranking.

    ``train_vectors`` supplies the quantizer training set (IVF
    centroids / PQ codebook source / SQ calibration); omit it to train
    on the lowest-``n_train`` ids deterministically.

    ``reuse_codes=True`` lets the pq/sq tiers score pre-existing
    ``code_*``/``sq_codes`` columns instead of re-encoding in-plan.
    Codes are only meaningful against the codebooks/bounds that produced
    them, and that provenance is unverifiable from the DataFrame — so
    reuse is an explicit caller assertion, never inferred from column
    presence (looking a foreign code up in this call's LUT would return
    confidently wrong neighbors). The default re-encode is a cheap
    codegen'd projection fused into the scan.
    """
    if index not in INDEX_KINDS:
        raise ValueError(f"unknown index {index!r}; one of {INDEX_KINDS}")
    if index != "flat" and metric != "l2":
        raise ValueError(
            f"index={index!r} is an L2-metric structure; "
            "use index='flat' for cosine/dot"
        )

    out = corpus
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != F.lit(exclude_id))

    if index == "flat":
        return knn_single(
            out, array_lit(query_vec), k=k, metric=metric,
            vec_col=vec_col, id_col=id_col,
        )

    if train_vectors is None:
        train_vectors = _default_train_vectors(corpus, n_train, vec_col, id_col)
    q = [float(x) for x in query_vec]

    if index == "ivf":
        return ivf_search(
            out, train_vectors, q, k=k, nprobe=nprobe,
            vec_col=vec_col, id_col=id_col,
        )

    if index == "pq":
        codebooks = slice_codebooks(train_vectors, m)
        encoded = out
        if not (reuse_codes and f"code_{m - 1}" in encoded.columns):
            encoded = pq_encode(encoded, codebooks, vec_col)
        if rerank > 0:
            from .operators.pq import pq_adc_rerank_topk

            return pq_adc_rerank_topk(
                encoded, out, codebooks, q, k=k, overfetch=rerank,
                id_col=id_col, vec_col=vec_col,
            )
        return pq_adc_topk(
            encoded, codebooks, q, k=k, id_col=id_col
        ).withColumnRenamed("adc_dist", "dist")

    if index == "bq":
        from .operators.pq import (
            bq_encode_cols,
            bq_encode_query,
            bq_hamming,
            bq_train_thresholds,
        )

        thr = bq_train_thresholds(train_vectors)
        n_tr = len(train_vectors)
        # n halves, not a hardcoded (lo, hi) unpack: dims beyond 64
        # pack into dim/32 halves (named bq_lo/bq_hi at 64-D for the
        # established reuse_codes column contract, bq_h{i} otherwise)
        n_halves = len(thr) // 32
        names = (
            ["bq_lo", "bq_hi"]
            if n_halves == 2
            else [f"bq_h{i}" for i in range(n_halves)]
        )
        encoded = out
        if not (reuse_codes and all(c in encoded.columns for c in names)):
            for name, col in zip(names, bq_encode_cols(thr, n_tr, vec_col)):
                encoded = encoded.withColumn(name, col)
        qh = bq_encode_query(q, thr, n_tr)
        if rerank > 0:
            # production BQ shape (the pq-tier rerank applied to the
            # binary tier): Hamming shortlist of k·rerank → exact
            # float re-rank of the shortlist only. Both cuts are
            # zero-shuffle TakeOrderedAndProject; recall is the
            # bq_overfetch curve (RECALL_CURVE.json — ov=16 buys raw
            # Hamming's 0.17 back to ≈0.70 on the fixture corpus).
            from .functions.vector import l2_dist

            qlit = array_lit(q)
            short = (
                encoded.withColumn("__h", bq_hamming(qh, names))
                .orderBy(F.col("__h").asc(), F.col(id_col).asc())
                .limit(k * rerank)
            )
            return (
                short.withColumn("dist", l2_dist(F.col(vec_col), qlit))
                .orderBy(F.col("dist").asc(), F.col(id_col).asc())
                .limit(k)
                .drop("__h")
            )
        return (
            encoded.withColumn(
                "dist", bq_hamming(qh, names).cast("double")
            )
            .orderBy(F.col("dist").asc(), F.col(id_col).asc())
            .limit(k)
        )

    # index == "sq"
    bounds = sq_train_bounds(train_vectors)
    encoded = out
    if not (reuse_codes and "sq_codes" in encoded.columns):
        encoded = sq_encode(encoded, bounds, vec_col)
    return (
        encoded.withColumn("dist", sq_dist_sq(bounds, q))
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def search_batch(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    *,
    index: str = "flat",
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_vectors: list[list[float]] | None = None,
    n_train: int = 16,
    nprobe: int = 4,
    exact: bool = False,
    exclude_self: bool = False,
    arrow: bool = False,
) -> DataFrame:
    """Batched top-k search — the shape the reference actually calls
    (``index.search`` takes a QUERY MATRIX, ``utils/faiss_utils.py:19``;
    the interactive app batches one, the eval loop batches many).
    ``queries`` is [(query_id, vector), ...]; output is
    (query_id, id_col, dist, rank) best-first per query.

    Tiers: ``flat`` routes to the Arrow/BLAS kNN join by default (one
    matmul per corpus partition, per-partition heaps — the serving
    throughput path; ``exact=True`` switches to the expression operator
    whose left-fold arithmetic the DuckDB oracles pin, at interpreted
    per-pair cost) and ``ivf`` to the batched pruned-scan join (Q
    queries share ONE partition-pruned scan; ``arrow=True`` swaps the
    declarative scoring for the inverted-list Arrow/BLAS kernel
    ``knn_join_arrow_ivf`` — the serving-rate path measured in
    SERVE_LATENCY.json's ``ivf_tier``, same probe semantics, BLAS-ulp
    distances instead of the oracle-pinned fold). The quantized code
    tiers stay single-query (``search``) — their ADC LUTs are per-query
    literals and batching them is codebook-sized driver work, not a
    corpus-scan amortization.
    """
    if index not in ("flat", "ivf"):
        raise ValueError("search_batch supports index='flat' or 'ivf'")
    if not queries:
        raise ValueError("queries must be non-empty [(id, vector), ...]")
    if index == "ivf":
        from .operators.ann import (
            assign_centroids,
            ivf_search_batch,
            nearest_centroids,
        )

        if metric != "l2":
            raise ValueError("index='ivf' is an L2-metric structure")
        if train_vectors is None:
            train_vectors = _default_train_vectors(
                corpus, n_train, vec_col, id_col
            )
        layout = corpus
        if "centroid" not in layout.columns:
            layout = assign_centroids(layout, train_vectors, vec_col)
        if arrow:
            from .operators.knn import knn_join_arrow_ivf

            return knn_join_arrow_ivf(
                layout,
                [int(qid) for qid, _ in queries],
                [[float(x) for x in qv] for _, qv in queries],
                [
                    nearest_centroids(train_vectors, qv, nprobe)
                    for _, qv in queries
                ],
                k=k, vec_col=vec_col, id_col=id_col,
                exclude_self=exclude_self,
            )
        return ivf_search_batch(
            layout, train_vectors, queries, k=k, nprobe=nprobe,
            vec_col=vec_col, id_col=id_col, exclude_self=exclude_self,
        )

    if exact:
        from .operators.knn import knn_join

        spark = corpus.sparkSession
        qdf = spark.createDataFrame(
            [(int(qid), [float(x) for x in qv]) for qid, qv in queries],
            f"query_id long, {vec_col} array<double>",
        )
        out = knn_join(
            corpus, qdf, k=k, metric=metric, vec_col=vec_col,
            id_col=id_col, exclude_self=exclude_self,
        )
        return out.select("query_id", id_col, "dist", "rank")

    from .operators.knn import knn_join_arrow

    return knn_join_arrow(
        corpus,
        [int(qid) for qid, _ in queries],
        [[float(x) for x in qv] for _, qv in queries],
        k=k, metric=metric, vec_col=vec_col, id_col=id_col,
        exclude_self=exclude_self,
    )


def mine_negatives(
    corpus: DataFrame,
    queries: list[tuple[int, list[float], int]],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining facade — for each ``(query_id, vector,
    label)`` return the top-k nearest corpus rows whose ``label_col``
    DIFFERS from the query's label: the negative-sampling step of a
    contrastive embedding-training pipeline (the training loop behind
    the reference's embeddings; its fine-tune consumes exactly these
    nearest wrong-class pairs). Routes to
    :func:`~.operators.knn.knn_join_exact` with the per-query label
    mask: one corpus scan, same-label rows drop inside the Arrow kernel
    before the k-cut, bit-exact left-fold distances (the registered
    ``hard_negatives`` query is this facade applied to the held-out
    eval slice). Output: (query_id, id_col, label_col, dist, rank)."""
    from .operators.knn import knn_join_exact

    if not queries:
        raise ValueError("queries must be non-empty [(id, vector, label), ...]")
    return knn_join_exact(
        corpus,
        [int(qid) for qid, _, _ in queries],
        [[float(x) for x in qv] for _, qv, _ in queries],
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        query_labels=[int(lab) for _, _, lab in queries],
        label_col=label_col,
    )
