"""Exact k-nearest-neighbor search — THE core operator (SURVEY §2.6 J1).

Reference semantics (``utils/faiss_utils.py:19-22`` ``index.search``,
called from ``app.py:171``): query vector vs corpus matrix, top-k by
ascending L2 (shipped ``IndexFlatL2``) or descending inner product
(``utils/__init__.py:76-77`` variant); positional-metadata join follows
(``utils/__init__.py:139-143``) — here metadata lives in the same row, so
the join disappears.

Spark-first physical strategy:

- **Single query** → distance expression over the (cached, columnar)
  corpus scan + ``ORDER BY dist LIMIT k`` — Catalyst plans
  ``TakeOrderedAndProject``: per-partition top-k heaps, driver merge.
  Zero shuffle. This is exactly FAISS's flat-search heap merge,
  distributed.
- **Query set** → ``crossJoin(broadcast(queries))`` (no shuffle of the
  corpus — the N×Q expansion streams through codegen) + per-query
  window rank. Spark ≥3.5 plans the rank filter as a two-phase
  ``WindowGroupLimit`` (Partial before the exchange, Final after), so
  only Q×k×partitions rows shuffle — the FAISS local-heap/merge shape
  comes out of the optimizer, not hand-rolled operators.

At 100 TB the corpus never moves: queries broadcast, distances fuse into
the scan stage, and only k rows per (query, partition) survive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _pin

from ..functions.vector import array_lit, cosine_sim, dot, l2_dist

_METRICS = {
    "l2": (l2_dist, True),  # (distance fn, ascending?)
    "cosine": (cosine_sim, False),
    "dot": (dot, False),
}


def _score(metric: str, a, b) -> tuple[Column, bool]:
    try:
        fn, asc = _METRICS[metric]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    return fn(a, b), asc


def knn_single(
    corpus: DataFrame,
    query_vec: Column,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id=None,
) -> DataFrame:
    """Top-k rows of ``corpus`` nearest to one query vector.

    ``query_vec`` is a literal/broadcastable Column (e.g. ``F.lit(...)``
    array or a scalar-subquery column). Plans as a single scan +
    ``TakeOrderedAndProject`` — no shuffle, no UDF.
    """
    score, asc = _score(metric, F.col(vec_col), query_vec)
    out = corpus
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != F.lit(exclude_id))
    out = out.withColumn("dist", score)
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col(id_col).asc()]
    return out.orderBy(*order).limit(k)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """For every row of ``queries``, the top-k nearest corpus rows.

    Output: all query columns (prefixed ``query_id``) + corpus id/label
    columns + ``dist`` + ``rank``. The queries side is broadcast — the
    corpus is scanned exactly once regardless of Q.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    )
    score, asc = _score(metric, F.col(vec_col), F.col("__qvec"))
    joined = corpus.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col("query_id"))
    joined = joined.withColumn("dist", score)
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col(id_col).asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("__qvec")
    )


def knn_join_arrow(
    corpus: DataFrame,
    query_ids: list[int],
    query_mat,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Arrow/BLAS kNN join for a DRIVER-HELD query set — the serving
    throughput path (the matmul shape FAISS's flat search actually
    runs). The expression-based :func:`knn_join` evaluates the distance
    via Catalyst higher-order array functions, which are interpreted
    per element — measured ~11 µs per (corpus, query) pair, fine for a
    handful of queries, hopeless for a serving batch (2000×2000 pairs
    = 45 s). Here the Q×D query matrix rides the ``mapInPandas``
    closure; each Arrow batch scores ALL queries with one B×D @ D×Q
    matmul and forwards only its per-query top-k (``argpartition``) —
    per-partition heaps, exactly the FAISS block-scan — then one tiny
    window rank over the per-partition candidates picks the global
    top-k. Corpus never shuffles; candidate volume is
    partitions·Q·(k + boundary-tie multiplicity) — the tie-safe cut
    emits every row whose rounded key ties the k-boundary, so on a
    corpus where many rows share one rounded distance the tie term is
    unbounded in principle (the window still cuts exactly); for
    non-degenerate corpora it is O(partitions·Q·k), independent of N.

    Caveats vs the exact operator (same contract as
    :func:`~.ann.assign_centroids_arrow`): BLAS accumulation order
    differs from the left-fold, so raw distances carry ~1-ulp noise —
    including BETWEEN EXACT DUPLICATE VECTORS (GEMM micro-kernels vary
    the accumulation path by row position; caught by the r12 serving
    fuzz panel on generated corpora with a forced duplicate). Ties are
    therefore handled at 6-decimal granularity, the same kept-rounded
    class as the emitted display value: the global rank window orders
    by (round(dist, 6), id), and each batch emits EVERY row whose
    rounded distance ties the k-boundary (never an ``argpartition``
    that cuts ties by raw ulps) — so two rows whose true distances tie
    or differ below 5e-7 rank by id identically to the DuckDB oracle's
    fold. Distinct rows separated by less than the rounding quantum but
    straddling a rounding boundary remain the documented measure-zero
    hazard.
    With ``exclude_self=True`` the masked self row carries dist=inf and
    can surface in the final top-k only when a partition holds ≤ k
    finite rows — unreachable for a flat scan of any real corpus
    (partitions ≫ k rows); the IVF kernel, whose probed subsets CAN be
    that small, filters non-finite rows before yielding.
    Use :func:`knn_join` where cross-engine exactness matters; this is
    the throughput path. Output: (query_id, id_col, dist, rank) with
    ``dist`` RAW (callers round for display).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    _, asc = _METRICS.get(metric, (None, None))
    if asc is None:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    qm = np.asarray(query_mat, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    if qm.ndim != 2 or qm.shape[0] != len(qids) or len(qids) == 0:
        raise ValueError("query_mat must be a non-empty Q×D matrix matching query_ids")
    qn = (qm * qm).sum(axis=1)

    id_field = next(f for f in corpus.schema.fields if f.name == id_col)
    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            id_field,
            StructField("dist", DoubleType(), False),
        ]
    )
    # Column pruning does not cross mapInPandas — project the two used
    # columns explicitly so the parquet scan's ReadSchema never carries
    # payload columns the kernel ignores (at 100 TB that's the
    # difference between scanning two columns and scanning the table).
    corpus = corpus.select(id_col, vec_col)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            if metric == "l2":
                d = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ qm.T) + qn[None, :]
                d = np.sqrt(np.maximum(d, 0.0))
            elif metric == "dot":
                d = x @ qm.T
            else:  # cosine
                xn = np.sqrt((x * x).sum(axis=1))
                d = (x @ qm.T) / np.maximum(
                    np.sqrt(qn)[None, :] * xn[:, None], 1e-12
                )
            if exclude_self:
                d[ids[:, None] == qids[None, :]] = np.inf if asc else -np.inf
            key = d if asc else -d
            kk = min(k, key.shape[0])
            part = np.argpartition(key, kk - 1, axis=0)[:kk]
            # tie-safe cut: include EVERY row whose 6-decimal-rounded
            # key ties the boundary — a raw argpartition cut breaks
            # duplicate-vector ties by BLAS ulps, diverging from the
            # oracle's (dist, id) order (r12 serving-fuzz catch)
            kr = np.round(key, 6)
            bound = np.take_along_axis(kr, part, axis=0).max(axis=0)
            # one vectorized mask for ALL queries (no per-query python
            # loop in the serving hot path); isfinite: a batch smaller
            # than k would otherwise pull the masked self row
            # (key=inf) through an inf boundary.  The boundary is
            # padded by 1.5 rounding quanta: np.round is half-to-even
            # while the global window key (F.round) and the DuckDB
            # oracle round HALF_UP, and at an exact .5 landing the two
            # rules differ by exactly one quantum — the pad makes the
            # emitted set a superset under EITHER rule, and the exact
            # global window re-cuts to the true top-k for free. 1.5
            # (not 1.0) quanta so ulp-level rounding of `bound + pad`
            # can never land one ulp BELOW a needed lattice point,
            # while still admitting no second lattice step (ADVICE
            # r13: strictly between one and two quanta).
            mask = (kr <= bound[None, :] + 1.5e-6) & np.isfinite(kr)
            ri, qi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    id_col: ids[ri],
                    "dist": d[ri, qi],
                }
            )

    cand = corpus.mapInPandas(score, schema)
    rdist = F.round(F.col("dist"), 6)
    order = [
        rdist.asc() if asc else rdist.desc(),
        F.col(id_col).asc(),
    ]
    w = Window.partitionBy("query_id").orderBy(*order)
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_join_arrow_ivf(
    layout: DataFrame,
    query_ids: list[int],
    query_mat,
    probe_sets: list[list[int]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_col: str = "centroid",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-tier Arrow/BLAS kNN join — :func:`knn_join_arrow` with
    per-query inverted-list masking, the serving kernel for rates past
    the flat-scan knee (the batched analogue of the reference's
    ``IndexIVFFlat.search``; its flat twin covers ``app.py:171``).

    Two pruning levels compose:

    1. **Scan**: the layout is filtered to the UNION of all probe sets
       before ``mapInPandas`` — over the ``partitionBy(centroid)``
       parquet layout that is partition PRUNING (only probed inverted
       lists are read; at 100 TB only |∪probes|/k_cents of the corpus
       leaves storage).
    2. **FLOPs**: inside each Arrow batch, rows group by centroid and
       each group is scored ONLY against the queries probing that
       centroid — Σ_c |rows_c|·|probers_c| ≈ (nprobe/k_cents)·N·Q
       multiply-adds instead of the flat join's N·Q. This is the win
       :func:`~.ann.ivf_search_batch`'s declarative form cannot get
       locally (its interpreted fold costs ~µs/pair); here the masked
       matmul keeps BLAS throughput.

    Same exactness contract as :func:`knn_join_arrow` (BLAS ulps;
    ties handled at 6-decimal granularity — tie-safe batch cut +
    rounded-key rank window); per-query recall is the nprobe curve
    (RECALL_CURVE.json). ``probe_sets[i]`` lists the centroid ids query
    ``i`` probes. Output: (query_id, id_col, dist, rank ≤ k), candidate
    volume ≈ batches·Q·k plus boundary-tie multiplicity (see
    :func:`knn_join_arrow` — unbounded only on rounded-distance-
    degenerate corpora) — independent of N otherwise."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    qm = np.asarray(query_mat, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    if qm.ndim != 2 or qm.shape[0] != len(qids) or len(qids) == 0:
        raise ValueError("query_mat must be a non-empty Q×D matrix matching query_ids")
    if len(probe_sets) != len(qids):
        raise ValueError("probe_sets must align with query_ids")
    qn = (qm * qm).sum(axis=1)
    by_cent: dict[int, "np.ndarray"] = {}
    for qi, probes in enumerate(probe_sets):
        # dedupe: probe_sets is a public parameter — a repeated centroid
        # id would score and emit the query's candidates twice, taking
        # two ranks in the final window (nearest_centroids never
        # duplicates, but callers may).
        for c in dict.fromkeys(int(c) for c in probes):
            by_cent.setdefault(c, []).append(qi)
    by_cent = {c: np.asarray(v, dtype=np.int64) for c, v in by_cent.items()}
    union_probes = sorted(by_cent)

    id_field = next(f for f in layout.schema.fields if f.name == id_col)
    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            id_field,
            StructField("dist", DoubleType(), False),
        ]
    )
    pruned = layout.filter(
        F.col(centroid_col).isin(union_probes)
    ).select(id_col, centroid_col, vec_col)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cents = pdf[centroid_col].to_numpy()
            for c in np.unique(cents):
                qsel = by_cent.get(int(c))
                if qsel is None:
                    continue
                sub = pdf[cents == c]
                x = np.asarray(sub[vec_col].tolist(), dtype=np.float64)
                ids = sub[id_col].to_numpy()
                d = (
                    (x * x).sum(axis=1)[:, None]
                    - 2.0 * (x @ qm[qsel].T)
                    + qn[qsel][None, :]
                )
                d = np.sqrt(np.maximum(d, 0.0))
                if exclude_self:
                    d[ids[:, None] == qids[qsel][None, :]] = np.inf
                kk = min(k, d.shape[0])
                part = np.argpartition(d, kk - 1, axis=0)[:kk]
                # tie-safe cut at 6-decimal granularity + drop inf rows
                # (masked self-matches): the raw-argpartition hazards
                # are duplicate-vector BLAS-ulp tie breaks (r12
                # serving-fuzz catch on the flat kernel — same GEMM
                # here) and a probed inverted list with ≤ k finite rows
                # surfacing the excluded self row (e.g. nprobe=1 on a
                # small list).
                dr = np.round(d, 6)
                bound = np.take_along_axis(dr, part, axis=0).max(axis=0)
                # one vectorized mask for the whole group's query set;
                # boundary padded 1.5 quanta (np.round half-to-even vs
                # the window/oracle's HALF_UP, ulp-safe sum — see
                # knn_join_arrow)
                mask = (dr <= bound[None, :] + 1.5e-6) & np.isfinite(dr)
                ri, qi = np.nonzero(mask)
                yield pd.DataFrame(
                    {
                        "query_id": qids[qsel][qi],
                        id_col: ids[ri],
                        "dist": d[ri, qi],
                    }
                )

    cand = pruned.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("dist"), 6).asc(), F.col(id_col).asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_join_exact(
    corpus: DataFrame,
    query_ids: list[int],
    query_mat,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = False,
    query_labels: list[int] | None = None,
    label_col: str | None = None,
    recon=None,
) -> DataFrame:
    """Arrow kNN join that is BIT-EXACT with :func:`knn_join` (L2) — the
    fast path for oracle-pinned evaluation queries.

    :func:`knn_join_arrow` trades exactness for BLAS throughput (matmul
    accumulation order ≠ the left fold, so distances differ in ulps and
    ranks can flip on near-ties). Here the distance is instead
    accumulated with an explicit per-dimension loop,
    ``acc ← acc + (x_j − q_j)²`` in float64 — every elementwise op is
    the SAME IEEE-754 binary64 operation in the SAME order as the
    ``F.aggregate`` left fold of ``functions.vector.l2_dist`` and
    DuckDB's ``list_reduce`` (float32 → float64 widening is exact, and
    ``np.sqrt``/JVM ``Math.sqrt``/libm are all correctly rounded), so
    the produced ``dist`` doubles are bit-identical to the expression
    path while the D vectorized passes replace ~1 µs-per-element
    interpreted HOF evaluation (measured ~60× on the 64-D fixtures).
    Parity is pinned in ``tests/test_knn_exact.py``: full-frame equality
    against :func:`knn_join` including distance bits.

    Per-partition candidates are selected by ``np.lexsort`` on the
    exact ``(dist, id)`` key — the id tie-break happens BEFORE the k
    cut (unlike ``argpartition`` in the BLAS kernel), then one tiny
    window rank over ≤ partitions·Q·k rows picks the global top-k with
    the identical ordering. The corpus never shuffles.

    Options (all preserve exactness):
    - ``exclude_self`` — drop corpus rows whose id equals the query id.
    - ``query_labels``/``label_col`` — drop corpus rows whose label
      EQUALS the query's label (hard-negative mining: nearest
      *different-class* rows); the label is carried to the output.
    - ``recon`` — exact float64 preprocessing of each batch's B×D
      matrix before scoring (e.g. PQ codeword / SQ bin-midpoint
      reconstruction, whose elementwise ops also replicate their
      expression twins); the query matrix must match the output dims.

    Output: (query_id, id_col[, label_col], dist, rank).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    qm = np.asarray(query_mat, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    if qm.ndim != 2 or qm.shape[0] != len(qids) or len(qids) == 0:
        raise ValueError("query_mat must be a non-empty Q×D matrix matching query_ids")
    qlab = None
    if query_labels is not None:
        if label_col is None:
            raise ValueError("query_labels requires label_col")
        qlab = np.asarray(query_labels, dtype=np.int64)
        if qlab.shape != qids.shape:
            raise ValueError("query_labels must align with query_ids")

    id_field = next(f for f in corpus.schema.fields if f.name == id_col)
    fields = [StructField("query_id", LongType(), False), id_field]
    cols = [id_col, vec_col]
    if label_col is not None:
        fields.append(next(f for f in corpus.schema.fields if f.name == label_col))
        cols.append(label_col)
    fields.append(StructField("dist", DoubleType(), False))
    schema = StructType(fields)
    # Column pruning does not cross mapInPandas — project explicitly.
    corpus = corpus.select(*cols)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            if recon is not None:
                x = recon(x)
            # exact left fold: acc_j = acc_{j-1} + (x_j - q_j)², float64
            acc = np.zeros((x.shape[0], qm.shape[0]))
            for j in range(qm.shape[1]):
                dj = x[:, j, None] - qm[None, :, j]
                acc = acc + dj * dj
            d = np.sqrt(acc)
            if exclude_self:
                d[np.asarray(ids)[:, None] == qids[None, :]] = np.inf
            if qlab is not None:
                labs = pdf[label_col].to_numpy()
                d[np.asarray(labs)[:, None] == qlab[None, :]] = np.inf
            kk = min(k, d.shape[0])
            out: dict[str, list] = {f.name: [] for f in fields}
            for qi in range(len(qids)):
                order = np.lexsort((ids, d[:, qi]))[:kk]
                order = order[np.isfinite(d[order, qi])]
                n = len(order)
                out["query_id"].extend([int(qids[qi])] * n)
                out[id_col].extend(ids[order].tolist())
                if label_col is not None:
                    out[label_col].extend(pdf[label_col].to_numpy()[order].tolist())
                out["dist"].extend(d[order, qi].tolist())
            yield pd.DataFrame(out)

    cand = corpus.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_recall_eval_exact(
    layout: DataFrame,
    query_ids: list[int],
    query_mat,
    probe_sets: list[list[int]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_col: str = "centroid",
) -> DataFrame:
    """Recall@k of the IVF tier vs exact search in ONE corpus scan —
    the fold-into-one-Arrow-pass rewrite of the eval join pipeline
    (the ``quantized_recall_eval`` precedent, VERDICT r10 #7: its
    ADC-≡-L2-to-reconstruction fold took that query 4.95 → 0.97 s).

    The naive shape scans twice (exact kNN join + IVF-pruned join) and
    intersects — 6 hash exchanges measured. Here each Arrow batch of
    the materialized layout computes the exact left-fold distances
    once, then emits per-partition top-k candidates for BOTH tiers:
    ``tier=0`` over all rows, ``tier=1`` over the rows whose
    ``centroid`` is in that query's probe set (masking a copy of the
    same distance matrix — zero extra FLOPs). Downstream, ONE
    repartition on ``query_id`` satisfies every later clustering
    requirement (the per-tier rank windows partition by
    ``(query_id, tier)``, the intersection count groups by
    ``(query_id, vec_id)`` then ``query_id`` — all supersets of the
    exchange key, so Catalyst inserts no further shuffle).

    Distances use the same explicit per-dimension float64 fold as
    :func:`knn_join_exact` (bit-exact with the expression path and
    DuckDB's ``list_reduce``) and the same pre-cut ``(dist, id)``
    lexsort, so ranks — and the resulting (n_hits, recall) — are
    identical to the two-scan pipeline's. Self matches are excluded in
    both tiers. Output: (query_id, n_hits int, recall double) for every
    query, zero-hit queries included."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    qm = np.asarray(query_mat, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    if qm.ndim != 2 or qm.shape[0] != len(qids) or len(qids) == 0:
        raise ValueError("query_mat must be a non-empty Q×D matrix matching query_ids")
    if len(probe_sets) != len(qids):
        raise ValueError("probe_sets must align with query_ids")
    probe_arr = [np.asarray(sorted(ps), dtype=np.int64) for ps in probe_sets]

    id_field = next(f for f in layout.schema.fields if f.name == id_col)
    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            id_field,
            StructField("dist", DoubleType(), False),
            StructField("tier", IntegerType(), False),
        ]
    )
    pruned = layout.select(id_col, centroid_col, vec_col)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            cents = pdf[centroid_col].to_numpy().astype(np.int64)
            acc = np.zeros((x.shape[0], qm.shape[0]))
            for j in range(qm.shape[1]):
                dj = x[:, j, None] - qm[None, :, j]
                acc = acc + dj * dj
            d = np.sqrt(acc)
            d[ids[:, None] == qids[None, :]] = np.inf  # exclude self
            out: dict[str, list] = {
                "query_id": [], id_col: [], "dist": [], "tier": []
            }
            kk = min(k, d.shape[0])
            for qi in range(len(qids)):
                col = d[:, qi]
                for tier, mask in ((0, None), (1, np.isin(cents, probe_arr[qi]))):
                    c = col if mask is None else np.where(mask, col, np.inf)
                    order = np.lexsort((ids, c))[:kk]
                    order = order[np.isfinite(c[order])]
                    n = len(order)
                    out["query_id"].extend([int(qids[qi])] * n)
                    out[id_col].extend(ids[order].tolist())
                    out["dist"].extend(c[order].tolist())
                    out["tier"].extend([tier] * n)
            yield pd.DataFrame(out)

    cand = pruned.mapInPandas(score, schema).repartition("query_id")
    w = Window.partitionBy("query_id", "tier").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    topk = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    hits = (
        topk.groupBy("query_id", id_col)
        .agg(F.count("*").alias("n_tiers"))
        .filter(F.col("n_tiers") == 2)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    spark = layout.sparkSession
    base = spark.createDataFrame(
        [(int(q),) for q in query_ids], "query_id long"
    )
    return base.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.lit(float(k))
        ).alias("recall"),
    )


def knn_multi_recon_recall(
    corpus: DataFrame,
    query_ids: list[int],
    query_mat,
    recons: list[tuple[str, object]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of N reconstruction tiers vs exact search in ONE corpus
    scan — the quantization-sweep generalization of
    :func:`knn_recall_eval_exact` (r17 optimization; same fold-into-
    one-Arrow-pass design, VERDICT r10 #7 precedent). ``recons`` is a
    list of (tier_name, recon_fn) — each recon is the exact float64
    numpy twin of its encode/reconstruct expression (PQ codeword / SQ
    bin-midpoint). Each Arrow batch computes the exact left-fold
    distances once per tier matrix (tier 0 = raw vectors), emits
    per-partition (dist, id)-lexsorted top-k candidates per
    (tier, query), then ONE repartition on ``query_id`` satisfies every
    later clustering requirement (rank windows by (tier, query_id),
    hit flags by (query_id, id), per-query counts — all supersets of
    the exchange key, so Catalyst inserts no further shuffle).
    Distances and ranks are bit-identical per tier to separate
    :func:`knn_join_exact` passes: same per-dimension float64 fold,
    same np.inf self-exclusion, same pre-cut lexsort, same global
    window ordering. Self matches are excluded in every tier.

    Output: (query_id, tier, n_hits int, recall double) for every
    query × non-exact tier, zero-hit queries included."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    qm = np.asarray(query_mat, dtype=np.float64)
    qids = np.asarray(query_ids, dtype=np.int64)
    if qm.ndim != 2 or qm.shape[0] != len(qids) or len(qids) == 0:
        raise ValueError("query_mat must be a non-empty Q×D matrix matching query_ids")
    if not recons:
        raise ValueError("recons must name at least one tier")
    tiers = [("__exact", None)] + [(str(t), fn) for t, fn in recons]

    id_field = next(f for f in corpus.schema.fields if f.name == id_col)
    schema = StructType(
        [
            StructField("tier", StringType(), False),
            StructField("query_id", LongType(), False),
            id_field,
            StructField("dist", DoubleType(), False),
        ]
    )
    pruned = corpus.select(id_col, vec_col)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x0 = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            out: dict[str, list] = {
                "tier": [], "query_id": [], id_col: [], "dist": []
            }
            for tname, recon in tiers:
                x = x0 if recon is None else recon(x0)
                acc = np.zeros((x.shape[0], qm.shape[0]))
                for j in range(qm.shape[1]):
                    dj = x[:, j, None] - qm[None, :, j]
                    acc = acc + dj * dj
                d = np.sqrt(acc)
                d[np.asarray(ids)[:, None] == qids[None, :]] = np.inf
                kk = min(k, d.shape[0])
                for qi in range(len(qids)):
                    order = np.lexsort((ids, d[:, qi]))[:kk]
                    order = order[np.isfinite(d[order, qi])]
                    n = len(order)
                    out["tier"].extend([tname] * n)
                    out["query_id"].extend([int(qids[qi])] * n)
                    out[id_col].extend(ids[order].tolist())
                    out["dist"].extend(d[order, qi].tolist())
            yield pd.DataFrame(out)

    cand = pruned.mapInPandas(score, schema).repartition("query_id")
    w = Window.partitionBy("tier", "query_id").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    topk = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    flags = topk.groupBy("query_id", id_col).agg(
        F.max(F.when(F.col("tier") == "__exact", 1).otherwise(0)).alias("__e"),
        *[
            F.max(F.when(F.col("tier") == t, 1).otherwise(0)).alias(f"__t{i}")
            for i, (t, _fn) in enumerate(recons)
        ],
    )
    per_q = flags.groupBy("query_id").agg(
        *[
            F.sum(F.col("__e") * F.col(f"__t{i}")).alias(f"__h{i}")
            for i in range(len(recons))
        ]
    )
    spark = corpus.sparkSession
    base = spark.createDataFrame(
        [(int(q),) for q in query_ids], "query_id long"
    )
    joined = base.join(F.broadcast(per_q), "query_id", "left")
    # r18 (guide §1.1/§2.4, VERDICT r17 #1): unpivot the per-tier hit
    # counts from the ONE row-per-query frame with a single generator
    # instead of unioning one projection of ``joined`` per tier — each
    # union branch re-derived the entire lazy subtree, physically
    # duplicating the MapInPandas corpus fold + exchange + window once
    # per tier (r17 after-plan: TWO corpus scans, no ReusedExchange).
    # ``inline`` is a Generate node over the single subtree, so the
    # corpus is scanned and folded exactly once at any tier count.
    # Values are identical: same (tier, __h{i}) pairs, same coalesce/
    # cast; only row order changes (per-query interleaved instead of
    # per-tier blocks — immaterial, the output is an unordered frame).
    unpivot = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(str(t)).alias("tier"),
                    F.col(f"__h{i}").alias("__h"),
                )
                for i, (t, _fn) in enumerate(recons)
            ]
        )
    )
    return joined.select("query_id", unpivot).select(
        "query_id",
        "tier",
        F.coalesce(F.col("__h"), F.lit(0)).cast("int").alias("n_hits"),
        (
            F.coalesce(F.col("__h"), F.lit(0)).cast("double")
            / F.lit(float(k))
        ).alias("recall"),
    )


def knn_join_two_phase(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Two-phase (local top-k per partition → global top-k) kNN join —
    mirrors FAISS's per-block heap + merge (SURVEY §4.3.2).

    Delegates to :func:`knn_join`: Spark ≥3.5 plans the rank-window +
    ``rank <= k`` filter as ``WindowGroupLimit`` with a **Partial** stage
    BEFORE the exchange, i.e. each map partition forwards at most k rows
    per query — the shuffle carries Q×k×P rows, not N×Q. That IS the
    two-phase execution, natively, with zero extra operators; an earlier
    hand-rolled phase-1 window keyed by ``spark_partition_id`` only added
    a redundant second exchange of the same data (the window's partition
    keys force a hash exchange regardless of how "local" the keys are).
    The Partial WindowGroupLimit plan shape is pinned in
    ``tests/test_plans.py``.
    """
    return knn_join(
        corpus,
        queries,
        k=k,
        metric=metric,
        vec_col=vec_col,
        id_col=id_col,
        query_vec_col=query_vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    )


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    blocking: str | None = None,
    planes: list[list[float]] | None = None,
    n_bands: int = 2,
    pinned: bool = True,
) -> DataFrame:
    """All pairs (l, r) with distance < radius (similarity > radius for
    cosine/dot). The range variant of J1 — also the primitive behind
    embedding-cosine near-dup detection.

    Emits ``(left_id, right_id, dist)`` for ``left_id < right_id``.

    ``blocking=None`` (default) is brute-force O(|L|·|R|) — intended for
    bounded blocks only. ``blocking="lsh"`` is the scale path: the given
    hyperplanes split into ``n_bands`` bands; a pair is a candidate iff
    it agrees on every sign bit of at least one band (classic LSH
    OR-of-ANDs banding), the candidate join keys on (band, band-bucket)
    — a plain hash-partitioned equi-join, never a cartesian — and the
    exact metric verifies candidates only. Approximate by construction:
    recall trades against candidate volume via ``n_bands`` ×
    band width.
    """
    if blocking == "lsh":
        if not planes:
            raise ValueError("blocking='lsh' requires hyperplanes")
        return _radius_join_lsh(
            left, right, radius, metric, vec_col, id_col, planes, n_bands,
            pinned=pinned,
        )
    if blocking is not None:
        raise ValueError(f"unknown blocking mode {blocking!r}")
    l = left.select(
        F.col(id_col).alias("left_id"), F.col(vec_col).alias("__lvec")
    )
    r = right.select(
        F.col(id_col).alias("right_id"), F.col(vec_col).alias("__rvec")
    )
    score, asc = _score(metric, F.col("__lvec"), F.col("__rvec"))
    pred = (F.col("dist") < radius) if asc else (F.col("dist") > radius)
    return (
        l.crossJoin(F.broadcast(r))
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn("dist", score)
        .filter(pred)
        .select("left_id", "right_id", "dist")
    )


def _band_bucket_exprs(
    planes: list[list[float]], n_bands: int, vec_col: str
) -> list[Column]:
    """One integer bucket per band: band b owns the contiguous plane slice
    [b·w, (b+1)·w); bit_i = 1 iff v·h_i > 0. Pure codegen'd expressions
    (dot products over literal plane arrays) — no UDF."""
    from ..functions.vector import dot

    width = len(planes) // n_bands
    if width == 0:
        raise ValueError(f"{len(planes)} planes cannot form {n_bands} bands")
    exprs = []
    for b in range(n_bands):
        key = None
        for i, h in enumerate(planes[b * width : (b + 1) * width]):
            bit = F.when(
                dot(F.col(vec_col), array_lit(h)) > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            key = bit if key is None else key + bit
        exprs.append(key.cast("long"))
    return exprs


def _radius_join_lsh(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    metric: str,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    n_bands: int,
    pinned: bool = True,
) -> DataFrame:
    """LSH-banded radius join: explode each row to its ``n_bands``
    (band, bucket) keys, equi-join the bands, dedupe candidate id pairs,
    then score exactly. Every shuffle is keyed (band bucket, then id) —
    the plan contains hash joins only, no nested-loop/cartesian."""
    bands = _band_bucket_exprs(planes, n_bands, vec_col)

    def keyed(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.posexplode(F.array(*bands)).alias("__band", "__key"),
        )

    cands = (
        # shuffle_hash pin: both banded sides scale with the corpus; a
        # static under-estimate must never pick a broadcast build here
        # (see operators.dedup.minhash_lsh_pairs — caught at 100×)
        keyed(left, "left_id")
        .join(_pin(keyed(right, "right_id"), "shuffle_hash", pinned),
              ["__band", "__key"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()  # OR-of-bands: a pair may collide in several bands
    )
    lvec = left.select(F.col(id_col).alias("left_id"), F.col(vec_col).alias("__lvec"))
    rvec = right.select(F.col(id_col).alias("right_id"), F.col(vec_col).alias("__rvec"))
    score, asc = _score(metric, F.col("__lvec"), F.col("__rvec"))
    pred = (F.col("dist") < radius) if asc else (F.col("dist") > radius)
    # merge pin on the verify joins — corpus-scaled vector sides, same
    # broadcast-estimate hazard as operators.dedup.minhash_lsh_pairs
    return (
        cands.join(_pin(lvec, "merge", pinned), "left_id")
        .join(_pin(rvec, "merge", pinned), "right_id")
        .withColumn("dist", score)
        .filter(pred)
        .select("left_id", "right_id", "dist")
    )


def mmr_rerank(
    shortlist: DataFrame,
    k: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal-marginal-relevance diversity re-rank of a per-query
    shortlist (Carbonell & Goldstein 1998) — the standard post-retrieval
    step that trades relevance against redundancy:

        pick argmax  λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)

    greedily k times per query (first pick: the diversity term is 0).
    The shortlist is the output of a top-N retrieval (N ≈ dozens), so
    the greedy is inherently tiny per query; queries are independent —
    one Arrow ``applyInPandas`` keyed by ``query_id_col`` distributes
    the re-rank across the query batch (the same shape as the
    sequential-dedup greedy). At scale nothing but the shortlist rows
    (Q·N) ever moves.

    Cross-engine determinism (oracle contract): ``rel_col`` must carry a
    ROUNDED (6-decimal) relevance; pairwise candidate cosines are
    rounded to 6 decimals too (the kept-rounded class — sqrt-derived
    values cannot land on the .5 boundary, scripts/tie_scan.py), and the
    score arithmetic mirrors the oracle op-for-op:
    (lam_num/lam_den)·rel − ((lam_den−lam_num)/lam_den)·maxsim on the
    same rounded doubles — identical IEEE ops on identical operands,
    ties broken by ascending id. Output: (query_id, rank, id, mmr_score
    raw double).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if not (0 < lam_num <= lam_den):
        raise ValueError("lambda must be a fraction in (0, 1]")
    lam = float(lam_num) / float(lam_den)
    one_m = float(lam_den - lam_num) / float(lam_den)

    qid_field = next(
        f for f in shortlist.schema.fields if f.name == query_id_col
    )
    id_field = next(f for f in shortlist.schema.fields if f.name == id_col)
    out_schema = StructType(
        [
            qid_field,
            StructField("rank", IntegerType(), False),
            id_field,
            StructField("mmr_score", DoubleType(), False),
        ]
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        m = len(pdf)
        x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        n = np.sqrt((x * x).sum(axis=1))
        sim = np.round(
            (x @ x.T) / np.maximum(n[:, None] * n[None, :], 1e-12), 6
        )
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        selected: list[int] = []
        remaining = list(range(m))
        out_rows = []
        for rank in range(1, min(k, m) + 1):
            best = None
            for i in remaining:
                ms = max((float(sim[i, j]) for j in selected), default=0.0)
                score = lam * float(rel[i]) - one_m * ms
                key = (-score, ids[i])
                if best is None or key < best[0]:
                    best = (key, i, score)
            _, pick, score = best
            selected.append(pick)
            remaining.remove(pick)
            out_rows.append(
                {
                    query_id_col: pdf[query_id_col].iloc[pick],
                    "rank": rank,
                    id_col: ids[pick],
                    "mmr_score": score,
                }
            )
        return pd.DataFrame(out_rows, columns=[c.name for c in out_schema])

    return shortlist.groupBy(query_id_col).applyInPandas(rerank, out_schema)


def knn_join_arrow_hamming(
    codes: DataFrame,
    query_ids: list[int],
    query_codes: list[list[int]],
    k: int = 5,
    id_col: str = "vec_id",
    code_cols: tuple[str, ...] = ("bq_lo", "bq_hi"),
) -> DataFrame:
    """Arrow Hamming kNN join over BQ packed codes — the serving path
    of the binary-quantization tier (:func:`~.pq.bq_encode_cols`). Per
    Arrow batch: XOR each packed int64 half (``code_cols`` — dim/32 of
    them; two at 64-D) against every query's halves, SWAR popcount
    (numpy 1.x has no ``bitwise_count``), per-query exact
    (hamming, id) selection — a batch scans 16 BYTES per corpus row
    (vs 256 for the float32 flat kernel), so at 100 TB the Hamming
    rescore tier reads 6% of the flat tier's bytes at memory-bandwidth
    throughput.

    EXACTNESS (stronger than :func:`knn_join_arrow`'s contract):
    distances are small INTEGERS (no BLAS ulps, no rounding), and ties
    are COMMON, so each batch emits its k-smallest distances PLUS every
    row tying the k-boundary exactly (a vectorized argpartition +
    boundary-inclusive mask — one pass for the whole query set, never
    a per-query Python sort loop: at serving Q≈256 the lexsort form
    cost ~10× the popcount itself); the global window then ranks by
    (hamming ASC, id ASC), so the result is bit-identical to the
    expression form (``bq_hamming`` + TakeOrderedAndProject), pinned
    in tests/test_ann.py. Output: (query_id, id_col, hamming, rank).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    qids = np.asarray(query_ids, dtype=np.int64)
    qc = np.asarray(query_codes, dtype=np.uint64)  # Q × n_halves
    n_halves = len(code_cols)
    if (
        qc.ndim != 2
        or qc.shape[0] != len(qids)
        or qc.shape[1] != n_halves
        or len(qids) == 0
    ):
        raise ValueError(
            f"query_codes must be a non-empty Q×{n_halves} matrix "
            "matching code_cols"
        )

    id_field = next(f for f in codes.schema.fields if f.name == id_col)
    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            id_field,
            StructField("hamming", IntegerType(), False),
        ]
    )
    codes = codes.select(id_col, *code_cols)

    def popcnt64(x: "np.ndarray") -> "np.ndarray":
        # SWAR popcount (Hacker's Delight §5-1) on the uint64 array
        # directly — measured 4.4× the 256-entry byte-LUT form, which
        # expands every word to 8 bytes and pays a fancy-index gather
        # per byte (the gather, not the XOR, dominated serving epochs)
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
        )
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        return (
            (x * np.uint64(0x0101010101010101)) >> np.uint64(56)
        ).astype(np.int64)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            # B×Q XOR per half, SWAR popcount, summed over halves
            d = None
            for h, col in enumerate(code_cols):
                half = pdf[col].to_numpy().astype(np.int64).view(np.uint64)
                dh = popcnt64(half[:, None] ^ qc[None, :, h])
                d = dh if d is None else d + dh
            kk = min(k, d.shape[0])
            # integer distances: the k-boundary tie set is EXACT (no
            # rounding quantum needed) — emit k rows plus every
            # boundary tie per query in one vectorized mask, and let
            # the global (hamming, id) window cut deterministically
            part = np.argpartition(d, kk - 1, axis=0)[:kk]
            bound = np.take_along_axis(d, part, axis=0).max(axis=0)
            ri, qi = np.nonzero(d <= bound[None, :])
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    id_col: ids[ri],
                    "hamming": d[ri, qi].astype(np.int32),
                }
            )

    cand = codes.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col(id_col).asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_join_arrow_hamming_ivf(
    layout: DataFrame,
    query_ids: list[int],
    query_codes: list[list[int]],
    probe_sets: list[list[int]],
    k: int = 5,
    id_col: str = "vec_id",
    code_cols: tuple[str, ...] = ("bq_lo", "bq_hi"),
    centroid_col: str = "centroid",
) -> DataFrame:
    """Composed BQ×IVF serving kernel — Hamming scan WITHIN probed
    inverted lists: :func:`knn_join_arrow_hamming` with
    :func:`knn_join_arrow_ivf`'s per-query list masking. This is the
    production shape the bq_tier measurement points at
    (SERVE_LATENCY.json): the two tiers' levers MULTIPLY — IVF prunes
    which lists are read at all (at 100 TB, unprobed lists never leave
    storage; over a materialized ``partitionBy(centroid)`` code layout
    the centroid INSET filter is parquet partition pruning) and BQ
    cuts the bytes per probed row 16× (16 vs 256 at 64-D), so probed
    scan bytes drop by (nprobe/k_cents)·(1/16) vs a flat float scan.
    Per-epoch popcount work likewise drops to
    Σ_c |rows_c|·|probers_c| ≈ (nprobe/k_cents)·N·Q word-ops.

    Exactness contract of the Hamming kernel (integer distances, all
    k-boundary ties emitted, global (hamming, id) rank window);
    recall is the IVF nprobe curve × the BQ sign-quantization curve
    (RECALL_CURVE.json prices both). Output:
    (query_id, id_col, hamming, rank ≤ k)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    qids = np.asarray(query_ids, dtype=np.int64)
    qc = np.asarray(query_codes, dtype=np.uint64)
    n_halves = len(code_cols)
    if (
        qc.ndim != 2
        or qc.shape[0] != len(qids)
        or qc.shape[1] != n_halves
        or len(qids) == 0
    ):
        raise ValueError(
            f"query_codes must be a non-empty Q×{n_halves} matrix "
            "matching code_cols"
        )
    if len(probe_sets) != len(qids):
        raise ValueError("probe_sets must align with query_ids")
    by_cent: dict[int, "np.ndarray"] = {}
    for qi, probes in enumerate(probe_sets):
        for c in dict.fromkeys(int(c) for c in probes):
            by_cent.setdefault(c, []).append(qi)
    by_cent = {c: np.asarray(v, dtype=np.int64) for c, v in by_cent.items()}
    union_probes = sorted(by_cent)
    if not union_probes:
        # all-empty probe sets would silently return an empty result
        # (isin([]) filters every row) — fail loudly like the other
        # degenerate-input guards (ADVICE r13)
        raise ValueError("every probe set is empty — nothing to scan")

    id_field = next(f for f in layout.schema.fields if f.name == id_col)
    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            id_field,
            StructField("hamming", IntegerType(), False),
        ]
    )
    pruned = layout.filter(
        F.col(centroid_col).isin(union_probes)
    ).select(id_col, centroid_col, *code_cols)

    def popcnt64(x: "np.ndarray") -> "np.ndarray":
        # same SWAR form as knn_join_arrow_hamming
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
        )
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        return (
            (x * np.uint64(0x0101010101010101)) >> np.uint64(56)
        ).astype(np.int64)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cents = pdf[centroid_col].to_numpy()
            for c in np.unique(cents):
                qsel = by_cent.get(int(c))
                if qsel is None:
                    continue
                sub = pdf[cents == c]
                ids = sub[id_col].to_numpy()
                d = None
                for h, col in enumerate(code_cols):
                    half = (
                        sub[col].to_numpy().astype(np.int64).view(np.uint64)
                    )
                    dh = popcnt64(half[:, None] ^ qc[qsel][None, :, h])
                    d = dh if d is None else d + dh
                kk = min(k, d.shape[0])
                part = np.argpartition(d, kk - 1, axis=0)[:kk]
                bound = np.take_along_axis(d, part, axis=0).max(axis=0)
                ri, qi = np.nonzero(d <= bound[None, :])
                yield pd.DataFrame(
                    {
                        "query_id": qids[qsel][qi],
                        id_col: ids[ri],
                        "hamming": d[ri, qi].astype(np.int32),
                    }
                )

    cand = pruned.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col(id_col).asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_join_arrow_hamming_ivf_rescored(
    codes: DataFrame,
    floats: DataFrame,
    query_ids: list[int],
    query_vecs: list[list[float]],
    query_codes: list[list[int]],
    probe_sets: list[list[int]],
    k: int = 5,
    overfetch: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_cols: tuple[str, ...] = ("bq_lo", "bq_hi"),
    centroid_col: str = "centroid",
) -> DataFrame:
    """PRODUCTION composed BQ×IVF serving shape — the rescore stage the
    raw-Hamming tier (:func:`knn_join_arrow_hamming_ivf`) is missing:

    1. Hamming SHORTLIST: scan only each query's probed inverted lists
       over the 16×-smaller packed codes, keep the top ``k·overfetch``
       per query (integer-exact, all boundary ties emitted).
    2. Float RESCORE: join the shortlist ids back to the FULL-PRECISION
       vectors (pruned to the same probed partitions — at 100 TB the
       float fetch is id-lookups inside already-probed lists, never a
       full scan) and re-rank by exact L2, the ``pq_rerank_topk``
       two-phase pattern applied to the binary tier.

    Cost model at corpus size N, Q queries: popcount work is the
    composed tier's (nprobe/k_cents)·N·Q word-ops; float work drops
    from the IVF tier's (nprobe/k_cents)·N·Q·D multiply-adds to
    Q·k·overfetch·D — the shortlist, not the probed lists. Recall is
    the nprobe curve × the BQ-overfetch rescore curve (both priced in
    RECALL_CURVE.json; ``bq_overfetch`` shows rescore at ov=16 buying
    raw Hamming's 0.33 back to ≈0.70 on the fixture corpus).

    The rescore stage is pure Catalyst (broadcast the tiny shortlist,
    ``zip_with``/``aggregate`` left-fold in codegen) — no second
    Python/Arrow hop. Exactness contract of the exact kernels: rank
    window on (round(dist, 6), id). Output:
    (query_id, id_col, dist, rank ≤ k) with ``dist`` the exact L2
    recomputed in double — RAW, callers round for display.
    """
    if overfetch < 1:
        raise ValueError(f"overfetch must be >= 1, got {overfetch}")
    if len(query_vecs) != len(query_ids):
        raise ValueError("query_vecs must align with query_ids")
    short = knn_join_arrow_hamming_ivf(
        codes,
        query_ids,
        query_codes,
        probe_sets,
        k=k * overfetch,
        id_col=id_col,
        code_cols=code_cols,
        centroid_col=centroid_col,
    )
    union_probes = sorted({int(c) for ps in probe_sets for c in ps})
    spark = floats.sparkSession
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in zip(query_ids, query_vecs)],
        schema="query_id long, __qv array<double>",
    )
    pruned = floats.filter(F.col(centroid_col).isin(union_probes)).select(
        id_col, vec_col
    )
    resc = (
        pruned.join(F.broadcast(short.select("query_id", id_col)), id_col)
        .join(F.broadcast(qdf), "query_id")
        .withColumn(
            "dist",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col).cast("array<double>"),
                        F.col("__qv"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("dist"), 6).asc(), F.col(id_col).asc()
    )
    return (
        resc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "dist", "rank")
    )
