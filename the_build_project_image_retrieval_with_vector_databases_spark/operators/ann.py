"""Approximate nearest-neighbor search — the scale path for J1.

The reference ships exact ``IndexFlatL2`` (brute force). At 100 TB the
brute-force scan is a last resort; the engine layers two classic ANN
schemes on top of the same embeddings table, both expressed as DataFrame
ops so Catalyst's partition pruning does the index lookup:

- **IVF (inverted file)**: KMeans centroids (MLlib) → every vector is
  assigned its nearest centroid id → table written
  ``partitionBy("centroid")``. A query probes the ``nprobe`` nearest
  centroids; the centroid filter becomes *partition pruning* on the
  parquet scan — the FAISS ``IndexIVFFlat`` analogue, with Spark's
  storage layout as the inverted lists.
- **Random-hyperplane LSH** (cosine): k sign-bits of projections onto
  fixed Gaussian hyperplanes → bucket key; near-dup/candidate search
  joins on bucket. Deterministic seeded projections (NumPy RNG),
  evaluated as a Catalyst expression over the embedding array — no UDF.

Both come with recall property tests vs the exact operator
(tests/test_ann.py) rather than a DuckDB oracle — the driver records the
weaker rows-only check for them (SURVEY §5.2).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import array_lit, l2_dist

try:  # MLlib is in the base image; guard anyway for minimal installs
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    _HAVE_MLLIB = True
except Exception:  # pragma: no cover
    _HAVE_MLLIB = False


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def train_centroids(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[float]]:
    """KMeans centroids for the IVF coarse quantizer (driver-side list,
    tiny: k × D floats)."""
    if not _HAVE_MLLIB:
        raise RuntimeError("pyspark.ml unavailable")
    km = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="__features")
    model = km.fit(df.select(array_to_vector(F.col(vec_col)).alias("__features")))
    return [c.tolist() for c in model.clusterCenters()]


def assign_centroids(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid id per row, as a pure Catalyst expression:
    argmin over the (broadcast-literal) centroid array. No UDF, no shuffle."""
    cents = array_lit(centroids, "array<array<double>>")
    dists = F.transform(cents, lambda c: l2_dist(F.col(vec_col), c))
    # argmin = position of the minimum (first occurrence wins, 0-based)
    assigned = F.array_position(dists, F.array_min(dists)) - 1
    return df.withColumn("centroid", assigned.cast("int"))


def assign_centroids_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid id per row via an Arrow-batched BLAS matmul —
    the LARGE-k assignment path.

    :func:`assign_centroids` inlines the centroids as a k·D expression
    literal: ideal up to k in the hundreds (pure codegen, no UDF), but
    the plan itself grows with k·D and falls over long before k reaches
    corpus-sized cluster counts (``k_for_corpus`` at 10¹⁰ docs is
    k ≈ 4·10⁷). This variant broadcasts the centroid matrix as a numpy
    array inside a ``mapInPandas`` closure and scores each Arrow batch
    with one B×D @ D×k matmul (argmin over ||c||² − 2·x·c; the ||x||²
    term is constant per row and cannot change the argmin) — the same
    CPU-side shape FAISS uses for its coarse quantizer. Still map-only,
    no shuffle; memory bound = k·D·8 bytes per executor (k ≈ 10⁶ at
    64-D ≈ 0.5 GB; beyond that, shard the centroids and argmin the
    per-shard minima).

    Caveat vs the literal path: distances accumulate in a different
    order (BLAS vs left-fold), so a pair of centroids equidistant to
    ~1 ulp can tie-break differently — use the quantized-integer
    assignment (:func:`kmeans_lloyd_step`) where cross-engine exactness
    matters; this is the throughput path."""
    import pandas as pd

    cents = np.asarray(centroids, dtype=np.float64)
    if cents.ndim != 2 or cents.shape[0] == 0:
        raise ValueError("assign_centroids_arrow requires a k×D centroid matrix")
    c2 = (cents * cents).sum(axis=1)

    from pyspark.sql.types import IntegerType, StructField, StructType

    # mirror withColumn semantics: re-assignment over a df that already
    # carries 'centroid' (e.g. a previous pass) overwrites, never
    # duplicates the field
    if "centroid" in df.columns:
        df = df.drop("centroid")
    out_schema = StructType(
        list(df.schema.fields) + [StructField("centroid", IntegerType(), False)]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf = pdf.copy()
                pdf["centroid"] = pd.Series([], dtype="int32")
                yield pdf
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            d = c2[None, :] - 2.0 * (x @ cents.T)
            pdf = pdf.copy()
            pdf["centroid"] = d.argmin(axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(score, out_schema)


KMEANS_SCALE = 1 << 20


def quantize_vec(col, scale: int = KMEANS_SCALE):
    """float vector → exact int64 vector: floor(x·scale + 0.5) per dim
    (round-half-up without either engine's round() divergence). float→
    double widening and the two float ops are bit-identical cross-engine,
    and everything downstream is integer-exact."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c,
        lambda x: F.floor(
            x.cast("double") * F.lit(float(scale)) + F.lit(0.5)
        ).cast("long"),
    )


def assign_cids_arrow_int(
    q: DataFrame,
    cents_q: list[list[int]],
    id_col: str = "vec_id",
    with_dist2: bool = False,
) -> DataFrame:
    """(id, cid[, dist2]) exact integer argmin assignment — the lean
    Arrow twin of the k·D expression-literal argmin
    (``_semantic_assign`` / :func:`kmeans_lloyd_step`): distances are
    exact int64 (|q−c|² = |q|² − 2·q·c + |c|²; the per-row |q|²
    constant shifts every centroid's distance equally, so np.argmin's
    first-min tie-break equals
    ``array_position(dists, array_min(dists))``). With ``with_dist2``
    the per-row |q|² term is added back so ``dist2`` is the exact
    int64 L2² of the winning centroid (identical to the expression
    fold Σ(a−b)² — same integers, no float anywhere).
    Map-only, centroids ride the closure (k·D·8 bytes per task), and
    ONLY the id, cid (and optionally dist2) cross back over the Arrow
    boundary — not the quantized vector (guide §4.1: pass only the
    columns the function needs, both directions)."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cents = np.asarray(cents_q, dtype=np.int64)
    c2 = (cents * cents).sum(axis=1)
    id_field = next(f for f in q.schema.fields if f.name == id_col)
    fields = [id_field, StructField("cid", IntegerType(), False)]
    if with_dist2:
        fields.append(StructField("dist2", LongType(), False))
    out_schema = StructType(fields)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                out = {id_col: pdf[id_col], "cid": pd.Series([], dtype="int32")}
                if with_dist2:
                    out["dist2"] = pd.Series([], dtype="int64")
                yield pd.DataFrame(out)
                continue
            x = np.asarray(pdf["qv"].tolist(), dtype=np.int64)
            d = c2[None, :] - 2 * (x @ cents.T)
            out = {id_col: pdf[id_col], "cid": d.argmin(axis=1).astype("int32")}
            if with_dist2:
                q2 = (x * x).sum(axis=1)
                out["dist2"] = d.min(axis=1) + q2
            yield pd.DataFrame(out)

    return q.select(id_col, "qv").mapInPandas(score, out_schema)


def kmeans_lloyd_step(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = KMEANS_SCALE,
    centroids_q: list[list[int]] | None = None,
    pre_quantized: DataFrame | None = None,
) -> DataFrame:
    """One distributed Lloyd iteration of k-means, value-exact across
    engines — the training step behind the IVF coarse quantizer
    (reference trains it inside FAISS, ``utils/faiss_utils.py:7-9``),
    expressed as DataFrame ops so every piece is auditable: MLlib's
    KMeans (:func:`train_centroids`) stays the deploy path, this is the
    oracle-checkable core loop.

    Exactness: vectors quantize to int64 (:func:`quantize_vec`);
    init centroids = the ``k`` lowest-``id_col`` quantized vectors
    (deterministic, an O(k·D) driver collect); assignment = argmin of
    exact integer L2² with first-min tie-break (the
    :func:`assign_centroids` idiom); new centroid means = two mirrored
    IEEE divisions on exact operands. No float aggregate anywhere, so
    accumulation order is irrelevant.

    Scale shape: assignment is map-only (centroids are a broadcast
    literal, k·D ints); the update is ONE hash shuffle keyed
    (cid, dim) — k·D groups — with map-side partial aggregation.
    Output: k·D rows (cid, dim, n_members, mean)."""
    from ..sources.tables import spread

    if k < 1:
        raise ValueError("kmeans_lloyd_step requires k >= 1")
    # the training loop passes the persisted quantized table so each
    # round skips the scan + quantize (pre_quantized carries (id, qv))
    if pre_quantized is not None:
        q = pre_quantized
    else:
        q = spread(df).select(
            F.col(id_col), quantize_vec(vec_col, scale).alias("qv")
        )
    if centroids_q is not None:
        init = [list(c) for c in centroids_q]
    else:
        init = [r.qv for r in q.orderBy(id_col).limit(k).collect()]
    if not init:
        raise ValueError("kmeans_lloyd_step on an empty table")
    cents = array_lit(init, "array<array<bigint>>")
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col("qv"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    assigned = q.withColumn(
        "cid", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    )
    sums = (
        assigned.select("cid", F.posexplode("qv").alias("dim", "qval"))
        .groupBy("cid", "dim")
        .agg(F.count("*").alias("n_members"), F.sum("qval").alias("s"))
    )
    return sums.select(
        "cid",
        "dim",
        "n_members",
        (
            (F.col("s").cast("double") / F.col("n_members").cast("double"))
            / F.lit(float(scale))
        ).alias("mean"),
    )


def _lloyd_round_partials(
    q: DataFrame, cents_q: list[list[int]], n_parts: int | None = None
) -> dict[int, tuple[int, list[int]]]:
    """One Lloyd round's per-cluster (member count, per-dim int64 sums)
    — the training loop's hot path, VALUE-IDENTICAL to
    :func:`kmeans_lloyd_step`'s assignment + posexplode aggregate but
    shaped for a driver-looped round (optimization guide §1.2/§4.2):

    - assignment: exact integer argmin via one numpy int64 matmul per
      Arrow batch (|q−c|² = |q|² − 2·q·c + |c|²; the per-row |q|²
      constant cannot change the argmin OR its ties, so np.argmin's
      first-min tie-break equals ``array_position(dists,
      array_min(dists))`` over the full distances — the
      ``_assign_arrow_int`` identity, parity-pinned in
      tests/test_staged_ops.py);
    - sums: per-task np.add.at partials (map-side aggregation — the
      shuffle carries ≤ k rows per task, same as the posexplode form's
      partial aggregate, WITHOUT generating the n×D exploded rows);
    - the changing centroids live in the Python closure, NOT as plan
      literals, so the JVM plan is round-invariant and per-round
      whole-stage-codegen recompilation disappears (the literal form
      re-codegens 2 stages every round — measured 0.35-0.5 s/round of
      pure compile at sf0.1).

    Returns {cid: (n_members, [Σ qv[d] per dim])} — int64-exact sums,
    the same accumulator type and the same values as the SQL form.

    Driver-pull discipline: each task emits ≤ k partial rows. Below
    ``FOLD_MAX_PARTITIONS`` tasks the partials are collected and folded
    on the driver (integer addition — associative, order-free; bounded
    by partitions·k·(D+2) longs ≈ single-digit MB, the same driver
    state class as MLlib's per-round aggregate). Above it, a k-row
    hash aggregate runs in Spark first (map-side partial, shuffle of
    ≤ k rows per task) and only k rows reach the driver — so the pull
    is bounded at ANY cluster width, parameterised, not tuned to
    local[32]."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    k = len(cents_q)
    dim = len(cents_q[0])
    cents = np.asarray(cents_q, dtype=np.int64)
    c2 = (cents * cents).sum(axis=1)
    out_schema = StructType(
        [
            StructField("cid", IntegerType(), False),
            StructField("n", LongType(), False),
        ]
        + [StructField(f"s{d}", LongType(), False) for d in range(dim)]
    )

    def partials(batches):
        S = np.zeros((k, dim), dtype=np.int64)
        N = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            x = np.asarray(pdf["qv"].tolist(), dtype=np.int64)
            cid = (c2[None, :] - 2 * (x @ cents.T)).argmin(axis=1)
            np.add.at(S, cid, x)
            N += np.bincount(cid, minlength=k)
        if not seen:
            return
        nz = np.flatnonzero(N)
        out = {"cid": nz.astype("int32"), "n": N[nz]}
        for d in range(dim):
            out[f"s{d}"] = S[nz, d]
        yield pd.DataFrame(out)

    part_df = q.select("qv").mapInPandas(partials, out_schema)
    if n_parts is None:
        n_parts = q.rdd.getNumPartitions()
    if n_parts > FOLD_MAX_PARTITIONS:
        part_df = part_df.groupBy("cid").agg(
            F.sum("n").alias("n"),
            *[F.sum(f"s{d}").alias(f"s{d}") for d in range(dim)],
        )
    sums: dict[int, tuple[int, list[int]]] = {}
    for r in part_df.collect():
        cid = int(r[0])
        n0, s0 = sums.get(cid, (0, [0] * dim))
        sums[cid] = (n0 + r[1], [a + b for a, b in zip(s0, r[2:])])
    return sums


# Partial-collect bound for the training loop: below this many tasks
# the per-task (cid, n, sums) partials go straight to the driver
# (≤ FOLD_MAX_PARTITIONS·k rows); above it a k-row Spark aggregate runs
# first. 256 tasks × k=8 × (D+2)=66 longs ≈ 1 MB — far under any
# driver budget, while skipping a whole shuffle stage per round on
# small/medium layouts.
FOLD_MAX_PARTITIONS = 256

# Driver-training bound for kmeans_train_exact, in bytes of collected
# int64 state (rows × D × 8): at or below it the quantized table is
# collected ONCE and every Lloyd round runs on the driver in numpy — the
# same int64 argmin/sum kernel and the same Python mean→requantize math
# the distributed rounds use, so the trained centroids are bit-identical
# (parity-pinned). 32 MiB is 65,536 rows at D=64 but only 4,096 rows at
# D=1024 — the MLlib-driver class either way; a row count alone would
# let the collect grow with D. The win is structural, not a local tune:
# each distributed round costs one job submit + Arrow boundary + collect
# (~0.25 s at ANY tiny size, measured sf0.1), i.e. max_iter × fixed job
# latency for data that fits in one task; above the gate the distributed
# loop is unchanged.
KMEANS_DRIVER_TRAIN_MAX_BYTES = 32 << 20


def _kmeans_train_driver(
    df: DataFrame,
    k: int,
    max_iter: int,
    vec_col: str,
    id_col: str,
    scale: int,
) -> tuple[list[list[float]], int]:
    """Driver-side Lloyd loop for tables at/below
    ``KMEANS_DRIVER_TRAIN_MAX_BYTES`` — ONE Spark job (the quantize +
    collect; quantization stays the pinned Spark expression), then
    every round is pure numpy with the exact integers the distributed
    loop computes: assignment is the identical
    ``argmin(|c|² − 2·x@cᵀ)`` int64 kernel of
    :func:`_lloyd_round_partials` (the per-row |q|² shift argument),
    per-cluster sums are int64-exact (the byte gate admits n ≤ 2²² rows;
    with |qv| < 2³⁰ that keeps Σ < 2⁵²), and the mean → re-quantize math
    is byte-for-byte the same Python code the distributed loop runs on
    its folded sums. No per-round job submit / Arrow boundary / collect
    — the measured ~0.25 s × max_iter fixed cost of looping tiny data
    through the cluster."""
    import math

    rows = (
        df.select(F.col(id_col), quantize_vec(vec_col, scale).alias("qv"))
        .collect()
    )
    if not rows:
        raise ValueError("kmeans_train_exact on an empty table")
    rows.sort(key=lambda r: r[0])  # ≡ orderBy(id): ids are unique
    X = np.asarray([list(r.qv) for r in rows], dtype=np.int64)
    cents_q: list[list[int]] = [
        [int(v) for v in X[i]] for i in range(min(k, len(X)))
    ]
    k_eff = len(cents_q)
    dim = len(cents_q[0])
    rounds = 0
    for rounds in range(1, max_iter + 1):
        cents = np.asarray(cents_q, dtype=np.int64)
        c2 = (cents * cents).sum(axis=1)
        cid = (c2[None, :] - 2 * (X @ cents.T)).argmin(axis=1)
        new_q: list[list[int]] = []
        for c in range(k_eff):
            mask = cid == c
            n = int(mask.sum())
            if n:
                s = X[mask].sum(axis=0)
                nf = float(n)
                new_q.append(
                    [
                        math.floor(
                            ((float(int(s[d])) / nf) / float(scale))
                            * float(scale)
                            + 0.5
                        )
                        for d in range(dim)
                    ]
                )
            else:
                new_q.append(list(cents_q[c]))  # empty cluster: keep
        if new_q == cents_q:
            break
        cents_q = new_q
    return (
        [[v / float(scale) for v in c] for c in cents_q],
        rounds,
    )


def kmeans_train_exact(
    df: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = KMEANS_SCALE,
    driver_train_max_bytes: int | None = None,
) -> tuple[list[list[float]], int]:
    """Full Lloyd training by iterating :func:`kmeans_lloyd_step` —
    quantized k-means, bit-reproducible on any cluster size or data
    layout (every per-round quantity is integer-exact; nothing depends
    on partition order or float accumulation order).

    Between rounds only the k·D centroid matrix visits the driver —
    the same O(k·D) state MLlib's driver holds. New centroids
    re-quantize through the same floor(x·scale + 0.5) as the data;
    a cluster that loses all members keeps its previous centroid.
    Converges (early-exits) when the quantized centroid matrix is a
    fixed point — which implies the assignment is too.

    Returns (centroids as floats in data units, rounds actually run).
    Deploy note: MLlib's :func:`train_centroids` remains the fast path;
    this is the auditable/reproducible one (one oracle-checkable step =
    ``kmeans_lloyd_step``, the registry's ``kmeans_step``).

    When rows × D × 8 is at or below ``KMEANS_DRIVER_TRAIN_MAX_BYTES``
    (override via ``driver_train_max_bytes``; the test seam) the
    quantized table is collected once and all rounds run driver-side in
    numpy — identical integers end to end (same argmin kernel, same
    int64 sums, same Python mean→requantize), pinned by
    test_kmeans_driver_and_distributed_training_agree. Every
    invocation still scans the parquet input; nothing persists across
    calls."""
    import math

    rounds = 0
    # quantize ONCE and persist for the whole loop — each round starts
    # from the cached (id, qv) blocks instead of re-running the
    # scan/cast pipeline — and size the layout to the DATA: the loop
    # launches 1-2 stages per round, so tiny partitions are pure task-
    # launch overhead ×10 rounds (32-wide at sf0.1 = 62 rows/task,
    # measured 9.6 s; ~512 rows/task = 4 partitions, 4.5 s). At real
    # widths n/512 exceeds the cluster parallelism and the cap keeps
    # every core busy. Exactness is partition-independent (integer
    # argmin + integer sums), so the layout is purely a cost knob.
    # The sizing job reads D alongside the row count, so the byte gate
    # costs no extra job.
    n_rows, dim = df.agg(F.count(F.lit(1)), F.max(F.size(vec_col))).first()
    limit = (
        KMEANS_DRIVER_TRAIN_MAX_BYTES
        if driver_train_max_bytes is None
        else driver_train_max_bytes
    )
    if n_rows * max(dim or 0, 0) * 8 <= limit:
        return _kmeans_train_driver(
            df, k, max_iter, vec_col, id_col, scale
        )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    target = max(1, min(parallelism, -(-n_rows // 512)))
    q = (
        df.select(F.col(id_col), quantize_vec(vec_col, scale).alias("qv"))
        .repartition(target)
        .persist()
    )
    # the init collect (k lowest-id quantized vectors — the same init
    # kmeans_lloyd_step derives when centroids_q is omitted) doubles as
    # the cache-materializing action: one job warms the blocks AND
    # returns the k·D init state, so no separate warm-up scan runs
    init_rows = q.orderBy(id_col).limit(k).collect()
    if not init_rows:
        q.unpersist()
        raise ValueError("kmeans_train_exact on an empty table")
    cents_q: list[list[int]] = [list(r.qv) for r in init_rows]
    k_eff = len(cents_q)
    dim = len(cents_q[0])
    try:
        for rounds in range(1, max_iter + 1):
            # fast round: Arrow partial sums instead of the
            # posexplode form — value-identical; see
            # _lloyd_round_partials. The mean → re-quantize math below
            # replays kmeans_lloyd_step's SQL double ops in the SAME
            # IEEE order ((s→double / n→double) / scale, then
            # floor(mean·scale + 0.5)): Python floats ARE IEEE doubles
            # and int→float conversion rounds to nearest exactly like
            # the JVM long→double cast, so the trained centroids are
            # bit-identical to iterating kmeans_lloyd_step (pinned by
            # test_kmeans_train_exact_matches_python_loop).
            sums = _lloyd_round_partials(q, cents_q, n_parts=target)
            new_q = []
            for cid in range(k_eff):
                if cid in sums:
                    n, s = sums[cid]
                    nf = float(n)
                    new_q.append(
                        [
                            math.floor(
                                ((float(s[d]) / nf) / float(scale))
                                * float(scale)
                                + 0.5
                            )
                            for d in range(dim)
                        ]
                    )
                else:
                    new_q.append(list(cents_q[cid]))  # empty cluster: keep
            if new_q == cents_q:  # quantized fixed point ⇒ assignment fixed
                break
            cents_q = new_q
    finally:
        q.unpersist()
    return (
        [[v / float(scale) for v in c] for c in cents_q],
        rounds,
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: embeddings partitioned by centroid —
    the engine's replacement for ``faiss.write_index`` (S5; reference
    ``utils/faiss_utils.py:11-13``). Partition pruning over this layout
    is the inverted-list probe."""
    assigned = assign_centroids(df, centroids, vec_col)
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(path)


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance — the answer to 'how do I add
    vectors without rebuilding?': assign the NEW batch to the existing
    coarse quantizer and APPEND into the partitioned layout. Each append
    writes only its own partition files (existing files untouched);
    readers see the merged inverted lists on the next scan, and partition
    pruning keeps working because the directory key is unchanged. Re-run
    :func:`train_centroids` + full rewrite only when drift degrades
    recall (same trade FAISS makes with a frozen coarse quantizer)."""
    assigned = assign_centroids(df, centroids, vec_col)
    assigned.write.mode("append").partitionBy("centroid").parquet(path)


def nearest_centroids(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """Ids of the ``nprobe`` centroids nearest the query (stable L2
    order) — the probe-selection step shared by every IVF-family search."""
    q = np.asarray(query_vec, dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    order = np.argsort(((cents - q) ** 2).sum(axis=1), kind="stable")
    return [int(i) for i in order[:nprobe]]


def ivf_search(
    spark_or_df,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    path: str | None = None,
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroid partitions, exact top-k inside.

    With ``path`` (the partitioned layout) the centroid IN-filter prunes
    parquet partitions — only nprobe/k of the corpus is read. Given a
    DataFrame, the filter still short-circuits the scan after the cheap
    ``centroid`` comparison."""
    q = [float(x) for x in query_vec]
    probe = nearest_centroids(centroids, q, nprobe)

    if path is not None:
        df = spark_or_df.read.parquet(path)
    else:
        df = spark_or_df
        if "centroid" not in df.columns:
            df = assign_centroids(df, centroids, vec_col)
    qlit = array_lit(q)
    return (
        df.filter(F.col("centroid").isin(probe))
        .withColumn("dist", l2_dist(F.col(vec_col), qlit))
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_search_batch(
    layout: DataFrame,
    centroids: list[list[float]],
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Batched IVF kNN join — the serving-at-scale shape: Q queries share
    ONE pruned scan instead of Q probe jobs.

    Probe selection runs driver-side per query (numpy over the tiny
    centroid table, same as FAISS's coarse quantizer); the scan filter is
    the UNION of all probe sets, so parquet partition pruning reads
    ``|∪probes|/k_cents`` of the corpus once. Each query then keeps only
    its own probes via a broadcast join + ``array_contains``, distances
    fuse into the scan stage, and the per-query top-k plans as the
    two-phase ``WindowGroupLimit`` (≤k rows per query per map partition
    cross the one shuffle). At 100 TB: scan bytes amortize across the
    whole query batch and nothing but Q×k×P rows ever moves.
    """
    from pyspark.sql import Window

    probe_sets = {
        int(qid): nearest_centroids(centroids, qvec, nprobe)
        for qid, qvec in queries
    }
    union_probes = sorted({c for ps in probe_sets.values() for c in ps})

    spark = layout.sparkSession
    qdf = spark.createDataFrame(
        [
            (int(qid), [float(x) for x in qvec], probe_sets[int(qid)])
            for qid, qvec in queries
        ],
        "query_id long, __qvec array<double>, __probes array<int>",
    )
    scored = (
        layout.filter(F.col("centroid").isin(union_probes))
        .crossJoin(F.broadcast(qdf))
        .filter(F.array_contains("__probes", F.col("centroid").cast("int")))
        .withColumn("dist", l2_dist(F.col(vec_col), F.col("__qvec")))
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("__qvec", "__probes")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (cosine)
# ---------------------------------------------------------------------------


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def k_for_corpus(n_rows: int, target_occupancy: int = 256) -> int:
    """Cluster count sized to the corpus: k = ceil(n / occupancy).

    The cluster-blocked operators (``semantic_dedup``, IVF probing) do
    O(m²) or O(m) work per cluster of size m; holding k FIXED while the
    corpus grows makes m ∝ N and the blocked self-join quadratic — the
    same failure mode as a fixed LSH plane count
    (:func:`planes_for_corpus`) or a fixed shuffle partition count.
    Sizing k with the corpus holds per-cluster work constant; SemDeDup
    itself (arXiv:2303.09540) sizes k ≈ N/occupancy this way."""
    import math as _math

    return max(1, _math.ceil(max(1, n_rows) / max(1, target_occupancy)))


def planes_for_corpus(
    n_rows: int,
    dim: int,
    target_occupancy: int = 16,
    seed: int = 42,
    max_planes: int = 62,
) -> list[list[float]]:
    """Hyperplane set sized to the corpus: P = ceil(log2(n / occupancy)).

    Sign-LSH candidate volume is ~n^2 / 2^P; with a FIXED plane count the
    per-bucket occupancy grows linearly with the corpus and the candidate
    join grows quadratically (measured: the 100x sweep's fixed-8-plane
    ``lsh_near_dup`` ran super-linear purely on chance collisions). The
    bucket count must scale with the corpus — the same sizing rule as
    shuffle partitions. P is capped at 62 so the integer bucket key stays
    within a signed 64-bit long.
    """
    p = max(1, math.ceil(math.log2(max(2, n_rows) / max(1, target_occupancy))))
    return hyperplanes(dim, min(p, max_planes), seed=seed)


def lsh_bucket(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Sign-bit bucket key: bit_i = 1 if v·h_i > 0. Pure expression
    (dot products over literal plane arrays) — codegen'd, no UDF."""
    from ..functions.vector import dot

    key = None
    for i, h in enumerate(planes):
        bit = F.when(
            dot(F.col(vec_col), array_lit(h)) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        key = bit if key is None else key + bit
    return df.withColumn(out_col, key.cast("long"))


def brp_lsh_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 8,
    seed: int = 42,
):
    """MLlib ``BucketedRandomProjectionLSH`` over the embedding column —
    the built-in Euclidean-LSH path SURVEY §7.3 names alongside the
    custom hyperplane LSH (which stays the oracle-checkable default).

    Returns ``(model, featured_df)`` where ``featured_df`` carries the
    ``__features`` vector column the model hashes. At scale the model's
    ``approxSimilarityJoin`` shuffles on (hash-table, bucket) keys —
    the same bucketed-join shape as :func:`lsh_candidates`."""
    if not _HAVE_MLLIB:
        raise RuntimeError("pyspark.ml unavailable")
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    featured = df.withColumn("__features", array_to_vector(F.col(vec_col)))
    brp = BucketedRandomProjectionLSH(
        inputCol="__features",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    return brp.fit(featured), featured


def brp_approx_topk(model, featured: DataFrame, query_vec: list[float], k: int = 10):
    """``approxNearestNeighbors``: candidates = rows sharing ≥1 hash
    bucket with the key, exact L2 on candidates only."""
    from pyspark.ml.linalg import Vectors

    return model.approxNearestNeighbors(
        featured, Vectors.dense([float(x) for x in query_vec]), k, distCol="dist"
    )


def brp_similarity_join(
    model, a: DataFrame, b: DataFrame, threshold: float
) -> DataFrame:
    """``approxSimilarityJoin`` at an L2 distance threshold — the MLlib
    counterpart of :func:`lsh_candidates` + radius verify."""
    return model.approxSimilarityJoin(a, b, threshold, distCol="dist")


def lsh_candidates(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pinned: bool = True,
    carry: list[str] | None = None,
) -> DataFrame:
    """Candidate near-neighbor pairs = same LSH bucket — ONE shuffle on
    the bucket key (r18, guide §2.3/§2.4: the per-bucket combination
    expansion of minhash_lsh_pairs/simhash). The previous self-join
    shuffled the bucketed relation twice AND evaluated the sign-plane
    projection (P literal-array dot products per vector) twice — one
    groupBy collects each bucket's id-sorted rows and posexplode +
    suffix slice emits exactly the i<j pairs, so the projection runs
    once and the broadcast-mis-estimate hazard the shuffle_hash pin
    guarded is gone (no join remains; ``pinned`` stays accepted for
    API compatibility).

    ``carry`` names payload columns to ride the bucket shuffle and come
    back as ``<col>_l`` / ``<col>_r`` on each pair — the caller's
    alternative to re-attaching payloads with two corpus-scale joins
    (guide §8: move the heavy bytes once). Occupancy caveat: a bucket's
    rows are materialized in one aggregation buffer, so ``planes`` must
    keep buckets occupancy-bounded (:func:`planes_for_corpus`) exactly
    as clusters bound :func:`~.dedup.semantic_dedup`."""
    carry = list(carry or [])
    b = lsh_bucket(df, planes, vec_col)
    payload = F.struct(F.col(id_col), *[F.col(c) for c in carry])
    buckets = (
        b.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(payload)).alias("__rows"))
        .filter(F.size("__rows") > 1)
    )
    return (
        buckets.select(
            "bucket", "__rows", F.posexplode("__rows").alias("__pos", "__l")
        )
        .select(
            "bucket",
            "__l",
            F.explode(
                F.slice("__rows", F.col("__pos") + F.lit(2), F.size("__rows"))
            ).alias("__r"),
        )
        .select(
            F.col(f"__l.{id_col}").alias("left_id"),
            F.col(f"__r.{id_col}").alias("right_id"),
            "bucket",
            *[F.col(f"__l.{c}").alias(f"{c}_l") for c in carry],
            *[F.col(f"__r.{c}").alias(f"{c}_r") for c in carry],
        )
    )


def ivf_balance_stats(layout: DataFrame) -> DataFrame:
    """Per-inverted-list size diagnostics for a materialized IVF layout
    (the ``write_ivf_index`` partitionBy(centroid) parquet) — staged
    r16, r20 registration candidate. The list-size imbalance factor is
    THE first number an IVF operator checks before tuning nprobe: probe
    latency is bounded by the largest probed list, so a skewed coarse
    quantizer (imbalance ≫ 1) wastes the nprobe budget on one hot list
    (the λ imbalance factor of the FAISS index-statistics docs;
    Jégou et al. 2011 §IVFADC sizing).

    Per centroid: ``n_vectors``, ``frac`` of the corpus, and
    ``imbalance`` = n_vectors / mean list size (= n·k/N, an int-ratio
    double — exact cross-engine). Scale shape: the count per centroid
    is a columnar scan of the partition column only (column pruning:
    no vector bytes read) with one map-side-partial aggregate to k
    rows; the k-row totals then BROADCAST back — no second corpus
    pass, no window over a global partition."""
    counts = layout.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    totals = counts.agg(
        F.sum("n_vectors").alias("__n"), F.count(F.lit(1)).alias("__k")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col("centroid").cast("int").alias("centroid"),
            F.col("n_vectors"),
            (F.col("n_vectors").cast("double") / F.col("__n").cast("double"))
            .alias("frac"),
            (
                (F.col("n_vectors") * F.col("__k")).cast("double")
                / F.col("__n").cast("double")
            ).alias("imbalance"),
        )
    )
