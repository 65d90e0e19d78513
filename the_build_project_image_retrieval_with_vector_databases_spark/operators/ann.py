"""Approximate nearest-neighbor search — the scale path for J1.

The reference ships exact ``IndexFlatL2`` (brute force). At 100 TB the
brute-force scan is a last resort; the engine layers two classic ANN
schemes on top of the same embeddings table, both expressed as DataFrame
ops so Catalyst's partition pruning does the index lookup:

- **IVF (inverted file)**: exact quantized k-means centroids
  (:func:`kmeans_train_exact`) → every vector is
  assigned its nearest centroid id → table written
  ``partitionBy("centroid")``, one parquet file per list
  (:func:`write_lists`). A query probes the ``nprobe`` nearest
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
import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegralType,
    StructField,
    StructType,
)

from ..functions.vector import array_lit, l2_dist
from ..sources.tables import collect_arrow, driver_parquet_type, local_frame
from .knn import _fits_driver, _isin, _left_fold, _rank, knn_single


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


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
    Arrow twin of ``_semantic_assign``'s k·D expression-literal argmin
    (first-min argmin of integer L2² over floor-quantized vectors):
    distances are
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


def _lloyd_round_partials(
    q: DataFrame, cents_q: list[list[int]], n_parts: int | None = None
) -> dict[int, tuple[int, list[int]]]:
    """One Lloyd round's per-cluster (member count, per-dim int64 sums)
    — the training loop's hot path: first-min argmin of integer L2²
    over the floor-quantized vectors, then int64 sums per cluster —
    value-identical to an expression-literal assignment plus a
    posexplode ``(cid, dim)`` aggregate, but shaped for a driver-looped
    round (optimization guide §1.2/§4.2):

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
    ids: np.ndarray,
    X: np.ndarray,
    k: int,
    max_iter: int,
    scale: int,
) -> tuple[list[list[float]], int]:
    """The driver-side Lloyd loop over collected quantized vectors ``X``
    (n×D int64, row i keyed by ``ids[i]``), shared by
    :func:`kmeans_train_exact` below ``KMEANS_DRIVER_TRAIN_MAX_BYTES``
    and the driver path of ``plans.index_build.build_index``. Every round
    is pure numpy with the exact integers the distributed loop computes:
    assignment is the identical ``argmin(|c|² − 2·x@cᵀ)`` int64 kernel of
    :func:`_lloyd_round_partials` (the per-row |q|² shift argument),
    per-cluster sums are int64-exact (the byte gate admits n ≤ 2²² rows;
    with |qv| < 2³⁰ that keeps Σ < 2⁵²), and the mean → re-quantize math
    is byte-for-byte the same Python code the distributed loop runs on
    its folded sums. No per-round job submit / Arrow boundary / collect
    — the measured ~0.25 s × max_iter fixed cost of looping tiny data
    through the cluster."""
    import math

    if not len(X):
        raise ValueError("kmeans_train_exact on an empty table")
    X = X[np.argsort(ids, kind="stable")]  # ≡ orderBy(id): ids are unique
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
    """Full Lloyd training — quantized k-means (vectors floor-quantized
    by :func:`quantize_vec`; init = the ``k`` lowest-``id_col`` quantized
    vectors; assignment = first-min argmin of integer L2²; new centroid
    = the integer sums divided by the member count, then by ``scale``,
    re-quantized), bit-reproducible on any cluster size or data
    layout (every per-round quantity is integer-exact; nothing depends
    on partition order or float accumulation order).

    Between rounds only the k·D centroid matrix visits the driver —
    the same O(k·D) state MLlib's driver holds. New centroids
    re-quantize through the same floor(x·scale + 0.5) as the data;
    a cluster that loses all members keeps its previous centroid.
    Converges (early-exits) when the quantized centroid matrix is a
    fixed point — which implies the assignment is too.

    Returns (centroids as floats in data units, rounds actually run).
    It is the engine's one k-means trainer: the IVF build
    (``plans.index_build.build_index``) trains with it, or with its
    driver loop (:func:`_kmeans_train_driver`) on the build's own
    collect, so both build paths give the same centroids.

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
        # ONE Spark job: the quantization stays the pinned Spark expression
        rows = df.select(
            F.col(id_col), quantize_vec(vec_col, scale).alias("qv")
        ).collect()
        vecs = [r.qv for r in rows]
        try:
            qv = np.asarray(vecs, dtype=np.int64)
        except (TypeError, ValueError):
            fault = (
                "a null vector or element"
                if any(v is None or None in v for v in vecs)
                else "vectors of different lengths"
            )
            raise ValueError(
                f"kmeans_train_exact: column {vec_col!r} holds {fault}"
            ) from None
        return _kmeans_train_driver(
            np.asarray([r[0] for r in rows]), qv, k, max_iter, scale
        )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    target = max(1, min(parallelism, -(-n_rows // 512)))
    q = (
        df.select(F.col(id_col), quantize_vec(vec_col, scale).alias("qv"))
        .repartition(target)
        .persist()
    )
    # the init collect (the k lowest-id quantized vectors) doubles as
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
            # is (s→double / n→double) / scale, then
            # floor(mean·scale + 0.5), in that IEEE order: Python floats
            # ARE IEEE doubles and int→float conversion rounds to
            # nearest exactly like the JVM long→double cast, so an SQL
            # replay of the same expression yields bit-identical
            # centroids (pinned by
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


def write_lists(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write ``df``, which carries a ``centroid`` column, as IVF
    inverted lists: one ``centroid=<id>`` directory per list, holding
    ONE parquet file per list, as FAISS holds each list as one array. A
    plain ``partitionBy`` writes one file per list from every input
    partition holding rows of it, so a search opens |lists| × |tasks|
    files. With AQE on, a REBALANCE hint shuffles rows by ``centroid``
    first: small lists are packed into shared tasks, so each list gets
    one file, and a skewed list is split into files of about
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so no list
    lands on one task at scale. Spark ignores the hint with AQE off, so
    then the shuffle is a hash repartition on ``centroid``: still one
    file per list."""
    if df.sparkSession.conf.get("spark.sql.adaptive.enabled").lower() == "true":
        df = df.hint("rebalance", "centroid")
    else:
        df = df.repartition("centroid")
    df.write.mode(mode).partitionBy("centroid").parquet(path)


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: embeddings partitioned by centroid,
    one parquet file per inverted list — the engine's replacement for
    ``faiss.write_index`` (S5; reference ``utils/faiss_utils.py:11-13``).
    Partition pruning over this layout is the inverted-list probe.

    Under the bounds of :func:`append_to_ivf_index`'s driver path the
    layout is written in the driver (:func:`_write_lists_driver`, no
    Spark job when ``df`` is a bare local parquet scan, else one
    ``toArrow()`` job); otherwise by :func:`write_lists`. Either way
    ``path`` is replaced, ``_SUCCESS`` marks the finished layout, and
    every row lands in the list :func:`assign_centroids` gives it."""
    if not _write_lists_driver(df, path, centroids, vec_col, overwrite=True):
        write_lists(assign_centroids(df, centroids, vec_col), path)


_NUMERIC_TYPES = (IntegralType, FloatType, DoubleType)


def _local_dir(spark, path: str) -> str | None:
    """The local directory ``path`` names when its Hadoop file system is
    ``file``, else None."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.getScheme() != "file":
        return None
    return fs.makeQualified(jpath).toUri().getPath()


def _driver_dir(df: DataFrame, path: str, vec_col: str) -> str | None:
    """The local directory the driver writer may write ``df`` to at
    ``path``, else None: every column type in
    ``sources.tables.DRIVER_PARQUET_TYPES`` (or an array of one), a
    numeric ``vec_col`` vector, and a ``path`` on the ``file`` Hadoop
    file system. Runs no job."""
    types = [f.dataType for f in df.schema.fields]
    vec_type = df.schema[vec_col].dataType if vec_col in df.columns else None
    if not (
        isinstance(vec_type, ArrayType)
        and isinstance(vec_type.elementType, _NUMERIC_TYPES)
        and all(driver_parquet_type(t) for t in types)
    ):
        return None
    try:  # private JVM API: any failure takes Spark's writer
        return _local_dir(df.sparkSession, path)
    except Exception:
        return None


def _driver_vectors(table, vec_col: str, dim: int | None = None):
    """The n×D float64 matrix of the collected ``table``'s ``vec_col``,
    or None where the driver must not answer: a null anywhere (a column,
    a vector, an element) or a vector whose length is not D (``dim``,
    else the first vector's); the expression distance of a vector of
    another length is null."""
    import pyarrow.compute as pc

    vecs = table.column(vec_col).combine_chunks()
    values = vecs.flatten()
    if any(c.null_count for c in table.columns) or values.null_count:
        return None
    lengths = pc.list_value_length(vecs).to_numpy()
    if dim is None:
        dim = int(lengths[0]) if len(lengths) else 0
    if not (lengths == dim).all():
        return None
    return values.to_numpy().astype(np.float64, copy=False).reshape(-1, dim)


def _assign_driver(x: np.ndarray, cents: np.ndarray):
    """Each row's list: :func:`~.knn._left_fold` distances and a
    first-minimum ``argmin``, the doubles and the tie rule of
    :func:`assign_centroids`. None if a distance is NaN."""
    dists = _left_fold(x, cents)
    if np.isnan(dists).any():
        return None
    return dists.argmin(axis=1)


def _write_list_files(
    spark, path: str, local: str, table, schema: StructType, lists,
    overwrite: bool = False,
) -> None:
    """Write the rows of the collected ``table`` (Spark schema
    ``schema``, no ``centroid`` column) into ``local``, the directory of
    ``path``, as one parquet file per list in ``lists`` (row i goes to
    ``centroid=<lists[i]>/``), written by pyarrow under a hidden name and
    renamed into place, then refresh the cached data of ``path``, as
    Spark's writer does. The files carry Spark's row-schema footer key,
    so ``spark.read.parquet`` reads the same schema whichever file it
    takes it from. ``overwrite`` first removes what is at ``local`` and
    writes ``_SUCCESS`` after the last list file, as Spark's committer
    does, so a reader that takes ``_SUCCESS`` as "complete" never sees
    a partial layout; without it the files are added beside the ones
    there."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    # Spark writes every column nullable, arrays with nullable elements
    schema = StructType(
        [
            StructField(
                f.name,
                ArrayType(f.dataType.elementType, True)
                if isinstance(f.dataType, ArrayType)
                else f.dataType,
                True,
                f.metadata,
            )
            for f in schema.fields
        ]
    )
    table = table.select(schema.names).cast(
        to_arrow_schema(schema).with_metadata(
            {"org.apache.spark.sql.parquet.row.metadata": schema.json()}
        )
    )
    if overwrite:
        if os.path.isdir(local):
            shutil.rmtree(local)
        elif os.path.lexists(local):
            os.remove(local)
    for c in np.unique(lists):
        list_dir = os.path.join(local, f"centroid={c}")
        os.makedirs(list_dir, exist_ok=True)
        name = f"part-{uuid.uuid4()}.c000.snappy.parquet"
        tmp = os.path.join(list_dir, f".{name}.tmp")  # readers skip ".*"
        try:
            # the footer keeps the schema's key-value metadata (the Spark
            # row schema) only when the Arrow schema is stored too. No
            # dictionaries: over distinct floats one is as large as the
            # data, and Spark's writer falls back to plain for them
            pq.write_table(
                table.filter(pa.array(lists == c)), tmp,
                compression="snappy", use_dictionary=False,
            )
            os.replace(tmp, os.path.join(list_dir, name))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
    if overwrite:
        os.makedirs(local, exist_ok=True)
        open(os.path.join(local, "_SUCCESS"), "wb").close()
    spark.catalog.refreshByPath(path)


def _write_lists_driver(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str,
    overwrite: bool = False,
) -> bool:
    """The driver path of :func:`append_to_ivf_index` and
    :func:`write_ivf_index`: ``df`` collected by
    :func:`~..sources.tables.collect_arrow` (pyarrow and no Spark job
    when ``df`` is a bare local parquet scan, else one ``toArrow()``
    job), each row's list by :func:`_assign_driver`, then one pyarrow
    file per list (:func:`_write_list_files`; ``overwrite`` replaces
    ``path``).

    Returns False, having written nothing, where Spark's writer must
    answer: a column type outside ``sources.tables.DRIVER_PARQUET_TYPES``
    or a non-numeric vector, a ``path`` whose Hadoop file system is not
    ``file``, a batch past the kNN driver-path bounds read for its k
    centroids, a null anywhere (a vector, an element, an id), a vector
    whose length is not D, a NaN distance, or no rows to overwrite
    with."""
    cents = np.asarray(centroids, dtype=np.float64)
    data = df.drop("centroid")  # partitionBy leaves it out of the files
    local = _driver_dir(data, path, vec_col)
    plan = None if local is None else _fits_driver(data, len(cents), cents.shape[1])
    if plan is None:
        return False
    table = collect_arrow(data, plan)
    x = _driver_vectors(table, vec_col, cents.shape[1])
    if x is None or (overwrite and not len(x)):
        return False
    lists = _assign_driver(x, cents)
    if lists is None:
        return False
    _write_list_files(
        df.sparkSession, path, local, table, data.schema, lists, overwrite
    )
    return True


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance — the answer to 'how do I add
    vectors without rebuilding?': assign the NEW batch to the existing
    coarse quantizer and APPEND into the partitioned layout. Each append
    writes only its own files (existing files untouched) and adds at
    most one file to each list it touches; readers see the merged
    inverted lists on the next scan, and partition pruning keeps working
    because the directory key is unchanged. Retrain
    (:func:`kmeans_train_exact`) and rewrite the layout
    (:func:`write_ivf_index`) only when drift degrades recall (same
    trade FAISS makes with a frozen coarse quantizer).

    A batch within the kNN driver-path bounds (read for its k
    centroids), on a layout on the local file system, is appended in
    the driver (:func:`_write_lists_driver`), as FAISS's ``index.add``
    runs in process: the batch collected (by pyarrow with no Spark job
    when it is a bare local parquet scan, else by one ``toArrow()``
    job), the assignment in numpy, one pyarrow write per touched list.
    Spark's writer would add a rebalance shuffle and a write job, and
    on the local file system Hadoop forks
    a ``chmod`` for every directory, data file and checksum file it
    makes when no native library is loaded. Every other batch goes
    through :func:`write_lists` (a shuffle of the batch buys one file
    per list). Both paths give every row the same list."""
    if not _write_lists_driver(df, path, centroids, vec_col):
        write_lists(assign_centroids(df, centroids, vec_col), path, "append")


def nearest_centroids(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """Ids of the ``nprobe`` centroids nearest the query (stable L2
    order) — the probe-selection step shared by every IVF-family search.
    ``ValueError`` if ``nprobe < 1``: a slice would read -1 as "all but
    the farthest" and 0 as no probe at all."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
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
    """Probe the ``nprobe`` nearest centroid partitions, exact top-k
    inside: the probe's IN-filter, then :func:`~.knn.knn_single`, which
    holds the single-query top-k (and its driver path: within the
    driver-path bounds the call is eager and the probed lists are
    ranked in the driver).

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
    return knn_single(
        df.filter(_isin("centroid", probe)), q, k=k, vec_col=vec_col,
        id_col=id_col,
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
    probe_sets = {
        int(qid): nearest_centroids(centroids, qvec, nprobe)
        for qid, qvec in queries
    }
    union_probes = sorted({c for ps in probe_sets.values() for c in ps})

    qdf = local_frame(
        layout.sparkSession,
        [
            (int(qid), [float(x) for x in qvec], probe_sets[int(qid)])
            for qid, qvec in queries
        ],
        "query_id long, __qvec array<double>, __probes array<int>",
    )
    scored = (
        layout.filter(_isin("centroid", union_probes))
        .crossJoin(F.broadcast(qdf))
        .filter(F.array_contains("__probes", F.col("centroid").cast("int")))
        .withColumn("dist", l2_dist(F.col(vec_col), F.col("__qvec")))
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col("query_id"))
    return _rank(scored, k, id_col).drop("__qvec", "__probes")


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
    (dot products over literal plane arrays), no UDF; the dot product's
    ``zip_with``/``aggregate`` run interpreted inside the generated
    stage."""
    from ..functions.vector import dot

    key = None
    for i, h in enumerate(planes):
        bit = F.when(
            dot(F.col(vec_col), array_lit(h)) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        key = bit if key is None else key + bit
    return df.withColumn(out_col, key.cast("long"))


def lsh_candidates(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pinned: bool = True,
    carry: list[str] | None = None,
) -> DataFrame:
    """Candidate near-neighbor pairs = same LSH bucket — ONE shuffle on
    the bucket key (guide §2.3/§2.4: the per-bucket combination
    expansion of minhash_lsh_pairs/simhash). A self-join would shuffle
    the bucketed relation twice AND evaluate the sign-plane projection
    (P literal-array dot products per vector) twice — one groupBy
    collects each bucket's id-sorted rows and posexplode + suffix slice
    emits exactly the i<j pairs, so the projection runs once and there
    is no join to carry a broadcast-mis-estimate hazard (``pinned``
    stays accepted for API compatibility).

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
