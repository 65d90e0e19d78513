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
  distributed. A driver-held query over a corpus within the driver-path
  bounds is instead collected and ranked in the driver, with the same
  ``dist`` doubles and order (:func:`knn_single`); the collect is
  :func:`~..sources.tables.collect_arrow`, which reads a bare local
  parquet scan with pyarrow and runs no job, and is one ``toArrow()``
  job otherwise.
- **Query set** → ``crossJoin(broadcast(queries))`` (no shuffle of the
  corpus — the N×Q expansion streams through the scan stage) + per-query
  window rank. Spark ≥3.5 plans the rank filter as a two-phase
  ``WindowGroupLimit`` (Partial before the exchange, Final after), so
  only Q×k×partitions rows shuffle — the FAISS local-heap/merge shape
  comes out of the optimizer, not hand-rolled operators.
- **Driver-held query matrix** → the Arrow kernels (flat and IVF BLAS,
  bit-exact left fold, Hamming over packed codes) share one skeleton,
  the block scan of ``index.search``: :func:`_queries` validates the
  query matrix or codes and groups probe sets by centroid;
  :func:`_blocks` walks the Arrow batches, handing a flat kernel each
  batch whole and an IVF kernel each probed inverted list of a batch
  with only the queries that probe it; the kernel scores a block with
  :func:`_blas`, :func:`_left_fold` or :func:`_hamming`; :func:`_cut`
  keeps each query's k best plus every boundary tie; and :func:`_rank`,
  the one rank window of this module, picks the global top-k.

At 100 TB the corpus never moves: queries broadcast, distances fuse into
the scan stage, and only k rows per (query, partition) survive.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .dedup import _pin

from ..functions.vector import array_lit, cosine_sim, dot, l2_dist
from ..sources.tables import ScanPlan, collect_arrow, local_frame, scan_plan

# The kernels' Arrow closures call this module's helpers. A Python
# worker need not have the package on its path, so cloudpickle ships
# the helpers with each closure rather than importing them there.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_METRICS = {
    "l2": (l2_dist, True),  # (distance fn, ascending?)
    "cosine": (cosine_sim, False),
    "dot": (dot, False),
}

_QUERY_ID = StructField("query_id", LongType(), False)
_DIST = StructField("dist", DoubleType(), False)


def _metric(metric: str) -> tuple:
    """(distance expression builder, ascending?) of ``metric``."""
    try:
        return _METRICS[metric]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")


def _score(metric: str, a, b) -> tuple[Column, bool]:
    fn, asc = _metric(metric)
    return fn(a, b), asc


def _sql_col(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _isin(col: str, values) -> Column | str:
    """The condition ``F.col(col).isin(values)`` for integer ``values``,
    for ``DataFrame.filter``: a SQL string with the values as literals,
    which ``filter`` parses in the JVM in one py4j call (``isin`` makes
    a round trip per value, ``F.expr`` three). The analyzed ``In`` is
    the same."""
    values = [int(v) for v in values]
    if not values:  # SQL has no empty IN list
        return F.col(col).isin(values)
    return f"{_sql_col(col)} IN ({', '.join(map(str, values))})"


def _not_equal(col: str, value) -> Column | str:
    """The condition ``F.col(col) != F.lit(value)`` for
    ``DataFrame.filter``: a SQL string when ``value`` is an integer
    (parsed to the same analyzed ``NOT (col = value)`` in one py4j
    call), else that Column."""
    if isinstance(value, (int, np.integer)) and not isinstance(value, bool):
        return f"{_sql_col(col)} != {int(value)}"
    return F.col(col) != F.lit(value)


# Driver-path bounds for the Arrow/BLAS kernels (knn_join_arrow,
# knn_join_arrow_ivf) and for knn_single, read there for one query. At or
# below both, the kernel's projection is collected by
# sources.tables.collect_arrow (no job when it is a bare local parquet
# scan, such as the probed lists of an IVF layout, else one toArrow()
# job), the kernel's own score generator runs in the driver and the
# candidates are ranked there on the window's key; otherwise the
# mapInPandas + rank-window plan runs unchanged. On a
# few-MB corpus the distributed plan is all floor cost: each Python-worker
# task spends ~230 ms of CPU in PySpark's per-task
# importlib.invalidate_caches() (re-reading pyspark.zip) against 5-22 ms
# of BLAS, and the rank window adds a shuffle job.
#
# ARROW_DRIVER_MAX_BYTES bounds what the driver collects: bytes of the
# relation the kernel reads (sources.tables.scan_plan). ARROW_DRIVER_MAX_PAIRS
# bounds the scoring work: rows estimated from those bytes × queries, the
# entries of the distance matrix. The driver collects and runs the
# kernel's elementwise passes on one Python thread, the distributed plan
# on every executor core, so past either bound the distributed plan
# answers sooner. scripts/knn_driver_crossover.py measured both paths on
# local[4] (4 vCPU; flat kernel, D=128, k=10; KNN_DRIVER_CROSSOVER.json),
# the driver's BLAS on one thread: every cell inside both bounds ran
# faster in the driver, all 15 estimated at ≥ 8.7 Mi pairs ran faster
# distributed, and at Q=64 the driver still won at 37 MiB but lost at 39
# and 70 MiB. ann.append_to_ivf_index reads the same bounds for its k
# centroids; its driver path beat Spark's writer in every cell up to the
# byte bound.
ARROW_DRIVER_MAX_BYTES = 32 << 20
ARROW_DRIVER_MAX_PAIRS = 8 << 20

def _fits_driver(df: DataFrame, n_queries: int, dim: int) -> ScanPlan | None:
    """``df``'s :func:`~..sources.tables.scan_plan` when both driver-path
    bounds hold on its size, else None. A stored float vector takes at
    least 4 bytes a dimension, so size / (4·dim) over-counts the rows."""
    # private JVM API: any failure takes the distributed path
    try:
        plan = scan_plan(df)
    except Exception:
        return None
    size = plan.size
    if (
        size is not None
        and size <= ARROW_DRIVER_MAX_BYTES
        and size // (4 * max(dim, 1)) * n_queries <= ARROW_DRIVER_MAX_PAIRS
    ):
        return plan
    return None


def _round6(d, spark):
    """``F.round(d, 6)`` of a float64 array, value for value. Spark
    rounds HALF_UP the double's decimal string (``Double.toString``),
    then converts back. ``rint(d·1e6) / 1e6`` is the same double
    wherever d·1e6 lies farther than a few ulps from a half-integer;
    the rare values that do not are rounded from the JVM's own
    string."""
    from decimal import ROUND_HALF_UP, Decimal

    y = d * 1e6
    out = np.rint(y) / 1e6
    near = np.abs(y - np.floor(y) - 0.5) <= 1e-9 + 1e-15 * np.abs(y)
    if near.any():
        to_string = spark._jvm.java.lang.Double.toString
        quantum = Decimal("0.000001")
        for i in np.flatnonzero(near):
            dec = Decimal(to_string(float(d[i])))
            out[i] = float(dec.quantize(quantum, ROUND_HALF_UP))
    return out


def _queries(query_ids, mat, probe_sets=None, dtype=np.float64, width=None):
    """``(query ids, Q×D query matrix, probe groups)`` of a driver-held
    query set, validated. ``width`` pins D: the packed-code halves of a
    Hamming kernel, whose codes are ``mat``. Given ``probe_sets`` (the
    centroid ids each query probes), the groups map every probed
    centroid to the positions of the queries probing it; otherwise they
    are None, the flat case."""
    qids = np.asarray(query_ids, dtype=np.int64)
    qm = np.asarray(mat, dtype=dtype)
    if (
        qm.ndim != 2
        or qm.shape[0] != len(qids)
        or (width is not None and qm.shape[1] != width)
        or len(qids) == 0
    ):
        if width is None:
            raise ValueError(
                "query_mat must be a non-empty Q×D matrix matching query_ids"
            )
        raise ValueError(
            f"query_codes must be a non-empty Q×{width} matrix "
            "matching code_cols"
        )
    if probe_sets is None:
        return qids, qm, None
    if len(probe_sets) != len(qids):
        raise ValueError("probe_sets must align with query_ids")
    groups: dict[int, list[int]] = {}
    for qi, probes in enumerate(probe_sets):
        # dedupe: a repeated centroid id would score and emit the
        # query's candidates twice, taking two ranks in the window
        for c in dict.fromkeys(int(c) for c in probes):
            groups.setdefault(c, []).append(qi)
    if not groups:
        # isin([]) would filter every row: an empty answer, not an error
        raise ValueError("every probe set is empty — nothing to scan")
    return qids, qm, {c: np.asarray(v, dtype=np.int64) for c, v in groups.items()}


def _scan(df, id_col, cols, groups, centroid_col):
    """The columns a kernel reads: ``id_col`` and ``cols``, projected
    explicitly because column pruning does not cross mapInPandas (the
    parquet ReadSchema never carries payload columns the kernel
    ignores). An IVF kernel also reads the centroid, and only the
    probed inverted lists: over the ``partitionBy(centroid)`` layout
    the IN-filter is parquet partition pruning, so at 100 TB only
    |∪probes|/k_cents of the corpus leaves storage."""
    if groups is None:
        return df.select(id_col, *cols)
    return df.filter(_isin(centroid_col, sorted(groups))).select(
        id_col, centroid_col, *cols
    )


def _blocks(batches, groups=None, centroid_col=None):
    """``(rows, query selector)`` blocks of a kernel's Arrow batches.
    A flat kernel (``groups`` None) scores every non-empty batch whole
    against all queries, with no per-row grouping work. An IVF kernel
    scores each batch's rows of one probed centroid against only the
    queries probing it: Σ_c |rows_c|·|probers_c| ≈ (nprobe/k_cents)·N·Q
    distance evaluations instead of N·Q."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        if groups is None:
            yield pdf, slice(None)
            continue
        cents = pdf[centroid_col].to_numpy()
        for c in np.unique(cents):
            qsel = groups.get(int(c))
            if qsel is not None:
                yield pdf[cents == c], qsel


def _blas(x, q, qn, metric):
    """B×Q l2 distances, or cosine/dot similarities, of the rows ``x``
    to the queries ``q`` (squared norms ``qn``), by one B×D @ D×Q
    matmul."""
    if metric == "l2":
        d = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ q.T) + qn[None, :]
        return np.sqrt(np.maximum(d, 0.0))
    if metric == "dot":
        return x @ q.T
    xn = np.sqrt((x * x).sum(axis=1))
    return (x @ q.T) / np.maximum(np.sqrt(qn)[None, :] * xn[:, None], 1e-12)


def _left_fold(x, q, metric="l2"):
    """B×Q l2 distances, or cosine/dot similarities, of the rows ``x``
    to the queries ``q``, accumulated ``acc ← acc + (x_j − q_j)²`` (or
    ``acc + x_j·q_j``) one dimension at a time in float64: the same
    IEEE-754 operations in the same order as the ``F.aggregate`` left
    folds of ``functions.vector`` (``l2_dist``, ``dot``, and
    ``cosine_sim``'s ``dot / greatest(l2_norm·l2_norm, 1e-12)``) and
    DuckDB's ``list_reduce`` (float32 → float64 widening is exact, and
    every sqrt is correctly rounded), so the doubles are bit-identical
    to the expression path. A norm is the l2 fold to the origin:
    ``v_j − 0.0`` is ``v_j`` exactly."""
    acc = np.zeros((x.shape[0], q.shape[0]))
    for j in range(q.shape[1]):
        if metric == "l2":
            dj = x[:, j, None] - q[None, :, j]
            acc = acc + dj * dj
        else:
            acc = acc + x[:, j, None] * q[None, :, j]
    if metric == "l2":
        return np.sqrt(acc)
    if metric == "dot":
        return acc
    origin = np.zeros((1, q.shape[1]))
    norms = _left_fold(x, origin) * _left_fold(q, origin).T
    return acc / np.maximum(norms, 1e-12)


def _popcount(x):
    """Set bits of each uint64: SWAR (Hacker's Delight §5-1) on the
    array directly — numpy 1.x has no ``bitwise_count``, and it measured
    4.4× the 256-entry byte-LUT form, whose per-byte fancy-index gather
    dominated serving epochs."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(
        np.int64
    )


def _hamming(pdf, code_cols, qc):
    """B×Q Hamming distances of the rows' packed codes to the query
    codes ``qc``: XOR per int64 half, popcount, summed over halves."""
    d = None
    for h, col in enumerate(code_cols):
        half = pdf[col].to_numpy().astype(np.int64).view(np.uint64)
        dh = _popcount(half[:, None] ^ qc[None, :, h])
        d = dh if d is None else d + dh
    return d


def _cut(key, k, rounded=False):
    """``(rows, queries)`` of the candidates a block passes to the rank
    window: per query column of ``key`` (lower is better), its k best
    plus every row tying the k-th, in one vectorized mask for all
    queries. Non-finite keys (masked rows) never pass.

    Exact keys (integer Hamming, left-fold doubles) tie exactly, so the
    boundary is inclusive and the window's (key, id) order cuts the
    superset to the same ranks a per-query (key, id) sort would give.

    ``rounded`` is the cut for BLAS distances, which carry ~1-ulp noise
    even between exact duplicate vectors (GEMM micro-kernels vary the
    accumulation path by row position). A raw cut would break those ties
    by ulps; this one compares 6-decimal rounded keys, the window's own
    key, so rows the window ranks by id are all emitted. The boundary is
    padded 1.5 quanta: np.round is half-to-even while the window
    (``F.round``) and the DuckDB oracle round HALF_UP, which differ by one
    quantum on an exact .5, and 1.5 rather than 1.0 so the ulp-level
    rounding of ``bound + pad`` never lands below a needed lattice
    point, while admitting no second lattice step."""
    kk = min(k, key.shape[0])
    part = np.argpartition(key, kk - 1, axis=0)[:kk]
    if rounded:
        key = np.round(key, 6)
    bound = np.take_along_axis(key, part, axis=0).max(axis=0)
    if rounded:
        bound = bound + 1.5e-6
    return np.nonzero((key <= bound[None, :]) & np.isfinite(key))


def _rank(cand, k, id_col, key="dist", asc=True, rounded=False, by=("query_id",)):
    """The top-k rows of each ``by`` group of ``cand``, numbered 1..k in
    ``rank`` by (``key``, ``id_col``), the key rounded to 6 decimals
    when ``rounded`` (BLAS distances), descending when not ``asc``.
    Spark plans the rank filter as a two-phase ``WindowGroupLimit``, so
    only k rows per group and map partition cross the exchange."""
    order = F.round(F.col(key), 6) if rounded else F.col(key)
    w = Window.partitionBy(*by).orderBy(
        order.asc() if asc else order.desc(), F.col(id_col).asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


@functools.cache
def _openblas_threads():
    """``(get, set)`` of the thread count of the OpenBLAS loaded in this
    process, or None when none is. NumPy's wheels bundle it as
    ``libopenblas64_``, whose symbols end in ``64_``; a system build
    exports the plain names. Only a library already mapped into the
    process counts (``/proc/self/maps``), so this loads no second copy."""
    import ctypes

    try:
        with open("/proc/self/maps") as f:
            paths = sorted({ln.split()[-1] for ln in f if "openblas" in ln.lower()})
    except OSError:
        return None
    for path in paths:
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for suffix in ("64_", ""):
            get = getattr(lib, f"openblas_get_num_threads{suffix}", None)
            put = getattr(lib, f"openblas_set_num_threads{suffix}", None)
            if get is not None and put is not None:
                get.argtypes, get.restype = [], ctypes.c_int
                put.argtypes, put.restype = [ctypes.c_int], None
                return get, put
    return None


_BLAS_PIN_LOCK = threading.Lock()
_blas_pin = {"depth": 0, "saved": None}


@contextlib.contextmanager
def _one_blas_thread():
    """Run the block with OpenBLAS on one thread, then put back the count
    it had; a no-op when no OpenBLAS is loaded. One thread is what a
    Python-worker task gets (Spark sets a worker's ``OMP_NUM_THREADS`` to
    ``spark.task.cpus``). On the driver path's small products the pool's
    other threads only spin-wait after each GEMM. The count is process
    state, so nested or concurrent blocks share one pin: the first in
    saves the count, the last out restores it."""
    fns = _openblas_threads()
    if fns is None:
        yield
        return
    get, put = fns
    with _BLAS_PIN_LOCK:
        if _blas_pin["depth"] == 0:
            _blas_pin["saved"] = get()
            put(1)
        _blas_pin["depth"] += 1
    try:
        yield
    finally:
        with _BLAS_PIN_LOCK:
            _blas_pin["depth"] -= 1
            if _blas_pin["depth"] == 0:
                put(_blas_pin["saved"])


def _driver_topk(frame, plan, score, schema, k: int, id_col: str, asc: bool):
    """The driver path of :func:`_arrow_topk`: ``frame`` collected by
    :func:`~..sources.tables.collect_arrow` (``plan`` is its
    ``scan_plan``; no job for a bare local parquet scan, else one
    ``toArrow()`` job), ``score`` over the table in record batches of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (as
    mapInPandas feeds it, so each step holds batch × Q distances) with
    OpenBLAS on one thread (:func:`_one_blas_thread`), as a
    Python-worker task runs it, then the window's rank —
    (round(dist, 6), id), descending key for cosine/dot — in pandas.
    Returns an Arrow ``LocalRelation``."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = frame.sparkSession
    out_schema = StructType(
        schema.fields + [StructField("rank", IntegerType(), False)]
    )
    step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    table = collect_arrow(frame, plan)
    batches = (
        b.to_pandas()
        for b in table.to_batches(max_chunksize=step if step > 0 else None)
    )
    with _one_blas_thread():
        parts = list(score(batches))
    if not parts:
        return local_frame(spark, [], out_schema)
    cand = pd.concat(parts, ignore_index=True)
    key = _round6(cand["dist"].to_numpy(dtype=np.float64), spark)
    cand["__key"] = key if asc else -key
    cand = cand.sort_values(["query_id", "__key", id_col], kind="mergesort")
    cand["rank"] = cand.groupby("query_id").cumcount() + 1
    cand = cand[cand["rank"] <= k][[f.name for f in out_schema.fields]]
    return local_frame(
        spark,
        pa.Table.from_pandas(
            cand, schema=to_arrow_schema(out_schema), preserve_index=False
        ),
        out_schema,
    )


def _arrow_topk(frame, score, schema, qm, k: int, id_col: str, asc: bool):
    """Top-k per query of the candidates ``score`` yields over
    ``frame``'s Arrow batches, for the Q×D query matrix ``qm``. Within
    the driver-path bounds this runs eagerly in the driver
    (:func:`_driver_topk`); above them, or when no size estimate can be
    read, it is the lazy mapInPandas plan plus the rank window. Both
    return the same (query_id, id, rank)."""
    plan = _fits_driver(frame, qm.shape[0], qm.shape[1])
    if plan is not None:
        return _driver_topk(frame, plan, score, schema, k, id_col, asc)
    return _rank(frame.mapInPandas(score, schema), k, id_col, asc=asc, rounded=True)


def _blas_topk(
    df, qids, qm, groups, k, metric, vec_col, id_col, centroid_col, exclude_self
):
    """:func:`knn_join_arrow` (``groups`` None) and
    :func:`knn_join_arrow_ivf`: the BLAS block scan, the rounded cut and
    :func:`_arrow_topk`."""
    import pandas as pd

    asc = _METRICS[metric][1]
    qn = (qm * qm).sum(axis=1)
    schema = StructType([_QUERY_ID, df.schema[id_col], _DIST])
    frame = _scan(df, id_col, [vec_col], groups, centroid_col)

    def score(batches):
        for pdf, qsel in _blocks(batches, groups, centroid_col):
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            sel = qids[qsel]
            d = _blas(x, qm[qsel], qn[qsel], metric)
            if exclude_self:
                d[ids[:, None] == sel[None, :]] = np.inf if asc else -np.inf
            ri, qi = _cut(d if asc else -d, k, rounded=True)
            yield pd.DataFrame(
                {"query_id": sel[qi], id_col: ids[ri], "dist": d[ri, qi]}
            )

    return _arrow_topk(frame, score, schema, qm, k, id_col, asc)


def _hamming_topk(df, qids, qc, groups, k, id_col, code_cols, centroid_col):
    """:func:`knn_join_arrow_hamming` (``groups`` None) and
    :func:`knn_join_arrow_hamming_ivf`: the Hamming block scan, the
    exact cut and the (hamming, id) rank."""
    import pandas as pd

    schema = StructType(
        [_QUERY_ID, df.schema[id_col], StructField("hamming", IntegerType(), False)]
    )
    frame = _scan(df, id_col, code_cols, groups, centroid_col)

    def score(batches):
        for pdf, qsel in _blocks(batches, groups, centroid_col):
            d = _hamming(pdf, code_cols, qc[qsel])
            ri, qi = _cut(d, k)
            yield pd.DataFrame(
                {
                    "query_id": qids[qsel][qi],
                    id_col: pdf[id_col].to_numpy()[ri],
                    "hamming": d[ri, qi].astype(np.int32),
                }
            )

    return _rank(frame.mapInPandas(score, schema), k, id_col, key="hamming")


def _driver_single(frame, plan, q, k: int, metric: str, vec_col: str, id_col: str):
    """The driver path of :func:`knn_single`: every column of ``frame``
    collected by :func:`~..sources.tables.collect_arrow` (``plan`` is
    its ``scan_plan``; no job for a bare local parquet scan, such as
    the probed lists of an IVF layout, else one ``toArrow()`` job), the
    :func:`_left_fold` distances of the (N, D) float64 matrix of its
    vectors to ``q``, and the expression
    path's order — ``dist`` (descending for cosine/dot), then ascending
    id — by one ``np.lexsort``. Returns the k rows plus ``dist`` as an
    Arrow ``LocalRelation``, or None where only the expression plan
    gives the answer: a null vector, element or id, a vector whose
    length is not D (its expression ``dist`` is null and sorts first),
    or a NaN distance."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = frame.schema
    if not isinstance(schema[id_col].dataType, IntegralType):
        return None
    table = collect_arrow(frame, plan)
    vecs = table.column(vec_col).combine_chunks()
    values, ids = vecs.flatten(), table.column(id_col)
    if vecs.null_count or values.null_count or ids.null_count:
        return None
    n, dim = len(vecs), len(q)
    if not (pc.list_value_length(vecs).to_numpy() == dim).all():
        return None
    x = values.to_numpy().astype(np.float64, copy=False).reshape(n, dim)
    d = _left_fold(x, q[None, :], metric)[:, 0]
    if np.isnan(d).any():
        return None
    top = np.lexsort((ids.to_numpy(), d if _METRICS[metric][1] else -d))[:k]
    return local_frame(
        frame.sparkSession,
        table.take(top).append_column("dist", pa.array(d[top], pa.float64())),
        StructType(schema.fields + [StructField("dist", DoubleType(), True)]),
    )


def knn_single(
    corpus: DataFrame,
    query_vec,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id=None,
) -> DataFrame:
    """Top-k rows of ``corpus`` nearest to one query vector: the corpus
    columns plus ``dist``, best-first, ties broken by ascending id.

    ``query_vec`` is driver-held values (a list or ndarray) or a
    literal/broadcastable Column (e.g. ``F.lit(...)`` array or a
    scalar-subquery column). A Column plans as a single scan +
    ``TakeOrderedAndProject`` — no shuffle, no UDF.

    Driver-held values within the driver-path bounds of
    :func:`knn_join_arrow` (read for one query) make the call EAGER:
    :func:`_driver_single` collects the corpus and ranks it in the
    driver with the left fold, whose ``dist`` doubles and order are the
    expression plan's, bit for bit. The collect runs no Spark job when
    the corpus is a bare local parquet scan (a layout's probed lists
    are: the probe is a partition filter), and one ``toArrow()`` job
    otherwise, e.g. under ``exclude_id``, a filter on a data column.
    Above the bounds, or where the expression's answer has a null or
    NaN ``dist``, the values become an :func:`array_lit` and the call
    plans as a Column query does.
    """
    fn, asc = _metric(metric)
    out = corpus
    if exclude_id is not None:
        out = out.filter(_not_equal(id_col, exclude_id))
    if not isinstance(query_vec, Column):
        q = np.asarray(query_vec, dtype=np.float64)
        plan = _fits_driver(out, 1, len(q)) if q.ndim == 1 and len(q) else None
        if plan is not None:
            top = _driver_single(out, plan, q, k, metric, vec_col, id_col)
            if top is not None:
                return top
        query_vec = array_lit(q.tolist())
    out = out.withColumn("dist", fn(F.col(vec_col), query_vec))
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
    corpus is scanned exactly once regardless of Q. The rank filter
    plans as a two-phase ``WindowGroupLimit`` — a Partial stage before
    the exchange forwards at most k rows per query and map partition,
    FAISS's per-block heap + merge (SURVEY §4.3.2) with no extra
    operator; ``tests/test_plans.py`` pins that plan shape.
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
    return _rank(joined, k, id_col, asc=asc).drop("__qvec")


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
    matmul and forwards only its per-query top-k (the tie-safe
    :func:`_cut`) — per-partition heaps, exactly the FAISS block-scan —
    then one tiny window rank over the per-partition candidates picks
    the global top-k. Corpus never shuffles; candidate volume is
    partitions·Q·(k + boundary-tie multiplicity) — the tie-safe cut
    emits every row whose rounded key ties the k-boundary, so on a
    corpus where many rows share one rounded distance the tie term is
    unbounded in principle (the window still cuts exactly); for
    non-degenerate corpora it is O(partitions·Q·k), independent of N.

    Small inputs take the driver path. The corpus must be Projects and
    Filters over a parquet scan or a filled cache (whose size the plan
    holds, read with no job), with at most ``ARROW_DRIVER_MAX_BYTES`` in
    that whole relation, and its estimated rows × Q at most
    ``ARROW_DRIVER_MAX_PAIRS``. Then the call is EAGER: it collects the
    ``(id_col, vec_col)`` projection (with pyarrow and no job when it is
    a bare local parquet scan, else with one ``toArrow()`` job), runs
    the same ``score`` generator over it in record batches of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, ranks the
    candidates on the window's key and returns them as an Arrow
    ``LocalRelation`` — a later ``.collect()`` runs no job, and no
    Python-worker task or rank shuffle runs at all. Otherwise, or if
    the estimate cannot be read, the call is lazy and plans the
    mapInPandas + rank window described above, unchanged. Both paths
    return the same (query_id, id, rank); ``dist`` may differ in its
    low bits, as BLAS accumulation order varies with a block's shape and
    its rows' positions, which differ between the paths' batches.

    Caveats vs the exact operator: BLAS accumulation order differs from
    the left fold, so raw distances carry ~1-ulp noise — including
    BETWEEN EXACT DUPLICATE VECTORS (GEMM micro-kernels vary the
    accumulation path by row position; a serving fuzz panel on
    generated corpora with a forced duplicate showed it). Ties are
    therefore handled at 6-decimal granularity, the same kept-rounded
    class as the emitted display value: the global rank window orders
    by (round(dist, 6), id), and each batch emits EVERY row whose
    rounded distance ties the k-boundary (never an ``argpartition``
    that cuts ties by raw ulps) — so two rows whose true distances tie
    or differ below 5e-7 rank by id identically to the DuckDB oracle's
    fold. Distinct rows separated by less than the rounding quantum but
    straddling a rounding boundary remain the documented measure-zero
    hazard. With ``exclude_self=True`` the masked self row carries an
    infinite key and is never emitted.
    Use :func:`knn_join` or :func:`knn_join_exact` where cross-engine
    exactness matters; this is the throughput path. Output:
    (query_id, id_col, dist, rank) with ``dist`` RAW (callers round for
    display).
    """
    _metric(metric)
    qids, qm, _ = _queries(query_ids, query_mat)
    return _blas_topk(
        corpus, qids, qm, None, k, metric, vec_col, id_col, None, exclude_self
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
    ``IndexIVFFlat.search``; its flat twin covers ``app.py:171``). The
    flat kernel is this one's single-group case: the same block scorer,
    cut and rank.

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
    ``i`` probes (a repeated id counts once); ``ValueError`` if every
    set is empty. Output: (query_id, id_col, dist, rank ≤ k), candidate
    volume ≈ batches·Q·k plus boundary-tie multiplicity (see
    :func:`knn_join_arrow` — unbounded only on rounded-distance-
    degenerate corpora) — independent of N otherwise.

    The driver path of :func:`knn_join_arrow` applies here too, with the
    same bounds read for the layout: the whole relation, so a pruned
    probe is over-counted. Within them the call is eager — the pruned
    lists collected (on a local parquet layout by pyarrow, with no job,
    as the probe is a partition filter), the same ``score`` in the
    driver, the rank in the driver, an Arrow ``LocalRelation`` back;
    otherwise the lazy mapInPandas + rank-window
    plan is unchanged."""
    qids, qm, groups = _queries(query_ids, query_mat, probe_sets)
    return _blas_topk(
        layout, qids, qm, groups, k, "l2", vec_col, id_col, centroid_col,
        exclude_self,
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
    ranks can flip on near-ties). Here the distance is instead the
    explicit per-dimension float64 fold :func:`_left_fold`, whose
    doubles are bit-identical to the expression path and DuckDB's
    ``list_reduce``, while its D vectorized passes replace ~1 µs-per-
    element interpreted HOF evaluation (measured ~60× on the 64-D
    fixtures). Parity is pinned in ``tests/test_knn_exact.py``:
    full-frame equality against :func:`knn_join` including distance
    bits.

    Each batch forwards, per query, its k nearest rows plus every row
    tying the k-th distance exactly (:func:`_cut`), then one tiny window
    rank on the exact ``(dist, id)`` key picks the global top-k with the
    identical ordering. The corpus never shuffles.

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
    import pandas as pd

    qids, qm, _ = _queries(query_ids, query_mat)
    qlab = None
    if query_labels is not None:
        if label_col is None:
            raise ValueError("query_labels requires label_col")
        qlab = np.asarray(query_labels, dtype=np.int64)
        if qlab.shape != qids.shape:
            raise ValueError("query_labels must align with query_ids")

    fields = [_QUERY_ID, corpus.schema[id_col]]
    cols = [vec_col]
    if label_col is not None:
        fields.append(corpus.schema[label_col])
        cols.append(label_col)
    schema = StructType(fields + [_DIST])
    # Column pruning does not cross mapInPandas — project explicitly.
    frame = corpus.select(id_col, *cols)

    def score(batches):
        for pdf, _ in _blocks(batches):
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            d = _left_fold(x if recon is None else recon(x), qm)
            if exclude_self:
                d[ids[:, None] == qids[None, :]] = np.inf
            if qlab is not None:
                labs = pdf[label_col].to_numpy()
                d[labs[:, None] == qlab[None, :]] = np.inf
            ri, qi = _cut(d, k)
            out = {"query_id": qids[qi], id_col: ids[ri]}
            if label_col is not None:
                out[label_col] = pdf[label_col].to_numpy()[ri]
            out["dist"] = d[ri, qi]
            yield pd.DataFrame(out)

    return _rank(frame.mapInPandas(score, schema), k, id_col)


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
    (the ``quantized_recall_eval`` precedent: its
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

    Distances, cut and window are :func:`knn_join_exact`'s (bit-exact
    with the expression path and DuckDB's ``list_reduce``), so ranks —
    and the resulting (n_hits, recall) — are identical to the two-scan
    pipeline's. Self matches are excluded in both tiers; ``ValueError``
    if every probe set is empty. Output: (query_id, n_hits int,
    recall double) for every query, zero-hit queries included."""
    import pandas as pd

    qids, qm, groups = _queries(query_ids, query_mat, probe_sets)
    schema = StructType(
        [
            _QUERY_ID,
            layout.schema[id_col],
            _DIST,
            StructField("tier", IntegerType(), False),
        ]
    )
    pruned = layout.select(id_col, centroid_col, vec_col)

    def score(batches):
        for pdf, _ in _blocks(batches):
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            d = _left_fold(x, qm)
            d[ids[:, None] == qids[None, :]] = np.inf  # exclude self
            # probed[u, q]: centroid u of this batch is in query q's set
            cents, inv = np.unique(
                pdf[centroid_col].to_numpy(), return_inverse=True
            )
            probed = np.zeros((len(cents), len(qids)), dtype=bool)
            for u, c in enumerate(cents):
                probed[u, groups.get(int(c), [])] = True
            for tier, t in ((0, d), (1, np.where(probed[inv], d, np.inf))):
                ri, qi = _cut(t, k)
                yield pd.DataFrame(
                    {
                        "query_id": qids[qi],
                        id_col: ids[ri],
                        "dist": t[ri, qi],
                        "tier": np.full(len(ri), tier, dtype=np.int32),
                    }
                )

    cand = pruned.mapInPandas(score, schema).repartition("query_id")
    hits = (
        _rank(cand, k, id_col, by=("query_id", "tier"))
        .groupBy("query_id", id_col)
        .agg(F.count("*").alias("n_tiers"))
        .filter(F.col("n_tiers") == 2)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    base = local_frame(
        layout.sparkSession, [(int(q),) for q in query_ids], "query_id long"
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
    :func:`knn_recall_eval_exact` (same fold-into-one-Arrow-pass
    design). ``recons`` is a
    list of (tier_name, recon_fn) — each recon is the exact float64
    numpy twin of its encode/reconstruct expression (PQ codeword / SQ
    bin-midpoint). Each Arrow batch computes the exact left-fold
    distances once per tier matrix (tier 0 = raw vectors), emits
    per-(tier, query) candidates by :func:`knn_join_exact`'s exact cut,
    then ONE repartition on ``query_id`` satisfies every
    later clustering requirement (rank windows by (tier, query_id),
    hit flags by (query_id, id), per-query counts — all supersets of
    the exchange key, so Catalyst inserts no further shuffle).
    Distances and ranks are bit-identical per tier to separate
    :func:`knn_join_exact` passes: same per-dimension float64 fold,
    same np.inf self-exclusion, same exact cut, same global
    window ordering. Self matches are excluded in every tier.

    Output: (query_id, tier, n_hits int, recall double) for every
    query × non-exact tier, zero-hit queries included."""
    import pandas as pd

    qids, qm, _ = _queries(query_ids, query_mat)
    if not recons:
        raise ValueError("recons must name at least one tier")
    tiers = [("__exact", None)] + [(str(t), fn) for t, fn in recons]

    schema = StructType(
        [
            StructField("tier", StringType(), False),
            _QUERY_ID,
            corpus.schema[id_col],
            _DIST,
        ]
    )
    pruned = corpus.select(id_col, vec_col)

    def score(batches):
        for pdf, _ in _blocks(batches):
            x0 = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            for tname, recon in tiers:
                d = _left_fold(x0 if recon is None else recon(x0), qm)
                d[ids[:, None] == qids[None, :]] = np.inf
                ri, qi = _cut(d, k)
                yield pd.DataFrame(
                    {
                        "tier": [tname] * len(ri),
                        "query_id": qids[qi],
                        id_col: ids[ri],
                        "dist": d[ri, qi],
                    }
                )

    cand = pruned.mapInPandas(score, schema).repartition("query_id")
    topk = _rank(cand, k, id_col, by=("tier", "query_id"))
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
    base = local_frame(
        corpus.sparkSession, [(int(q),) for q in query_ids], "query_id long"
    )
    joined = base.join(F.broadcast(per_q), "query_id", "left")
    # unpivot the per-tier hit counts from the ONE row-per-query frame
    # with a single generator instead of unioning one projection of
    # ``joined`` per tier — each union branch would re-derive the entire
    # lazy subtree, physically duplicating the MapInPandas corpus fold +
    # exchange + window once per tier (two corpus scans, no
    # ReusedExchange).
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
    [b·w, (b+1)·w); bit_i = 1 iff v·h_i > 0. Pure expressions (dot
    products over literal plane arrays, whose ``zip_with``/``aggregate``
    run interpreted inside the generated stage) — no UDF."""
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
    (:func:`_popcount`), per-query exact (hamming, id) selection — a
    batch scans 16 BYTES per corpus row (vs 256 for the float32 flat
    kernel), so at 100 TB the Hamming rescore tier reads 6% of the flat
    tier's bytes at memory-bandwidth throughput.

    EXACTNESS (stronger than :func:`knn_join_arrow`'s contract):
    distances are small INTEGERS (no BLAS ulps, no rounding), and ties
    are COMMON, so each batch emits its k-smallest distances PLUS every
    row tying the k-boundary exactly (the exact :func:`_cut` — one
    vectorized pass for the whole query set, never a per-query Python
    sort loop: at serving Q≈256 the lexsort form cost ~10× the popcount
    itself); the global window then ranks by (hamming ASC, id ASC), so
    the result is bit-identical to the expression form (``bq_hamming`` +
    TakeOrderedAndProject), pinned in tests/test_ann.py. Output:
    (query_id, id_col, hamming, rank).
    """
    qids, qc, _ = _queries(
        query_ids, query_codes, dtype=np.uint64, width=len(code_cols)
    )
    return _hamming_topk(codes, qids, qc, None, k, id_col, code_cols, None)


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
    :func:`knn_join_arrow_ivf`'s per-query list masking (the flat
    kernel is this one's single-group case). This is the
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
    (RECALL_CURVE.json prices both). ``ValueError`` if every probe set
    is empty. Output: (query_id, id_col, hamming, rank ≤ k)."""
    qids, qc, groups = _queries(
        query_ids, query_codes, probe_sets, dtype=np.uint64, width=len(code_cols)
    )
    return _hamming_topk(layout, qids, qc, groups, k, id_col, code_cols, centroid_col)


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
    ``zip_with``/``aggregate`` left-fold, run interpreted inside the
    generated stage) — no second
    Python/Arrow hop — ending in the shared rank window on
    (round(dist, 6), id). Output:
    (query_id, id_col, dist, rank ≤ k) with ``dist`` the exact L2
    recomputed in double — RAW, callers round for display.
    """
    if overfetch < 1:
        raise ValueError(f"overfetch must be >= 1, got {overfetch}")
    if len(query_vecs) != len(query_ids):
        raise ValueError("query_vecs must align with query_ids")
    qids, qc, groups = _queries(
        query_ids, query_codes, probe_sets, dtype=np.uint64, width=len(code_cols)
    )
    short = _hamming_topk(
        codes, qids, qc, groups, k * overfetch, id_col, code_cols, centroid_col
    )
    qdf = local_frame(
        floats.sparkSession,
        [(int(q), [float(x) for x in v]) for q, v in zip(query_ids, query_vecs)],
        "query_id long, __qv array<double>",
    )
    pruned = floats.filter(_isin(centroid_col, sorted(groups))).select(
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
    return _rank(resc, k, id_col, rounded=True).select(
        "query_id", id_col, "dist", "rank"
    )
