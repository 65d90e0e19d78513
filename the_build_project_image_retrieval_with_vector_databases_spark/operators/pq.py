"""Product quantization (PQ) — the ``IndexIVFPQ``/``IndexPQ`` analogue of
the reference's flat index (``utils/faiss_utils.py:4-9``), Spark-first.

PQ splits a D-dim vector into ``m`` sub-vectors of D/m dims; each
sub-vector is quantized to the id of its nearest center in a per-subspace
codebook of ``ksub`` centers. A vector then costs ``m`` small ints
instead of D floats (64-D float32 → 8 bytes at m=8/ksub≤256 — 32×), and
query distance is approximated with an **ADC lookup table**: for query q,
``lut[j][c] = ‖q_j − codebook[j][c]‖²`` is precomputed once (m × ksub
doubles — trivially a broadcast literal), and each row's distance is
``Σ_j lut[j][code_j]`` — m array lookups + m−1 adds per row, no
per-row float vector math at all.

Spark-first shape: encoding is a pure Catalyst expression (slice +
transform + array_position argmin — zero shuffle,
embarrassingly parallel), the encoded table is a normal parquet sink
(composable with the IVF ``partitionBy(centroid)`` layout for the full
IVFPQ: prune partitions, then ADC-scan only the probed cells), and the
ADC query plans as TakeOrderedAndProject over one scan of the *codes*
— at 100 TB the scan reads m ints per row instead of D floats.

Portability contract: codebooks here are **sliced from data rows**
(deterministic, no RNG), so a DuckDB oracle derives bit-identical codes
and distances; real deployments would train per-subspace KMeans
codebooks instead — everything downstream is codebook-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import array_lit, l2_dist_sq


def slice_codebooks(
    vectors: list[list[float]], m: int
) -> list[list[list[float]]]:
    """codebooks[j][c] = sub-vector j of training vector c. Every training
    vector contributes one center to every subspace — ksub = len(vectors)."""
    dim = len(vectors[0])
    assert dim % m == 0, f"dim ({dim}) must divide into m ({m}) subspaces"
    dsub = dim // m
    return [
        [[float(x) for x in v[j * dsub : (j + 1) * dsub]] for v in vectors]
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``code_0 … code_{m-1}`` int columns: per-subspace argmin
    over the codebook (first-match tie-break — identical to DuckDB's
    ``list_position``). Pure expression: no UDF, no shuffle."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = df
    for j in range(m):
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        # single-arg lambda: a 2-arg lambda would make PySpark bind the
        # second param to the array INDEX (the (element, index) form)
        centers = array_lit(codebooks[j], "array<array<double>>")
        dists = F.transform(centers, lambda c: l2_dist_sq(sub, c))
        code = F.array_position(dists, F.array_min(dists)) - 1
        out = out.withColumn(f"code_{j}", code.cast("int"))
    return out


def adc_lut(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """lut[j][c] = ‖q_j − codebook[j][c]‖², accumulated as an explicit
    left fold in python floats — bit-identical to the engines'
    ``F.aggregate`` / ``list_reduce`` folds, so the same literal doubles
    can be inlined into both the Spark expression and the oracle SQL."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = []
    for j in range(m):
        qsub = [float(x) for x in query_vec[j * dsub : (j + 1) * dsub]]
        row = []
        for c in codebooks[j]:
            acc = 0.0
            for a, b in zip(qsub, c):
                acc = acc + (a - b) * (a - b)
            row.append(acc)
        lut.append(row)
    return lut


def pq_adc_dist(lut: list[list[float]]) -> Column:
    """Σ_j lut[j][code_j] as a left-assoc sum of ``element_at`` lookups."""
    total = None
    for j, row in enumerate(lut):
        term = F.element_at(array_lit(row), F.col(f"code_{j}") + 1)
        total = term if total is None else total + term
    return total


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the encoded table: one scan of the code columns,
    m lookups + adds per row, TakeOrderedAndProject heap-merge — the
    same zero-shuffle plan as the flat kNN but over 32×-smaller data."""
    lut = adc_lut(codebooks, query_vec)
    return (
        encoded.withColumn("adc_dist", pq_adc_dist(lut))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def sq_train_bounds(
    vectors: list[list[float]],
) -> list[tuple[float, float]]:
    """Per-dimension (lo, range) from a training sample — the scalar
    quantizer's calibration (FAISS ``ScalarQuantizer`` QT_8bit shape).
    Pure python floats so the SAME literals inline into the Spark
    expression and the oracle SQL."""
    dim = len(vectors[0])
    bounds = []
    for i in range(dim):
        vals = [float(v[i]) for v in vectors]
        lo, hi = min(vals), max(vals)
        bounds.append((lo, max(hi - lo, 1e-12)))
    return bounds


def sq_encode(
    df: DataFrame,
    bounds: list[tuple[float, float]],
    vec_col: str = "embedding",
    out_col: str = "sq_codes",
) -> DataFrame:
    """int8 scalar quantization: code_i = clamp(floor((x_i − lo_i) /
    range_i · 255), 0, 255). ``floor`` (not round) — floor is defined
    identically in every engine, round-half rules are not. One
    ``zip_with`` over a literal struct array (run interpreted inside the
    generated stage), no UDF; 4× smaller than float32 storage."""
    structs = array_lit(
        [{"lo": lo, "rng": rng} for lo, rng in bounds],
        "array<struct<lo:double,rng:double>>",
    )
    codes = F.zip_with(
        F.col(vec_col),
        structs,
        lambda x, s: F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor(
                    (x.cast("double") - s["lo"]) / s["rng"] * F.lit(255.0)
                ).cast("int"),
            ),
        ),
    )
    return df.withColumn(out_col, codes)


def sq_dist_sq(
    bounds: list[tuple[float, float]],
    query_vec: list[float],
    codes_col: str = "sq_codes",
):
    """‖dequant(codes) − q‖² as one expression: dequant_i = lo_i +
    (code_i + 0.5)·range_i/255 (bin midpoint). All constants fold into a
    literal struct array. The per-dim diff binds ONCE (zip_with emits the
    diff, the fold squares its bound variable), so the dequant arithmetic
    evaluates once per dimension regardless of subexpression elimination;
    left-fold accumulation matches the oracle's ``list_reduce``."""
    structs = array_lit(
        [
            {"lo": lo, "rng": rng, "q": q}
            for (lo, rng), q in zip(bounds, query_vec)
        ],
        "array<struct<lo:double,rng:double,q:double>>",
    )
    diffs = F.zip_with(
        F.col(codes_col),
        structs,
        lambda c, s: (
            s["lo"] + (c.cast("double") + F.lit(0.5)) * s["rng"] / F.lit(255.0)
            - s["q"]
        ),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d * d)


def pq_adc_rerank_topk(
    encoded: DataFrame,
    raw: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    overfetch: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ shape — ADC shortlist (k·overfetch candidates
    from the compact codes) → exact re-rank on the raw vectors of the
    shortlist only. Recall is set by the shortlist (quantization error
    only reorders within it); exactness of the final top-k distances is
    full float. The shortlist (≤ k·overfetch ids) broadcasts into a
    semi-join against the raw table; with an id-sorted/bucketed raw
    layout that join prunes to point reads at scale."""
    shortlist = pq_adc_topk(encoded, codebooks, query_vec, k * overfetch, id_col)
    qlit = array_lit(query_vec)
    return (
        raw.join(F.broadcast(shortlist.select(id_col)), id_col)
        .withColumn("dist", F.sqrt(l2_dist_sq(F.col(vec_col), qlit)))
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_recon_np(codebooks: list[list[list[float]]]):
    """Exact numpy twin of ``pq_encode`` + codeword reconstruction, for
    :func:`~.knn.knn_join_exact`'s ``recon`` hook: per subspace, the
    argmin over the codebook uses the SAME float64 left-fold distance
    (``acc ← acc + (x_t − c_t)²``, first-min tie-break — numpy's
    ``argmin`` ≡ ``array_position(dists, array_min(dists))``), and the
    reconstructed row concatenates the assigned codewords' literal
    doubles. Bit-identical to the expression path (pinned in
    tests/test_staged_ops.py via the unchanged quantized-recall
    oracle); the B×ksub×dsub vectorized loop replaces ~1 µs/element
    interpreted HOF evaluation."""
    import numpy as np

    books = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    dsub = books[0].shape[1]

    def recon(x):
        out = np.empty_like(x)
        for j, cb in enumerate(books):
            sub = x[:, j * dsub : (j + 1) * dsub]
            acc = np.zeros((sub.shape[0], cb.shape[0]))
            for t in range(dsub):
                dt = sub[:, t, None] - cb[None, :, t]
                acc = acc + dt * dt
            codes = np.argmin(acc, axis=1)
            out[:, j * dsub : (j + 1) * dsub] = cb[codes]
        return out

    return recon


def sq_recon_np(bounds: list[tuple[float, float]]):
    """Exact numpy twin of ``sq_encode`` + bin-midpoint dequantization
    for the ``recon`` hook: ``clamp(floor((x − lo)/rng·255), 0, 255)``
    then ``lo + (c + 0.5)·rng/255`` — every elementwise op in the same
    order as the ``zip_with`` expressions, so the reconstructed doubles
    are bit-identical."""
    import numpy as np

    lo = np.asarray([b[0] for b in bounds], dtype=np.float64)
    rng = np.asarray([b[1] for b in bounds], dtype=np.float64)

    def recon(x):
        codes = np.clip(
            np.floor((x - lo[None, :]) / rng[None, :] * 255.0), 0.0, 255.0
        )
        return lo[None, :] + (codes + 0.5) * rng[None, :] / 255.0

    return recon


# ---------------------------------------------------------------------------
# Binary quantization (BQ) — the 5th quantization tier (Flat/IVF/PQ/SQ/BQ):
# 1 bit per dimension (sign vs a trained per-dim threshold), Hamming
# distance search. FAISS analogue: ``IndexBinaryFlat`` over
# sign-quantized vectors; the modern serving use is the 32× bandwidth
# cut of binary rescoring tiers. Everything here is INTEGER-exact
# cross-engine: thresholds are integer sums of the repo's standard
# quantization (floor(x·2^20 + 0.5)), the bit test is the
# division-free cross-multiplied comparison q_i·n_train > Σ_train q_i
# (i.e. v_i > mean_i without ever dividing), and codes pack into two
# 32-bit halves per 64 dims — both engines' BIGINT shifts stay off the
# sign bit (DuckDB's checked ``<<`` overflows at bit 63).
# ---------------------------------------------------------------------------


def bq_train_thresholds(
    vectors: list[list[float]], scale: int = 1 << 20
) -> list[int]:
    """Per-dimension integer threshold sums from a training sample:
    thr[i] = Σ_train floor(v_i·scale + 0.5). A vector's bit i is set
    iff floor(x_i·scale + 0.5) · n_train > thr[i] — exactly
    "x_i above the training mean" with no division anywhere. Pure
    python ints so the SAME literals inline into the Spark expression,
    the oracle SQL, and the driver-side query encoding."""
    import math

    dim = len(vectors[0])
    return [
        sum(
            int(math.floor(float(v[i]) * scale + 0.5)) for v in vectors
        )
        for i in range(dim)
    ]


def bq_encode_cols(
    thresholds: list[int],
    n_train: int,
    vec_col: str = "embedding",
    scale: int = 1 << 20,
):
    """Packed-code column expressions: bit i of the dim-D vector lands
    in half i//32, position i%32. Pure Catalyst — a zip_with bit test
    against the literal threshold array, then a weighted sum against
    literal powers of two (``transform``/``zip_with``/``aggregate``, run
    interpreted inside the generated stage); zero shuffle, no UDF. Returns a
    (dim/32)-tuple of Columns — (lo, hi) for the 64-dim corpus; every
    consumer (:func:`~.knn.knn_join_arrow_hamming`, ``bq_hamming``,
    the ``search`` facade) handles n halves generically."""
    from pyspark.sql import functions as F

    dim = len(thresholds)
    if dim % 32:
        raise ValueError("bq packs 32 bits per half; dim must be a multiple")
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(scale)) + F.lit(0.5)
        ).cast("long"),
    )
    thr = array_lit(thresholds, "array<bigint>")
    bits = F.zip_with(
        qv, thr,
        lambda x, t: (x * F.lit(n_train).cast("long") > t).cast("long"),
    )
    pows = array_lit([1 << j for j in range(32)], "array<bigint>")

    def pack(offset: int):
        return F.aggregate(
            F.zip_with(
                F.slice(bits, offset + 1, 32), pows, lambda b, w: b * w
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return tuple(pack(off) for off in range(0, dim, 32))


def bq_encode_query(
    query_vec: list[float],
    thresholds: list[int],
    n_train: int,
    scale: int = 1 << 20,
) -> list[int]:
    """Driver-side packed code of one query vector — the same integer
    rule as :func:`bq_encode_cols`, so the literal query halves are
    bit-identical with table-side encoding."""
    import math

    halves = []
    for off in range(0, len(thresholds), 32):
        acc = 0
        for j in range(32):
            i = off + j
            q = int(math.floor(float(query_vec[i]) * scale + 0.5))
            if q * n_train > thresholds[i]:
                acc |= 1 << j
        halves.append(acc)
    return halves


def bq_hamming(query_halves: list[int], code_cols: list[str]):
    """Hamming distance column: Σ_half bit_count(code XOR q_half) —
    bitwise longs, whole-stage codegen, identical two's-complement
    semantics in Spark and DuckDB."""
    from pyspark.sql import functions as F

    parts = [
        F.bit_count(F.col(c).bitwiseXOR(F.lit(int(q)).cast("long")))
        for c, q in zip(code_cols, query_halves)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out.cast("int")
