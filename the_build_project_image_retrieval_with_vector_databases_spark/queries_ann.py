"""ANN / index-layout / sampling-split queries with DuckDB oracles.

Covers the scale path of the reference's flagship operator (SURVEY §4.3.3):
IVF partition-probing (the ``IndexIVFFlat`` analogue of the shipped
``IndexFlatL2``, reference ``utils/faiss_utils.py:4-9``), random-hyperplane
LSH bucketing, embedding-cosine near-dup (north-star), the two-phase top-k
physical pattern and grouped-id assembly (A1).

Oracle-parity tricks specific to this module:

- IVF centroids are *rows of the table itself* (vec_id < 16) so both
  engines derive identical centroid vectors with no RNG; the Spark side
  collects them into literal arrays (16 × 64 floats — trivially broadcast).
- LSH hyperplanes are seeded NumPy Gaussians (:func:`sized_planes_for`)
  inlined as double literals into BOTH the Spark expression and the oracle
  SQL (``repr(float)`` round-trips exactly in the two parsers).
- Assignment ties (argmin over centroid distances) break toward the lowest
  centroid id in both engines (``array_position`` first-match ↔ window
  ``ORDER BY dist, cid``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.vector import array_lit, l2_dist, truncate_renormalize
from .operators.ann import ivf_search, write_ivf_index
from .operators.knn import knn_join
from .sources.tables import load_table

EMB_DIM = 64  # driver fixture embeddings are 64-D unit float vectors


# ---------------------------------------------------------------------------
# DuckDB fragments (duplicated from queries.py to keep modules standalone)
# ---------------------------------------------------------------------------

def _dk_l2(a: str, b: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(list_zip({a}, {b}), "
        f"s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * "
        f"(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (x, y) -> x + y))"
    )


def _dk_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def _dk_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    )


def _dk_cosine(a: str, b: str) -> str:
    return f"({_dk_dot(a, b)}) / greatest(({_dk_norm(a)}) * ({_dk_norm(b)}), 1e-12)"


# ---------------------------------------------------------------------------
# IVF probe search
# ---------------------------------------------------------------------------


# Materialized index layouts, CONTENT-ADDRESSED: the on-disk path derives
# from (kind, source-dir identity, source-table fingerprint), so
#  - a fresh process REUSES a layout an earlier process built (the build
#    is skipped entirely — timed in tests/test_ann.py),
#  - regenerating the fixture at the same path changes the fingerprint
#    and transparently triggers a rebuild (no stale index serving),
#  - superseded generations of the same (kind, source) are pruned on
#    rebuild, so disk stays bounded at one live layout per index.
# This is the index lifecycle at 100 TB: build once, amortize over every
# query and every session; the benched steady-state is the probe, not the
# build. The in-process memo on top avoids re-stat + re-collect per call.
_LAYOUTS: dict[tuple, tuple] = {}
_LAYOUT_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_layouts")


def _table_fingerprint(sf_dir: str, table: str = "embeddings.parquet") -> str:
    """Cheap content identity for the source table: name+size+mtime_ns of
    every file — any fixture regeneration perturbs it."""
    p = os.path.join(sf_dir, table)
    parts = []
    if os.path.isdir(p):
        for name in sorted(os.listdir(p)):
            st = os.stat(os.path.join(p, name))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:12]


def _layout_path(sf_dir: str, kind: str) -> tuple[str, str]:
    """(content-addressed layout dir, stale-pruning prefix)."""
    sfh = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    prefix = f"{kind}-{sfh}-"
    return os.path.join(_LAYOUT_ROOT, prefix + _table_fingerprint(sf_dir)), prefix


def _layout_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _training_vectors(spark: SparkSession, sf_dir: str):
    """(embeddings_df, 16 training vectors ordered by vec_id) — the
    deterministic, oracle-derivable 'training set' every index layout
    here quantizes against (rows vec_id < 16 of the table itself)."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    return emb, [[float(x) for x in r.embedding] for r in rows]


def _layout(spark: SparkSession, sf_dir: str, kind: str, build):
    """Memoized content-addressed layout: ``build(emb, train, path,
    fresh) -> tuple`` runs once per (kind, sf_dir, fingerprint) per
    process, and performs its parquet write only when ``fresh`` (no
    ``_SUCCESS`` marker at the content-addressed path — i.e. no earlier
    process already materialized this exact layout)."""
    path, prefix = _layout_path(sf_dir, kind)
    key = (kind, sf_dir, path)
    if key not in _LAYOUTS:
        emb, train = _training_vectors(spark, sf_dir)
        fresh = not _layout_complete(path)
        _LAYOUTS[key] = build(emb, train, path, fresh)
        if fresh:
            # prune superseded generations (older fingerprints) of this index
            root = os.path.dirname(path)
            for d in os.listdir(root):
                full = os.path.join(root, d)
                if d.startswith(prefix) and full != path:
                    shutil.rmtree(full, ignore_errors=True)
    return _LAYOUTS[key]


def _ivf_layout(spark: SparkSession, sf_dir: str) -> tuple[str, list[list[float]]]:
    def build(emb, train, path, fresh):
        if fresh:
            write_ivf_index(emb, path, train)
        return path, train

    return _layout(spark, sf_dir, "ivf", build)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 for the flagship query vector over the **materialized**
    partitioned layout: probe the 4 of 16 centroid partitions nearest the
    query; the centroid IN-filter becomes parquet *partition pruning*, so
    the scan reads nprobe/16 of the corpus (pinned by
    ``tests/test_plans.py::test_ivf_topk_partition_pruned``).

    Centroids are rows vec_id < 16 of the table itself (oracle-portable,
    no RNG); the layout is built once per process by :func:`_ivf_layout` —
    no per-call ``collect()``, no full-table re-assignment."""
    path, centroids = _ivf_layout(spark, sf_dir)
    qvec = centroids[0]  # embedding of vec_id = 0 (flagship query)
    # self-exclusion BEFORE the top-k (the query vector is a corpus row);
    # `centroid` is the parquet partition column, so the IN-filter inside
    # ivf_search prunes at planning time even through this extra filter
    layout = spark.read.parquet(path).filter(F.col("vec_id") != 0)
    out = ivf_search(layout, centroids, qvec, k=5, nprobe=4)
    return out.select(
        "vec_id", "label", F.col("centroid").cast("int").alias("centroid"),
        F.round("dist", 6).alias("dist"),
    )


def q_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated exact top-10: keep the first 32 of 64 dims,
    L2-renormalize (``functions.vector.truncate_renormalize``), and rank
    by L2 distance from row vec_id=0's truncated vector (self excluded).

    The scale story: truncation halves scan bytes and FLOPs BEFORE any
    index tier — on MRL-trained embeddings it's the cheapest ANN speed
    knob (negative-control recall property pinned in
    tests/test_staged_ops.py). The plan is the flagship shape: broadcast
    1-row query → left fold (``aggregate``, run interpreted inside the
    generated stage) → zero-shuffle TakeOrderedAndProject.
    Oracle mirrors slice → cast → left-fold norm → renormalize exactly
    (list_reduce ↔ F.aggregate, both sequential left folds).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        "vec_id", "label", truncate_renormalize("embedding", 32).alias("t")
    )
    q = t.filter(F.col("vec_id") == 0).select(F.col("t").alias("qt"))
    scored = (
        t.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", l2_dist("t", "qt").alias("d"))
    )
    return (
        scored.orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", F.round("d", 6).alias("dist"))
    )


ORACLE_MATRYOSHKA_TOPK = """
WITH s AS (
  SELECT vec_id, label,
         list_transform(embedding[1:32], x -> CAST(x AS DOUBLE)) AS sl
  FROM embeddings
),
n AS (
  SELECT vec_id, label, sl,
         greatest(sqrt(list_reduce(list_transform(sl, x -> x * x),
                                   (a, b) -> a + b)), 1e-12) AS nrm
  FROM s
),
t AS (
  SELECT vec_id, label, list_transform(sl, x -> x / nrm) AS t FROM n
),
q AS (SELECT t AS qt FROM t WHERE vec_id = 0)
SELECT vec_id, label, round(d, 6) AS dist FROM (
  SELECT c.vec_id, c.label, {d_expr} AS d
  FROM t c, q WHERE c.vec_id <> 0
) ORDER BY d ASC, vec_id ASC LIMIT 10
""".format(d_expr=_dk_l2("c.t", "q.qt"))


ORACLE_IVF_TOPK = f"""
WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         {_dk_l2('e.embedding', 'c.ce')} AS cdist
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, label, embedding, cid AS centroid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist ASC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT c.cid FROM cents c, q
  ORDER BY {_dk_l2('c.ce', 'q.qe')} ASC, c.cid ASC LIMIT 4
)
SELECT a.vec_id, a.label, CAST(a.centroid AS INT) AS centroid,
       round({_dk_l2('a.embedding', 'q.qe')}, 6) AS dist
FROM assigned a, q
WHERE a.centroid IN (SELECT cid FROM probes) AND a.vec_id <> 0
ORDER BY {_dk_l2('a.embedding', 'q.qe')} ASC, a.vec_id ASC
LIMIT 5
"""


def q_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified :func:`..search.search` facade (SURVEY §7.4.4) routed
    over the materialized IVF layout — the one-call user surface of the
    ANN ladder (reference ``index.search``, ``utils/faiss_utils.py:19-22``).
    Deliberately distinct parameters from ``ivf_topk`` (query row 3,
    nprobe=5, k=7) so this row verifies the facade's own routing, not a
    cached twin. Same plan as ivf_search: partition-pruned scan, exact
    L2 top-k, zero shuffle."""
    from .search import search

    path, centroids = _ivf_layout(spark, sf_dir)
    layout = spark.read.parquet(path)
    out = search(
        layout,
        centroids[3],
        k=7,
        index="ivf",
        train_vectors=centroids,
        nprobe=5,
        exclude_id=3,
    )
    return out.select(
        "vec_id", "label", F.col("centroid").cast("int").alias("centroid"),
        F.round("dist", 6).alias("dist"),
    )


ORACLE_ANN_SEARCH = f"""
WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 3),
scored AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         {_dk_l2('e.embedding', 'c.ce')} AS cdist
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, label, embedding, cid AS centroid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist ASC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT c.cid FROM cents c, q
  ORDER BY {_dk_l2('c.ce', 'q.qe')} ASC, c.cid ASC LIMIT 5
)
SELECT a.vec_id, a.label, CAST(a.centroid AS INT) AS centroid,
       round({_dk_l2('a.embedding', 'q.qe')}, 6) AS dist
FROM assigned a, q
WHERE a.centroid IN (SELECT cid FROM probes) AND a.vec_id <> 3
ORDER BY {_dk_l2('a.embedding', 'q.qe')} ASC, a.vec_id ASC
LIMIT 7
"""


# ---------------------------------------------------------------------------
# Product quantization (ADC search over the encoded table)
# ---------------------------------------------------------------------------

PQ_M = 8  # 64-D → 8 subspaces of 8 dims; ksub = 16 (training rows vec_id < 16)

def _pq_layout(spark: SparkSession, sf_dir: str):
    def build(emb, train, path, fresh):
        from .operators.pq import pq_encode, slice_codebooks

        codebooks = slice_codebooks(train, PQ_M)
        if fresh:
            encoded = pq_encode(emb, codebooks).select(
                "vec_id", "label", *[f"code_{j}" for j in range(PQ_M)]
            )
            encoded.write.mode("overwrite").parquet(path)
        return path, codebooks, train[0]

    return _layout(spark, sf_dir, "pq", build)


# IVF + PQ composed (the IndexIVFPQ analogue): centroid partition pruning
# FIRST, ADC lookup inside the probed cells only. One layout carries both:
# partitionBy(centroid) directories of (vec_id, label, code_0..7) rows.
def _ivfpq_layout(spark: SparkSession, sf_dir: str):
    def build(emb, train, path, fresh):
        from .operators.ann import assign_centroids, write_lists
        from .operators.pq import pq_encode, slice_codebooks

        codebooks = slice_codebooks(train, PQ_M)
        if fresh:
            df = pq_encode(assign_centroids(emb, train), codebooks).select(
                "vec_id", "label", "centroid", *[f"code_{j}" for j in range(PQ_M)]
            )
            write_lists(df, path)
        return path, train, codebooks, train[0]

    return _layout(spark, sf_dir, "ivfpq", build)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed search — FAISS ``IndexIVFPQ`` re-expressed as
    storage layout + Catalyst: the centroid IN-filter prunes parquet
    partitions (reads nprobe/16 of the cells), then the ADC lookup table
    scores only the code columns of the surviving cells (8 ints/row).
    Scan bytes at 100 TB ≈ corpus × (nprobe/k_cents) × (8B / 256B) —
    three orders of magnitude below the flat search, in one declarative
    plan with zero shuffles."""
    from .operators.ann import nearest_centroids
    from .operators.pq import pq_adc_dist, adc_lut

    path, centroids, codebooks, qvec = _ivfpq_layout(spark, sf_dir)
    probe = nearest_centroids(centroids, qvec, nprobe=4)
    lut = adc_lut(codebooks, qvec)
    codes = (
        spark.read.parquet(path)
        .filter(F.col("centroid").isin(probe))
        .filter(F.col("vec_id") != 0)
    )
    out = (
        codes.withColumn("adc_dist", pq_adc_dist(lut))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    return out.select(
        "vec_id",
        "label",
        F.col("centroid").cast("int").alias("centroid"),
        F.round("adc_dist", 6).alias("adc_dist"),
    )


def _oracle_ivfpq_topk(m: int = PQ_M, dim: int = EMB_DIM, k: int = 10) -> str:
    dsub = dim // m
    code_exprs = ",\n         ".join(
        f"min({{'d': {_dk_l2sq_slice('e.embedding', 't.embedding', j, dsub)}, "
        f"'c': t.vec_id}}).c AS code_{j}"
        for j in range(m)
    )
    lut_joins = "\n".join(
        f"JOIN train t{j} ON t{j}.vec_id = c.code_{j}" for j in range(m)
    )
    adc = " + ".join(
        f"({_dk_l2sq_slice('q.qe', f't{j}.embedding', j, dsub)})" for j in range(m)
    )
    return f"""
WITH train AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label, e.embedding, t.vec_id AS cid,
         {_dk_l2('e.embedding', 't.embedding')} AS cdist
  FROM embeddings e CROSS JOIN train t
),
assigned AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist ASC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT t.vec_id AS cid FROM train t, q
  ORDER BY {_dk_l2('t.embedding', 'q.qe')} ASC, t.vec_id ASC LIMIT 4
),
codes AS (
  SELECT e.vec_id AS vid, e.label,
         {code_exprs}
  FROM embeddings e CROSS JOIN train t
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id, e.label
)
SELECT c.vid AS vec_id, c.label, CAST(a.centroid AS INT) AS centroid,
       round({adc}, 6) AS adc_dist
FROM codes c
JOIN assigned a ON a.vec_id = c.vid
CROSS JOIN q
{lut_joins}
WHERE a.centroid IN (SELECT cid FROM probes)
ORDER BY ({adc}) ASC, c.vid ASC
LIMIT {k}
"""


def _dk_l2sq_slice(a: str, b: str, j: int, dsub: int) -> str:
    sa = f"list_slice({a}, {j * dsub + 1}, {j * dsub + dsub})"
    sb = f"list_slice({b}, {j * dsub + 1}, {j * dsub + dsub})"
    return (
        f"list_reduce(list_transform(list_zip({sa}, {sb}), "
        f"s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * "
        f"(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def q_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ shape as a registry query: ADC shortlist of
    k·overfetch = 30 candidates from the 8-byte codes, exact full-float
    L2 re-rank on the shortlist only (``operators.pq.pq_adc_rerank_topk``
    — the shortlist broadcasts into a semi-join against the raw table).
    Recall comes from the cheap scan, exactness of the reported distances
    from the 30-row re-rank. Oracle re-derives codes, ADC order, the
    shortlist cut, and the exact re-rank in SQL."""
    from .operators.pq import pq_adc_rerank_topk

    path, codebooks, qvec = _pq_layout(spark, sf_dir)
    codes = spark.read.parquet(path).filter(F.col("vec_id") != 0)
    raw = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    out = pq_adc_rerank_topk(
        codes, raw, codebooks, qvec, k=10, overfetch=3
    )
    return out.select("vec_id", "label", F.round("dist", 6).alias("dist"))


def _oracle_pq_rerank_topk(
    m: int = PQ_M, dim: int = EMB_DIM, k: int = 10, overfetch: int = 3
) -> str:
    dsub = dim // m
    code_exprs = ",\n         ".join(
        f"min({{'d': {_dk_l2sq_slice('e.embedding', 't.embedding', j, dsub)}, "
        f"'c': t.vec_id}}).c AS code_{j}"
        for j in range(m)
    )
    lut_joins = "\n".join(
        f"JOIN train t{j} ON t{j}.vec_id = c.code_{j}" for j in range(m)
    )
    adc = " + ".join(
        f"({_dk_l2sq_slice('q.qe', f't{j}.embedding', j, dsub)})" for j in range(m)
    )
    return f"""
WITH train AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
codes AS (
  SELECT e.vec_id AS vid, e.label,
         {code_exprs}
  FROM embeddings e CROSS JOIN train t
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id, e.label
),
shortlist AS (
  SELECT c.vid FROM codes c CROSS JOIN q
  {lut_joins}
  ORDER BY ({adc}) ASC, c.vid ASC
  LIMIT {k * overfetch}
)
SELECT e.vec_id, e.label, round({_dk_l2('e.embedding', 'q.qe')}, 6) AS dist
FROM embeddings e JOIN shortlist s ON e.vec_id = s.vid CROSS JOIN q
ORDER BY {_dk_l2('e.embedding', 'q.qe')} ASC, e.vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (north-star dedup family)
# ---------------------------------------------------------------------------


def sized_planes_for(sf_dir: str) -> list[list[float]]:
    """Corpus-sized hyperplane set for the embeddings table at
    ``sf_dir``: P = ceil(log2(N/occupancy)) from the parquet FOOTER row
    count (a measurement, not an estimate — no Spark job). This is the
    fix for the one super-linear row the 100× sweep left standing: a
    FIXED plane count makes candidate volume ~N²/2^P quadratic on
    chance collisions (measured 177× at 100× data); sizing P with N
    holds per-bucket occupancy — and therefore verify work per vector —
    constant, exactly like sizing shuffle partitions. Deterministic
    from N, so the DuckDB oracle re-derives the identical planes."""
    from .operators.ann import planes_for_corpus
    from .sources.tables import table_row_count

    n = table_row_count(sf_dir, "embeddings") or 500
    return planes_for_corpus(n, EMB_DIM, target_occupancy=16, seed=42)


def q_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-blocked embedding near-dup at FULL table scope — the scale
    path `cosine_dedup` (brute-force on a bounded block) delegates to at
    100 TB: candidates = same hyperplane bucket (one shuffle on the
    bucket key) with the plane count SIZED TO THE CORPUS
    (:func:`sized_planes_for` — P = ceil(log2(N/16)), the occupancy
    contract), exact cosine verify on candidates only. Work ∝ N·occ,
    never all-pairs and never quadratic-on-collisions. The old fixed-8
    pin survives as a plan/test fixture (`lsh_candidates` pins,
    `lsh_bucket_counts` function)."""
    from .operators.ann import lsh_candidates
    from .functions.vector import cosine_sim

    emb = load_table(spark, sf_dir, "embeddings")
    # move the heavy bytes once: the embeddings RIDE the one bucket
    # shuffle via lsh_candidates(carry=...) and each pair verifies in
    # place, so no corpus-scale join re-attaches them by id (this plan
    # has no join at all).
    cands = lsh_candidates(
        emb, sized_planes_for(sf_dir), carry=["embedding"]
    )
    return (
        cands.withColumn(
            "sim", cosine_sim(F.col("embedding_l"), F.col("embedding_r"))
        )
        .filter(F.col("sim") > 0.2)
        .select("left_id", "right_id", F.round("sim", 6).alias("cos_sim"))
    )


def _oracle_lsh_near_dup(
    threshold: float = 0.2, planes: list[list[float]] | None = None
) -> str:
    """Oracle for the bucketed near-dup; ``planes`` defaults to the
    corpus-sized set for the driver's sf0.01 fixture (deterministic
    from the footer row count — the same derivation the engine runs)."""
    if planes is None:
        planes = sized_planes_for("/root/testdata/sf0.01")
    bits = []
    for i, h in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in h) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN ({_dk_dot('embedding', lit)}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    expr = " + ".join(bits)
    return f"""
WITH b AS (SELECT vec_id, embedding, CAST({expr} AS BIGINT) AS bucket
           FROM embeddings),
pairs AS (
  SELECT a.vec_id AS left_id, b2.vec_id AS right_id,
         {_dk_cosine('a.embedding', 'b2.embedding')} AS sim
  FROM b a JOIN b b2 USING (bucket)
  WHERE a.vec_id < b2.vec_id
)
SELECT left_id, right_id, round(sim, 6) AS cos_sim
FROM pairs WHERE sim > {threshold}
"""


# ---------------------------------------------------------------------------
# Two-phase top-k (scale path for the kNN join, SURVEY §4.3.2)
# ---------------------------------------------------------------------------


def q_knn_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors of 8 corpus rows by :func:`~.operators.knn.knn_join`,
    whose rank filter plans as the two-phase local/global top-k
    (``WindowGroupLimit``) — shuffles Q·k·P rows instead of N·Q."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_join(emb, queries, k=3, metric="l2")
    return out.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.round("dist", 6).alias("dist"),
        "rank",
    )


ORACLE_KNN_TWO_PHASE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
         {_dk_l2('e.embedding', 'q.qe')} AS dist_exact
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist_exact ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, label, round(dist_exact, 6) AS dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Grouped-id assembly (A1) and deterministic split (SA2)
# ---------------------------------------------------------------------------


def q_grouped_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — the reference's group-by-label id-list assembly
    (``images_by_category``, ``utils/precompute_features.py:147-149``):
    per-label count + sorted id roster (joined to a string so the
    value-hash is order-insensitive-safe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.array_join(F.array_sort(F.collect_list("vec_id")), ",").alias("ids"),
    )


ORACLE_GROUPED_IDS = """
SELECT label, count(*) AS n,
       array_to_string(list_sort(list(vec_id)), ',') AS ids
FROM embeddings GROUP BY label
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (mean, variance, min, max) — the
    drift-monitoring surface for an embedding pipeline: compare this
    profile across corpus versions / model versions to catch
    normalization bugs and collapsed dimensions before they poison an
    index. Same shape as ``label_centroids``: posexplode fans rows to
    (dim, value) pairs, the only shuffle is dim-keyed with map-side
    partial sums, and cross-row sums are integer-quantized (micro-units
    and squared micro-units in bigint — exact in any order; the squared
    sums stay < 2^53 per partial for any realistic partition count).
    Mean/variance derive from the exact integer sums in doubles and are
    emitted RAW: every op after the exact sums is a single
    correctly-rounded IEEE division/multiply/subtract over identical
    inputs, so the doubles are bit-identical cross-engine — the old
    round(…, 9) display step was the only nondeterminism (a fuzz-soak
    corpus hit mean = s1/48e6 = 0.2572944375, an exact decimal .5-tie
    that Spark's BigDecimal HALF_UP and DuckDB's scaled-double round
    resolve differently — the min_cost_order tie class)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(F.posexplode("embedding").alias("dim", "val"))
    q = F.round(F.col("val").cast("double") * 1e6).cast("long")
    per_dim = exploded.groupBy("dim").agg(
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.count("*").alias("n"),
        F.min(F.col("val").cast("double")).alias("min_val"),
        F.max(F.col("val").cast("double")).alias("max_val"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / (n * 1e6)
    var = (F.col("s2").cast("double") / (n * 1e12)) - mean * mean
    return per_dim.select(
        "dim",
        "n",
        mean.alias("mean"),
        var.alias("variance"),
        "min_val",
        "max_val",
    )


ORACLE_EMBEDDING_STATS = """
WITH ex0 AS (
  SELECT unnest(range(1, len(embedding) + 1)) AS i, embedding
  FROM embeddings
),
ex AS (
  SELECT i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q,
         CAST(embedding[i] AS DOUBLE) AS v
  FROM ex0
),
per AS (
  SELECT dim, sum(q) AS s1, sum(q * q) AS s2, count(*) AS n,
         min(v) AS min_val, max(v) AS max_val
  FROM ex GROUP BY 1
)
SELECT dim, n,
       CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS mean,
       CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0)
             - (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0))
             * (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0))
         AS variance,
       min_val, max_val
FROM per
"""


ANN_QUERIES = {
    "ivf_topk": q_ivf_topk,
    "ann_search": q_ann_search,
    "matryoshka_topk": q_matryoshka_topk,
    "pq_rerank_topk": q_pq_rerank_topk,
    "ivfpq_topk": q_ivfpq_topk,
    "lsh_near_dup": q_lsh_near_dup,
    "knn_two_phase": q_knn_two_phase,
    "grouped_ids": q_grouped_ids,
    "embedding_stats": q_embedding_stats,
}

KMEANS_K = 8


KMEANS_TRAIN_ROUNDS = 10


def q_kmeans_train_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's batch index build (§3.2) end-to-end with the
    bit-reproducible trainer: train k=8 centroids with
    ``operators.ann.kmeans_train_exact`` (quantized Lloyd, k·D driver
    state per round — the same state MLlib's driver holds), assign every
    vector to its trained centroid with the exact integer argmin, and
    emit per-centroid occupancy stats plus the quantized centroid's
    integer L2² norm (``cnorm2`` pins the trained centroid VALUES, not
    just the assignment). Because every per-round quantity is
    integer-exact and the re-quantization/empty-cluster/early-exit rules
    are deterministic, the DuckDB oracle re-derives the ENTIRE training
    loop in SQL by unrolling exactly ``max_iter`` rounds — a Lloyd
    round is idempotent at the quantized fixed point, so early exit and
    full unroll agree by construction."""
    import math

    from .operators.ann import (
        KMEANS_SCALE,
        assign_cids_arrow_int,
        kmeans_train_exact,
        quantize_vec,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _rounds = kmeans_train_exact(
        emb, k=KMEANS_K, max_iter=KMEANS_TRAIN_ROUNDS
    )
    scale = KMEANS_SCALE
    # float→int round trip is exact: centroids are qint/scale with a
    # power-of-two scale, so v·scale is the integer again
    cq = [[int(math.floor(v * scale + 0.5)) for v in c] for c in cents]
    q = emb.select("vec_id", quantize_vec("embedding", scale).alias("qv"))
    # the final assignment runs through the exact Arrow int64-matmul
    # argmin (assign_cids_arrow_int): value-identical to the k·D
    # expression-literal form, which executes INTERPRETED at
    # ~1 µs/element — n·k·D ≈ 1M element-ops at sf0.1, ~0.5 s/run
    assigned = assign_cids_arrow_int(q, cq, id_col="vec_id")
    norms = [sum(v * v for v in c) for c in cq]
    norm_lit = array_lit(norms, "array<bigint>")
    return (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .withColumn("cnorm2", F.element_at(norm_lit, F.col("cid") + 1))
    )


def _oracle_kmeans_train_assign(
    k: int = KMEANS_K,
    dim: int = EMB_DIM,
    rounds: int = KMEANS_TRAIN_ROUNDS,
) -> str:
    """Full SQL re-derivation of the quantized Lloyd TRAINING LOOP:
    ``rounds`` unrolled iterations (assignment → per-(cid,dim) sums →
    mirrored double mean → floor-re-quantization, empty clusters carry
    the previous centroid via COALESCE), then the final assignment and
    per-centroid stats. Mean arithmetic mirrors the engine exactly:
    (s::DOUBLE / n::DOUBLE) / scale, re-quantized floor(m·scale + 0.5)
    — identical IEEE op order. MATERIALIZED per-round centroid CTEs
    keep DuckDB from re-deriving the whole chain per reference."""
    scale = 1 << 20
    parts = [
        f"""
q AS MATERIALIZED (SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(((x::DOUBLE) * {scale}.0) + 0.5) AS BIGINT)) AS qv
       FROM embeddings),
c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cv
      FROM (SELECT * FROM q ORDER BY vec_id LIMIT {k}))"""
    ]
    for r in range(rounds):
        parts.append(
            f"""
d{r} AS (SELECT q.vec_id, c.cid,
           list_reduce(list_transform(range(1, {dim + 1}),
                                      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])),
                       (a, b) -> a + b) AS dist
         FROM q, c{r} c),
a{r} AS (SELECT vec_id, cid FROM
           (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d{r}) WHERE rn = 1),
s{r} AS (SELECT a.cid, r.i AS i, count(*) AS n, sum(q.qv[r.i]) AS s
         FROM a{r} a JOIN q USING (vec_id), range(1, {dim + 1}) r(i)
         GROUP BY a.cid, r.i),
n{r} AS (SELECT cid,
                list(CAST(floor((((s::DOUBLE) / (n::DOUBLE)) / {scale}.0) * {scale}.0 + 0.5) AS BIGINT)
                     ORDER BY i) AS cv
         FROM s{r} GROUP BY cid),
c{r + 1} AS MATERIALIZED (SELECT c.cid, COALESCE(n.cv, c.cv) AS cv
          FROM c{r} c LEFT JOIN n{r} n USING (cid))"""
        )
    parts.append(
        f"""
df AS (SELECT q.vec_id, c.cid,
         list_reduce(list_transform(range(1, {dim + 1}),
                                    i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])),
                     (a, b) -> a + b) AS dist
       FROM q, c{rounds} c),
af AS (SELECT vec_id, cid FROM
         (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM df) WHERE rn = 1),
cnt AS (SELECT cid, count(*) AS n_members, min(vec_id) AS min_vec_id FROM af GROUP BY cid)"""
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT c.cid, cnt.n_members, cnt.min_vec_id,
       list_reduce(list_transform(c.cv, x -> x * x), (x, y) -> x + y) AS cnorm2
FROM c{rounds} c JOIN cnt USING (cid)
"""
    )


ANN_ORACLES = {
    "ivf_topk": ORACLE_IVF_TOPK,
    "ann_search": ORACLE_ANN_SEARCH,
    "matryoshka_topk": ORACLE_MATRYOSHKA_TOPK,
    "pq_rerank_topk": _oracle_pq_rerank_topk(),
    "ivfpq_topk": _oracle_ivfpq_topk(),
    "lsh_near_dup": _oracle_lsh_near_dup(0.2),
    "knn_two_phase": ORACLE_KNN_TWO_PHASE,
    "grouped_ids": ORACLE_GROUPED_IDS,
    "embedding_stats": ORACLE_EMBEDDING_STATS,
}


SEMANTIC_OCCUPANCY = 64


def sized_k_for(sf_dir: str) -> int:
    """Corpus-sized cluster count for the semantic dedup family:
    k = ceil(N/64) from the embeddings parquet FOOTER row count — the
    cluster-count twin of :func:`sized_planes_for`. Holding k fixed
    makes per-cluster occupancy ∝ N and the cid self-join quadratic
    (measured: fixed k=8 at 23× on 10× data; corpus-sized k at
    2.4×); sizing k holds occupancy — and verify work per vector —
    constant. Deterministic from N, so the oracle re-derives the same
    k; at the driver's sf0.01 fixture (N=500) k = 8, the original pin."""
    from .operators.ann import k_for_corpus
    from .sources.tables import table_row_count

    n = table_row_count(sf_dir, "embeddings") or 500
    return k_for_corpus(n, target_occupancy=SEMANTIC_OCCUPANCY)


def _semantic_init(emb: DataFrame, k: int) -> list[list[int]]:
    """The deterministic lowest-vec_id quantized centroid init shared by
    the semantic family (O(k·D) driver state)."""
    from .operators.ann import quantize_vec

    return [
        list(r.qv)
        for r in emb.select(quantize_vec("embedding").alias("qv"), "vec_id")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    ]


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table with CORPUS-SIZED clustering:
    k = ceil(N/64) (:func:`sized_k_for` — k=8 at the sf0.01 driver
    fixture, the original pin) from the deterministic lowest-vec_id
    init (the arbitrary-trained-centroid path —
    operators.ann.kmeans_train_exact — is pytest-covered), τ = 3/10,
    integer-exact threshold (no float math at the boundary). Beyond
    LITERAL_K_MAX clusters the assignment switches to the value-exact
    Arrow int64-matmul path automatically. Single declarative plan (one
    cid-keyed shuffle + per-cluster Arrow group map) — no persisted
    intermediates, so no spill round-trip either."""
    from .operators.dedup import pins_for, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    init = _semantic_init(emb, sized_k_for(sf_dir))
    # the group-map form consumes the assignment ONCE — nothing to
    # persist, so zero cached blocks by construction
    return semantic_dedup(
        emb, init, threshold_num=3, threshold_den=10,
        pinned=pins_for(sf_dir, "embeddings"),
    )


def _oracle_semantic_dedup(
    k: int | None = None, dim: int = EMB_DIM, num: int = 3, den: int = 10
) -> str:
    """Mirror of semantic_dedup at the registered pin: same floor
    quantization, the first-min integer-L2² argmin assignment, and the
    sign-guarded squared-cosine threshold in HUGEINT — every compared
    quantity is an exact integer on both engines. ``k`` defaults to the
    corpus-sized derivation at the driver's sf0.01 fixture
    (:func:`sized_k_for` — k=8 at N=500)."""
    if k is None:
        k = sized_k_for("/root/testdata/sf0.01")
    scale = 1 << 20
    return f"""
WITH q AS (SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(((x::DOUBLE) * {scale}.0) + 0.5) AS BIGINT)) AS qv
       FROM embeddings),
c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cv
      FROM (SELECT * FROM q ORDER BY vec_id LIMIT {k})),
d AS (SELECT q.vec_id, c.cid,
         list_reduce(list_transform(range(1, {dim + 1}),
                                    i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])),
                     (a, b) -> a + b) AS dist
      FROM q, c),
dd AS (SELECT vec_id, list(dist ORDER BY cid) AS dists FROM d GROUP BY vec_id),
a AS (SELECT dd.vec_id,
         CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS cid, q.qv,
         list_reduce(list_transform(range(1, {dim + 1}),
                                    i -> CAST(q.qv[i] AS HUGEINT) * q.qv[i]),
                     (x, y) -> x + y) AS n2
      FROM dd JOIN q USING (vec_id)),
p AS (SELECT l.vec_id AS lid, r.vec_id AS rid,
         list_reduce(list_transform(range(1, {dim + 1}),
                                    i -> CAST(l.qv[i] AS HUGEINT) * r.qv[i]),
                     (x, y) -> x + y) AS dot,
         l.n2 AS ln2, r.n2 AS rn2
      FROM a l JOIN a r ON l.cid = r.cid AND l.vec_id < r.vec_id),
dropped AS (SELECT DISTINCT rid FROM p
            WHERE dot > 0 AND {den * den} * dot * dot > {num * num} * ln2 * rn2)
SELECT a.vec_id, a.cid, (dropped.rid IS NULL) AS keep
FROM a LEFT JOIN dropped ON a.vec_id = dropped.rid
"""


def _oracle_semantic_dedup_incremental(
    k: int | None = None, dim: int = EMB_DIM, num: int = 3, den: int = 10,
    split: int = 400,
) -> str:
    """DuckDB reference for the operator behind the streaming ingest loop,
    :func:`~.operators.dedup.semantic_dedup_incremental` (parity-tested
    in tests/test_staged_ops.py; not a registry oracle), at the test pin
    batch vec_id >= ``split`` vs corpus vec_id < ``split``, with the
    SEQUENTIAL-INGEST semantics: rule (a) drops a batch vector on any
    same-cluster corpus neighbor above τ; rule (b) replays the
    per-cluster greedy over the corpus-clean batch rows in vec_id order
    — a row is kept iff no KEPT earlier row exceeds τ — via a recursive
    CTE that advances one rank per step per cluster, carrying the kept
    rank list. Inner dot/n2 folds are BIGINT (bound: the engine-side
    `_semantic_assign` guard caps max|qv| so D·max² < 2⁶⁰; DuckDB would
    error, not wrap, if violated) and the threshold compare widens to
    HUGEINT — exact end to end. CTEs feeding the recursion are
    MATERIALIZED so each recursive step reuses them (75× on sf0.1).
    NOTE the centroid init is over the FULL table (the same k lowest
    vec_ids the engine collects before splitting); ``k`` defaults to
    the corpus-sized derivation at the driver's sf0.01 fixture."""
    if k is None:
        k = sized_k_for("/root/testdata/sf0.01")
    scale = 1 << 20

    def dot(lh: str, rh: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {dim + 1}),"
            f" i -> {lh}.qv[i] * {rh}.qv[i]), (x, y) -> x + y)"
        )

    thr = (
        f"dot > 0 AND {den * den} * CAST(dot AS HUGEINT) * dot"
        f" > {num * num} * CAST(ln2 AS HUGEINT) * rn2"
    )
    return f"""
WITH RECURSIVE
q AS MATERIALIZED (SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(((x::DOUBLE) * {scale}.0) + 0.5) AS BIGINT)) AS qv
       FROM embeddings),
c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cv
      FROM (SELECT * FROM q ORDER BY vec_id LIMIT {k})),
d AS (SELECT q.vec_id, c.cid,
         list_reduce(list_transform(range(1, {dim + 1}),
                                    i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])),
                     (a, b) -> a + b) AS dist
      FROM q, c),
dd AS (SELECT vec_id, list(dist ORDER BY cid) AS dists FROM d GROUP BY vec_id),
a AS MATERIALIZED (SELECT dd.vec_id,
         CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS cid, q.qv,
         list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y) AS n2
      FROM dd JOIN q USING (vec_id)),
cp AS (SELECT r.vec_id AS rid, l.n2 AS ln2, r.n2 AS rn2, {dot('l', 'r')} AS dot
       FROM a l JOIN a r
         ON l.cid = r.cid AND l.vec_id < {split} AND r.vec_id >= {split}),
cd AS (SELECT DISTINCT rid FROM cp WHERE {thr}),
bb AS MATERIALIZED (SELECT a.vec_id, a.cid, a.qv, a.n2,
              row_number() OVER (PARTITION BY a.cid ORDER BY a.vec_id) AS rk
       FROM a LEFT JOIN cd ON a.vec_id = cd.rid
       WHERE a.vec_id >= {split} AND cd.rid IS NULL),
bp AS (SELECT l.cid, l.rk AS lrk, r.rk AS rrk, {dot('l', 'r')} AS dot,
              l.n2 AS ln2, r.n2 AS rn2
       FROM bb l JOIN bb r ON l.cid = r.cid AND l.rk < r.rk),
bpf AS (SELECT cid, lrk, rrk FROM bp WHERE {thr}),
preds AS MATERIALIZED (SELECT cid, rrk, list(lrk) AS ps FROM bpf GROUP BY cid, rrk),
sz AS MATERIALIZED (SELECT cid, max(rk) AS mx FROM bb GROUP BY cid),
g AS (
  SELECT cid, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS kept FROM sz
  UNION ALL
  SELECT g.cid, g.i + 1,
         CASE WHEN p.ps IS NOT NULL AND len(list_intersect(p.ps, g.kept)) > 0
              THEN g.kept
              ELSE list_append(g.kept, g.i + 1) END
  FROM g
  JOIN sz ON sz.cid = g.cid AND g.i < sz.mx
  LEFT JOIN preds p ON p.cid = g.cid AND p.rrk = g.i + 1
),
fin AS (SELECT g.cid, g.kept FROM g JOIN sz ON sz.cid = g.cid AND g.i = sz.mx),
keepset AS (SELECT bb.vec_id FROM bb JOIN fin ON bb.cid = fin.cid
            WHERE list_contains(fin.kept, bb.rk))
SELECT a.vec_id, a.cid, (ks.vec_id IS NOT NULL) AS keep
FROM a LEFT JOIN keepset ks ON a.vec_id = ks.vec_id
WHERE a.vec_id >= {split}
"""


# Queries below are defined after the base dicts, hence the late
# ANN_QUERIES / ANN_ORACLES update at the end of the module.

# ---------------------------------------------------------------------------
# ANN recall evaluation
# ---------------------------------------------------------------------------

ANN_EVAL_Q_LO = 16
ANN_EVAL_Q_HI = 48
ANN_EVAL_K = 10
ANN_EVAL_NPROBE = 4


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF tier against exact search — THE tuning
    measurement every approximate-index deployment runs (FAISS users
    sweep nprobe against exactly this curve; the reference ships
    IndexFlatL2 and would compute it the day it moved to IVF). For the
    32 query vectors 16 ≤ vec_id < 48 (disjoint from the 16 training
    rows): exact top-10 via the expression kNN join, approximate top-10
    via the batched partition-pruned IVF join (nprobe=4 of 16), output
    one row per query — (query_id, n_hits, recall) with recall a raw
    int/int double (bit-exact cross-engine).

    Both tiers fold into ONE Arrow scan of the
    materialized layout via
    :func:`~.operators.knn.knn_recall_eval_exact` — each batch
    computes the exact left-fold distance matrix once and emits
    per-partition top-k candidates for the exact tier and for the
    probe-masked tier; one repartition on ``query_id`` then carries
    the rank windows, the intersection count, and the per-query
    aggregate with zero further shuffles (the previous two-scan
    pipeline planned 6 hash exchanges + 2 one-row BNLJs). Ranks — and
    therefore (n_hits, recall) and the oracle hash — are unchanged:
    the kernel's fold and (dist, id) tie-break are bit-exact with the
    expression path both earlier scans used."""
    from .operators.ann import nearest_centroids
    from .operators.knn import knn_recall_eval_exact

    path, centroids = _ivf_layout(spark, sf_dir)
    layout = spark.read.parquet(path)
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(
            (F.col("vec_id") >= ANN_EVAL_Q_LO)
            & (F.col("vec_id") < ANN_EVAL_Q_HI)
        )
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    qids = [int(r.vec_id) for r in qrows]
    qmat = [[float(x) for x in r.embedding] for r in qrows]
    probes = [
        nearest_centroids(centroids, v, ANN_EVAL_NPROBE) for v in qmat
    ]
    return knn_recall_eval_exact(
        layout, qids, qmat, probes, k=ANN_EVAL_K
    )


def _oracle_ann_recall_eval(
    k: int = ANN_EVAL_K,
    nprobe: int = ANN_EVAL_NPROBE,
    lo: int = ANN_EVAL_Q_LO,
    hi: int = ANN_EVAL_Q_HI,
) -> str:
    """Mirror: same 16 lowest-id centroids, per-query probe sets, float
    argmin assignment (first-min via ORDER cdist, cid), exact and
    IVF-restricted top-k, overlap count, int/int recall division."""
    return f"""
WITH cents AS MATERIALIZED (SELECT vec_id AS cid, embedding AS ce
                            FROM embeddings WHERE vec_id < 16),
qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe
                    FROM embeddings WHERE vec_id >= {lo} AND vec_id < {hi}),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_dk_l2('c.ce', 'q.qe')} ASC, c.cid ASC) AS pr
    FROM qs q CROSS JOIN cents c
  ) WHERE pr <= {nprobe}
),
assigned AS MATERIALIZED (
  SELECT vec_id, embedding, cid AS centroid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_dk_l2('e.embedding', 'c.ce')} ASC,
                                       c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, a.vec_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_dk_l2('a.embedding', 'q.qe')} ASC,
                                       a.vec_id ASC) AS rank
    FROM assigned a
    JOIN probes p ON a.centroid = p.cid
    JOIN qs q ON q.query_id = p.query_id
    WHERE a.vec_id <> q.query_id
  ) WHERE rank <= {k}
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_dk_l2('e.embedding', 'q.qe')} ASC,
                                       e.vec_id ASC) AS rank
    FROM embeddings e CROSS JOIN qs q
    WHERE e.vec_id <> q.query_id
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.query_id, count(*) AS n_hits
  FROM approx a JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  GROUP BY a.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.n_hits, 0) AS INT) AS n_hits,
       (COALESCE(h.n_hits, 0)::DOUBLE) / {float(k)} AS recall
FROM qs q LEFT JOIN hits h USING (query_id)
"""


# ---------------------------------------------------------------------------
# MMR diversity re-rank
# ---------------------------------------------------------------------------

MMR_N_QUERIES = 4
MMR_SHORTLIST = 20
MMR_K = 5
MMR_LAM_NUM, MMR_LAM_DEN = 7, 10


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversity re-rank
    (operators.knn.mmr_rerank) of a cosine top-20 shortlist for 4 query
    vectors (vec_id < 4), λ = 7/10, 5 picks per query — the standard
    post-retrieval step between the reference's ``index.search`` and
    its result grid. Exactness contract: shortlist relevance and
    pairwise candidate cosines are rounded to 6 decimals (kept-rounded
    class) and the greedy's score arithmetic mirrors the oracle
    op-for-op on those rounded doubles, so selections and scores match
    bit-for-bit."""
    from .operators.knn import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") < MMR_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    short = knn_join(
        emb, qdf, k=MMR_SHORTLIST, metric="cosine", exclude_self=True
    ).select(
        "query_id",
        "vec_id",
        "embedding",
        F.round("dist", 6).alias("rel"),
    )
    out = mmr_rerank(
        short, k=MMR_K, lam_num=MMR_LAM_NUM, lam_den=MMR_LAM_DEN
    )
    return out.select("query_id", "rank", "vec_id", "mmr_score")


def _oracle_mmr_rerank(
    n_queries: int = MMR_N_QUERIES,
    shortlist: int = MMR_SHORTLIST,
    k: int = MMR_K,
    lam_num: int = MMR_LAM_NUM,
    lam_den: int = MMR_LAM_DEN,
) -> str:
    """Mirror of the MMR greedy with the k selection steps UNROLLED as
    chained CTEs (window row_number picks each step's argmax — no
    recursion needed for a fixed k, and unlike a recursive CTE the
    unrolled form may use window functions freely). Score arithmetic is
    written exactly as the engine computes it:
    (num/den)·rel − ((den−num)/den)·maxsim on the rounded doubles."""
    lam = f"({lam_num}.0 / {lam_den}.0)"
    one_m = f"({lam_den - lam_num}.0 / {lam_den}.0)"
    parts = [
        f"""
qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe
                    FROM embeddings WHERE vec_id < {n_queries}),
short AS MATERIALIZED (
  SELECT query_id, vec_id, embedding, round(sim, 6) AS rel FROM (
    SELECT q.query_id, e.vec_id, e.embedding,
           {_dk_cosine('e.embedding', 'q.qe')} AS sim,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_dk_cosine('e.embedding', 'q.qe')} DESC,
                                       e.vec_id ASC) AS rn
    FROM embeddings e CROSS JOIN qs q
    WHERE e.vec_id <> q.query_id
  ) WHERE rn <= {shortlist}
),
pair AS MATERIALIZED (
  SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib,
         round({_dk_cosine('a.embedding', 'b.embedding')}, 6) AS psim
  FROM short a JOIN short b
    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
),
picks0 AS (SELECT query_id, CAST(NULL AS BIGINT) AS vec_id,
                  0 AS rank, 0.0 AS mmr_score
           FROM qs WHERE FALSE)"""
    ]
    for t in range(1, k + 1):
        prev = f"picks{t - 1}"
        parts.append(
            f"""
ms{t} AS (
  SELECT s.query_id, s.vec_id, max(p.psim) AS m
  FROM short s
  JOIN {prev} sel ON sel.query_id = s.query_id
  JOIN pair p ON p.query_id = s.query_id AND p.ia = s.vec_id
             AND p.ib = sel.vec_id
  GROUP BY s.query_id, s.vec_id
),
pick{t} AS (
  SELECT query_id, vec_id, {t} AS rank, score AS mmr_score FROM (
    SELECT s.query_id, s.vec_id,
           {lam} * s.rel - {one_m} * COALESCE(m.m, 0.0) AS score,
           row_number() OVER (PARTITION BY s.query_id
                              ORDER BY ({lam} * s.rel
                                        - {one_m} * COALESCE(m.m, 0.0)) DESC,
                                       s.vec_id ASC) AS rn
    FROM short s
    LEFT JOIN ms{t} m ON m.query_id = s.query_id AND m.vec_id = s.vec_id
    WHERE s.vec_id NOT IN (SELECT vec_id FROM {prev} x
                           WHERE x.query_id = s.query_id)
  ) WHERE rn = 1
),
picks{t} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{t})"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, mmr_score
FROM picks{k} WHERE rank >= 1
"""
    )


# ---------------------------------------------------------------------------
# The Arrow/BLAS serving kernel under the oracle contract
# ---------------------------------------------------------------------------

SB_Q_LO = 48
SB_Q_HI = 64
SB_K = 10


def q_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving throughput kernel under the driver's hash-match
    contract: ``search.search_batch(index="flat")`` routes a 16-query
    batch (48 ≤ vec_id < 64) through ``knn_join_arrow`` — one B×D @
    D×Q matmul per corpus partition, per-partition ``argpartition``
    heaps, one tiny window rank over ≤ partitions·Q·k candidates. This
    is the exact query-matrix shape of the reference's
    ``index.search(q, k)`` (``utils/faiss_utils.py:19-22``) and the
    kernel behind SERVE_LATENCY.json; every other registry row runs the
    expression operators, so this row is what puts the BLAS path itself
    under the oracle. Exactness contract: BLAS accumulation order is
    not the oracle's left-fold, so ``dist`` is rounded to 6 decimals
    (kept-rounded class, same as ``mmr_rerank``); ranks compare RAW —
    the fixture's distance gaps dwarf the ~1e-12 BLAS/fold divergence
    (rank parity with the exact operator is additionally pinned in
    tests/test_ann.py). Corpus never shuffles; candidate volume is
    independent of N."""
    from .search import search_batch

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter((F.col("vec_id") >= SB_Q_LO) & (F.col("vec_id") < SB_Q_HI))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    out = search_batch(
        emb, queries, k=SB_K, index="flat", metric="l2", exclude_self=True
    )
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        F.round("dist", 6).alias("dist"),
    )


def _oracle_search_batch(
    k: int = SB_K, lo: int = SB_Q_LO, hi: int = SB_Q_HI
) -> str:
    """Exact batched kNN: per-query window rank over L2 distance at
    6-decimal granularity (round(dist, 6) ASC, vec_id ASC — the SAME
    tie rule as the kernel's global window: BLAS gives 1-ulp-different
    distances even to exact duplicate vectors, so raw ranking diverges
    on duplicate-bearing corpora, as the serving fuzz panel showed)."""
    return f"""
WITH qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe
                         FROM embeddings
                         WHERE vec_id >= {lo} AND vec_id < {hi})
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       round(dist, 6) AS dist
FROM (
  SELECT q.query_id, e.vec_id,
         {_dk_l2('e.embedding', 'q.qe')} AS dist,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY round({_dk_l2('e.embedding', 'q.qe')}, 6)
                                       ASC,
                                     e.vec_id ASC) AS rank
  FROM embeddings e CROSS JOIN qs q
  WHERE e.vec_id <> q.query_id
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Quantized-tier recall (PQ + SQ eval)
# ---------------------------------------------------------------------------


def q_quantized_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ and SQ tiers against exact search — the
    missing member of the eval family (`ann_recall_eval` covers IVF,
    `dedup_recall_eval` covers LSH banding; this is the
    quantization-error sweep a deployment runs before choosing a code
    size). Key identity making the batched form one declarative plan:
    ADC distance IS exact L2 to the reconstruction
    (``Σ_j ||q_j − c_j(x)||² = ||q − recon(x)||²``), so the
    per-tier approximate top-k is the EXISTING exact kNN join over a
    reconstructed-vector column — PQ recon concatenates the assigned
    codeword slices, SQ recon is the bin-midpoint dequantization, both
    pure expressions over the registered encode machinery
    (``operators.pq``). Same 32 held-out queries as `ann_recall_eval`
    (16 ≤ vec_id < 48, training rows excluded); output one row per
    (query, tier): (query_id, tier, n_hits, recall), int/int doubles —
    bit-exact cross-engine.

    Physical path: all three top-k sets come from ONE corpus
    scan through :func:`~.operators.knn.knn_multi_recon_recall` — the
    Arrow kernel whose per-dimension float64 loop replays the
    expression/oracle left fold bit-for-bit per tier — with the PQ/SQ
    encode+reconstruct folded into its recon hooks
    (:func:`pq_recon_np` / :func:`sq_recon_np`, the exact numpy twins
    of ``operators.pq``'s expressions). At sf0.1 the interpreted-HOF
    form (pq_encode expression + three expression kNN joins, ~N×7000
    interpreted element-ops) timed 4.95 s and the per-tier
    `knn_join_exact` form (4 corpus passes) 2.40 s; the one-scan fold
    produces the identical frame (pinned in tests/test_staged_ops.py
    against the oracle)."""
    from .operators.knn import knn_multi_recon_recall
    from .operators.pq import (
        pq_recon_np,
        slice_codebooks,
        sq_recon_np,
        sq_train_bounds,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE driver collect for the train slice AND the query slice (they
    # are adjacent id ranges), split client-side
    head = (
        emb.filter(F.col("vec_id") < ANN_EVAL_Q_HI)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    train = [[float(x) for x in r.embedding] for r in head if r.vec_id < 16]
    qrows = [r for r in head if r.vec_id >= ANN_EVAL_Q_LO]
    qids = [int(r.vec_id) for r in qrows]
    qmat = [[float(x) for x in r.embedding] for r in qrows]

    codebooks = slice_codebooks(train, PQ_M)
    bounds = sq_train_bounds(train)
    # exact + PQ + SQ top-k candidates from ONE corpus scan (the
    # knn_recall_eval_exact fold generalized to recon tiers), one
    # query_id repartition feeding every downstream window/aggregate.
    return knn_multi_recon_recall(
        emb,
        qids,
        qmat,
        recons=[("pq", pq_recon_np(codebooks)), ("sq", sq_recon_np(bounds))],
        k=ANN_EVAL_K,
    )


def _oracle_quantized_recall_eval(
    m: int = PQ_M,
    dim: int = EMB_DIM,
    k: int = ANN_EVAL_K,
    lo: int = ANN_EVAL_Q_LO,
    hi: int = ANN_EVAL_Q_HI,
) -> str:
    """Mirror: codes re-derived per subspace (struct-min = first-min
    tie), PQ ranking by the registered ADC expression per query, SQ
    ranking by the bin-midpoint dequant distance, exact ranking as in
    ann_recall_eval, int/int recall."""
    dsub = dim // m
    code_exprs = ",\n         ".join(
        f"min({{'d': {_dk_l2sq_slice('e.embedding', 't.embedding', j, dsub)}, "
        f"'c': t.vec_id}}).c AS code_{j}"
        for j in range(m)
    )
    lut_joins = "\n".join(
        f"JOIN train t{j} ON t{j}.vec_id = c.code_{j}" for j in range(m)
    )
    adc = " + ".join(
        f"({_dk_l2sq_slice('q.qe', f't{j}.embedding', j, dsub)})" for j in range(m)
    )
    code = (
        "CAST(greatest(0, least(255, "
        "CAST(floor((CAST(s[1] AS DOUBLE) - s[2]) / s[3] * 255.0) AS INT)"
        ")) AS DOUBLE)"
    )
    term = f"(s[2] + ({code} + 0.5) * s[3] / 255.0 - CAST(s[4] AS DOUBLE))"
    sqdist = (
        "list_reduce(list_transform("
        "list_zip(e.embedding, bl.lo_l, bl.rng_l, q.qe), "
        f"s -> {term} * {term}), (x, y) -> x + y)"
    )
    return f"""
WITH train AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe
                    FROM embeddings WHERE vec_id >= {lo} AND vec_id < {hi}),
codes AS MATERIALIZED (
  SELECT e.vec_id AS vid,
         {code_exprs}
  FROM embeddings e CROSS JOIN train t
  GROUP BY e.vec_id
),
idx AS (SELECT unnest(range(1, {dim + 1})) AS i),
bounds AS (
  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS blo,
         greatest(max(CAST(embedding[i] AS DOUBLE))
                  - min(CAST(embedding[i] AS DOUBLE)), 1e-12) AS brng
  FROM train, idx GROUP BY i
),
bl AS (SELECT list(blo ORDER BY i) AS lo_l, list(brng ORDER BY i) AS rng_l
       FROM bounds),
pq_ranked AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vid AS vec_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ({adc}) ASC, c.vid ASC) AS rn
    FROM codes c
    {lut_joins}
    CROSS JOIN qs q
    WHERE c.vid <> q.query_id
  ) WHERE rn <= {k}
),
sq_ranked AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ({sqdist}) ASC, e.vec_id ASC) AS rn
    FROM embeddings e, bl, qs q
    WHERE e.vec_id <> q.query_id
  ) WHERE rn <= {k}
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_dk_l2('e.embedding', 'q.qe')} ASC,
                                       e.vec_id ASC) AS rn
    FROM embeddings e CROSS JOIN qs q
    WHERE e.vec_id <> q.query_id
  ) WHERE rn <= {k}
),
ph AS (SELECT a.query_id, count(*) AS n FROM pq_ranked a
       JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       GROUP BY a.query_id),
sh AS (SELECT a.query_id, count(*) AS n FROM sq_ranked a
       JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       GROUP BY a.query_id)
SELECT q.query_id, 'pq' AS tier, CAST(COALESCE(ph.n, 0) AS INT) AS n_hits,
       (COALESCE(ph.n, 0)::DOUBLE) / {float(k)} AS recall
FROM qs q LEFT JOIN ph USING (query_id)
UNION ALL
SELECT q.query_id, 'sq' AS tier, CAST(COALESCE(sh.n, 0) AS INT) AS n_hits,
       (COALESCE(sh.n, 0)::DOUBLE) / {float(k)} AS recall
FROM qs q LEFT JOIN sh USING (query_id)
"""


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training)
# ---------------------------------------------------------------------------

HN_K = 10


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each held-out query, the top-k nearest
    corpus vectors whose label DIFFERS from the query's — the standard
    negative-sampling step when training a retrieval embedding model
    with a contrastive objective (the training loop that produced the
    reference's embeddings; its `src/model.py` fine-tunes on
    positive/negative pairs, and at corpus scale the negatives worth
    training on are exactly these nearest wrong-class rows). Same 32
    held-out queries as `ann_recall_eval` (16 ≤ vec_id < 48); output
    (query_id, vec_id, neg_label, dist, rank).

    ``dist`` is the RAW left-fold double — no rounding. The kernel is
    bit-exact with DuckDB's ``list_reduce`` left fold, so rounding here
    would only have been cosmetic; emitting the raw value keeps this
    query out of the rounded-hash class entirely.

    Physical path: :func:`~.operators.knn.knn_join_exact` with the
    per-query label mask — the corpus scans ONCE (never shuffles),
    same-label rows drop inside the Arrow kernel before the k-cut, the
    bit-exact left-fold distance keeps the DuckDB oracle hash-matched,
    and only ≤ partitions·Q·k candidates reach the global rank window.
    3-SF oracle-parity + plan tests live in tests/test_staged_ops.py."""
    from .operators.knn import knn_join_exact

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(
            (F.col("vec_id") >= ANN_EVAL_Q_LO)
            & (F.col("vec_id") < ANN_EVAL_Q_HI)
        )
        .select("vec_id", "embedding", "label")
        .orderBy("vec_id")
        .collect()
    )
    qids = [int(r.vec_id) for r in qrows]
    qmat = [[float(x) for x in r.embedding] for r in qrows]
    qlabels = [int(r.label) for r in qrows]
    out = knn_join_exact(
        emb, qids, qmat, k=HN_K,
        query_labels=qlabels, label_col="label",
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("label").alias("neg_label"),
        "dist",
        "rank",
    )


def _oracle_hard_negatives(
    k: int = HN_K, lo: int = ANN_EVAL_Q_LO, hi: int = ANN_EVAL_Q_HI
) -> str:
    """Mirror: cross join restricted to label inequality, left-fold L2,
    (dist, vec_id) rank, RAW double distance (bit-exact both sides —
    see the query docstring's exact-hash note)."""
    return f"""
WITH qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe,
                                label AS qlabel
                         FROM embeddings
                         WHERE vec_id >= {lo} AND vec_id < {hi})
SELECT query_id, vec_id, neg_label, dist_exact AS dist, rank
FROM (
  SELECT q.query_id, e.vec_id, e.label AS neg_label,
         {_dk_l2('e.embedding', 'q.qe')} AS dist_exact,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY {_dk_l2('e.embedding', 'q.qe')} ASC,
                                     e.vec_id ASC) AS rank
  FROM embeddings e CROSS JOIN qs q
  WHERE e.label <> q.qlabel
) WHERE rank <= {k}
"""


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination screen
    (operators/decontam.py::semantic_screen): the 50 corpus vectors
    closest (unit-normalized L2 ≡ monotone cosine) to ANY of the 32
    held-out benchmark vectors — the semantic companion to the n-gram
    ``decontaminate`` row; rephrasings that defeat lexical overlap stay
    close in embedding space. Exact: the normalize hook and the
    left-fold distance reuse the bit-exact ``knn_join_exact`` kernel,
    so DuckDB re-derives every distance from the same parquet floats."""
    from .operators.decontam import semantic_screen

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_screen(emb, eval_ids_max=32, k=50)


ORACLE_SEMANTIC_DECONTAMINATE = f"""
WITH nrm AS (
  SELECT vec_id, {_dk_norm('embedding')} AS nv, embedding FROM embeddings
),
ne AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(x AS DOUBLE) / greatest(nv, 1e-12)) AS e
  FROM nrm
),
ev AS (SELECT vec_id AS eval_id, e FROM ne WHERE vec_id < 32),
corp AS (SELECT vec_id, e FROM ne WHERE vec_id >= 32),
d AS (
  SELECT c.vec_id, ev.eval_id, {_dk_l2('c.e', 'ev.e')} AS dist
  FROM corp c CROSS JOIN ev
),
best AS (
  SELECT vec_id, eval_id, dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, eval_id ASC) AS rn
  FROM d
)
SELECT vec_id, eval_id, dist FROM best WHERE rn = 1
ORDER BY dist ASC, vec_id ASC LIMIT 50
"""


# ---------------------------------------------------------------------------
# Embedding outlier screen (data quality)
# ---------------------------------------------------------------------------

OUT_K = 8                  # screen granularity — see the docstring scale note
OUT_NUM, OUT_DEN = 6, 5    # flag dist² > (6/5) × cluster mean dist² — random
#                            unit vectors CONCENTRATE distances (measured
#                            ratio range ≈ [0, 1.31] across all 3 SFs), so an
#                            integer factor would be vacuous; 6/5 flags the
#                            ~1-2% heavy tail at every SF


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality outlier screen — the drop-corrupt-vectors gate
    a training pipeline runs before indexing (degenerate/garbage
    embeddings poison both ANN recall and semantic dedup): assign every
    vector to its nearest of k=8 lowest-id centroids with the exact
    integer-L2² argmin over floor-quantized vectors (first-min ties go
    to the lower centroid id), then flag rows
    whose squared distance exceeds ``OUT_NUM/OUT_DEN ×`` their
    cluster's mean squared distance. The test is division-free
    cross-multiplied integer arithmetic
    (``dist²·den·n_c > num·Σdist²_c``, carried in
    decimal(38,0) / HUGEINT — the `idle_customers`/`semantic_dedup`
    idiom), so the flag is bit-exact cross-engine. Output one row per
    vector: (vec_id, cid, dist2, is_outlier).

    Scale shape: one corpus scan computes the assignment, a k-row
    partial-aggregated per-cluster total broadcasts back — the corpus
    itself never shuffles. k is a SCREEN GRANULARITY, not a blocking
    factor: per-row cost is k·D regardless of N (linear, 32-way
    parallel) and candidate volume never depends on it, so the fixed
    driver-pin k keeps the pure-Catalyst no-Python-worker plan
    (LITERAL_K_MAX contract); a corpus-sized k would route the same
    semantics through the Arrow int64-matmul path unchanged."""
    from .operators.ann import KMEANS_SCALE, assign_cids_arrow_int, quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", quantize_vec("embedding", KMEANS_SCALE).alias("qv"))
    crows = (
        q.filter(F.col("vec_id") < OUT_K)
        .orderBy("vec_id")
        .collect()
    )
    # the exact Arrow int64-matmul kernel (guide §4.2) instead of a k·D
    # expression-literal argmin (~n·k·D ≈ 1M interpreted element-lambda
    # evals at sf0.1) — same integers, same first-min tie-break, and
    # dist2 is the identical int64 L2² (the |q|² term is added back
    # inside the kernel)
    assigned = assign_cids_arrow_int(
        q, [[int(v) for v in r.qv] for r in crows], with_dist2=True
    )
    per = assigned.groupBy("cid").agg(
        F.count("*").alias("n_c"),
        F.sum(F.col("dist2").cast("decimal(38,0)")).alias("sum_d2"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return assigned.join(F.broadcast(per), "cid").select(
        "vec_id",
        "cid",
        "dist2",
        (
            dec(F.col("dist2")) * F.lit(OUT_DEN) * dec(F.col("n_c"))
            > F.lit(OUT_NUM) * F.col("sum_d2")
        ).alias("is_outlier"),
    )


def _oracle_embedding_outliers(
    k: int = OUT_K, num: int = OUT_NUM, den: int = OUT_DEN,
    dim: int = EMB_DIM,
) -> str:
    """Mirror: same floor-quantization and lowest-id centroids as the
    operator, min-distance assignment (first-min ties), then
    the identical cross-multiplied integer outlier test in HUGEINT."""
    scale = 1 << 20
    return f"""
WITH q AS (SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(((x::DOUBLE) * {scale}.0) + 0.5) AS BIGINT)) AS qv
       FROM embeddings),
c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cv
      FROM (SELECT * FROM q WHERE vec_id < {k} ORDER BY vec_id)),
d AS (SELECT q.vec_id, c.cid,
         list_reduce(list_transform(range(1, {dim + 1}),
                                    i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])),
                     (a, b) -> a + b) AS dist
      FROM q, c),
dd AS (SELECT vec_id, list(dist ORDER BY cid) AS dists FROM d GROUP BY vec_id),
a AS (SELECT vec_id,
         CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS cid,
         list_min(dists) AS dist2
      FROM dd),
per AS (SELECT cid, count(*) AS n_c, sum(CAST(dist2 AS HUGEINT)) AS sum_d2
        FROM a GROUP BY cid)
SELECT a.vec_id, a.cid, a.dist2,
       (CAST(a.dist2 AS HUGEINT) * {den} * n_c > {num} * sum_d2) AS is_outlier
FROM a JOIN per USING (cid)
"""


# ---------------------------------------------------------------------------
# Canonical fixed-batch assignment (SA3 oracle)
# ---------------------------------------------------------------------------

BA_BATCH = 16
BA_SEED = 42


def q_batch_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-canonical DataLoader batching (SA3, reference
    ``train_model.py:49-50``): batch ids derive from the GLOBAL
    deterministic-shuffle rank (a pure function of ids/seed/size, never
    of the physical partitioning), with the trailing partial batch
    dropped globally exactly as ``drop_last=True`` does. Two-phase
    bucketed rank — no single-task global sort; see
    :func:`operators.batching.batch_assignments`."""
    from .operators.batching import batch_assignments

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return batch_assignments(
        emb, batch_size=BA_BATCH, drop_last=True, id_col="vec_id",
        seed=BA_SEED,
    )


def _oracle_batch_assignments(
    batch_size: int = BA_BATCH, seed: int = BA_SEED
) -> str:
    """Mirror: global rank over (multiplicative-hash key, id), trailing
    partial batch cut by the global count — all-integer arithmetic."""
    key = f"((vec_id + {seed}) * 2654435761) % 2147483647"
    return f"""
WITH r AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY {key} ASC, vec_id ASC) - 1 AS rk,
         count(*) OVER () AS n
  FROM embeddings
)
SELECT vec_id,
       CAST(floor(rk / {batch_size}) AS BIGINT) AS batch_id,
       CAST(rk % {batch_size} AS INT) AS pos
FROM r WHERE rk < n - (n % {batch_size})
"""


BQ_TRAIN_N = 16
BQ_K = 10


def q_bq_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization Hamming top-10 — the 5th quantization tier
    (Flat/IVF/PQ/SQ/BQ; FAISS ``IndexBinaryFlat`` analogue, the 32×
    bandwidth cut modern rescoring tiers lean on): 1 bit per dimension
    (above/below the per-dim training mean of the 16 lowest-id rows),
    packed into two 32-bit BIGINT halves, searched by
    ``bit_count(xor(...))``. INTEGER-exact end-to-end: the bit test is
    the division-free cross-multiplication q_i·n_train > Σ_train q_i
    over the standard floor(x·2^20 + 0.5) quantization, so the oracle
    re-derives thresholds, table codes, the QUERY's code (from the
    vec_id-0 row — the whole pipeline is cross-checked, not just the
    scan), and every Hamming distance bit-for-bit.

    Scale shape: encode is one projection (zero shuffle, literal
    thresholds; its ``transform``/``zip_with``/``aggregate`` run
    interpreted inside the generated stage); search scans 16 bytes/row instead of 256 and
    plans the flagship TakeOrderedAndProject — no exchange anywhere.
    The serving path over the same packed columns is
    :func:`~.operators.knn.knn_join_arrow_hamming` (uint64 numpy XOR +
    byte-LUT popcount, bit-identical to this expression form — pinned
    in tests/test_ann.py). Footprint measured: 18.3 bytes/vector,
    0.07× of flat (INDEX_FOOTPRINT.json)."""
    from .operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_hamming,
        bq_train_thresholds,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < BQ_TRAIN_N)
        .select("vec_id", "embedding")
        .orderBy(F.col("vec_id").asc())
        .collect()
    )
    train = [[float(x) for x in r.embedding] for r in rows]
    qvec = train[0]  # vec_id 0 — the flagship query row
    thr = bq_train_thresholds(train)
    lo, hi = bq_encode_cols(thr, len(train))
    qh = bq_encode_query(qvec, thr, len(train))
    codes = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "label", lo.alias("bq_lo"), hi.alias("bq_hi")
    )
    out = codes.select(
        "vec_id", "label", bq_hamming(qh, ["bq_lo", "bq_hi"]).alias("hamming")
    )
    return out.orderBy(
        F.col("hamming").asc(), F.col("vec_id").asc()
    ).limit(BQ_K)


def _oracle_bq_hamming_topk(
    dim: int = EMB_DIM, k: int = BQ_K, train_n: int = BQ_TRAIN_N
) -> str:
    """Re-derives the entire BQ pipeline in SQL: integer threshold
    sums over the training slice, both packed halves for EVERY row
    (shifts stay ≤ bit 31 — DuckDB's checked ``<<`` overflows at 63),
    the query's code from its own table row, and
    bit_count(xor(...)) Hamming."""
    scale = 1 << 20
    qint = (
        f"CAST(floor(CAST(e.embedding[j] AS DOUBLE) * {scale}.0 + 0.5) "
        "AS BIGINT)"
    )

    def half(lo_j: int) -> str:
        return (
            f"list_reduce(list_transform(range({lo_j}, {lo_j + 32}), "
            f"j -> CASE WHEN {qint} * tn.n > tl.tl[j] "
            f"THEN (1::BIGINT << (j - {lo_j})) ELSE 0::BIGINT END), "
            "(a, b) -> a + b)"
        )

    return f"""
WITH train AS (SELECT embedding FROM embeddings WHERE vec_id < {train_n}),
tn AS (SELECT count(*) AS n FROM train),
idx AS (SELECT unnest(range(1, {dim + 1})) AS i),
thr0 AS (SELECT i,
           sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * {scale}.0 + 0.5)
               AS BIGINT)) AS t
         FROM train, idx GROUP BY i),
tl AS (SELECT list(t ORDER BY i) AS tl FROM thr0),
enc AS (
  SELECT e.vec_id, e.label,
         {half(1)} AS lo,
         {half(33)} AS hi
  FROM embeddings e, tl, tn
),
q AS (SELECT lo AS qlo, hi AS qhi FROM enc WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       CAST(bit_count(xor(e.lo, q.qlo)) + bit_count(xor(e.hi, q.qhi))
            AS INT) AS hamming
FROM enc e, q
WHERE e.vec_id <> 0
ORDER BY hamming ASC, e.vec_id ASC
LIMIT {k}
"""


ANN_QUERIES.update(
    {
        "kmeans_train_assign": q_kmeans_train_assign,
        "semantic_dedup": q_semantic_dedup,
        "ann_recall_eval": q_ann_recall_eval,
        "mmr_rerank": q_mmr_rerank,
        "search_batch": q_search_batch,
        "batch_assignments": q_batch_assignments,
        "embedding_outliers": q_embedding_outliers,
        "quantized_recall_eval": q_quantized_recall_eval,
        "hard_negatives": q_hard_negatives,
        "semantic_decontaminate": q_semantic_decontaminate,
        "bq_hamming_topk": q_bq_hamming_topk,
    }
)
ANN_ORACLES.update(
    {
        "kmeans_train_assign": _oracle_kmeans_train_assign(),
        "semantic_dedup": _oracle_semantic_dedup(),
        "ann_recall_eval": _oracle_ann_recall_eval(),
        "mmr_rerank": _oracle_mmr_rerank(),
        "search_batch": _oracle_search_batch(),
        "batch_assignments": _oracle_batch_assignments(),
        "embedding_outliers": _oracle_embedding_outliers(),
        "quantized_recall_eval": _oracle_quantized_recall_eval(),
        "hard_negatives": _oracle_hard_negatives(),
        "semantic_decontaminate": ORACLE_SEMANTIC_DECONTAMINATE,
        "bq_hamming_topk": _oracle_bq_hamming_topk(),
    }
)
