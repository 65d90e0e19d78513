"""Distinct-count sketches.

Spark ships HyperLogLog++ (``approx_count_distinct``) — the right tool in
production, but its register layout is engine-private, so no cross-engine
oracle can check it. The engine therefore also provides a **KMV
(k-minimum-values) sketch** built on the md5-derived portable hash: keep
the k smallest distinct hash values of the key; with the hash normalized
to (0, 1], the classic estimator is

    n̂ = (k − 1) / u_k        (u_k = k-th smallest normalized hash)

Fully deterministic → the DuckDB oracle reproduces the estimate
bit-for-bit, which makes the *sketch itself* testable, not just its
error bound. Scale shape: one shuffle keyed by (group, hash) for the
distinct, and the per-group k-smallest runs as a rank window on the same
key layout — the sketch state is k longs per group (mergeable by
min-union, same as production KMV).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_long
from .spill import materialize_and_release

HASH_SPACE = float(1 << 60)  # md5_long(digits=15) ∈ [0, 16^15) = [0, 2^60)


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV distinct estimate: (group, n_seen, kmv_est).

    ``n_seen`` = number of sketch slots filled (= exact distinct count
    when the group has < k distinct keys — the estimator is exact there
    by construction)."""
    h = md5_long(F.col(key_col).cast("string"), digits=15)
    hashes = df.select(F.col(group_col), h.alias("h")).distinct()
    w = Window.partitionBy(group_col).orderBy(F.col("h").asc())
    sk = (
        hashes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy(group_col)
        .agg(F.max("h").alias("hk"), F.count("*").alias("n_seen"))
    )
    u_k = F.col("hk").cast("double") / F.lit(HASH_SPACE)
    est = F.when(
        F.col("n_seen") < k, F.col("n_seen").cast("double")
    ).otherwise(F.lit(float(k - 1)) / u_k)
    return sk.select(
        F.col(group_col),
        F.col("n_seen"),
        # raw double: (k-1)/(hk/HASH_SPACE) is two IEEE divisions of
        # exact integers — bit-identical cross-engine; rounding is the
        # .5-tie hazard (min_cost_order class, CHANGES_r05)
        est.alias("kmv_est"),
    )


def cms_sketch(
    df: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 64,
    salt: str = "cms",
) -> DataFrame:
    """Count-min sketch of a key stream: a fixed ``depth × width`` grid of
    counters — the O(1)-size frequency summary (Cormode & Muthukrishnan
    2005) that answers point queries with one-sided error (estimate ≥
    truth, over-count bounded by 2n/width w.h.p. per row).

    Scale shape: each input row fans out to ``depth`` (row, col) cells,
    but the cell aggregate is map-side partial — every map task emits at
    most depth × width partial counters into the shuffle no matter how
    many rows it scanned. The merged sketch is
    depth × width counters TOTAL regardless of input size or key
    cardinality — the whole point at 100 TB: a frequency summary you
    can broadcast, diff across days, or serve lookups from, without
    materializing the full key dictionary.

    Hashing is md5-prefix integer arithmetic (portable), so a DuckDB
    oracle rebuilds the identical grid."""
    c = F.col(key_col).cast("string")
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        (md5_long(c, salt=f"{salt}{i}") % width).alias("c"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rc")
    ).select("rc.r", "rc.c")
    return cells.groupBy("r", "c").agg(F.count("*").alias("cell"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 64,
    salt: str = "cms",
) -> DataFrame:
    """Point-estimate counts for ``keys`` from a CMS grid: min over the
    key's ``depth`` cells. The sketch side is depth × width rows —
    always broadcast. The sketch stores only cells some stream element
    hashed into, so a probe cell absent from it has true count 0: the
    join is a LEFT join with missing cells coalesced to 0, making a
    never-seen key correctly estimate 0 instead of min-ing over only its
    populated (inflated) cells."""
    c = F.col(key_col).cast("string")
    probed = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        (md5_long(c, salt=f"{salt}{i}") % width).alias("c"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rc"),
    ).select(key_col, "rc.r", "rc.c")
    return (
        probed.join(F.broadcast(sketch), ["r", "c"], "left")
        .withColumn("cell", F.coalesce(F.col("cell"), F.lit(0).cast("long")))
        .groupBy(key_col)
        .agg(F.min("cell").alias("cms_est"))
    )


def source_overlap_matrix(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    k: int = 64,
) -> DataFrame:
    """Pairwise cross-source n-gram overlap matrix via per-source KMV
    sketches — the
    mix-design question "how much do my sources repeat each other?"
    answered without an all-pairs doc comparison: per source, the k
    smallest distinct 60-bit gram hashes (a KMV sketch, Beyer et al.
    2007); per source PAIR, the k smallest hashes of the sketch UNION
    and the fraction of them present in BOTH sketches — the standard
    KMV Jaccard estimator. When a pair's merged distinct-gram count is
    below k the estimate is EXACT by construction (the sketch IS the
    distinct set) — the fixture corpus sits in the exact regime, so
    the oracle check is exact too.

    Output: one row per unordered source pair (source_a < source_b) —
    ``(source_a, source_b, n_slots, n_shared, jaccard_est)`` with
    ``jaccard_est = n_shared / n_slots`` an integer-ratio double.

    Scale shape at 100 TB: ONE tokenize→shingle→hash projection fused
    into the scan; the distinct + per-source rank ≤ k ride the same
    WindowGroupLimit plan as the registered ``kmv_distinct_sketch``
    (only ≤ k rows per (input split, source) ever shuffle); everything
    after operates on the ≤ |sources|·k slot table — pair expansion,
    union ranking, and membership counting are broadcast joins and a
    window over a sketch-sized input, never the corpus."""
    from ..functions.text import token_shingles, tokens

    grams = df.select(
        F.col(source_col).alias("source"),
        F.explode(token_shingles(tokens(F.col(text_col)), n=n)).alias("_g"),
    ).select(
        "source",
        F.coalesce(md5_long(F.col("_g"), digits=15), F.lit(-1)).alias("h"),
    )
    hashes = grams.distinct()
    w = Window.partitionBy("source").orderBy(F.col("h").asc())
    slots = (
        hashes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("source", "h")
    )
    # guide §1.1, don't compute it three times: ``slots`` is
    # consumed by THREE downstream subtrees (srcs twice via the pair
    # cross-join, plus the merged broadcast), and without a
    # materialization each reference re-derives the ENTIRE corpus
    # pipeline — scan → tokenize → shingle → distinct → window ran 3×
    # (measured at sf0.1: slots alone 1.12 s, full query 2.96 s).
    # The sketch table is ≤ |sources|·k rows BY CONSTRUCTION, so the
    # process-temp parquet spill (the engine's zero-leaked-blocks
    # materialization contract) costs one tiny write + read-back and
    # the corpus is scanned exactly once at any scale.
    slots = materialize_and_release(slots, [], "som_slots_")
    srcs = slots.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            F.broadcast(srcs.select(F.col("source").alias("source_b"))),
            F.col("source_a") < F.col("source_b"),
        )
    )
    merged = (
        pairs.join(
            F.broadcast(slots.withColumnRenamed("source", "__s")),
            (F.col("__s") == F.col("source_a"))
            | (F.col("__s") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "h")
        .agg(
            F.max((F.col("__s") == F.col("source_a")).cast("int")).alias("ia"),
            F.max((F.col("__s") == F.col("source_b")).cast("int")).alias("ib"),
        )
    )
    wp = Window.partitionBy("source_a", "source_b").orderBy(F.col("h").asc())
    topk = merged.withColumn("__rn", F.row_number().over(wp)).filter(
        F.col("__rn") <= k
    )
    agg = topk.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_slots"),
        F.sum((F.col("ia") + F.col("ib") == 2).cast("long")).alias("n_shared"),
    )
    return agg.select(
        "source_a",
        "source_b",
        "n_slots",
        "n_shared",
        # raw integer-ratio double: bit-exact cross-engine; rounding is
        # the .5-tie hazard (min_cost_order class)
        (
            F.col("n_shared").cast("double") / F.col("n_slots").cast("double")
        ).alias("jaccard_est"),
    )
