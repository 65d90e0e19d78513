"""Sampling & splits (SURVEY §2.5).

SA1 — the reference's stratified per-class sample
(``utils/precompute_features.py:152-159``): exactly ``min(k, n_g)`` rows
per label, seeded ``random.sample``. Python-RNG bit-parity is not
reproducible cross-engine (SURVEY §7.4.2), so the engine pins a
**deterministic surrogate order**: a multiplicative-hash of the row id
(Knuth's 2654435761 mod 2^31-1) — pure integer arithmetic both Spark and
DuckDB evaluate identically, pseudo-random w.r.t. any natural ordering,
stable across partitioning/versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_long

HASH_MULT = 2654435761  # Knuth multiplicative hash
HASH_MOD = 2147483647  # 2^31 - 1


def shuffle_key(id_col: str = "vec_id", seed: int = 42):
    """Deterministic pseudo-random sort key: ((id + seed) * 2654435761) % (2^31-1)."""
    return ((F.col(id_col) + F.lit(seed)) * F.lit(HASH_MULT)) % F.lit(HASH_MOD)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Exactly min(k, group size) rows per stratum, deterministic.

    ``sampleBy`` only gives *expected* fractions; the reference requires
    exact-k, so this is the window-rank pattern. One shuffle on the
    stratum key; with many strata the hash partitioning spreads evenly, and
    at scale a salt on the hot stratum bounds skew (AQE skew-join also
    kicks in for the shuffle).
    """
    w = Window.partitionBy(strata_col).orderBy(
        shuffle_key(id_col, seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_multinomial_sample(
    df: DataFrame,
    *,
    id_col: str,
    weight_col: str,
    n_probes: int = 8,
    salt: str = "ws",
    bucket_size: int = 100,
) -> DataFrame:
    """Deterministic weighted (multinomial, with-replacement) sampling by
    integer inverse-CDF: probe j lands at ``md5(salt‖j) mod total_weight``
    and selects the row whose cumulative-weight interval contains it —
    rows are drawn with probability ∝ weight, reproducibly on any engine
    (all arithmetic is bigint; no RNG, no libm).

    Scale shape: the global running sum is built TWO-PHASE, not with a
    single-partition window — per-bucket subtotals (tiny) get prefix
    offsets, then the within-bucket cumsum windows are partitioned by
    bucket and run in parallel. The probes (n_probes rows) broadcast
    against the cumulative table; matching is a broadcast range probe,
    never a shuffle. This is the exact-sampling analogue of SA1/SA2 for
    weight-proportional corpus subsetting (e.g. sampling documents ∝
    token count for a training mix)."""
    w = F.col(weight_col).cast("long")
    bucket = F.floor(F.col(id_col) / bucket_size).cast("long")
    base = df.select(F.col(id_col), w.alias("_w"), bucket.alias("_bkt"))

    offsets = (
        base.groupBy("_bkt")
        .agg(F.sum("_w").alias("_bw"))
        .withColumn(
            "_off",
            F.sum("_bw").over(
                Window.orderBy("_bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        )
        .select("_bkt", F.coalesce("_off", F.lit(0)).alias("_off"))
    )
    cum = (
        base.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            "_hi",
            F.col("_off")
            + F.sum("_w").over(
                Window.partitionBy("_bkt")
                .orderBy(id_col)
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select(id_col, "_w", (F.col("_hi") - F.col("_w")).alias("_lo"), "_hi")
    )
    total = base.agg(F.sum("_w").alias("_total"))
    probes = (
        df.sparkSession.range(n_probes)
        .select(F.col("id").alias("probe"))
        .join(F.broadcast(total))
        .select(
            "probe",
            (md5_long(F.col("probe").cast("string"), salt=salt) % F.col("_total")).alias("_u"),
        )
    )
    return (
        cum.join(
            F.broadcast(probes),
            (F.col("_u") >= F.col("_lo")) & (F.col("_u") < F.col("_hi")),
        )
        .select("probe", id_col, F.col("_w").alias("weight"))
    )
