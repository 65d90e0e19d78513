"""Skew mitigation (SURVEY §7.4.1 / 100 TB shuffle hygiene).

AQE's skew-join splitting handles most cases at runtime; these operators
are the explicit, planner-independent forms for the two classic
hot-key situations:

- **salted two-stage aggregation**: a `groupBy(key)` where one key holds
  a large share of all rows (e.g. an empty-string token, a null user).
  Stage 1 aggregates on (key, salt) — the hot key's rows spread over
  ``n_salts`` reducers; stage 2 merges the per-salt partials. Both stages
  keep map-side partial aggregation, so the extra shuffle carries only
  ``n_salts`` rows per hot key.
- **replicated (broadcast-salt) join**: fact ⋈ dim where the fact's join
  key is skewed and the dim is too big to broadcast whole but small
  enough to replicate ``n_salts``×: the fact side draws a deterministic
  salt from its row identity; the dim side is exploded once per salt.
  Each (key, salt) bucket then joins without any single reducer owning a
  whole hot key.

The salt is the multiplicative hash of a row-identity column — portable,
deterministic, test-reproducible (same contract as operators.sample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import array_lit
from .sample import HASH_MOD, HASH_MULT


def salt_col(id_col: str | Column, n_salts: int, seed: int = 42) -> Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (((c + F.lit(seed)) * F.lit(HASH_MULT)) % F.lit(HASH_MOD)) % F.lit(n_salts)


def salted_agg_counts(
    df: DataFrame,
    key: str,
    id_col: str,
    value_col: str | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-safe ``groupBy(key).agg(count, sum)``.

    Result contract: identical to the direct aggregation (property-tested);
    only the shuffle layout differs.
    """
    aggs = [F.count("*").alias("__n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("__s"))
    partial = df.withColumn("__salt", salt_col(id_col, n_salts)).groupBy(
        key, "__salt"
    ).agg(*aggs)
    merged = [F.sum("__n").alias("n")]
    if value_col is not None:
        merged.append(F.sum("__s").alias(f"sum_{value_col}"))
    return partial.groupBy(key).agg(*merged)


def replicated_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    fact_id_col: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe fact ⋈ dim equi-join on ``key``: fact rows get a
    deterministic salt, dim rows replicate across all salts, the join runs
    on (key, salt). Same rows out as the plain join (property-tested).

    Only fact-preserving join types are allowed: with ``right``/``full``
    (or ``left`` from the dim's perspective) an unmatched dim row would
    surface once per salt — ``n_salts`` spurious duplicates."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how not in allowed:
        raise ValueError(
            f"replicated_skew_join: how={how!r} not supported — dim rows are "
            f"replicated {n_salts}x, so only fact-preserving joins "
            f"({sorted(allowed)}) are correct"
        )
    f = fact.withColumn("__salt", salt_col(fact_id_col, n_salts))
    d = dim.withColumn(
        "__salt", F.explode(array_lit(list(range(n_salts)), "array<int>"))
    )
    return f.join(d, [key, "__salt"], how).drop("__salt")
