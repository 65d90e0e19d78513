"""Event-time window operators over the ``events`` table (SURVEY §2.9
extensions) — batch implementations whose semantics mirror the streaming
versions in ``streaming/`` so the DuckDB oracle can check them.

Cross-engine rule for window boundaries: emit epoch seconds
(``bigint``) computed by pure integer arithmetic — identical in Spark and
DuckDB regardless of timestamp internals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sliding_counts(
    df: DataFrame, width_s: int = 600, slide_s: int = 300, ts_col: str = "ts"
) -> DataFrame:
    """Sliding windows via native ``window(ts, width, slide)`` — each event
    lands in width/slide overlapping windows."""
    return (
        df.groupBy(
            F.window(F.col(ts_col), f"{width_s} seconds", f"{slide_s} seconds").alias(
                "w"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            "event_type",
            "n",
        )
    )


def sessionize(
    df: DataFrame,
    gap_s: int = 1800,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the gap
    to the previous event of the same user exceeds ``gap_s``.

    Batch analogue of Structured Streaming's ``session_window`` (the
    streaming twin lives in streaming/queries.py). One shuffle on
    ``user_col``; the two windows share that partitioning (Catalyst plans
    a single exchange)."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    epoch = F.unix_timestamp(F.col(ts_col))
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_s), 1).otherwise(0)
    sess = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__sess", sess)
        .groupBy(user_col, "__sess")
        .agg(
            F.min(epoch.cast("long")).alias("session_start"),
            F.max(epoch.cast("long")).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            user_col,
            F.col("__sess").cast("long").alias("session_idx"),
            "session_start",
            "session_end",
            "n_events",
        )
    )


def dedup_latest(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Keep the earliest event per key — the batch twin of streaming
    ``dropDuplicates`` with watermark (first-arrival wins)."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within_s: int = 3600,
) -> DataFrame:
    """Event-time interval (range) join: pair each left row with the
    right rows of the same ``key`` whose timestamp lands in
    ``(left_ts, left_ts + within_s]`` — strictly after, within the
    horizon.

    Scale shape: a naive range join is a per-key cross product (a hot
    user with V views × P purchases explodes V·P before filtering).
    Here the range predicate is BLOCKED by time bucket first: with
    bucket width = ``within_s``, a qualifying right row can only sit in
    the left row's bucket or the next one, so the left side explodes to
    exactly 2 bucket keys and the join is a pure EQUI-join on
    (key, bucket) — hash-partitioned, AQE-skew-splittable, no
    BroadcastNestedLoopJoin (pinned in tests/test_plans.py). Each true
    pair matches exactly once (the right row's bucket is unique), so no
    dedup pass is needed. This is also precisely the state layout the
    streaming twin keeps: a stream-stream join with watermark
    ``within_s`` buckets its state the same way.
    """
    l_ep = F.unix_timestamp(F.col(left_ts)).cast("long")
    r_ep = F.unix_timestamp(F.col(right_ts)).cast("long")
    lb = F.floor(l_ep / within_s).cast("long")
    lx = left.withColumn("_l_ep", l_ep).withColumn(
        "_b", F.explode(F.array(lb, lb + 1))
    )
    rx = right.withColumn("_r_ep", r_ep).withColumn(
        "_b", F.floor(r_ep / within_s).cast("long")
    )
    joined = lx.join(rx, [key, "_b"]).filter(
        (F.col("_r_ep") > F.col("_l_ep"))
        & (F.col("_r_ep") <= F.col("_l_ep") + within_s)
    )
    return joined.drop("_b")


def gap_fill(
    events: DataFrame,
    step_s: int = 60,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Regular-grid resample with forward fill — the time-series staple:
    for every key, one row per ``step_s``-second slot between the key's
    first and last observation, carrying the most recent observed value
    (``last(..., ignorenulls)`` over the per-key timeline).

    Scale shape: the per-key (min, max) aggregate is one map-side-partial
    shuffle; ``sequence()`` explodes the grid key-locally (rows bounded
    by horizon/step per key, never a cross join); the observation join
    and the forward-fill window are both keyed by ``key_col`` — one
    partitioning serves join AND window. Slots before a key's first
    observation cannot exist by construction (the grid starts at the
    key's min), so the fill is total. The registry's ``gap_fill`` entry
    checks it against a DuckDB generate_series + window oracle.
    """
    ep = F.unix_timestamp(F.col(ts_col)).cast("long")
    slot = (F.floor(ep / step_s) * step_s).cast("long")
    # last observation per (key, slot): ties inside a slot resolve to the
    # latest timestamp (then largest value for full determinism)
    obs = (
        events.select(
            F.col(key_col),
            slot.alias("slot"),
            ep.alias("_ep"),
            F.col(value_col).alias("_v"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(key_col, "slot").orderBy(
                    F.col("_ep").desc(), F.col("_v").desc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(key_col, "slot", F.col("_v").alias("_obs"))
    )
    return fill_slot_gaps(obs, step_s=step_s, key_col=key_col)


def fill_slot_gaps(
    obs: DataFrame, step_s: int = 60, key_col: str = "user_id"
) -> DataFrame:
    """Grid + forward-fill finisher over slot-grained latest observations
    ``(key, slot, _obs)`` — shared by batch :func:`gap_fill` and the
    streaming twin (``streaming.queries.streaming_slot_latest`` feeds the
    same shape from a watermarked tumbling-window ``max_by``)."""
    # grid descends from obs, so the join is a self-join: give the grid
    # side fresh column NAMES (not just plan aliases) to disambiguate
    span = obs.groupBy(F.col(key_col).alias("_k")).agg(
        F.min("slot").alias("_lo"), F.max("slot").alias("_hi")
    )
    grid = span.select(
        "_k",
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(step_s))
        ).alias("_slot"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = grid.join(
        obs,
        (grid["_k"] == obs[key_col]) & (grid["_slot"] == obs["slot"]),
        "left",
    ).select(  # post-join names are unique: _k/_slot (grid), _obs (obs)
        F.col("_k").alias(key_col),
        F.col("_slot").alias("slot"),
        "_obs",
    )
    return (
        joined.withColumn("value", F.last("_obs", ignorenulls=True).over(w))
        .select(key_col, "slot", "value", F.col("_obs").isNotNull().alias("observed"))
    )
