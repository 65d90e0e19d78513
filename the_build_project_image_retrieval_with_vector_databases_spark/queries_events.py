"""Event-table queries: tumbling/sliding windows, sessionization,
streaming-dedup (batch twin), JSON extraction — with DuckDB oracles.

Window boundaries are emitted as epoch-second bigints (pure integer
arithmetic → engine-portable); event values sum via decimal(14,2)
(fixture values carry 2 decimals)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import windows as W
from .sources.tables import load_table


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return W.sliding_counts(ev, width_s=600, slide_s=300)


# width = 2×slide ⇒ every event belongs to exactly the two windows starting
# at floor(e/300)*300 and floor(e/300)*300 - 300.
ORACLE_SLIDING = """
WITH w AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 300) * 300 - j * 300 AS BIGINT) AS window_start
  FROM events, (SELECT unnest([0, 1]) AS j) t
)
SELECT window_start, event_type, count(*) AS n
FROM w GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return W.sessionize(ev, gap_s=1800)


ORACLE_SESSIONIZE = """
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, ts
  FROM events
),
lagged AS (
  SELECT user_id, event_id, ep,
         ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS gap,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS rn
  FROM e
),
flagged AS (
  SELECT user_id, event_id, ep, rn,
         CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS is_new
  FROM lagged
),
sess AS (
  SELECT user_id, ep,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY rn ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       min(ep) AS session_start, max(ep) AS session_end,
       count(*) AS n_events
FROM sess
GROUP BY user_id, session_idx
"""


def q_streaming_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming dropDuplicates-with-watermark: first event
    per (user_id, event_type)."""
    ev = load_table(spark, sf_dir, "events")
    out = W.dedup_latest(ev, ["user_id", "event_type"])
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("epoch_s"),
    )


ORACLE_STREAM_DEDUP = """
SELECT event_id, user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p95 / p99 of purchase
    value per event type) — Spark's `percentile` and DuckDB's
    `quantile_cont` share the (n−1)·p linear-interpolation definition, so
    the values hash-match exactly. The production approximate path
    (`approx_percentile`, KLL-sketch-style mergeable state) is
    property-tested in tests/test_sketch.py — engine-private, like HLL."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


ORACLE_VALUE_QUANTILES = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per event type (operators.sketch) laid
    beside the exact count — the oracle recomputes the ENTIRE sketch
    (same hash, same k-smallest, same estimator), so the sketch's
    arithmetic is verified cross-engine, not just its error bound.
    Spark's HLL++ (`approx_count_distinct`) covers the same need in
    production but is engine-private; pytest property-checks it instead
    (tests/test_sketch.py)."""
    from .operators.sketch import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_distinct(ev, key_col="user_id", group_col="event_type", k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return sk.join(exact, "event_type").select(
        "event_type", "n_exact", "n_seen", "kmv_est"
    )


def _oracle_kmv(k: int = 64) -> str:
    from .queries_text import _dk_hex15_to_long

    h = _dk_hex15_to_long("md5(CAST(user_id AS VARCHAR))")
    return f"""
WITH hashes AS (
  SELECT DISTINCT event_type, {h} AS h FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
  FROM hashes
),
sk AS (
  SELECT event_type, max(h) AS hk, count(*) AS n_seen
  FROM ranked WHERE rn <= {k} GROUP BY event_type
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events
  GROUP BY event_type
)
SELECT s.event_type, e.n_exact, s.n_seen,
       CASE WHEN s.n_seen < {k} THEN CAST(s.n_seen AS DOUBLE)
            ELSE {float(k - 1)} / (CAST(s.hk AS DOUBLE) / 1152921504606846976.0)
       END AS kmv_est
FROM sk s JOIN exact e USING (event_type)
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the props column (S2-adjacent
    semi-structured path)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_JSON = """
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events)
GROUP BY event_type
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view → click → purchase): per user, the
    earliest view, the earliest click AT-OR-AFTER that view, the earliest
    purchase at-or-after that click — then users-per-stage with
    conversion rates.

    Physical shape: the three stage timestamps are cascaded MIN window
    functions over the SAME ``partitionBy(user_id)`` — Catalyst plans one
    hash exchange for all three window passes (each stage's predicate
    references the previous stage's result, which a single groupBy could
    not express) — then a tiny global aggregate + 3-row explode. Two
    shuffles total regardless of event volume; no self-joins of the
    events table (the naive per-stage join would scan it 3×)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    with_t1 = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    with_t2 = with_t1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    staged = (
        with_t2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3"))
    )
    counts = staged.agg(
        F.count("*").alias("n_users"),
        F.count("t1").alias("viewed"),
        F.count("t2").alias("clicked"),
        F.count("t3").alias("purchased"),
    )
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("stage"), F.lit("view").alias("name"),
                         F.col("viewed").alias("users"),
                         F.col("n_users").alias("base")),
                F.struct(F.lit(2).alias("stage"), F.lit("click").alias("name"),
                         F.col("clicked").alias("users"),
                         F.col("viewed").alias("base")),
                F.struct(F.lit(3).alias("stage"), F.lit("purchase").alias("name"),
                         F.col("purchased").alias("users"),
                         F.col("clicked").alias("base")),
            )
        ).alias("s")
    )
    return stages.select(
        F.col("s.stage").alias("stage"),
        F.col("s.name").alias("stage_name"),
        F.col("s.users").alias("users"),
        # raw integer-ratio double (bit-exact cross-engine; rounding is
        # the .5-tie hazard — min_cost_order class, CHANGES_r05)
        (
            F.col("s.users").cast("double")
            / F.greatest(F.col("s.base"), F.lit(1)).cast("double")
        ).alias("conversion"),
    )


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id) AS t1
  FROM events
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM s2
),
staged AS (
  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
  FROM s3 GROUP BY user_id
),
c AS (
  SELECT count(*) AS n_users, count(t1) AS viewed,
         count(t2) AS clicked, count(t3) AS purchased
  FROM staged
)
SELECT stage, stage_name, users,
       users::DOUBLE / greatest(base, 1) AS conversion
FROM (
  SELECT 1 AS stage, 'view' AS stage_name, viewed AS users, n_users AS base FROM c
  UNION ALL
  SELECT 2, 'click', clicked, viewed FROM c
  UNION ALL
  SELECT 3, 'purchase', purchased, clicked FROM c
)
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join: views paired with same-user purchases
    within the following hour, aggregated per user. The range predicate
    is time-bucket-blocked into an equi-join (operators/windows.py::
    interval_join) — no per-key cross product, no nested-loop join; the
    pair stream collapses into one per-user aggregate (map-side
    partial). Complements ``asof_join`` (nearest-one) with the
    all-pairs-in-horizon semantics streaming joins need."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    pairs = W.interval_join(
        views, purchases, key="user_id", left_ts="ts", right_ts="p_ts",
        within_s=3600,
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("view_id").alias("n_converted_views"),
        F.countDistinct("purchase_id").alias("n_reached_purchases"),
    )


ORACLE_INTERVAL_JOIN = """
WITH v AS (SELECT user_id, event_id AS view_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS v_ep
           FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, event_id AS purchase_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS p_ep
      FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT v.user_id, view_id, purchase_id
  FROM v JOIN p ON v.user_id = p.user_id
   AND p.p_ep > v.v_ep AND p.p_ep <= v.v_ep + 3600
)
SELECT user_id, count(*) AS n_pairs,
       count(DISTINCT view_id) AS n_converted_views,
       count(DISTINCT purchase_id) AS n_reached_purchases
FROM pairs GROUP BY user_id
"""


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the busiest users, laid
    beside exact counts. The 4×64 grid intentionally under-sizes the 150
    distinct users so hash collisions are visible — the one-sided error
    contract (estimate ≥ truth) is part of the output. The oracle
    rebuilds the identical grid (md5 integer hashing), verifying the
    sketch's arithmetic cross-engine, not just its bound."""
    from .operators.sketch import cms_estimate, cms_sketch
    from .sources.tables import spread

    ev = load_table(spark, sf_dir, "events")
    # one parquet split at fixture scale — spread so the 4-way cell
    # explosion + hashing uses all cores (no-op on real inputs)
    sketch = cms_sketch(spread(ev), "user_id", depth=4, width=64)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_exact"))
        .filter(F.col("n_exact") >= 70)
    )
    est = cms_estimate(
        sketch, exact.select("user_id"), "user_id", depth=4, width=64
    )
    return exact.join(est, "user_id").select(
        "user_id",
        "n_exact",
        "cms_est",
        (F.col("cms_est") >= F.col("n_exact")).alias("no_undercount"),
    )


def _oracle_cms(depth: int = 4, width: int = 64, min_n: int = 70) -> str:
    def h(expr: str) -> str:
        from .queries_text import _dk_hex2long

        return _dk_hex2long(f"md5('cms' || CAST({expr}.r AS VARCHAR) || CAST(user_id AS VARCHAR))")

    return f"""
WITH cells AS (
  SELECT t.r, ({h('t')}) % {width} AS c
  FROM events, range({depth}) t(r)
),
sketch AS (SELECT r, c, count(*) AS cell FROM cells GROUP BY 1, 2),
exact AS (
  SELECT user_id, count(*) AS n_exact FROM events
  GROUP BY 1 HAVING count(*) >= {min_n}
),
probe AS (
  SELECT e.user_id, t.r, ({h('t')}) % {width} AS c
  FROM exact e, range({depth}) t(r)
),
est AS (
  SELECT user_id, min(cell) AS cms_est
  FROM probe JOIN sketch USING (r, c) GROUP BY 1
)
SELECT e.user_id, e.n_exact, s.cms_est,
       s.cms_est >= e.n_exact AS no_undercount
FROM exact e JOIN est s USING (user_id)
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — the product-analytics staple: users
    cohorted by their first-activity week, then distinct-active-user
    counts per (cohort_week, weeks-since-cohort) cell. Two keyed
    shuffles, both map-side-partial: the per-user min(ts) aggregate, and
    the (cohort, offset) distinct-user count — the join of activity back
    to cohorts is keyed by the SAME user_id as the first aggregate, so
    at scale the exchange reuses the user partitioning. Epoch-week
    integer arithmetic is engine-portable."""
    ev = load_table(spark, sf_dir, "events")
    week = (F.floor(F.unix_timestamp(F.col("ts")) / 604800)).cast("long")
    cohorts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = ev.select("user_id", week.alias("week")).distinct()
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_RETENTION_COHORTS = """
WITH w AS (
  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events
),
cohorts AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
activity AS (SELECT DISTINCT user_id, week FROM w)
SELECT c.cohort_week,
       CAST(a.week - c.cohort_week AS INT) AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohorts c USING (user_id)
GROUP BY 1, 2
"""


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resample with forward fill (operators/windows.gap_fill)
    on a 6-hour grid: one row per (user, 6h slot) between the user's first
    and last event, carrying the latest observed ``value``.

    Oracle parity notes: the filled value is an exact COPY of a stored
    double (no arithmetic), so raw emission hash-matches; slot keys are
    pure integer arithmetic on epoch seconds; ``observed`` is cast to int
    (driver's pandas canonicalizer bool handling differs per engine).
    """
    ev = load_table(spark, sf_dir, "events")
    out = W.gap_fill(ev, step_s=21600)
    return out.select(
        "user_id",
        "slot",
        "value",
        F.col("observed").cast("int").alias("observed"),
    )


ORACLE_GAP_FILL = """
WITH obs AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS slot,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         value
  FROM events
),
best AS (
  SELECT user_id, slot, value FROM (
    SELECT user_id, slot, value,
           row_number() OVER (PARTITION BY user_id, slot
                              ORDER BY ep DESC, value DESC) AS rn
    FROM obs
  ) WHERE rn = 1
),
span AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY 1),
grid AS (
  SELECT user_id, CAST(unnest(range(lo, hi + 21600, 21600)) AS BIGINT) AS slot
  FROM span
)
SELECT g.user_id, g.slot,
       last_value(b.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.slot
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       CAST(CASE WHEN b.value IS NOT NULL THEN 1 ELSE 0 END AS INT) AS observed
FROM grid g LEFT JOIN best b ON g.user_id = b.user_id AND g.slot = b.slot
"""


EVENT_QUERIES = {
    "funnel_conversion": q_funnel_conversion,
    "sliding_window": q_sliding_window,
    "sessionize": q_sessionize,
    "streaming_dedup_batch": q_streaming_dedup_batch,
    "json_extract_agg": q_json_extract,
    "kmv_distinct_sketch": q_kmv_distinct,
    "value_quantiles": q_value_quantiles,
    "interval_join": q_interval_join,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "retention_cohorts": q_retention_cohorts,
    "gap_fill": q_gap_fill,
}

EVENT_ORACLES = {
    "funnel_conversion": ORACLE_FUNNEL,
    "sliding_window": ORACLE_SLIDING,
    "sessionize": ORACLE_SESSIONIZE,
    "streaming_dedup_batch": ORACLE_STREAM_DEDUP,
    "json_extract_agg": ORACLE_JSON,
    "kmv_distinct_sketch": _oracle_kmv(64),
    "value_quantiles": ORACLE_VALUE_QUANTILES,
    "interval_join": ORACLE_INTERVAL_JOIN,
    "cms_heavy_hitters": _oracle_cms(4, 64, 70),
    "retention_cohorts": ORACLE_RETENTION_COHORTS,
    "gap_fill": ORACLE_GAP_FILL,
}
