"""Generalized relational surface: multi-way join pipelines, semi/anti
joins, rollup/grouping sets, set operations, and the event-time as-of
join — the operator families SURVEY §2.6/§2.8 notes as "free in Spark"
that a user of a complete engine expects, each pinned by a DuckDB oracle.

Plan-shape intent at 100 TB (asserted where stable in tests/test_plans.py):
dims (region/nation/customer/supplier/part) broadcast; only the fact
tables shuffle, keyed by their join/agg columns; semi/anti joins stay
broadcast (no fact-side shuffle); the as-of join is a union + window —
one shuffle on the entity key, no range cross-product.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources.tables import load_table


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: part-filtered profit per nation per year
# ---------------------------------------------------------------------------


def q_part_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shape 'product profit' cube: revenue of lineitems whose part name
    matches a token, per supplier nation per ship year (the fixture has no
    partsupp table, so revenue stands in for profit).

    100 TB plan: the name filter prunes `part` BEFORE the broadcast (a
    selective dim filter belongs on the build side); lineitem — the only
    big table — is never shuffled: both joins broadcast, and the final
    aggregation's map-side partial runs on the scan stage."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    revenue = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(2,0)") - F.col("l_discount").cast("decimal(7,4)"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(
            F.round(F.sum(revenue), 2).cast("double").alias("profit"),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_PART_PROFIT = """
SELECT n_name AS nation,
       CAST(year(l_shipdate) AS INT) AS o_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(2,0)) - CAST(l_discount AS DECIMAL(7,4)))), 2)
            AS DOUBLE) AS profit,
       count(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(l_shipdate)
"""


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: pure scan aggregation, every predicate pushed down
# ---------------------------------------------------------------------------


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-shape forecast revenue: one scan, three pushed-down predicates,
    one global aggregate — the canonical 'is pushdown working' probe. At
    100 TB this reads only the 4 referenced columns and skips row groups
    via parquet min/max stats on every predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * F.col(
        "l_discount"
    ).cast("decimal(7,4)")
    out = (
        li.filter(
            (F.col("l_shipdate") >= "2021-01-01")
            & (F.col("l_shipdate") < "2022-01-01")
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
    return out


ORACLE_FORECAST_REVENUE = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(l_discount AS DECIMAL(7,4))), 2) AS DOUBLE)
         AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2021-01-01'
  AND l_shipdate <  TIMESTAMP '2022-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Cumulative window: per-customer running revenue + order rank
# ---------------------------------------------------------------------------


def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative order revenue + sequence rank (the running
    aggregate family, §2.4 A5 generalized): one shuffle on the entity
    key, ROWS frame over the per-customer timeline. Bounded to the first
    20 customers so the output stays hash-comparable at any SF."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 20)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    total = F.col("o_totalprice").cast("decimal(14,2)")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(seq).alias("order_seq"),
        F.sum(total).over(w).cast("double").alias("running_revenue"),
    )


ORACLE_RUNNING_REVENUE = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INT) AS order_seq,
       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_revenue
FROM orders
WHERE o_custkey <= 20
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


# ---------------------------------------------------------------------------
# Semi / anti joins (TPC-H Q4 shape + complement)
# ---------------------------------------------------------------------------


def q_order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with ≥1 late lineitem (EXISTS → left-semi join), counted per
    priority. The semi side is the fact table; Spark keeps it a broadcast/
    hash semi so no lineitem rows flow past the match test."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no URGENT order, per market segment
    (the unfiltered anti-join is empty in the fixture — every customer
    ordered — so the predicate keeps the check non-trivial)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), F.min("c_custkey").alias("min_custkey"))
    )


ORACLE_CUSTOMERS_NO_ORDERS = """
SELECT c_mktsegment, count(*) AS n_customers, min(c_custkey) AS min_custkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many
    non-special orders they placed — LEFT OUTER join (zero-order
    customers must appear as count 0) feeding a second-level aggregate
    (histogram over the per-customer counts). Two shuffles: custkey for
    the per-customer count (map-side partial), then the tiny histogram
    key. The left join keeps the dim side broadcast-free on purpose —
    customer is the PROBE side and survives unmatched."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


ORACLE_ORDER_COUNT_DIST = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-Exchange fact ⋈ fact path as a registry query: lineitem
    and orders materialized ``bucketBy(8, orderkey)``+sorted (one-time,
    content-addressed — a fresh process re-registers the existing files
    with DDL and pays no shuffle), then the repeated join plans a
    sort-merge with NO Exchange on either side; the only shuffle in the
    whole query is the tiny per-priority aggregate (pinned in
    ``test_plans.py``). This is the 100 TB answer to 'we join these two
    facts every run'."""
    from .plans.bucketing import ensure_bucketed_table
    from .queries_ann import _LAYOUT_ROOT, _table_fingerprint

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # bucket count = session parallelism (it caps the join's task count);
    # part of the content address — 8-bucket files registered as 32
    # buckets would mis-plan the merge
    n_buckets = spark.sparkContext.defaultParallelism
    pairs = []
    for tbl, df, key in (
        ("lineitem", li, "l_orderkey"),
        ("orders", orders, "o_orderkey"),
    ):
        fp = _table_fingerprint(sf_dir, f"{tbl}.parquet")
        name = f"bkt{n_buckets}_{tbl}_{fp}"
        path = os.path.join(_LAYOUT_ROOT, name)
        pairs.append(
            ensure_bucketed_table(spark, df, name, path, key, n_buckets=n_buckets)
        )
    li_b, ord_b = (spark.table(n) for n in pairs)
    revenue = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(2,0)") - F.col("l_discount").cast("decimal(7,4)"))
    )
    return (
        li_b.join(ord_b, li_b.l_orderkey == ord_b.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_BUCKETED_REVENUE = """
SELECT o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(2,0)) - CAST(l_discount AS DECIMAL(7,4)))), 2)
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Rollup (grouping sets) over the region→nation hierarchy
# ---------------------------------------------------------------------------


def q_supplier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier account balance rolled up region → nation → grand total.
    Spark `rollup` ≡ GROUPING SETS ((r,n),(r),()); 'ALL' marks subtotal
    rows (grouping-id made explicit so the oracle hash matches)."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum(F.col("s_acctbal").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_suppliers",
            "total_acctbal",
        )
    )


ORACLE_SUPPLIER_ROLLUP = """
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       count(*) AS n_suppliers,
       CAST(round(sum(CAST(s_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS total_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ---------------------------------------------------------------------------
# Set operations (§2.8)
# ---------------------------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over two event-type user populations —
    one row per (op, cardinality). The buyers side is value-restricted so
    all three ops yield *distinct, non-empty* groups (every user clicks in
    the fixture; without the predicate EXCEPT is empty and UNION ≡
    INTERSECT, which couldn't catch a broken exceptAll)."""
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 90.0))
        .select("user_id")
        .distinct()
    )
    return (
        clickers.union(buyers).distinct().select(F.lit("union").alias("op"), "user_id")
        .unionAll(
            clickers.intersect(buyers).select(F.lit("intersect").alias("op"), "user_id")
        )
        .unionAll(
            clickers.exceptAll(buyers).select(F.lit("except").alias("op"), "user_id")
        )
        .groupBy("op")
        .agg(F.count("*").alias("n_users"), F.sum("user_id").alias("id_checksum"))
    )


ORACLE_SET_OPS = """
WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
buyers AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'purchase' AND value > 90.0),
tagged AS (
  SELECT 'union' AS op, user_id FROM (SELECT user_id FROM clickers UNION SELECT user_id FROM buyers)
  UNION ALL
  SELECT 'intersect', user_id FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
  UNION ALL
  SELECT 'except', user_id FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
)
SELECT op, count(*) AS n_users, CAST(sum(user_id) AS BIGINT) AS id_checksum
FROM tagged GROUP BY op
"""


# ---------------------------------------------------------------------------
# As-of join (event-time): each purchase ⟵ most recent prior view per user
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join, the classic time-series operator Spark lacks
    natively: for every 'purchase' event, the latest 'view' event of the
    same user with view.ts <= purchase.ts.

    Implemented shuffle-lean as union + window (operators.windows.asof
    pattern): tag both streams, sort per user by (ts, tag), carry the last
    seen view via `last(ignorenulls)` — ONE shuffle on user_id, no range
    cross-product, no windowed nested-loop. Oracle: DuckDB's native
    ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    tagged = purchases.select(
        "user_id",
        F.col("p_ts").alias("ts"),
        F.lit(1).alias("is_p"),
        "purchase_id",
        F.lit(None).cast("long").alias("view_id"),
        F.lit(None).cast("timestamp").alias("v_ts"),
    ).unionAll(
        views.select(
            "user_id",
            F.col("v_ts").alias("ts"),
            F.lit(0).alias("is_p"),
            F.lit(None).cast("long").alias("purchase_id"),
            "view_id",
            "v_ts",
        )
    )
    # views sort before purchases at equal ts (is_p asc) → "<=" semantics;
    # among equal-ts views the larger event_id wins (matches the oracle's
    # deterministic tiebreak below)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_p").asc(), F.col("view_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = (
        tagged.withColumn("last_view_id", F.last("view_id", ignorenulls=True).over(w))
        .withColumn("last_v_ts", F.last("v_ts", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
    )
    return joined.select(
        "user_id",
        "purchase_id",
        F.unix_timestamp("ts").cast("long").alias("purchase_ep"),
        "last_view_id",
        F.unix_timestamp("last_v_ts").cast("long").alias("view_ep"),
    )


# DuckDB ASOF JOIN picks *a* row at the greatest v_ts <= p_ts but leaves
# equal-v_ts ties unspecified; the window formulation above picks the max
# view_id. Pin the oracle to the same contract with an explicit arg_max
# over the (v_ts, view_id) tuple.
ORACLE_ASOF_JOIN = """
WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'),
best AS (
  SELECT p.user_id, p.purchase_id, p.p_ts,
         max(v.v_ts) AS best_ts
  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.v_ts <= p.p_ts
  GROUP BY p.user_id, p.purchase_id, p.p_ts
),
resolved AS (
  SELECT b.user_id, b.purchase_id, b.p_ts, b.best_ts,
         (SELECT max(view_id) FROM v
          WHERE v.user_id = b.user_id AND v.v_ts = b.best_ts) AS last_view_id
  FROM best b
)
SELECT user_id, purchase_id,
       CAST(floor(epoch(p_ts)) AS BIGINT) AS purchase_ep,
       last_view_id,
       CAST(floor(epoch(best_ts)) AS BIGINT) AS view_ep
FROM resolved
"""


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: group aggregate filtered against a global scalar
# ---------------------------------------------------------------------------


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-shape 'important stock': per-part inventory value kept only
    where it exceeds 0.0008 of the global value (the top ~1% of parts in the fixture) (HAVING vs a scalar
    subquery). The fixture has no partsupp, so lineitem quantity×price
    stands in for stock value (reference has no relational surface at
    all; this is the generalized-engine family, SURVEY §2.4 note).

    100 TB plan: ONE scan feeds both aggregates (per-part partial-agg
    shuffle on l_partkey; the global total is a tiny all-to-one partial
    sum), then the 1-row scalar broadcasts into the HAVING filter — no
    second pass over the fact table, no correlated re-execution. All
    money math in exact decimals so the threshold comparison is
    engine-portable."""
    li = load_table(spark, sf_dir, "lineitem")
    value = F.col("l_quantity").cast("decimal(12,2)") * F.col(
        "l_extendedprice"
    ).cast("decimal(12,2)")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(value).alias("part_value_d"),
        F.count("*").alias("n_items"),
    )
    # Two scans on purpose: a rollup of per_part (hoping for
    # ReuseExchange to dedupe the scan) does NOT reuse it — column
    # pruning gives the two branches different partial aggregates
    # (n_items only on one side), so the canonicalized exchanges differ
    # and the rollup branch just adds a part-keyed exchange (measured
    # 1.25 s → 1.52 s). The second scan is a pure map-side partial
    # global sum (a 1-row exchange).
    total = li.agg(F.sum(value).alias("total_value_d"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("part_value_d")
            > F.col("total_value_d") * F.lit("0.0008").cast("decimal(5,4)")
        )
        .select(
            "l_partkey",
            F.round(F.col("part_value_d"), 2).cast("double").alias("part_value"),
            "n_items",
        )
    )


ORACLE_IMPORTANT_STOCK = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS DECIMAL(12,2)) *
             CAST(l_extendedprice AS DECIMAL(12,2))) AS part_value_d,
         count(*) AS n_items
  FROM lineitem GROUP BY l_partkey
),
total AS (
  SELECT sum(CAST(l_quantity AS DECIMAL(12,2)) *
             CAST(l_extendedprice AS DECIMAL(12,2))) AS total_value_d
  FROM lineitem
)
SELECT l_partkey,
       CAST(round(part_value_d, 2) AS DOUBLE) AS part_value,
       n_items
FROM per_part, total
WHERE part_value_d > total_value_d * CAST(0.0008 AS DECIMAL(5,4))
"""


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders (join + group + HAVING sum)
# ---------------------------------------------------------------------------


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shape large orders: orders whose total lineitem quantity
    exceeds a threshold, with the owning customer. The HAVING side
    aggregates the big fact FIRST (shuffle on l_orderkey, map-side
    partial), so only qualifying orderkeys — a tiny set — reach the
    joins; orders joins on the already-reduced side and customer
    broadcasts. No fact-sized row survives past the first aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty_d"))
        .filter(F.col("qty_d") > F.lit("300").cast("decimal(12,2)"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_totalprice"),
            F.col("qty_d").cast("double").alias("total_qty"),
        )
    )


ORACLE_LARGE_ORDERS = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       CAST(qty_d AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_d
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > CAST(300 AS DECIMAL(12,2))
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# Lag window: month-over-month revenue growth
# ---------------------------------------------------------------------------


def q_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas via LAG: monthly rollup (exact
    decimal sums), then the previous month's revenue and a basis-point
    growth rate. The windowed part runs over the ALREADY-AGGREGATED
    monthly table — cardinality = number of months, so the global-order
    window is a one-task no-op regardless of fact size; the only real
    shuffle is the month rollup (map-side partial). Growth is computed
    in IEEE doubles from exact decimal inputs and floored to integer
    basis points, so both engines see bit-identical values."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev_d"),
            F.count("*").alias("n_orders"),
        )
    )
    w = Window.orderBy("o_year", "o_month")
    rev = F.col("rev_d").cast("double")
    prev = F.lag(rev).over(w)
    return monthly.select(
        "o_year",
        "o_month",
        F.round(F.col("rev_d"), 2).cast("double").alias("revenue"),
        "n_orders",
        F.floor((rev / prev - 1.0) * 10000).cast("long").alias("growth_bp"),
    )


ORACLE_REVENUE_GROWTH = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(month(o_orderdate) AS INT) AS o_month,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_d,
         count(*) AS n_orders
  FROM orders GROUP BY 1, 2
)
SELECT o_year, o_month,
       CAST(round(rev_d, 2) AS DOUBLE) AS revenue,
       n_orders,
       CAST(floor((CAST(rev_d AS DOUBLE) /
                   lag(CAST(rev_d AS DOUBLE)) OVER (ORDER BY o_year, o_month)
                   - 1.0) * 10000) AS BIGINT) AS growth_bp
FROM monthly
"""


# ---------------------------------------------------------------------------
# NTILE segmentation: per-segment account-balance quartiles
# ---------------------------------------------------------------------------


def q_ntile_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer quartiles by account balance WITHIN each market segment
    (ntile window partitioned by segment — the partition-parallel form;
    a global ntile would force a single-task sort, so the engine's
    contract is: segment first, then rank). Output is the quartile
    profile: population, balance bounds, exact-decimal total."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.select(
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
    )


ORACLE_NTILE_SEGMENTS = """
SELECT c_mktsegment, quartile,
       count(*) AS n_customers,
       min(c_acctbal) AS min_bal,
       max(c_acctbal) AS max_bal,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS total_bal
FROM (
  SELECT c_mktsegment, c_acctbal, c_custkey,
         CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal ASC, c_custkey ASC) AS INT)
           AS quartile
  FROM customer
)
GROUP BY c_mktsegment, quartile
"""


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: correlated EXISTS / NOT-EXISTS pair, decorrelated
# ---------------------------------------------------------------------------


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shape 'sole blocking supplier': suppliers with a returned
    ('R') lineitem in a multi-supplier order where NO other supplier's
    line was returned — the canonical correlated EXISTS + NOT-EXISTS
    pair. The oracle states it with the correlated subqueries; the Spark
    plan DECORRELATES them into per-order counts (distinct suppliers,
    distinct returned suppliers) — two column-pruned scans feeding
    orderkey-keyed aggregates, then one equi-join; NO per-row subquery
    re-execution anywhere, supplier dim broadcast. The at-scale answer
    to 'EXISTS in a 100 TB fact'."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    # ONE lineitem scan, NO Expand (guide §2.4/§1.1). A second scan for
    # the distinct (orderkey, returned-supplier) pairs joined back would
    # read lineitem twice, and two countDistincts plan an Expand (3×
    # the scan rows into the shuffle). Two-level aggregate
    # instead: collapse to distinct (order, supplier) pairs with a
    # returned flag (map-side partial dedup — the shuffle carries ~one
    # row per pair), then per-order counts from the pair table. On the
    # surviving orders n_late_supp == 1, so the sole returned supplier
    # IS max(when has_r, l_suppkey): the distinct + orderkey join
    # collapse into the aggregates.
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "has_r"
        )
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("has_r").alias("n_late_supp"),
        F.max(F.when(F.col("has_r") == 1, F.col("l_suppkey"))).alias(
            "l_suppkey"
        ),
    )
    sole = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
    )


ORACLE_WAITING_SUPPLIERS = """
SELECT s_suppkey, s_name, count(*) AS numwait
FROM supplier, (SELECT DISTINCT l_orderkey, l_suppkey
                FROM lineitem WHERE l_returnflag = 'R') l1
WHERE s_suppkey = l1.l_suppkey
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_suppkey, s_name
"""


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: scalar-average subquery + anti join
# ---------------------------------------------------------------------------


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shape 'promising idle customers': above-average-balance
    customers with no RECENT order (none since 2000), profiled per
    market segment (unfiltered, every fixture customer has ordered —
    same guard as ``customers_without_orders``). The
    average-balance comparison is kept INTEGER-EXACT by cross-
    multiplying (bal × n > total) instead of dividing — decimal division
    scale rules differ across engines, decimal multiplication doesn't.
    One broadcast 1-row scalar, one anti join (orders side reduced to
    distinct custkeys first), zero correlated re-execution."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(14,2)")
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("total_bal"),
        F.count("*").alias("n_pos"),
    )
    buyers = (
        orders.filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(stats))
        .filter(bal * F.col("n_pos") > F.col("total_bal"))
        .join(buyers, cust.c_custkey == buyers.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(bal), 2).cast("double").alias("total_acctbal"),
        )
    )


ORACLE_IDLE_CUSTOMERS = """
WITH stats AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(14,2))) AS total_bal,
         count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS total_acctbal
FROM customer, stats
WHERE CAST(c_acctbal AS DECIMAL(14,2)) * n_pos > total_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Z-order clustering key (layout surface)
# ---------------------------------------------------------------------------


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) keys over (l_partkey, l_suppkey) — the clustering
    key whose range-sorted layout gives files tight min/max rectangles
    over BOTH columns, so two-sided predicates prune row groups. Pure
    shift/mask/or bigint arithmetic — engine-portable, so even the
    layout key is oracle-checked."""
    from .plans.zorder import z_interleave

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        z_interleave("l_partkey", "l_suppkey", bits=16).alias("zval"),
    )


def _oracle_zorder_keys() -> str:
    from .plans.zorder import duckdb_z_interleave

    return f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       {duckdb_z_interleave('l_partkey', 'l_suppkey', 16)} AS zval
FROM lineitem WHERE l_orderkey < 100
"""


def q_min_cost_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shape correlated-min decorrelation: for each part, the lineitem
    achieving the minimum unit price (extendedprice / quantity). The
    naive form is a correlated subquery re-running min() per outer row;
    here it is ONE window rank per part — which Spark plans as the
    two-phase WindowGroupLimit (per-map-partition top-1 before the
    exchange, final after), so only one candidate row per (partition,
    part) ever shuffles. Ties break deterministically by (orderkey,
    linenumber). Unit price divides two doubles identically in both
    engines and is emitted RAW: it is a single IEEE division (not an
    accumulated sum), so the doubles are bit-identical cross-engine,
    while rounding would re-introduce divergence on exact .5 ties
    (Spark rounds half-up, DuckDB half-even — caught by the sf0.1
    parity sweep on 4 parts with unit prices like 133.7415625)."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    w = Window.partitionBy("l_partkey").orderBy(
        unit.asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_partkey",
            F.col("l_orderkey").alias("cheapest_orderkey"),
            F.col("l_suppkey").alias("cheapest_suppkey"),
            unit.alias("min_unit_price"),
        )
    )


ORACLE_MIN_COST_ORDER = """
SELECT l_partkey, l_orderkey AS cheapest_orderkey,
       l_suppkey AS cheapest_suppkey,
       l_extendedprice / l_quantity AS min_unit_price
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY l_partkey
           ORDER BY l_extendedprice / l_quantity ASC,
                    l_orderkey ASC, l_linenumber ASC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-flavored nested-aggregate semi-join: suppliers shipping more
    than 2× their fair share of some part (qty·n_suppliers > 2·total —
    the single-source supply-risk screen, stable at any supplier fan-out
    unlike an absolute share threshold), with how many parts each
    dominates and the supplier's nation. Shape: one (part, supplier)
    aggregate; per-part total and supplier count come from a window over
    that ALREADY-AGGREGATED table (cardinality = part×supplier pairs,
    not lineitems — the window exchange is keyed by part and
    partition-parallel); the dominance filter then aggregates per
    supplier and broadcast-joins the dim tables. Quantities sum as
    decimal(12,2) and the comparison is decimal·bigint — integer-exact,
    no float threshold ambiguity."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(qty).alias("ps_qty"))
    w = Window.partitionBy("l_partkey")
    dom = (
        ps.withColumn("p_total", F.sum("ps_qty").over(w))
        .withColumn("n_supp", F.count("*").over(w))
        .filter(F.col("ps_qty") * F.col("n_supp") > F.col("p_total") * 2)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_parts_dominated"))
    )
    return (
        dom.join(F.broadcast(sup), dom.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            "s_suppkey", "s_name",
            F.col("n_name").alias("nation"),
            "n_parts_dominated",
        )
        .orderBy("s_suppkey")
    )


ORACLE_DOMINANT_SUPPLIERS = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(12,2))) AS ps_qty
  FROM lineitem GROUP BY 1, 2
),
tot AS (
  SELECT *, sum(ps_qty) OVER (PARTITION BY l_partkey) AS p_total,
         count(*) OVER (PARTITION BY l_partkey) AS n_supp
  FROM ps
),
dom AS (
  SELECT l_suppkey, count(*) AS n_parts_dominated
  FROM tot WHERE ps_qty * n_supp > p_total * 2 GROUP BY 1
)
SELECT s_suppkey, s_name, n_name AS nation, n_parts_dominated
FROM dom
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_suppkey
"""


RELATIONAL_QUERIES = {
    "part_profit": q_part_profit,
    "forecast_revenue": q_forecast_revenue,
    "running_revenue": q_running_revenue,
    "order_priority_semi": q_order_priority_semi,
    "customers_without_orders": q_customers_without_orders,
    "order_count_distribution": q_order_count_distribution,
    "bucketed_revenue": q_bucketed_revenue,
    "supplier_rollup": q_supplier_rollup,
    "set_ops": q_set_ops,
    "asof_join": q_asof_join,
    "important_stock": q_important_stock,
    "large_orders": q_large_orders,
    "revenue_growth": q_revenue_growth,
    "ntile_segments": q_ntile_segments,
    "zorder_keys": q_zorder_keys,
    "waiting_suppliers": q_waiting_suppliers,
    "idle_customers": q_idle_customers,
    "min_cost_order": q_min_cost_order,
    "dominant_suppliers": q_dominant_suppliers,
}

RELATIONAL_ORACLES = {
    "part_profit": ORACLE_PART_PROFIT,
    "forecast_revenue": ORACLE_FORECAST_REVENUE,
    "running_revenue": ORACLE_RUNNING_REVENUE,
    "order_priority_semi": ORACLE_ORDER_PRIORITY,
    "customers_without_orders": ORACLE_CUSTOMERS_NO_ORDERS,
    "order_count_distribution": ORACLE_ORDER_COUNT_DIST,
    "bucketed_revenue": ORACLE_BUCKETED_REVENUE,
    "supplier_rollup": ORACLE_SUPPLIER_ROLLUP,
    "set_ops": ORACLE_SET_OPS,
    "asof_join": ORACLE_ASOF_JOIN,
    "important_stock": ORACLE_IMPORTANT_STOCK,
    "large_orders": ORACLE_LARGE_ORDERS,
    "revenue_growth": ORACLE_REVENUE_GROWTH,
    "ntile_segments": ORACLE_NTILE_SEGMENTS,
    "zorder_keys": _oracle_zorder_keys(),
    "waiting_suppliers": ORACLE_WAITING_SUPPLIERS,
    "idle_customers": ORACLE_IDLE_CUSTOMERS,
    "min_cost_order": ORACLE_MIN_COST_ORDER,
    "dominant_suppliers": ORACLE_DOMINANT_SUPPLIERS,
}
