"""Bucketed co-located join (plans.bucketing): both fact tables written
bucketBy(8, orderkey) ⇒ the join plans with ZERO Exchange — the
repeated-join path at 100 TB. Result equivalence is asserted against the
plain (shuffled) join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.plans.bucketing import (
    ensure_bucketed_table,
)
from .conftest import SF_SMOKE


@pytest.fixture()
def no_broadcast(spark):
    """Force the merge path so the assertion is about bucket co-location,
    not broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_no_exchange(spark, tmp_path, no_broadcast):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    ensure_bucketed_table(
        spark, li, "b_lineitem", str(tmp_path / "li"), "l_orderkey", n_buckets=8
    )
    ensure_bucketed_table(
        spark, orders, "b_orders", str(tmp_path / "ord"), "o_orderkey", n_buckets=8
    )
    try:
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself sees NO exchange on either side (the final agg
        # still shuffles its |groups| rows — that one is unavoidable)
        assert "SortMergeJoin" in plan
        before_join = plan[plan.index("SortMergeJoin") :]
        assert "Exchange hashpartitioning" not in before_join
        # same rows as the plain shuffled join
        want = sorted(
            (r.o_orderpriority, r.n)
            for r in li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        got = sorted((r.o_orderpriority, r.n) for r in joined.collect())
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_ensure_bucketed_table_reregisters_without_rewrite(spark, tmp_path):
    """Fresh-process path of the bucketed layout: dropping the catalog
    entry (what a new session sees) and calling ensure again must
    re-register the EXISTING files via DDL — no rewrite — and the
    re-registered table must still plan the zero-exchange join."""
    import os
    import time

    from pyspark.sql import functions as F

    from the_build_project_image_retrieval_with_vector_databases_spark.plans.bucketing import (
        ensure_bucketed_table,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    path = str(tmp_path / "bkt")
    name = "bkt_reregister_test"
    ensure_bucketed_table(spark, df, name, path, "k", n_buckets=4)
    stamp = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    rows1 = spark.table(name).count()

    spark.sql(f"DROP TABLE {name}")  # simulate a fresh session's catalog
    assert not spark.catalog.tableExists(name)
    ensure_bucketed_table(spark, df, name, path, "k", n_buckets=4)
    assert spark.catalog.tableExists(name)
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == stamp  # no rewrite
    t = spark.table(name)
    assert t.count() == rows1 == 1000
    # bucket metadata survived the DDL re-registration: self-join on the
    # bucket key plans with no hash exchange
    plan = (
        t.join(spark.table(name).withColumnRenamed("v", "v2"), "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    spark.sql(f"DROP TABLE {name}")
