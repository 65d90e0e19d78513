"""AQE skew-join handling (SURVEY §7.4.1's runtime half): a deliberately
hot-keyed fact ⋈ dim sort-merge join under aggressive skew thresholds
must be re-planned by AQE with split skew partitions (`skew=true`), and
results stay identical. The explicit planner-independent forms live in
operators/skew.py (test_skew.py); this pins that the *runtime* path the
engine relies on at 100 TB actually engages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "10KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "10KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@pytest.fixture()
def skew_confs(spark):
    old = {k: spark.conf.get(k, None) for k in SKEW_CONFS}
    for k, v in SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark, skew_confs):
    # 60% of fact rows share one key; values are wide strings so the hot
    # partition trips the (lowered) skew threshold
    fact = spark.range(0, 40_000).select(
        F.when(F.col("id") % 5 < 3, F.lit(7))
        .otherwise(F.col("id") % 97 + 100)  # cold keys 100..196, never 7
        .alias("k"),
        F.concat(F.lit("v" * 64), F.col("id").cast("string")).alias("payload"),
    )
    dim = spark.range(0, 200).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    joined = (
        fact.join(dim, "k")
        .groupBy("name")
        # read payload after the join, else column pruning drops it before
        # the shuffle and only the (highly compressible) key is exchanged
        .agg(F.count("*").alias("n"), F.max(F.length("payload")).alias("w"))
    )
    rows = joined.collect()  # execute so AQE finalizes the plan
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]
    # correctness unchanged by the split: hot key 7 holds 60% of rows
    got = {r.name: r.n for r in rows}
    assert got["d7"] == 24_000
    assert sum(got.values()) == 40_000
    # the payload crossed the join: 64 "v"s plus a 5-digit key-7 id
    w = {r.name: r.w for r in rows}
    assert w["d7"] == 69
