"""Salted aggregation: result-equivalence with the direct form on a
deliberately skewed dataset (one key owns ~60% of rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators.skew import (
    salted_agg_counts,
)


@pytest.fixture(scope="module")
def skewed(spark):
    df = spark.range(0, 5000).select(
        F.col("id").alias("row_id"),
        # ~60% of rows land on key 0
        F.when(F.col("id") % 5 < 3, 0).otherwise(F.col("id") % 97).alias("key"),
        (F.col("id") * 3 % 1000).alias("v"),
    )
    return df.cache()


def test_salted_counts_equal_direct(spark, skewed):
    direct = {
        (r.key): (r.n, r.s)
        for r in skewed.groupBy("key")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r.key): (r.n, r.sum_v)
        for r in salted_agg_counts(skewed, "key", "row_id", "v", n_salts=16).collect()
    }
    assert salted == direct


