"""``array_lit`` — the one way driver-side vectors, centroid matrices,
codebooks and bound tables enter a plan (functions/vector.py literal
contract): one ``from_json`` node that Catalyst folds into a single
``Literal``, bit-exact against the Python values and against the
per-element ``F.array(F.lit(x), …)`` form it replaces (kept here as the
reference)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.functions.vector import (
    array_lit,
)

_EDGE_DOUBLES = [
    0.0,
    -0.0,
    5e-324,
    -5e-324,
    2.2250738585072014e-308,
    1e308,
    -1.7976931348623157e308,
    math.inf,
    -math.inf,
    math.nan,
    0.1,
    -1.2345e-07,
    12345678.9,
    1 / 3,
]

_EDGE_LONGS = [-(2**63), 2**63 - 1, -1, 0, 1, 2**31, -(2**31) - 1, 2**53 + 1]


def _bits(xs):
    return [struct.pack("<d", float(x)) for x in xs]


def _one(spark, col):
    return spark.range(1).select(col.alias("a")).collect()[0].a


def _executed(spark, col) -> str:
    df = spark.range(2).select(col.alias("a"))
    return df._jdf.queryExecution().executedPlan().toString()


def test_vector_bit_exact_vs_python_and_per_element_reference(spark):
    got = _one(spark, array_lit(_EDGE_DOUBLES))
    ref = _one(
        spark,
        F.array(*[F.lit(float(x)) for x in _EDGE_DOUBLES]).cast("array<double>"),
    )
    assert _bits(got) == _bits(_EDGE_DOUBLES)
    assert _bits(got) == _bits(ref)


def test_bigint_extremes_exact(spark):
    got = _one(spark, array_lit(_EDGE_LONGS, "array<bigint>"))
    ref = _one(spark, F.array(*[F.lit(v).cast("long") for v in _EDGE_LONGS]))
    assert got == _EDGE_LONGS == ref


def test_matrix_shape_bit_exact(spark):
    rng = np.random.default_rng(7)
    m = rng.standard_normal((5, 9)).tolist()
    m[2][3] = -0.0
    m[4][0] = 5e-324
    got = _one(spark, array_lit(m, "array<array<double>>"))
    ref = _one(
        spark,
        F.array(
            *[F.array(*[F.lit(float(x)) for x in r]).cast("array<double>") for r in m]
        ),
    )
    assert [_bits(r) for r in got] == [_bits(r) for r in m]
    assert [_bits(r) for r in got] == [_bits(r) for r in ref]


def test_struct_array_shape(spark):
    rows = [
        {"lo": -0.0, "rng": 1e-12, "q": 0.1},
        {"lo": -1.2345e-07, "rng": 2.0, "q": math.inf},
    ]
    got = _one(
        spark, array_lit(rows, "array<struct<lo:double,rng:double,q:double>>")
    )
    for g, r in zip(got, rows):
        assert _bits([g.lo, g.rng, g.q]) == _bits([r["lo"], r["rng"], r["q"]])


def test_numpy_inputs_match_python_floats(spark):
    arr32 = np.asarray([0.1, -3.5, 1e-7], dtype=np.float32)
    got = _one(spark, array_lit(arr32))
    assert _bits(got) == _bits([float(x) for x in arr32])
    ints = np.asarray(_EDGE_LONGS, dtype=np.int64)
    assert _one(spark, array_lit(ints, "array<bigint>")) == _EDGE_LONGS


@pytest.mark.parametrize(
    "values,dtype",
    [
        (_EDGE_DOUBLES, "array<double>"),
        ([[1.0, 2.0], [3.0, 4.0]], "array<array<double>>"),
        (_EDGE_LONGS, "array<bigint>"),
        ([{"lo": 0.0, "rng": 1.0}], "array<struct<lo:double,rng:double>>"),
    ],
)
def test_folds_to_one_literal(spark, values, dtype):
    """ConstantFolding must turn the node into a plain Literal: a Spark
    upgrade that stops folding it would re-parse the JSON for every row."""
    col = array_lit(values, dtype)
    assert "json" not in _executed(spark, col).lower()
    assert "json" in str(col).lower()  # the unfolded node is from_json


def test_operator_plans_carry_no_json(spark):
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        assign_centroids,
        lsh_bucket,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.search import (
        search,
    )

    df = spark.range(6).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    plans = [
        assign_centroids(df, [[0.0, 1.0], [5.0, 1.0]]),
        lsh_bucket(df, [[1.0, -1.0], [0.5, 0.5]]),
        search(df, [2.0, 1.0], k=2),
    ]
    for p in plans:
        assert "json" not in p._jdf.queryExecution().executedPlan().toString().lower()
    assert [r.centroid for r in plans[0].orderBy("vec_id").collect()] == [
        0, 0, 0, 1, 1, 1,
    ]


@pytest.mark.parametrize(
    "values,dtype",
    [
        ([1.5], "array<bigint>"),
        ([2**64], "array<bigint>"),
        ([2**40], "array<int>"),
        (["x"], "array<double>"),
        ([[1.0]], "array<double>"),
        ([{"lo": "a"}], "array<struct<lo:double>>"),
    ],
)
def test_unrepresentable_value_raises_instead_of_null(spark, values, dtype):
    with pytest.raises(Exception):
        spark.range(2).select(array_lit(values, dtype).alias("a")).collect()
