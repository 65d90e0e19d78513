"""Every queries() entry with an oracle must match it exactly — this is a
local mirror of the driver's correctness gate (run at sf0.001 by default,
any SF via SPARK_GRAFT_TEST_SF_DIR).

Corpus-sized entries: two queries derive a blocking/clustering
parameter from the table's parquet footer count (`lsh_near_dup` plane
count, `semantic_dedup` cluster count), and their REGISTERED oracle
strings embed the derivation for the sf0.01 verification fixture. At
any other SF this module compares them against the SAME oracle factory
re-derived for that SF; `test_sized_oracles_match_registered_at_driver_scale`
pins that the re-derivation reproduces the registered strings exactly
at the driver scale, so the override can never mask registry drift."""

from __future__ import annotations

import functools

import pytest

import __spark_entry__ as entrymod
from .oracle_harness import compare

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()

_DRIVER_SF = "/root/testdata/sf0.01"


@functools.lru_cache(maxsize=None)
def _sized_oracles(sf_dir: str) -> dict[str, str]:
    """The corpus-sized oracles re-derived for ``sf_dir``."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_lsh_near_dup,
        _oracle_semantic_dedup,
        sized_k_for,
        sized_planes_for,
    )

    return {
        "lsh_near_dup": _oracle_lsh_near_dup(
            0.2, planes=sized_planes_for(sf_dir)
        ),
        "semantic_dedup": _oracle_semantic_dedup(k=sized_k_for(sf_dir)),
    }


def test_sized_oracles_match_registered_at_driver_scale():
    """The re-derivation at the driver's sf0.01 scale IS the registered
    SQL, byte for byte — the sweep override cannot hide drift."""
    sized = _sized_oracles(_DRIVER_SF)
    assert set(sized) == {"lsh_near_dup", "semantic_dedup"}
    for name, sql in sized.items():
        assert sql == _ORACLES[name], name


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_oracle_parity(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    if name not in _ORACLES:
        assert df.count() >= 0  # rows-only check, mirrors the driver
        return
    oracle = _ORACLES[name]
    sized = _sized_oracles(sf_dir)
    if name in sized:
        oracle = sized[name]
    ok, msg = compare(df, oracle, sf_dir, name)
    assert ok, msg


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "dist" in df.columns
