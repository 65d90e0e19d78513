"""Z-order (Morton-curve) key over two integer columns.

A single-column sort gives parquet min/max row-group pruning on one
predicate column only; queries filtering on BOTH (a, b) still scan
everything when sorted by a alone. Interleaving the bits of the two
columns into one Morton key and range-partition-sorting by it co-locates
rows that are close in BOTH dimensions, so every file/row-group covers a
small (a, b) rectangle and two-sided predicates prune most of them —
the standard lakehouse `OPTIMIZE ZORDER BY` technique.

The z-value is pure integer bit arithmetic (shift/mask/or), identical in
Spark and DuckDB — so unlike engine-private layout features, the key
itself is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def z_interleave(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Morton key: interleave the low ``bits`` bits of two non-negative
    integer columns — bit i of ``a`` lands at position 2i, bit i of ``b``
    at 2i+1. Monotone in each argument within fixed other-bits, which is
    what gives the locality property."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    a = a.cast("long")
    b = b.cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def duckdb_z_interleave(a: str, b: str, bits: int = 16) -> str:
    """DuckDB SQL mirror of :func:`z_interleave` (same shift/mask/or
    arithmetic, bigint throughout)."""
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST({a} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({b} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"
