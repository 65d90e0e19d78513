"""Vector distance/similarity expressions over ``array<float>`` columns.

The reference computes these inside FAISS (``IndexFlatL2.search``,
reference ``utils/faiss_utils.py:19-22``) and torch
(``F.normalize(emb, p=2, dim=1)``, reference ``src/model.py:58``).
Here they are pure Catalyst higher-order-function expressions —
JVM-side (``transform`` and ``aggregate`` run interpreted inside the
generated stage: Spark gives them no code generation of their own) and
usable in any filter/join/sort, so Catalyst can push them through its
normal optimizations. No UDF round-trip.

Numerical contract: all arithmetic is performed in ``double`` after an
explicit elementwise cast (float32 → float64 is exact), accumulation is a
**left fold** (``F.aggregate``), which bit-matches DuckDB's
``list_reduce`` left fold — this is what makes the DuckDB oracle hashes
reproducible.

Literal contract: every driver-side constant an expression scores
against (a query vector, an IVF centroid matrix, a PQ codebook, LSH
planes, quantization bounds) enters the plan through :func:`array_lit`
— ONE ``from_json`` node over ONE string literal, whatever the k·D size.
Catalyst's ConstantFolding folds it into a single ``Literal`` before
execution (no JSON is parsed per row; pinned by a plan test), and the
values are bit-exact: Python's float ``repr`` round-trips and the JVM's
JSON number parser rounds correctly, so ±0.0, subnormals, ±inf and NaN
arrive unchanged. The per-element ``F.array(F.lit(x), …)`` form it
replaces costs one py4j round trip per element (1.7-2.5 s for a 32×128
centroid matrix) and an O(k·D)-node tree to analyze.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_lit(values, dtype: str = "array<double>") -> Column:
    """A driver-side vector, matrix, int64 array or struct array as ONE
    literal column of Spark type ``dtype`` (a DDL string such as
    ``array<array<double>>``, ``array<bigint>`` or
    ``array<struct<lo:double,rng:double>>``; structs are given as
    dicts). Numpy arrays and scalars are accepted. ``FAILFAST`` makes a
    value the type cannot hold (a fraction or out-of-range int for
    ``bigint``, a wrong nesting depth) raise instead of becoming null."""
    text = json.dumps(values, default=lambda o: o.tolist())
    return F.from_json(F.lit(text), dtype, {"mode": "FAILFAST"})


def to_double_array(v: Column | str) -> Column:
    """Elementwise exact widening cast ``array<float>`` → ``array<double>``."""
    v = F.col(v) if isinstance(v, str) else v
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product Σ aᵢ·bᵢ (reference IndexFlatIP semantics,
    ``utils/__init__.py:67-83``)."""
    a, b = to_double_array(a), to_double_array(b)
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_dist_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance Σ (aᵢ−bᵢ)² — FAISS ``IndexFlatL2`` returns this
    un-rooted; we expose both forms."""
    a, b = to_double_array(a), to_double_array(b)
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def l2_dist(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance ‖a−b‖₂ (reference shipped metric, SURVEY §1.4)."""
    return F.sqrt(l2_dist_sq(a, b))


def l2_norm(v: Column | str) -> Column:
    """‖v‖₂."""
    v = to_double_array(v)
    sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return F.sqrt(sq)


def l2_normalize(v: Column | str) -> Column:
    """v / ‖v‖₂ with a zero-vector guard (mirrors ``torch.nn.functional.
    normalize`` eps semantics, reference ``src/model.py:58``).

    Returns ``array<double>``; cast back with
    ``.cast("array<float>")`` for storage parity with the reference's
    float32 contract (``utils/__init__.py:74``).
    """
    v = F.col(v) if isinstance(v, str) else v
    n = F.greatest(l2_norm(v), F.lit(1e-12))
    return F.transform(to_double_array(v), lambda x: x / n)


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """cos(a, b) = a·b / (‖a‖‖b‖).

    On the engine's unit-normalized embeddings this equals ``dot`` and is
    rank-equivalent to ascending L2 (‖a−b‖² = 2 − 2·cos on unit vectors,
    SURVEY §1.4) — property-tested in tests/test_vector.py.
    """
    denom = l2_norm(a) * l2_norm(b)
    return dot(a, b) / F.greatest(denom, F.lit(1e-12))


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact inner product of two ``array<long>`` columns — pure int64
    fold, so the result is independent of evaluation order and a SQL
    engine reproduces it bit-for-bit (unlike double folds, which are
    only *same-order* deterministic). Caller owns the range audit:
    per-term products and the running sum must fit int64."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def truncate_renormalize(v: Column | str, dims: int) -> Column:
    """Matryoshka-style dimension truncation: keep the first ``dims``
    components and L2-renormalize. ONLY meaningful on embeddings trained
    front-loaded (matryoshka representation learning) — on ordinary
    embeddings the truncated ranking is distance-concentration noise
    (pinned as a negative control in tests). On MRL embeddings it trades
    bounded recall for a dims/D cut in scan bytes and FLOPs — the
    cheapest ANN speed knob of all, applied BEFORE any index tier.
    Pure expression (slice + the same fold as :func:`l2_normalize`), so
    it composes with every search plan (the registry's
    ``matryoshka_topk`` ranks with it).
    """
    t = F.slice(to_double_array(v), 1, dims)
    return l2_normalize(t)
