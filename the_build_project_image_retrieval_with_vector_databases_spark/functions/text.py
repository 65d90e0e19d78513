"""Text primitives for the LLM-data-pipeline operators (north-star
extensions: dedup, language-ID, quality scoring, fingerprinting).

All pure Catalyst expressions. The cross-engine hashing trick:
``hex_prefix_to_long(md5(s))`` gives a deterministic 32-bit-ish integer
hash of a string that DuckDB can reproduce exactly (both engines agree on
md5 hex digests), which makes MinHash/SimHash oracle-checkable — unlike
``F.hash`` (Murmur3, Spark-specific).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization → ``array<string>`` (drops empty tokens)."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_shingles(
    toks: Column | str, n: int = 3, sep: str = " ", distinct: bool = True
) -> Column:
    """n-gram shingles over a token array → ``array<string>`` —
    DISTINCT by default (the dedup/decontam join unit); pass
    ``distinct=False`` to keep every positional occurrence (the
    repetition-counting unit, where multiplicity IS the signal).

    Implemented with ``sequence`` + ``slice`` (built-in, no UDF): shingle i
    is ``concat_ws(sep, slice(toks, i, n))`` for i in 1..len-n+1.

    Guard: ``sequence(1, 0)`` is DESCENDING in Spark (yields [1, 0], and
    slice(…, 0, n) then throws), so token arrays shorter than ``n`` map to
    an explicit empty shingle array.
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    count = F.size(toks) - F.lit(n - 1)
    idx = F.sequence(F.lit(1), count)
    sh = F.transform(idx, lambda i: F.concat_ws(sep, F.slice(toks, i, n)))
    if distinct:
        sh = F.array_distinct(sh)
    empty = F.array().cast("array<string>")
    return F.when(count >= 1, sh).otherwise(empty)


def hex_prefix_to_long(hex_col: Column | str, digits: int = 8) -> Column:
    """First ``digits`` hex chars → non-negative bigint via ``conv``.

    DuckDB-portable equivalent (for oracles): positional
    ``strpos('0123456789abcdef', c) - 1`` arithmetic — see
    ``oracle_helpers.duckdb_hex_to_long``.
    """
    c = F.col(hex_col) if isinstance(hex_col, str) else hex_col
    return F.conv(F.substring(c, 1, digits), 16, 10).cast("long")


def md5_long(s: Column | str, salt: str = "", digits: int = 8) -> Column:
    """Deterministic cross-engine string hash → bigint in [0, 16^digits)."""
    c = F.col(s) if isinstance(s, str) else s
    return hex_prefix_to_long(F.md5(F.concat(F.lit(salt), c)), digits)
