"""Text-analysis operators for the LLM-data-pipeline surface (north-star
extensions; SURVEY §7.2 M4): token stats, top terms, TF-IDF, language ID,
quality scoring, document fingerprinting.

Everything is built-in Catalyst expressions (split/explode/aggregates) —
no Python UDFs — so the operators stay inside the generated stages (the
higher-order functions among them, such as the tokenizer's ``filter``,
run interpreted there) and scale linearly with executors. Hashing uses the md5-hex trick from
``functions.text`` so DuckDB oracles can reproduce values exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_long, tokens
from ..sources.tables import spread

# Tiny embedded stopword lists for the language-ID heuristic (public,
# standard closed-class words). Deliberately small: the operator contract
# is "argmax of stopword-hit ratio per language", not linguistic accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ich", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "y", "de", "que", "en", "un", "por", "con"),
}


def lang_pred_expr(toks):
    """(pred_lang, best_score) expressions over a token-array column —
    the reusable core of :func:`language_id`, composable into fused
    single-scan pipelines (see queries_text.q_clean_corpus)."""
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    scores = [
        (
            lang,
            F.size(
                F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang]))
            ).cast("double")
            / n,
        )
        for lang in sorted(LANG_STOPWORDS)
    ]
    # argmax via greatest + chained when (deterministic tie → first lang asc)
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    for lang, s in reversed(scores):
        pred = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(pred)
    return pred, best


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """n-gram/stopword language-ID heuristic: score(lang) = fraction of
    tokens that are lang stopwords; predicted = argmax (ties → lang name
    ascending); 'und' (undetermined) if no stopword hits at all."""
    pred, best = lang_pred_expr(tokens(text_col))
    return spread(df).select(
        F.col(id_col),
        pred.alias("pred_lang"),
        # raw stopword-hit ratio (ints ÷ ints — bit-exact cross-engine;
        # rounding is the .5-tie hazard, see token_stats)
        best.alias("lang_score"),
    )


def quality_exprs(txt, toks):
    """(alpha_ratio, mean_tok_len, stop_ratio, quality) expressions over a
    text column + its token array: heuristic document quality from the
    alpha-char ratio, a mean-token-length band and stopword presence,
    a composite in [0, 1]. The quality gate of the fused
    ``queries_text`` pipelines."""
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    n_chars = F.greatest(F.length(txt), F.lit(1)).cast("double")
    alpha_ratio = (
        F.length(F.regexp_replace(txt, "[^a-zA-Z]", "")).cast("double") / n_chars
    )
    mean_tok_len = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / n_tok
    )
    len_band = F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 10.0), 1.0).otherwise(0.5)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))
    ).cast("double")
    stop_ratio = stop_hits / n_tok
    stop_band = F.when(stop_ratio > 0.05, 1.0).otherwise(0.6)
    # raw composite: exact-integer ratios × short decimal literals,
    # summed left-to-right — the oracle mirrors the operand order, so
    # every intermediate is the same IEEE double (no rounding, no ties)
    score = alpha_ratio * 0.4 + len_band * 0.3 + stop_band * 0.3
    return alpha_ratio, mean_tok_len, stop_ratio, score


def repetition_exprs(txt, toks):
    """Gopher-style repetition/noise signals (Rae et al. 2021 §A1.1, the
    published web-corpus quality rules) as pure Catalyst expressions over
    a text column + its token array:

    - ``top_word_frac``: occurrences of the most frequent token / tokens
      — computed as the max run length over the SORTED token array via a
      single struct fold (O(n log n + n) per row; the obvious
      count-each-distinct nested HOF is O(distinct × tokens) and
      measured 3× slower at sf0.1);
    - ``dup_2gram_frac``: 1 − distinct 2-grams / total 2-grams;
    - ``symbol_ratio``: non-alphanumeric-non-space chars / chars.
    """
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    n_chars = F.greatest(F.length(txt), F.lit(1)).cast("double")

    def step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_count = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        step,
        lambda acc: acc["best"],
    )
    top_word_frac = top_count.cast("double") / n_tok
    # length clamped to >= 0: slice() RAISES on negative length, and an
    # empty/1-token doc makes size-1 negative/zero (fixture docs never
    # do — found by the fuzz layer, tests/test_fuzz_oracle.py)
    n_m1 = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, n_m1),
        F.slice(toks, 2, n_m1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_grams = F.size(grams)
    dup_2gram_frac = F.when(
        n_grams >= 1,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double")
        / n_grams.cast("double"),
    ).otherwise(F.lit(0.0))
    symbol_ratio = (
        F.length(F.regexp_replace(txt, "[a-zA-Z0-9\\s]", "")).cast("double")
        / n_chars
    )
    return top_word_frac, dup_2gram_frac, symbol_ratio


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher-rule repetition gate: the three signals of
    :func:`repetition_exprs` plus the published-threshold flag
    (top-word > 0.2, duplicated 2-grams > 0.4, or symbols > 0.3 ⇒
    ``flagged``) — the repetition companion to :func:`quality_exprs`'
    composition signals. One scan, no shuffle, no UDF."""
    toks = tokens(text_col)
    top_word_frac, dup_2gram_frac, symbol_ratio = repetition_exprs(
        F.col(text_col), toks
    )
    flagged = (
        (top_word_frac > 0.2) | (dup_2gram_frac > 0.4) | (symbol_ratio > 0.3)
    )
    return df.select(
        F.col(id_col),
        # raw integer-ratio doubles (bit-exact cross-engine; rounding is
        # the .5-tie hazard — see token_stats)
        top_word_frac.alias("top_word_frac"),
        dup_2gram_frac.alias("dup_2gram_frac"),
        symbol_ratio.alias("symbol_ratio"),
        flagged.alias("flagged"),
    )


# BPE-ish pretokenizer: letter runs, digit runs, single punctuation — the
# coarse shape GPT-style byte-pair pretokenization produces (public
# pattern family). Whitespace is an EXPLICIT char class, not `\s`: Java's
# `\s` includes \x0B (vertical tab) while RE2's does not, so `\s` would
# silently diverge between Spark and the DuckDB oracle on such input.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]"


def bpe_token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token counts under BOTH tokenizers: whitespace words
    and the BPE-ish regex (`BPE_PATTERN`) — the cost-estimation numbers
    an LLM-pipeline owner asks for ('how many tokens is this corpus?').
    Pure expressions (the whitespace tokenizer's ``filter`` runs
    interpreted inside the generated stage); raw ratio doubles hash
    cross-engine."""
    lowered = F.lower(F.col(text_col))
    ws = tokens(text_col)
    bpe = F.regexp_extract_all(lowered, F.lit(BPE_PATTERN), 0)
    n_ws = F.size(ws)
    n_bpe = F.size(bpe)
    return spread(df).select(
        F.col(id_col),
        n_ws.alias("n_words"),
        n_bpe.alias("n_bpe_tokens"),
        # raw integer-ratio double (see token_stats for the tie rationale)
        (n_bpe.cast("double") / F.greatest(n_ws, F.lit(1)).cast("double")).alias(
            "tokens_per_word"
        ),
    )


# PII patterns (public, standard shapes). Java regex and RE2 disagree on
# some escapes — these stick to portable character-class syntax so the
# DuckDB oracle (regexp_replace ... 'g') reproduces the rewrites exactly.
# Order matters: specific → general (emails before bare domains would
# matter if domains were scrubbed; here the classes are disjoint except
# card-vs-phone, resolved by scrubbing cards first).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b", "<CARD>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    # [+]? BEFORE \b: "\b\+?" can never match a leading plus — there is
    # no word boundary between whitespace and '+', but there IS one
    # between '+' and the first digit
    ("phone", r"[+]?\b(?:[0-9]{1,2}[- .]?)?\(?[0-9]{3}\)?[- .][0-9]{3}[- .][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII redaction — the compliance pass every training-data pipeline
    runs before anything else ships: emails, payment-card shapes, SSNs,
    phone numbers, and IPv4 literals replaced by typed placeholders,
    with per-class hit counts for the audit trail.

    Pure chained ``regexp_replace`` expressions — one scan, zero
    shuffles, whole-stage codegen; at 100 TB this runs at IO speed as a
    map-only rewrite. Hit counts come from length deltas of a per-class
    single-pattern scrub (exact, expression-only — no second tokenize
    pass, no UDF). Oracle-portable patterns.
    """
    txt = F.col(text_col)
    scrubbed = txt
    counts = []
    for name, pat, token in PII_PATTERNS:
        # hits BEFORE this class's rewrite, on the progressively-scrubbed
        # text so overlapping classes (card ⊃ phone-ish) never double-count
        removed = scrubbed
        scrubbed = F.regexp_replace(scrubbed, pat, token)
        # count = how many placeholder tokens this step introduced:
        # (len(after) - len(before) + hits*len(match...)) is unknowable per
        # match, so count placeholder occurrences delta instead
        before = F.length(removed) - F.length(
            F.regexp_replace(removed, F.lit(token), F.lit(""))
        )
        after = F.length(scrubbed) - F.length(
            F.regexp_replace(scrubbed, F.lit(token), F.lit(""))
        )
        counts.append(
            ((after - before) / F.lit(len(token))).cast("int").alias(f"n_{name}")
        )
    return spread(df).select(
        F.col(id_col),
        scrubbed.alias("clean_text"),
        *counts,
        F.md5(scrubbed).alias("clean_md5"),
    )


def bm25(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_score: bool = True,
) -> DataFrame:
    """BM25 top-k retrieval for a fixed query — the lexical ranking
    behind every retrieval/RAG stack (Lucene-style positive idf:
    ln((N - df + 0.5)/(df + 0.5) + 1)).

    Scale shape: NO corpus shuffle at all. Per-term tfs and the doc
    length come from pure array expressions over one scan (``tf_i =
    size(filter(toks, = term_i))`` — no explode, no self-join); the
    corpus statistics (N, Σdl, per-term df) are ONE 1-row aggregate
    broadcast back via cross-join; the final top-k is a per-partition
    heap (``TakeOrderedAndProject``). At 100 TB this is one map pass +
    a scalar agg + a k-row result.

    Cross-engine exactness: every float op is mirrored in the DuckDB
    oracle in identical order — per-term scores are summed left-to-
    right as an explicit expression chain (NOT a float aggregate, whose
    accumulation order is engine-defined); tf/df/dl/N are exact ints;
    a doc with tf=0 contributes an exact 0.0. The score contains ``ln``,
    which is NOT bit-reproducible across engines (Java Math.log vs two
    libm paths disagree by 1 ulp on real idf args — measured), so the
    score is rounded to 6 decimals like ``tf_idf`` — the kept-rounded
    class (transcendental outputs cannot land on a .5 tie at digit 7,
    CHANGES_r06 tie scan) — and the top-k ranks on the ROUNDED score so
    a 1-ulp flip can never reorder the boundary cross-engine."""
    if not query_terms:
        raise ValueError("bm25 requires at least one query term")
    toks = tokens(text_col)
    dl = F.size(toks)

    def _tf(term: str):
        # one-parameter lambda on purpose: a second parameter would make
        # F.filter pass the array INDEX into it
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    per_doc = spread(df).select(
        F.col(id_col),
        dl.alias("dl"),
        *[_tf(term).alias(f"tf_{i}") for i, term in enumerate(query_terms)],
    )
    glob = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + (F.lit(b) * F.col("dl").cast("double")) / avgdl
    )
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - dfreq + F.lit(0.5))
            / (dfreq + F.lit(0.5))
            + F.lit(1.0)
        )
        s_i = idf * ((tf * F.lit(k1 + 1.0)) / (tf + norm))
        score = s_i if score is None else score + s_i
    n_hit = None
    for i in range(len(query_terms)):
        h = (F.col(f"tf_{i}") > 0).cast("int")
        n_hit = h if n_hit is None else n_hit + h
    # round_score=False is the tie-scan hook (scripts/tie_scan.py reads
    # the pre-round values to prove the .5-tie class stays empty)
    out_score = F.round(score, 6) if round_score else score
    return (
        per_doc.crossJoin(F.broadcast(glob))
        .filter(n_hit > 0)
        .select(
            F.col(id_col),
            F.col("dl"),
            n_hit.alias("n_hit_terms"),
            out_score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def passage_chunks(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG / long-context
    pretraining splitter (chunk i covers tokens [i·stride + 1,
    i·stride + window]; the last window is the first one containing
    the document's final token, so every token lands in ≥ 1 chunk and
    consecutive chunks overlap by window − stride). Token-less
    documents produce NO chunks.

    Chunk count is integer-exact: 1 + ceil(max(L − window, 0)/stride),
    with the ceil as (extra + stride − 1) div stride over NON-NEGATIVE
    ints only — Spark's div truncates toward zero while DuckDB's //
    floors, so the ``greatest(0, ·)`` runs BEFORE the division where
    the two rules agree.

    Scale shape: tokenize → sequence → explode → slice, one projection
    chain (the tokenizer's ``filter`` runs interpreted inside the
    generated stage) with ZERO shuffles; output size is Σ n_chunks
    (linear in corpus tokens · window/stride). The tokenize runs in
    its own projection (the doc_shingles contract — multi-referenced
    heavy aliases are not collapsed)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    L = F.size("__toks")
    extra = F.greatest(F.lit(0), L - F.lit(window))
    n_chunks = (
        F.lit(1)
        + F.floor((extra + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    )
    # token-less docs: a NULL sequence explodes to zero rows — a
    # `filter(L > 0)` would instead be pushed below the tokenize
    # projection and re-inline the whole tokenize as a per-row scan
    # filter (the doc_shingles lesson; measured: 3 copies of the
    # tokenize subtree in the plan vs 1 this way)
    seq = F.when(L > 0, F.sequence(F.lit(0), n_chunks - F.lit(1)))
    c = toked.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(seq).alias("chunk_id"),
    )
    sl = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + F.lit(1), window
    )
    return c.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(sl).cast("int").alias("n_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


# Width of the position field in winnowing's encoded gram hash
# (hash·2^POS_BITS + (g − pos)). 30 bits ⇒ docs up to ~1B grams; the
# 32-bit hash + 30-bit position stay inside a signed 64-bit long.
# Module-level (not function-local) so the overflow guard is testable
# by monkeypatching the bound down to fixture scale.
_WN_POS_BITS = 30


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    w-hash window over the positional hash stream, and in each window
    select the RIGHTMOST minimal hash; the distinct (position, hash)
    selections are the document's fingerprints.

    The guarantee that makes this the robust companion to
    ``fingerprint``'s single min-hash: any shared substring of at least
    w + k − 1 tokens between two documents yields at least one IDENTICAL
    fingerprint hash in both — matching on fingerprints finds local
    (substring-level) overlap, not just whole-document similarity, at a
    gap-bounded density of selections (≈ 2/(w+1) of all grams).

    Positional note: canonical winnowing breaks window ties toward the
    RIGHTMOST minimum (fewer distinct selections as the window slides);
    implemented as ``size(sub) − position(min, reverse(sub)) + start``
    — pure integer/string arithmetic the DuckDB oracle replays exactly.

    Documents with fewer than w grams (but ≥ 1) winnow their single
    short window — one fingerprint, the global min — matching the
    paper's short-input degeneration. Token-less / sub-k docs emit
    nothing.

    Scale shape: a projection chain — tokenize → position-ENCODED gram
    hashes → sparse-table sliding min → decode → array_distinct →
    explode — with ZERO shuffles and no UDF; output is
    ≤ grams/⌈(w+1)/2⌉ rows per doc. At 100 TB this is embarrassingly
    parallel per input split. BOTH the tokenize and the hash array
    live in their OWN projections (the doc_shingles contract — see
    passage_chunks): inlining the hash transform would re-evaluate the
    full md5 chain per consumer — measured 37× the whole query's cost
    at sf0.1 (25.1 s inlined → 0.67 s materialized, same scale_proof
    protocol).

    Per-window cost: a per-window form re-slices the hash array per
    window (slice/array_min/reverse/array_position = O(g·w) element ops
    per doc). This form is the "precomputed min positions" plan: each
    positional hash is encoded as ``hash·2²⁰ + (g − pos)`` — a single
    BIGINT whose MINIMUM over any window IS the rightmost-minimal
    selection (smaller hash dominates the 2²⁰ scale; among equal
    hashes the smaller ``g − pos`` means the larger pos) — then a
    sparse-table doubling ladder (level j holds width-2ʲ mins, each
    level one O(g) zip of the previous) gives every width-w window min
    as ``least(m_p[j], m_p[j + w − p])`` with p = 2^⌊log₂w⌋: O(g·log w)
    integer ops total, and the md5 work is unchanged. Bound: positions
    occupy ``_WN_POS_BITS`` = 30 bits (docs ≤ ~1B grams) under the
    8-hex-digit (32-bit) gram hash — 62 bits total, inside long; a doc
    beyond the bound raises loudly (``raise_error``) rather than
    silently overflowing the position field into the hash bits (the
    fail-loudly convention). The decoded output is POS_BITS-invariant,
    so the width is purely a capacity knob. Wall time remains per-row
    CPU (the linear class, like ngram_jaccard_dedup's tokenize), at a
    ~w/log₂w-smaller constant."""
    import math

    POS_BITS = _WN_POS_BITS
    enc_scale = 1 << POS_BITS
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    g0 = F.size("__toks") - F.lit(k - 1)  # positional gram count
    # positional (NOT distinct) encoded gram hashes: position is part
    # of the fingerprint identity, so token_shingles' array_distinct is
    # wrong here. NULL (not empty) for sub-k docs — the guard keeps
    # sequence(1, g<=0) descending-range semantics out, and NULL
    # propagates through size/when below so the explode emits nothing.
    # The > 2^POS_BITS branch fails LOUDLY: g − i must fit the position
    # field or the min-encoding tie-break is silently corrupted.
    enc0 = F.when(
        g0 >= 1,
        F.when(
            g0 > F.lit(enc_scale),
            F.raise_error(
                F.concat(
                    F.lit(
                        "winnowing_fingerprints: document exceeds "
                        f"2^{POS_BITS} grams — the encoded position would "
                        "overflow into the hash bits; widen _WN_POS_BITS "
                        "(doc "
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(")"),
                )
            ),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), g0),
                lambda i: md5_long(
                    F.concat_ws(" ", F.slice(F.col("__toks"), i, k))
                )
                * F.lit(enc_scale)
                + (g0 - i).cast("long"),
            )
        ),
    )
    cur = toked.select(F.col(id_col), enc0.alias("__m1"))
    p = 1 << int(math.floor(math.log2(w)))
    lvl, name = 1, "__m1"
    while lvl < p:
        nxt, prev = lvl * 2, name
        cnt = F.size(F.col(prev)) - F.lit(lvl)  # next length = g - nxt + 1

        def _zip_min_fn(_prev: str, _step: int):
            # closure factory: F.transform inspects the callable's
            # parameter COUNT, so default-arg binding would read as a
            # two-arg (value, index) lambda
            return lambda x: F.least(
                F.element_at(F.col(_prev), x),
                F.element_at(F.col(_prev), x + F.lit(_step)),
            )

        arr = F.when(
            cnt >= 1, F.transform(F.sequence(F.lit(1), cnt), _zip_min_fn(prev, lvl))
        )
        name = f"__m{nxt}"
        # each level in its OWN projection: the next level reads it
        # twice per element (the doc_shingles materialization contract)
        cur = cur.select(F.col(id_col), F.col("__m1"), arr.alias(name))
        lvl = nxt
    g = F.size("__m1")
    mp = F.col(name)
    # clamp to ≥ 1: for 1 ≤ g < w the whole `win` value is discarded by
    # the CaseWhen below, but the expression must be UNCONDITIONALLY
    # safe (no descending sequence(1, n<=0), no reliance on lazy branch
    # evaluation / no-hoisting) — hence the clamp plus try_element_at,
    # which returns NULL (never throws, even under ANSI) on the
    # out-of-range probes those discarded rows produce. On the live
    # g ≥ w branch both indices are always in bounds, so try_element_at
    # is value-identical to element_at.
    n_windows = F.greatest(g - F.lit(w - 1), F.lit(1))
    win = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.least(
            F.try_element_at(mp, j), F.try_element_at(mp, j + F.lit(w - p))
        ),
    )
    # docs with 1 ≤ g < w winnow their single short window (the paper's
    # short-input degeneration): the global min of the encoded stream
    sel_enc = (
        F.when(g >= w, win)
        .when(g >= 1, F.array(F.array_min(F.col("__m1"))))
    )
    sel = F.array_distinct(
        F.transform(
            sel_enc,
            lambda e: F.struct(
                (g - (e % F.lit(enc_scale))).cast("int").alias("fp_pos"),
                F.shiftright(e, POS_BITS).alias("fp_hash"),
            ),
        )
    )
    # sub-k docs: __m1 is NULL → g is NULL → sel_enc is NULL and the
    # explode emits zero rows, without a filter that would re-inline
    # the hash subtree below the projection (the passage_chunks lesson)
    fp = cur.select(F.col(id_col), F.explode(sel).alias("__fp"))
    return fp.select(
        F.col(id_col),
        F.col("__fp.fp_pos").alias("fp_pos"),
        F.col("__fp.fp_hash").alias("fp_hash"),
    )


def bpe_merge_step(
    df: DataFrame, top_n: int = 32, text_col: str = "text"
) -> DataFrame:
    """One distributed BPE merge iteration (Sennrich, Haddow & Birch,
    ACL 2016): pre-tokenize the corpus with ``BPE_PATTERN``, count word
    frequencies, then count ADJACENT CHARACTER PAIRS weighted by word
    frequency — the top-``top_n`` pairs (count desc, pair asc) are the
    merge candidates a tokenizer trainer would fuse this round.

    Duplicate pairs within a word count once per occurrence ("aaa"
    contributes "aa" twice), exactly as the published algorithm counts.

    Scale shape — why this is THE way to train a tokenizer on 100 TB:
    the corpus collapses to its VOCABULARY after the first aggregate
    (distinct words ≪ corpus tokens; both aggregates are map-side
    partial), so the expensive explode-per-character work runs on the
    vocabulary, not the corpus. Two bounded shuffles (word key, pair
    key) and a TakeOrderedAndProject — no window, no driver loop."""
    words = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0)
        ).alias("word")
    )
    wf = words.groupBy("word").agg(F.count("*").alias("freq"))
    pairs_arr = F.transform(
        F.sequence(F.lit(1), F.length("word") - F.lit(1)),
        lambda i: F.col("word").substr(i, F.lit(2)),
    )
    pe = (
        wf.filter(F.length("word") >= 2)
        .select(F.explode(pairs_arr).alias("pair"), "freq")
    )
    return (
        pe.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# Gopher char-fraction repetition suite
# ---------------------------------------------------------------------------

# (n, kind, threshold) — Rae et al. 2021 Table A1: a document is
# repetition-flagged when the fraction of characters in the most
# frequent n-gram exceeds 0.20/0.18/0.16 (n = 2/3/4), or the fraction
# of characters in DUPLICATED n-grams exceeds 0.15/0.14/0.13
# (n = 5/6/7; the paper runs dup out to n=10 — the fixture docs are
# 30-80 tokens, so 8-10-grams would be all-zero rows).
REPETITION_RULES: tuple[tuple[int, str, float], ...] = (
    (2, "top", 0.20),
    (3, "top", 0.18),
    (4, "top", 0.16),
    (5, "dup", 0.15),
    (6, "dup", 0.14),
    (7, "dup", 0.13),
)


def repetition_ngram_fractions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: tuple[tuple[int, str, float], ...] = REPETITION_RULES,
) -> DataFrame:
    """Gopher repetition gate, the char-fraction half (Rae et al. 2021
    §A1.1): per document and n-gram size, the fraction of characters
    covered by (a) the MOST FREQUENT n-gram ("top") or (b) all
    n-grams occurring more than once ("dup"), with the published
    per-(n, kind) threshold flag. Complements
    :func:`gopher_quality`'s token-count signals (top-word fraction,
    dup-2-gram token fraction) — these are the character-mass rules
    that catch long-span boilerplate the token counts miss.

    Measure contract (cross-engine exact): tokens are the engine-wide
    ``tokens()`` fold (lower, trim, split ``\\s+``); an n-gram's char
    mass is ``count × length(gram)`` with the single-space joiner
    counted (the paper is agnostic on separators); the denominator is
    ``length(trim(text))``; "top" ties break by larger char mass (so
    the numerator is well-defined without comparing gram strings);
    "dup" char mass is capped at the denominator (overlapping
    occurrences can over-count). All fractions are integer-ratio
    doubles — bit-exact cross-engine, no rounding.

    Output (long format): ``(doc_id, n, kind, n_chars, gram_chars,
    frac, flagged)`` — one row per document per rule.

    Scale shape: one explode of Σ|rules| shingle passes fused into the
    scan; exchange 1 keys (doc, n, gram) — cardinality ≈ tokens ×
    |rules|, uniformly spread (the gram string is in the key, so a hot
    template never makes a hot key); exchange 2 keys (doc, n) with
    map-side partial aggregation. No window, no UDF, no driver state.
    """
    toks = tokens(F.col(text_col))
    nc = F.length(F.trim(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("_id"), nc.alias("_nc"), toks.alias("_t")
    )

    # ONE scan, ONE tokenize, TWO explodes: first explode the 6-row
    # rule literal against each doc (the token array rides along), then
    # build that row's n-grams with a DYNAMIC-n slice and explode them.
    # Three plans were A/B-measured (SCALE_100X):
    # a 6-way UNION of per-n branches re-scans and re-tokenizes the
    # corpus six times (9.3 s @10×); concatenating six struct-tagged
    # shingle arrays into one giant per-row array before the explode
    # pays its allocation at scale (14.6 s @10×, worse at 100×); this
    # rules-first shape wins or ties everywhere (7.4 s @10×, tie @100×).
    rules_arr = F.array(
        *[
            F.struct(F.lit(n).alias("n"), F.lit(kind).alias("kind"))
            for n, kind, _thr in rules
        ]
    )
    r = base.select("_id", "_nc", "_t", F.explode(rules_arr).alias("_r"))
    ncol = F.col("_r.n")
    cnt_g = F.size("_t") - ncol + F.lit(1)
    sh = F.when(
        cnt_g >= 1,
        F.transform(
            F.sequence(F.lit(1), cnt_g),
            lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, ncol)),
        ),
    )
    exploded = r.select(
        "_id",
        "_nc",
        ncol.alias("n"),
        F.col("_r.kind").alias("kind"),
        F.explode(sh).alias("_g"),
    )
    counted = exploded.groupBy("_id", "n", "kind", "_g").agg(
        F.count(F.lit(1)).alias("_cnt"), F.max("_nc").alias("_nc2")
    )
    gram_mass = F.col("_cnt") * F.length(F.col("_g"))
    per_doc = counted.groupBy("_id", "n", "kind").agg(
        F.max("_nc2").alias("n_chars"),
        # top: lexicographic struct max = among max-count grams, the
        # largest char mass — deterministic without gram-string order
        F.max(F.struct(F.col("_cnt"), gram_mass.alias("_m"))).alias("_top"),
        F.sum(F.when(F.col("_cnt") >= 2, gram_mass).otherwise(F.lit(0))).alias(
            "_dup"
        ),
    )
    thr_expr = None
    for n, kind, thr in rules:
        cond = (F.col("n") == n) & (F.col("kind") == kind)
        thr_expr = (
            F.when(cond, F.lit(thr))
            if thr_expr is None
            else thr_expr.when(cond, F.lit(thr))
        )
    gram_chars = F.when(
        F.col("kind") == "top", F.col("_top._m")
    ).otherwise(F.least(F.col("_dup"), F.col("n_chars")))
    frac = gram_chars.cast("double") / F.greatest(
        F.col("n_chars"), F.lit(1)
    ).cast("double")
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n",
        "kind",
        "n_chars",
        gram_chars.cast("long").alias("gram_chars"),
        frac.alias("frac"),
        (frac > thr_expr).alias("flagged"),
    )


def ngram_novelty_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    stale_below: float = 0.5,
    cache_handles: list | None = None,
) -> DataFrame:
    """First-occurrence n-gram novelty: for each document, the fraction
    of its DISTINCT n-grams whose globally FIRST occurrence (minimum
    ``id_col``) is this document — "how much new content does this doc
    add to the corpus in ingestion order?", the per-document form of
    the duplicate-text value argument in Lee et al. 2022. A doc whose
    novelty falls below ``stale_below`` is flagged ``is_stale`` (most
    of its content already exists earlier in the corpus — the
    candidates exact/near dedup would keep only one of).

    Output: ``(doc_id, n_grams, n_novel, novelty_frac, is_stale)``;
    ``novelty_frac`` is the integer-ratio double.

    Scale shape: ONE tokenize→shingle→hash pass fused into the scan;
    exchange 1 = the distinct (doc, gram) aggregate, exchange 2 = the
    gram-keyed min-doc aggregate (both map-side partial; the gram hash
    is in the key so hot templates spread), exchange 3 = the gram-keyed
    join of the two (co-partitioned with exchange 2's output), and a
    final doc-keyed aggregate. No window, no UDF, no driver state;
    every step linear in distinct grams."""
    from ..functions.text import md5_long, token_shingles

    from ..operators.dedup import _opt_persist

    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(token_shingles(tokens(F.col(text_col)), n=n)).alias("_g"),
    ).select(
        "_id",
        F.coalesce(md5_long(F.col("_g"), digits=15), F.lit(-1)).alias("h"),
    )
    # the distinct (doc, gram-hash) table is consumed by BOTH the
    # first-occurrence aggregate and the join side — persist under the
    # dedup-family cache contract so the scan→tokenize→md5→distinct
    # pipeline runs once, not twice (caller unpersists via handles).
    e = _opt_persist(grams.distinct(), cache_handles)
    first = e.groupBy("h").agg(F.min("_id").alias("_first"))
    per_doc = (
        e.join(first, "h")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("_first") == F.col("_id")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    frac = F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_grams",
        "n_novel",
        # raw integer-ratio double (bit-exact cross-engine)
        frac.alias("novelty_frac"),
        (frac < F.lit(stale_below)).alias("is_stale"),
    )


def exact_substring_spans(
    df: DataFrame,
    L: int = 8,
    flag_above: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_handles: list | None = None,
) -> DataFrame:
    """ExactSubstr duplication profile (Lee, Ippolito, Nystrom et al.,
    ACL 2022 "Deduplicating Training Data Makes Language Models
    Better", §4.1 — token-level form): an L-token span duplicated
    ANYWHERE in the corpus (across documents or within one) marks its
    tokens; per document, report how many of its tokens sit inside at
    least one duplicated span. The paper removes those spans before
    training; this operator computes the span map + coverage (the
    decision input), keeping removal a trivial downstream slice.

    Spark-first re-expression of the paper's suffix array: a suffix
    array finds repeated substrings of length ≥ L; the set of repeated
    L-grams is EXACTLY the same information (any repeat of length
    ≥ L contains a repeated L-gram at every offset, and coverage of
    the union of repeated-L-gram spans equals coverage of maximal
    repeats). Rolling the corpus into positional L-gram hashes turns
    the suffix-array construction into two hash aggregates — the
    shape that scales on 1000 executors where a distributed suffix
    array would not.

    Plan: tokenize → positional L-gram 60-bit hashes (own projections
    per the doc_shingles materialization contract; posexplode_OUTER +
    null-filter per the InferFiltersFromGenerate lesson) → global
    per-hash count (map-side partial) keeps hashes seen ≥ 2 times →
    gram⋈dup equi-join on the hash → per-doc sorted-position window
    where each duplicated span adds ``least(L, pos − lag(pos))`` new
    tokens (all spans share length L, so interval ends are monotone —
    the union-coverage fold needs no interval merge) → one left join
    back to per-doc token counts so zero-duplication docs report 0.

    Shuffles: gram-hash (count + join reuse the partitioning), doc_id
    (window + agg reuse), final doc-level join — all keyed, no
    cartesian, wire carries (hash, pos) pairs, never text. 60-bit
    hashes make a false span ~2⁻⁶⁰ per pair — the paper's own
    Bloom/hash variants accept the same class of error.

    Output (docs with ≥ 1 token): ``n_tokens``, ``n_dup_spans``
    (duplicated L-windows in the doc), ``dup_token_cov`` (tokens under
    the span union), ``dup_frac``, ``flagged`` (> flag_above).
    Reference: /root/reference/app.py (no counterpart — north-star
    training-data extension, SURVEY §2.11 dedup family)."""
    from ..functions.text import md5_long, tokens

    from ..operators.dedup import _opt_persist

    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    n_tok = F.size("__toks")
    g0 = n_tok - F.lit(L - 1)
    hs = F.when(
        g0 >= 1,
        F.transform(
            F.sequence(F.lit(1), g0),
            lambda i: md5_long(
                F.concat_ws(" ", F.slice(F.col("__toks"), i, L)), digits=15
            ),
        ),
    )
    doc_stats = toked.select(F.col(id_col), n_tok.alias("n_tokens")).filter(
        F.col("n_tokens") >= 1
    )
    hashed = toked.select(F.col(id_col), hs.alias("__hs"))
    # the positional gram-hash stream feeds BOTH the dup-count
    # aggregate and the marking join — persist under the dedup-family
    # cache contract so the scan→tokenize→L-gram-md5 pipeline (the
    # operator's dominant CPU) runs once, not twice.
    grams = _opt_persist(
        hashed.select(
            F.col(id_col), F.posexplode_outer("__hs").alias("pos0", "h")
        ).filter(F.col("h").isNotNull()),
        cache_handles,
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("h")
    )
    marked = grams.join(dup, "h").select(F.col(id_col), F.col("pos0"))
    w = Window.partitionBy(id_col).orderBy("pos0")
    added = F.coalesce(
        F.least(F.lit(L), F.col("pos0") - F.lag("pos0").over(w)),
        F.lit(L),
    ).cast("long")
    cov = (
        marked.select(F.col(id_col), added.alias("__added"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum("__added").alias("dup_token_cov"),
        )
    )
    frac = F.col("dup_token_cov").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    return doc_stats.join(cov, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0).cast("long")).alias(
            "n_dup_spans"
        ),
        F.coalesce(F.col("dup_token_cov"), F.lit(0).cast("long")).alias(
            "dup_token_cov"
        ),
        F.coalesce(frac, F.lit(0.0)).alias("dup_frac"),
        (F.coalesce(frac, F.lit(0.0)) > F.lit(flag_above)).alias("flagged"),
    )
