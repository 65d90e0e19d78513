"""Training-mix selection operators: DSIR importance weighting and
CCNet-style perplexity buckets.

Public method: Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" (NeurIPS) — hashed n-gram bag-of-words features,
class-conditional unigram/bigram models for a TARGET distribution vs the
RAW crawl, per-document log importance weight

    log w(doc) = Σ_grams λ_bucket(gram),
    λ_b = ln( ((t_b + 1) / (T + B)) / ((r_b + 1) / (R + B)) )

with add-one smoothing over B hash buckets (t_b/r_b = target/raw gram
counts in bucket b, T/R their totals).  The highest-weight documents are
the ones to keep when assembling a pretraining mix that should look like
the target domain — the selection counterpart of ``mixture_sample``'s
quota assembly (reference analogue: the corpus-curation step upstream of
``utils/precompute_features.py``; the reference app assumes a curated
gallery and has no selection pass of its own).

Cross-engine exactness (the fuzz/oracle discipline): every count is an
integer; the two probability quotients are single correctly-rounded IEEE
divisions (bit-identical on any engine); ``ln`` is the ONE 1-ulp
operation, so λ_b is quantized ONCE per bucket to an integer
``lam_q = round(λ_b · 10⁶)`` (the bm25/tf_idf rounded-transcendental
class, with the .5-tie measure-zero for transcendental inputs) and each
document's score is an INTEGER sum of ``lam_q`` — commutative and exact,
immune to Spark's partition-nondeterministic float aggregation order.

Scale shape (100 TB):
- ONE tokenize/gram pass feeds both the bucket statistics and the
  per-document scores (persist via ``cache_handles``, the dedup-family
  cache contract — without it the corpus is scanned twice, still linear).
- The bucket table is ≤ B rows no matter the corpus size (B is a
  paper-fixed feature dimension, not a corpus-blocking factor — DSIR
  uses a fixed 10⁴-bucket hash space); both count aggregates are
  map-side partial, and the λ table broadcast-joins back onto the gram
  stream — the only corpus-wide shuffle is the final doc_id aggregation
  (map-side partial, one (id, count, sum) row per document on the wire).
- Top-k is ``TakeOrderedAndProject`` — no global sort materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_long, tokens
from ..sources.tables import local_frame, spread

DSIR_BUCKETS = 4096
DSIR_SCALE = 1_000_000  # λ quantization: round(λ · 1e6) per bucket


def _grams_with_multiplicity(toks: Column) -> Column:
    """Unigrams ++ space-joined bigrams, WITH multiplicity (DSIR is a
    bag-of-words model — unlike the dedup shingle sets, repeats count).
    Same ``sequence`` descending-guard as ``token_shingles``."""
    n_bi = F.size(toks) - F.lit(1)
    bi = F.when(
        n_bi >= 1,
        F.transform(
            F.sequence(F.lit(1), n_bi),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bi)


def dsir_importance(
    corpus: DataFrame,
    target_pred: Column,
    *,
    buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = 40,
    cache_handles: list | None = None,
) -> DataFrame:
    """Per-document DSIR importance scores; top-``k`` by
    ``(score_q DESC, id ASC)`` when ``k`` is given.

    ``target_pred`` is a boolean Column over ``corpus`` rows selecting
    the in-corpus sample of the target distribution (e.g.
    ``F.col("lang") == "en"``).  Returns
    ``(id_col, n_grams, score_q)`` — ``score_q`` is the integer-quantized
    log importance weight (λ-sum · 10⁶ units).
    """
    toked = spread(corpus).select(
        F.col(id_col),
        target_pred.alias("__is_t"),
        tokens(text_col).alias("__toks"),
    )
    grams = (
        toked.select(
            F.col(id_col),
            F.col("__is_t"),
            F.explode_outer(_grams_with_multiplicity(F.col("__toks"))).alias(
                "gram"
            ),
        )
        .filter(F.col("gram").isNotNull())
        .select(
            F.col(id_col),
            F.col("__is_t"),
            (md5_long("gram", digits=15) % F.lit(buckets)).alias("bkt"),
        )
    )
    if cache_handles is not None:
        grams = grams.persist()
        cache_handles.append(grams)

    # ONE aggregate produces both class counts: ≤ B rows out, map-side
    # partial — the corpus never shuffles for statistics.
    cnts = grams.groupBy("bkt").agg(
        F.count("*").alias("rc"),
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("tc"),
    )
    # Totals via an unbounded window over the POST-AGGREGATE stats table:
    # the single-partition move is ≤ B rows (a constant, never
    # corpus-sized — the usual single-task-window hazard does not apply),
    # and it avoids both a second cnts computation and a cross join.
    from pyspark.sql import Window

    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = "double"
    lam = cnts.select(
        "bkt",
        "rc",
        "tc",
        F.sum("rc").over(w).alias("rtot"),
        F.sum("tc").over(w).alias("ttot"),
    ).select(
        "bkt",
        F.round(
            F.log(
                (
                    (F.col("tc") + 1).cast(d)
                    / (F.col("ttot") + F.lit(buckets)).cast(d)
                )
                / (
                    (F.col("rc") + 1).cast(d)
                    / (F.col("rtot") + F.lit(buckets)).cast(d)
                )
            )
            * F.lit(float(DSIR_SCALE))
        )
        .cast("long")
        .alias("lam_q"),
    )
    scored = (
        grams.join(F.broadcast(lam), "bkt")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("lam_q").alias("score_q"),
        )
    )
    if k is None:
        return scored
    return scored.orderBy(
        F.col("score_q").desc(), F.col(id_col).asc()
    ).limit(k)


def ccnet_perplexity_buckets(
    corpus: DataFrame,
    *,
    buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    cache_handles: list | None = None,
) -> DataFrame:
    """CCNet-style per-language perplexity terciles (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data", LREC — public method): score each document by its average
    per-token negative log-likelihood under a corpus language model,
    then split each language's documents into head / middle / tail at
    the within-language NLL terciles (CCNet keeps head+middle as the
    quality slice).  The LM here is the hashed-unigram MLE over the
    corpus itself (the scale-safe stand-in for CCNet's pretrained
    KenLM — the bucket table is ≤ B rows at any corpus size).

    Returns ``(id_col, lang_col, n_tokens, avg_nll_q, ppl_bucket)``.

    Cross-engine exactness: per-bucket token NLL is quantized once
    (``round(-ln(cnt_b / total) · 10⁶)`` — one correctly-rounded
    division into the single 1-ulp ``ln``, the DSIR/bm25 class); the
    per-document sum is an integer; ``avg_nll_q`` is an INTEGER
    milli-λ-per-token average (``(sum · 1000) div n_tokens`` — both
    operands non-negative, so truncating and floor division agree
    across engines).  The tercile cutoffs are exact interpolated
    percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the
    value_quantiles precedent); comparing INTEGER scores against the
    two cut doubles is ulp-robust — at interpolation fraction 0 the
    cut equals a data value exactly, and at nonzero fractions no
    integer lies within 1 ulp of the cut.

    Scale shape: one tokenize pass (persist via ``cache_handles``),
    ≤ B-row LM aggregate broadcast back onto the token stream, ONE
    corpus shuffle (doc id), then a per-language exact-percentile
    aggregate over the (lang, avg) PAIRS — per-language buffers, the
    documented exact-oracle path; the production approximation is
    ``approx_percentile`` (KLL, mergeable), property-tested like
    value_quantiles'.  The cuts table (#langs × 2 doubles) broadcasts
    into the bucket projection."""
    toked = spread(corpus).select(
        F.col(id_col), F.col(lang_col), tokens(text_col).alias("__toks")
    )
    toks = (
        toked.select(
            F.col(id_col),
            F.col(lang_col),
            F.explode_outer("__toks").alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .select(
            F.col(id_col),
            F.col(lang_col),
            (md5_long("tok", digits=15) % F.lit(buckets)).alias("bkt"),
        )
    )
    if cache_handles is not None:
        toks = toks.persist()
        cache_handles.append(toks)

    lm = toks.groupBy("bkt").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    lam = lm.select(
        "bkt",
        "cnt",
        F.sum("cnt").over(w).alias("total"),
    ).select(
        "bkt",
        F.round(
            -F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
            * F.lit(float(DSIR_SCALE))
        )
        .cast("long")
        .alias("lam_q"),
    )
    scored = (
        toks.join(F.broadcast(lam), "bkt")
        .groupBy(id_col, lang_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lam_q").alias("nll_q"),
        )
        .withColumn(
            "avg_nll_q",
            F.expr("(nll_q * 1000L) div n_tokens"),
        )
    )
    # scored feeds BOTH the cuts aggregate and the final bucket join —
    # persist it under the same cache contract (one small row per doc;
    # without it the broadcast-join + aggregate pipeline runs twice).
    if cache_handles is not None:
        scored = scored.persist()
        cache_handles.append(scored)
    p1, p2 = 1.0 / 3.0, 2.0 / 3.0
    cuts = scored.groupBy(lang_col).agg(
        F.expr(f"percentile(avg_nll_q, {p1!r})").alias("c1"),
        F.expr(f"percentile(avg_nll_q, {p2!r})").alias("c2"),
    )
    return (
        scored.join(F.broadcast(cuts), lang_col)
        .select(
            F.col(id_col),
            F.col(lang_col),
            "n_tokens",
            "avg_nll_q",
            F.when(F.col("avg_nll_q").cast("double") <= F.col("c1"), "head")
            .when(F.col("avg_nll_q").cast("double") <= F.col("c2"), "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


def temperature_mix(
    df: DataFrame,
    budget: int,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Temperature-scaled training-mix assembly (the sampling-temperature
    rule of multilingual/multi-source LLM corpora — Conneau & Lample
    2019's p_s ∝ n_s^α; α = 1/2 here, i.e. temperature 2): per-source
    quotas ∝ √n_s instead of ``mixture_sample``'s FIXED shares, so
    low-resource sources are up-weighted relative to their raw counts
    and no share table has to be curated by hand.

    Integer-exact cross-engine derivation (no float weights anywhere):
    w_s = floor(sqrt(n_s)) — one correctly-rounded IEEE sqrt, identical
    in every engine — then LARGEST-REMAINDER allocation of the integer
    budget: base_s = (budget·w_s) div W, leftovers to the largest
    (budget·w_s mod W), ties to the lexicographically smaller source.
    Quotas are TARGETS: a source with n_s < quota_s contributes all its
    rows (the rank filter caps implicitly). Selection within a source is
    the engine-portable multiplicative-hash order of ``mixture_sample``.

    Scale shape: the quota table derives from ONE map-side-partial
    count aggregate (≤ |sources| rows — broadcast back), and selection
    is the same single source-keyed rank-window shuffle as
    mixture_sample; nothing else touches the corpus.
    """
    from .sample import shuffle_key

    counts = df.groupBy(source_col).agg(F.count("*").alias("__n"))
    w_all = Window.partitionBy()
    wgt = F.floor(F.sqrt(F.col("__n").cast("double"))).cast("long")
    # __wgt/__wtot, not __w/__W: Spark's default case-INSENSITIVE
    # resolver treats those as one ambiguous name
    q0 = (
        counts.select(source_col, "__n", wgt.alias("__wgt"))
        .withColumn("__wtot", F.sum("__wgt").over(w_all))
        .withColumn(
            "__num", F.lit(int(budget)).cast("long") * F.col("__wgt")
        )
    )
    # `div` is Spark's INTEGRAL long/long division — exact at any
    # magnitude, matching the docstring's "(budget·w_s) div W" and the
    # DuckDB oracle's `//`. (The previous floor(num / wtot) was
    # long/long → DOUBLE division, which can disagree with integer
    # division once budget·w_s exceeds 2^53.)
    base = F.expr("__num div __wtot").cast("long")
    rem = F.col("__num") - base * F.col("__wtot")
    q1 = q0.select(
        source_col, "__n", base.alias("__base"), rem.alias("__rem")
    )
    leftover = F.lit(int(budget)).cast("long") - F.sum("__base").over(w_all)
    rr = F.row_number().over(
        Window.orderBy(F.col("__rem").desc(), F.col(source_col).asc())
    )
    quotas = q1.select(
        source_col,
        F.col("__n").alias("n_source"),
        (
            F.col("__base")
            + (rr <= leftover).cast("long")
        ).alias("quota"),
    )
    w = Window.partitionBy(source_col).orderBy(
        shuffle_key(id_col, seed).asc(), F.col(id_col).asc()
    )
    ranked = df.select(source_col, id_col).withColumn(
        "__rank", F.row_number().over(w)
    )
    return (
        ranked.join(F.broadcast(quotas), source_col)
        .filter(F.col("__rank") <= F.col("quota"))
        .select(
            F.col(source_col),
            F.col(id_col),
            F.col("__rank").alias("mix_rank"),
            F.col("quota").cast("long").alias("quota"),
            F.col("n_source").cast("long").alias("n_source"),
        )
    )


def unimax_quotas(
    counts: list[tuple[str, int]], budget: int, epoch_cap: int
) -> dict[str, int]:
    """Integer UniMax allocation (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): process sources ASCENDING by size (ties by name),
    give each min(epoch_cap·n_s, equal share of the remaining budget),
    where the share is the INTEGER quotient remaining div m. Pure
    python ints over ≤ |sources| rows, so the same fold is re-derived
    verbatim by the DuckDB oracle's recursive CTE — deterministic at
    any magnitude (no float division anywhere). Division crumbs roll
    forward: an uncapped final source absorbs the full remainder; if
    EVERY source caps, the leftover budget is deliberately unspent
    (the paper's semantics — more budget than epoch_cap epochs of the
    whole corpus cannot be allocated without exceeding the cap)."""
    ordered = sorted(counts, key=lambda t: (t[1], t[0]))
    remaining, m = int(budget), len(ordered)
    quotas: dict[str, int] = {}
    for source, n in ordered:
        share = remaining // m
        q = min(int(epoch_cap) * int(n), share)
        quotas[source] = q
        remaining -= q
        m -= 1
    return quotas


def unimax_mix(
    df: DataFrame,
    budget: int,
    epoch_cap: int = 2,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """UniMax training-mix assembly — the epoch-capped alternative to
    :func:`temperature_mix`: per-source budgets come from the
    :func:`unimax_quotas` fold (equal shares, capped at ``epoch_cap``
    epochs of each source — low-resource sources are never oversampled
    past the cap, high-resource sources absorb the slack), and a
    source's quota q_s over its n_s docs becomes PER-DOC epoch counts:
    every doc gets q_s div n_s copies, and the first q_s mod n_s docs
    in the multiplicative-hash order get one more. Output one row per
    doc with ≥ 1 copies: (source, doc_id, mix_rank, n_copies, quota,
    n_source) — the repetition manifest a training loader consumes.

    Scale shape: ONE map-side-partial count aggregate collected
    driver-side (≤ |sources| rows — the same bounded-collect class as
    temperature_mix's quota table), the integer fold on the driver,
    quotas broadcast back, and the same single source-keyed rank
    window as mixture_sample. Division happens ONLY in the driver fold
    (python ints) — nothing in-engine divides, so there is no
    cross-engine division semantics to reconcile."""
    from .sample import shuffle_key

    counts = [
        (r[0], int(r[1]))
        for r in df.groupBy(source_col).agg(F.count("*").alias("__n")).collect()
    ]
    quotas = unimax_quotas(counts, budget, epoch_cap)
    ncount = dict(counts)
    qdf = local_frame(
        df.sparkSession,
        [
            (s, int(ncount[s]), int(quotas[s]),
             int(quotas[s]) // int(ncount[s]),
             int(quotas[s]) % int(ncount[s]))
            for s, _ in counts
        ],
        f"{source_col} string, n_source long, quota long, "
        "__full long, __partial long",
    )
    w = Window.partitionBy(source_col).orderBy(
        shuffle_key(id_col, seed).asc(), F.col(id_col).asc()
    )
    ranked = df.select(source_col, id_col).withColumn(
        "__rank", F.row_number().over(w)
    )
    n_copies = F.col("__full") + (
        F.col("__rank") <= F.col("__partial")
    ).cast("long")
    return (
        ranked.join(F.broadcast(qdf), source_col)
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") >= 1)
        .select(
            F.col(source_col),
            F.col(id_col),
            F.col("__rank").alias("mix_rank"),
            F.col("n_copies"),
            F.col("quota"),
            F.col("n_source"),
        )
    )
