"""Deduplication operators — exact and near-dup (north-star extensions;
the core of an LLM training-data pipeline at 100 TB).

Four families, all shuffle-conscious:

- **exact**: group on content hash (md5) — one shuffle keyed by the hash,
  perfectly spread (no skew by construction).
- **n-gram Jaccard**: shingle inverted index → candidate pairs share a
  shingle → exact Jaccard on the pair. The shingle join is the classic
  blocking trick: only documents sharing ≥1 shingle ever meet.
- **MinHash + LSH**: signature = min over shingles of universal hashes
  ((a·x + b) mod p) on md5-derived shingle ints; band-bucket join emits
  candidates, exact Jaccard verifies. All arithmetic is
  cross-engine-portable (oracle-checkable!) — no Spark-private hash.
- **SimHash**: 64-bit sign-aggregated token hashes; near-dups = equal
  bands / small Hamming distance.
- **embedding cosine**: delegate to operators.knn.radius_join (cosine
  metric) — near-dup = cosine > τ.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)

from ..functions.text import md5_long, token_shingles, tokens
from ..functions.vector import array_lit
from ..sources.tables import spread

# MinHash universal-hash parameters: (a, b) pairs, modulus a Mersenne prime.
MINHASH_PRIME = 2147483647  # 2^31 - 1
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1103515245, 12345),
    (214013, 2531011),
    (69069, 362437),
    (1664525, 1013904223),
    (22695477, 1),
    (134775813, 1),
    (1140671485, 12820163),
    (6364136223846793005 % MINHASH_PRIME, 1442695040888963407 % MINHASH_PRIME),
]


# Size-aware join-pin contract (VERDICT r6 #3). The merge/shuffle_hash
# pins on corpus-scaled joins exist because Catalyst's STATIC size
# estimate (compressed-parquet bytes, pre-explosion) under-estimated the
# real banded/shingle relations by orders of magnitude at 100× data and
# planned fatal broadcast builds. But the pin is insurance the toy scale
# shouldn't pay (measured r5→r6: dedup_components 2.6→5.3 s at sf0.1).
# Resolution: gate the pins on a MEASURED corpus size — the parquet
# footer row count (sources.tables.table_row_count), not an estimate.
# Below the threshold even a worst-case broadcast is tens of MB (≤100k
# docs × ~1 KB exploded row); above it the exploded relations enter the
# hundreds-of-MB..GB band where a mis-estimated broadcast is fatal, so
# the pins engage. Operators default to pinned=True (safe for callers
# with unknown sizes); the query layer passes pins_for(sf_dir).
CORPUS_PIN_ROWS = 100_000

# semantic_dedup per-cluster verify (r18): the Gram product is computed
# in column blocks of ≤ SEMANTIC_GRAM_BLOCK_ELEMS elements (m×B float64
# working set ≈ 32 MB at the default) so a degenerate giant cluster
# costs O(m·(D+B)) memory, never O(m²); the integer threshold predicate
# is decided in float64 outside ±SEMANTIC_FLOAT_MARGIN of the boundary
# (the accumulated rounding error is ≤ ~6·2⁻⁵³ per side — orders of
# magnitude inside the margin) and re-checked in exact Python ints only
# within the band, so the result is bit-identical to the all-int form.
SEMANTIC_GRAM_BLOCK_ELEMS = 4_000_000
SEMANTIC_FLOAT_MARGIN = 1e-9


def _pin(df: DataFrame, strategy: str, pinned: bool) -> DataFrame:
    """Apply a join-strategy pin only when the corpus is pin-sized."""
    return df.hint(strategy) if pinned else df


def pins_for(sf_dir: str, table: str = "documents") -> bool:
    """True when the measured row count of ``table`` demands the
    scale-safe join pins (or when the count is unavailable — unknown
    size defaults to safe)."""
    from ..sources.tables import table_row_count

    n = table_row_count(sf_dir, table)
    return n is None or n > CORPUS_PIN_ROWS


def _opt_persist(df: DataFrame, cache_handles: list | None) -> DataFrame:
    """Persist a multiply-consumed intermediate ONLY when the caller owns
    cleanup (passes a ``cache_handles`` list to ``unpersist()`` after the
    result materializes). With no handle list the DataFrame is returned
    un-persisted: the plan recomputes per consumer, but a long-lived
    session never accumulates orphaned storage blocks."""
    if cache_handles is None:
        return df
    out = df.persist()
    cache_handles.append(out)
    return out


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: representative (min id),
    group size. Hash-partitioned single shuffle; at 100 TB the md5 key
    spreads uniformly so no skew mitigation is needed."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The dedup *transformation*: keep the min-id row per distinct text."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def doc_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sh: array<string>) — distinct token n-gram shingles, one
    row per document. The shared upstream of every near-dup operator;
    ``spread`` unlocks all cores when the scan has too few splits (one
    fixture file → one task otherwise; a no-op at real input widths).

    The tokenize runs in its OWN projection: ``token_shingles`` references
    its token-array input multiple times (size + per-shingle slice), and
    inlining the regex-split expression makes Catalyst re-evaluate the
    tokenize once per reference — O(tokens × shingles) per document,
    measured 2× wall-clock on the whole shingle pass. A separate alias is
    not collapsed (CollapseProject keeps non-cheap multi-referenced
    aliases), so the split happens once per row."""
    toked = spread(df).select(F.col(id_col), tokens(text_col).alias("__toks"))
    return toked.select(
        F.col(id_col), token_shingles(F.col("__toks"), n).alias("sh")
    )


def shingle_table(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, shingle) inverted index over distinct token n-gram shingles.

    explode_outer + null-filter (not plain explode) everywhere a heavy
    array expression feeds a generate — see ngram_jaccard_pairs."""
    return (
        doc_shingles(df, n, text_col, id_col)
        .select(F.col(id_col), F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_frac: float | None = None,
    min_df_cap: int = 10,
) -> DataFrame:
    """Candidate pairs sharing ≥1 shingle, verified by exact Jaccard ≥ τ.

    |A∩B| comes from the inverted-index self-join grouped by pair;
    |A∪B| = |A| + |B| − |A∩B|. Shuffles are keyed by shingle (blocking)
    then by pair — both bounded by true near-dup density, not N²...
    PROVIDED no shingle is corpus-hot. ``max_df_frac`` is the stop-shingle
    guard that makes that hold at 100 TB: shingles whose document
    frequency exceeds ``max(min_df_cap, ceil(max_df_frac · n_docs))`` are
    dropped from every document's set BEFORE pairing (Jaccard is then over
    the filtered sets — the standard Broder-style stop-shingle rule).
    Without it a single boilerplate shingle contributes df² join rows.
    ``min_df_cap`` keeps duplicate *clusters* intact: a k-way duplicated
    doc's shingles legitimately reach df = k, and dropping them would hide
    exactly the clusters dedup most needs to find.

    Scale shape: shingle strings are hashed to 60-bit ints (md5-prefix —
    cross-engine-portable, so the oracle groups by the SAME hash and even
    hash collisions agree bit-for-bit between engines) — the hot join and
    pair aggregation shuffle longs, not ~20-char strings. Both sides of
    the self-join are the same aliased plan, so the pipeline is computed
    once and side b is fed from a ReusedExchange — in the FINAL ADAPTIVE
    plan, not the static one: AQE inserts the reuse at runtime
    (``ReusedExchange [Reuses operator id: <a-side's pre-join
    exchange>]`` on the executed plan, subsuming side b's entire
    scan→tokenize→md5→window pipeline), so a static lint double-counts
    the pipeline's work (PLAN_LINT records the executed ``final_*``
    counts alongside the static ones for this query).

    This shape was re-litigated in r12 (VERDICT r11 #4) and KEPT on
    measurement. Two rewrites lost the A/B at 100× derived data
    (500k docs, local[32], min-of-2 noop-sink runs):
    (a) join directly on the df-cap window's shingle partitioning with
    per-doc sizes as a post-aggregate join — fewer STATIC exchanges but
    47.9 s vs 30.8 s here (the extra sizes consumers defeated AQE's
    exchange reuse, recomputing the tokenize);
    (b) persist the capped table + spill the pair table (the
    minhash_lsh cache contract) — single computation guaranteed but
    37.4 s vs 30.8 s, and at 100 TB persisting the exploded table
    double-pays storage the shuffle files already provide.
    The doc_id window + re-exchange this plan pays instead of (a)'s
    sizes join is what KEEPS side b canonically identical to side a —
    the reuse is the whole win, and both losing variants broke or
    replaced it with something costlier.
    """
    # explode_OUTER + null-filter, not plain explode: a bare explode lets
    # InferFiltersFromGenerate push `size(shingles) > 0` into the scan,
    # inlining the whole tokenize+shingle expression as a per-row scan
    # filter (measured 16 copies of the tokenize subtree in the plan and
    # ~5× wall-clock). The outer generate blocks that pushdown; empty-doc
    # rows surface as one null and are dropped here instead.
    ex = doc_shingles(df, n, text_col, id_col).select(
        F.col(id_col),
        F.size("sh").alias("__raw_n_sh"),
        F.explode_outer("sh").alias("shingle_s"),
    ).filter(F.col("shingle_s").isNotNull())
    ex = ex.select(
        F.col(id_col),
        F.col("__raw_n_sh"),
        md5_long("shingle_s", digits=15).alias("shingle"),
    )
    if max_df_frac is not None:
        n_docs = df.select(F.count("*").alias("__n_docs"))
        cap = F.greatest(
            F.lit(min_df_cap).cast("long"),
            F.ceil(F.lit(float(max_df_frac)) * F.col("__n_docs")),
        )
        wdf = Window.partitionBy("shingle")
        ex = (
            ex.withColumn("__df", F.count("*").over(wdf))
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("__df") <= cap)
            .drop("__df", "__n_docs")
        )
        # per-doc set size must be recomputed AFTER the cap (Jaccard is
        # over the filtered sets); carried through the join so the pair
        # aggregation needs no post-hoc sizes join
        wid = Window.partitionBy(id_col)
        ex = ex.withColumn("n_sh", F.count("*").over(wid)).drop("__raw_n_sh")
    else:
        # uncapped: the pre-explode array size IS the set size — carried
        # through the explode for free, no doc_id-keyed window shuffle
        ex = ex.withColumnRenamed("__raw_n_sh", "n_sh")
    a, b = ex.alias("a"), ex.alias("b")
    # merge hint: AQE would otherwise broadcast one side (the exploded
    # table fits under the threshold at test SF), which computes the
    # tokenize pipeline twice; sort-merge keeps both sides as the same
    # shuffled subplan — and at 100 TB the exploded table is never
    # broadcastable anyway, so this pins the plan shape scale uses.
    return (
        a.join(b.hint("merge"), F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("left_id"),
            F.col(f"b.{id_col}").alias("right_id"),
            F.col("a.n_sh").alias("n_left"),
            F.col("b.n_sh").alias("n_right"),
        )
        .agg(F.count("*").alias("n_inter"))
        .withColumn(
            # raw integer-ratio double: bit-exact cross-engine; rounding
            # is the .5-tie hazard (min_cost_order class, CHANGES_r05)
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_left") + F.col("n_right") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    pinned: bool = True,
    sentinel: bool = True,
) -> DataFrame:
    """MinHash signature per document: mh_i = min over shingles of
    ((aᵢ·x + b_i) mod p), x = md5-derived shingle int.

    Relational shape matters here: explode shingles → hash each shingle
    string with md5 ONCE → one hash-aggregate with ``num_hashes`` cheap
    integer ``min`` aggregates. The tempting all-array formulation
    (``array_min(transform(...))`` per column in one projection) makes
    Catalyst re-evaluate the md5/conv subtree per signature column —
    CollapseProject gives no common-subexpression reuse — an 8× blowup
    measured at ~6× wall-clock. The aggregate is map-side partial, so the
    shuffle carries one 8-long row per document regardless of length.
    Documents with < n tokens get the sentinel signature (p everywhere)
    via a left join back to the id universe."""
    assert num_hashes <= len(MINHASH_COEFFS)
    if shingles is None:
        shingles = doc_shingles(df, n, text_col, id_col)
    xs = (
        shingles.select(F.col(id_col), F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .select(F.col(id_col), (md5_long("shingle") % MINHASH_PRIME).alias("x"))
    )
    aggs = [
        F.min((F.col("x") * a + b) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
    ]
    sig0 = xs.groupBy(id_col).agg(*aggs)
    if not sentinel:
        # r17: LSH-pair callers skip the sentinel back-join entirely —
        # a sentinel signature is MINHASH_PRIME in every slot while a
        # real signature is < MINHASH_PRIME in every slot, so sentinel
        # docs can only band-collide with EACH OTHER, and every such
        # candidate dies in the verify's n_union > 0 guard (both sides
        # zero-shingle). Dropping them removes a corpus ⋈ corpus join
        # AND the quadratic all-shorts-collide candidate blowup at
        # scale; the verified pair set is bit-identical.
        return sig0
    # merge pin: the sentinel back-join is corpus ⋈ corpus (one 9-long
    # row per doc on the right, N rows — ~4 GB at 1000× corpus scale);
    # the static estimate can still pick a broadcast build (100×-sweep
    # hazard class), so pin the id-keyed sort-merge
    return shingles.select(id_col).join(
        _pin(sig0, "merge", pinned), id_col, "left"
    ).select(
        F.col(id_col),
        *[
            F.coalesce(F.col(f"mh{i}"), F.lit(MINHASH_PRIME)).alias(f"mh{i}")
            for i in range(num_hashes)
        ],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_handles: list | None = None,
    pinned: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band the signature (rows = H/bands),
    bucket-join on (band_idx, band_key), verify candidates — and ONLY
    candidates — with exact Jaccard ≥ τ via ``array_intersect`` on the
    per-doc shingle sets.

    This is the 100 TB path: the only shuffles are keyed by band buckets
    (small keys, uniform by construction of the hash) and by doc id for
    the candidate verification joins. There is NO all-pairs shingle join
    anywhere — the exact-Jaccard work is proportional to the number of
    LSH candidate pairs, not N².

    Caching contract: two intermediates (shingle sets, signatures) are
    each consumed by multiple joins. Pass ``cache_handles`` (a list) to
    persist them — the list receives the handles and the caller
    ``unpersist()``s after the returned plan is materialized. Without a
    handle list nothing is persisted (each consumer recomputes; no
    storage ever leaks in long-lived sessions)."""
    assert num_hashes % bands == 0, (
        f"num_hashes ({num_hashes}) must divide evenly into bands ({bands}); "
        "trailing signature hashes would be silently ignored"
    )
    rows_per_band = num_hashes // bands
    # One tokenize+shingle pass feeds EVERYTHING: the persisted per-doc
    # shingle sets are exploded into the signature aggregate and reused by
    # both sides of the verify join (at 100 TB this halves the dominant
    # scan+tokenize cost; the persisted set is corpus-sized and
    # MEMORY_AND_DISK spills safely).
    shs = _opt_persist(doc_shingles(df, n, text_col, id_col), cache_handles)
    # r18: the signature table has exactly ONE consumer now (the bucket
    # aggregate below — the banded self-join that read it twice is
    # gone), so the r17 persist was dropped: persisting a single-
    # consumer frame only adds the cache materialization cost.
    # sentinel=False: zero-shingle docs never reach the banding (their
    # sentinel-induced candidates are provably dropped by the verify —
    # see minhash_signatures), so the corpus ⋈ corpus sentinel
    # back-join is skipped outright.
    sigs = minhash_signatures(
        df, n, num_hashes, text_col, id_col,
        shingles=shs, pinned=pinned, sentinel=False,
    )
    # one pass over the signatures: inline_outer an array of band structs
    # instead of a bands-way union (single projection, no re-scan); band
    # keys stay INTEGER columns — joining on (band, k0..k_{r-1}) avoids
    # building/hashing concat strings for every row
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[
                    F.col(f"mh{b * rows_per_band + r}").alias(f"k{r}")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    key_cols = ["band"] + [f"k{r}" for r in range(rows_per_band)]
    banded = sigs.select(F.col(id_col), F.inline_outer(band_structs))
    # r18 (guide §2.3/§2.4, VERDICT r17 #6): candidate generation is a
    # per-bucket combination expansion, not a self-join. The banded
    # relation used to be shuffled TWICE (once per join side, each
    # corpus×bands rows of band keys + id) into a shuffle_hash join
    # whose build side was itself a broadcast-mis-estimate hazard (the
    # pinned form). One groupBy on the band key shuffles the same rows
    # ONCE, sorts each bucket's ids, and emits exactly the i<j pairs
    # the join+filter produced: posexplode picks the left id, the
    # suffix slice supplies every greater id, so pairs stream O(m) per
    # row instead of materializing an m²-element array — a degenerate
    # all-identical bucket behaves like the join form (same single-key
    # skew, half the shuffled bytes, no hash build). Pair SET is
    # identical by construction (one row per (doc, band) means no
    # duplicate ids inside a bucket; cross-band duplicates collapse in
    # the same distinct both forms end with).
    buckets = (
        banded.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    candidates = (
        buckets.select(
            "__ids", F.posexplode("__ids").alias("__pos", "left_id")
        )
        .select(
            "left_id",
            F.explode(
                F.slice("__ids", F.col("__pos") + F.lit(2), F.size("__ids"))
            ).alias("right_id"),
        )
        .distinct()
    )
    # merge pin on the verify joins: the shingle-set side is CORPUS-
    # scaled, and its static size estimate (pre-explosion, compressed-
    # parquet-derived) can land under the broadcast threshold while the
    # real relation is GBs — the 100× sweep caught exactly that (a
    # broadcast build of the 5M-doc set table OOMing inside
    # dedup_components' first write). Sort-merge on the id keys is the
    # robust big⋈big shape at any size (the ngram_jaccard precedent).
    verified = (
        candidates.join(
            _pin(
                shs.select(
                    F.col(id_col).alias("left_id"), F.col("sh").alias("sh_l")
                ),
                "merge",
                pinned,
            ),
            "left_id",
        )
        .join(
            _pin(
                shs.select(
                    F.col(id_col).alias("right_id"), F.col("sh").alias("sh_r")
                ),
                "merge",
                pinned,
            ),
            "right_id",
        )
        .withColumn("n_inter", F.size(F.array_intersect("sh_l", "sh_r")))
        .withColumn(
            "n_union", F.size("sh_l") + F.size("sh_r") - F.col("n_inter")
        )
        .withColumn(
            # raw integer-ratio double (see ngram_jaccard_pairs), CASE-
            # guarded: two zero-shingle docs (< n tokens each) share the
            # sentinel signature, collide in every band, and reach this
            # verify with an empty union — 0/0 is an ANSI-mode crash
            # (fuzz-caught) and the oracle's shared-shingle `jac` block
            # never emits such pairs, so NULL (dropped by the τ filter)
            # is the agreeing semantics.
            "jaccard",
            F.when(
                F.col("n_union") > 0,
                F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("left_id", "right_id", "jaccard")


def simhash(
    df: DataFrame,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    pinned: bool = True,
) -> DataFrame:
    """SimHash: for each bit position j, sum ±1 over token hashes' bit j;
    fingerprint bit j = 1 if the sum > 0. Portable arithmetic only
    (md5-derived token ints, shift = integer divide by 2^j).

    Near-dup candidates = equal fingerprints (or equal half-bands at
    higher recall). Relational shape: explode tokens → hash once → one
    hash-aggregate with ``bits`` conditional sums (partial aggregation
    map-side, so the shuffle carries one row of vote counters per doc) —
    scales to arbitrarily long documents, unlike a per-row array fold."""
    e = (
        spread(df)
        .select(F.col(id_col), F.explode_outer(tokens(text_col)).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    xs = e.select(F.col(id_col), md5_long("tok").alias("x"))
    votes = [
        # shiftright ≡ floor-divide-by-2^j for the nonnegative md5 ints
        # (the oracle keeps // arithmetic — identical results), but runs
        # as one native long op instead of a double divide + floor +
        # cast per (row × bit)
        F.sum(
            F.when(F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    v = xs.groupBy(id_col).agg(*votes)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    fps = v.select(F.col(id_col), fp.cast("long").alias("simhash"))
    # docs with zero tokens have no exploded rows — restore with fp=0.
    # merge pin: corpus ⋈ corpus back-join (one fingerprint row per doc
    # on the right) — same broadcast-estimate hazard as
    # minhash_signatures' sentinel join (100× sweep class)
    return (
        df.select(id_col)
        .join(_pin(fps, "merge", pinned), id_col, "left")
        .select(F.col(id_col), F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def simhash_dup_groups(
    df: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Documents sharing an identical SimHash fingerprint (strict variant)."""
    s = simhash(df, bits, text_col, id_col)
    return (
        s.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_handles: list | None = None,
    pinned: bool = True,
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance ≤ d over the SimHash
    fingerprint — the distance-tolerant variant of
    :func:`simhash_dup_groups` (reference near-dup semantics:
    ``utils/__init__.py:67-83`` cosine over near-identical images; here
    the text analogue at fingerprint level).

    Standard band-rotation LSH on the fingerprint: split the ``bits``-bit
    fingerprint into ``bands`` contiguous ``bits/bands``-bit keys. By
    pigeonhole, two fingerprints within Hamming distance d < bands agree
    on ≥ 1 whole band, so the candidate join on (band, band_key) has
    **perfect recall** for d ≤ bands − 1 (enforced below). Candidates are
    verified with ``bit_count(fp_l XOR fp_r) ≤ d`` — integer-portable, so
    the DuckDB oracle runs the identical arithmetic.

    Scale shape (r18): one fingerprint aggregate with a SINGLE consumer
    (the per-bucket pair expansion — the banded self-join that read it
    twice is gone, so the persist went with it), bands×N banded rows,
    ONE shuffle keyed by (band, band_key). No all-pairs comparison
    anywhere: work is proportional to bucket collisions, and the verify
    is O(1) per candidate. ``cache_handles`` stays accepted for API
    compatibility (nothing is persisted anymore)."""
    assert bits % bands == 0, f"bits ({bits}) must divide into bands ({bands})"
    assert max_hamming < bands, (
        f"recall guarantee needs max_hamming ({max_hamming}) < bands ({bands}): "
        "pigeonhole gives >= 1 equal band only when d < bands"
    )
    band_bits = bits // bands
    s = simhash(df, bits, text_col, id_col, pinned=pinned)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.floor(F.col("simhash") / F.lit(1 << (b * band_bits))).cast(
                        "long"
                    )
                    % F.lit(1 << band_bits)
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    banded = s.select(F.col(id_col), F.col("simhash"), F.inline(band_structs))
    # r18 (guide §2.3/§2.4 — same rewrite as minhash_lsh_pairs):
    # per-bucket combination expansion instead of the banded self-join
    # that shuffled the banded relation twice and (unpersisted)
    # evaluated the fingerprint pipeline twice. One groupBy on
    # (band, bkey) collects each bucket's (id, fp) structs sorted by id
    # (ids unique per bucket — one banded row per (doc, band)), then
    # posexplode + suffix slice emits exactly the i<j pairs the
    # join+filter produced, fp riding in the struct. Zero-token docs
    # keep their fp=0 rows (restored BEFORE banding), so they still
    # pair with each other at hamming 0 — semantics unchanged.
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col), F.col("simhash")))
            ).alias("__rows")
        )
        .filter(F.size("__rows") > 1)
    )
    return (
        buckets.select(
            "__rows", F.posexplode("__rows").alias("__pos", "__l")
        )
        .select(
            "__l",
            F.explode(
                F.slice("__rows", F.col("__pos") + F.lit(2), F.size("__rows"))
            ).alias("__r"),
        )
        .select(
            F.col(f"__l.{id_col}").alias("left_id"),
            F.col(f"__r.{id_col}").alias("right_id"),
            F.col("__l.simhash").alias("fp_l"),
            F.col("__r.simhash").alias("fp_r"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("fp_l").bitwiseXOR(F.col("fp_r"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", F.col("hamming").cast("int").alias("hamming"))
    )


def minhash_lsh_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_handles: list | None = None,
    pinned: bool = True,
) -> DataFrame:
    """Incremental near-dup: a NEW ingest batch checked against the
    EXISTING corpus — the daily-pipeline shape, where corpus × corpus
    work must never re-run. Band-bucket join of batch signatures against
    corpus signatures only; exact-Jaccard verify on candidates.

    At 100 TB the corpus side of this join is a PRE-BUILT banded
    signature index (materialize `(band, k*) → doc_id` once, append each
    ingest's bands — the same build-once/append lifecycle as
    ``append_to_ivf_index``); batch-side work and candidate volume scale
    with the batch, not the corpus. Here both sides derive in-plan
    (fixture scale); the join/verify shapes are identical either way.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands

    def prep(df):
        shs = _opt_persist(doc_shingles(df, n, text_col, id_col), cache_handles)
        # sentinel=False: same provably-dropped-candidates argument as
        # minhash_lsh_pairs
        sigs = minhash_signatures(
            df, n, num_hashes, text_col, id_col,
            shingles=shs, pinned=pinned, sentinel=False,
        )
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    *[
                        F.col(f"mh{b * rows_per_band + r}").alias(f"k{r}")
                        for r in range(rows_per_band)
                    ],
                )
                for b in range(bands)
            ]
        )
        return shs, sigs.select(F.col(id_col), F.inline_outer(band_structs))

    key_cols = ["band"] + [f"k{r}" for r in range(rows_per_band)]
    c_shs, c_banded = prep(corpus)
    b_shs, b_banded = prep(batch)
    candidates = (
        # shuffle_hash pin: the corpus band index is never broadcastable
        # at real scale and the batch side may not be either; a
        # mis-estimated static broadcast here is the same hazard as in
        # minhash_lsh_pairs. AQE still handles skew on the shuffled form.
        c_banded.select(F.col(id_col).alias("corpus_id"), *key_cols)
        .join(
            _pin(
                b_banded.select(F.col(id_col).alias("batch_id"), *key_cols),
                "shuffle_hash",
                pinned,
            ),
            key_cols,
        )
        .select("corpus_id", "batch_id")
        .distinct()
    )
    # merge pin — same corpus-scaled verify-side broadcast-estimate
    # hazard as minhash_lsh_pairs (the batch side too: a 100 TB daily
    # ingest is still GBs of shingle sets)
    verified = (
        candidates.join(
            _pin(
                c_shs.select(
                    F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_l")
                ),
                "merge",
                pinned,
            ),
            "corpus_id",
        )
        .join(
            _pin(
                b_shs.select(
                    F.col(id_col).alias("batch_id"), F.col("sh").alias("sh_r")
                ),
                "merge",
                pinned,
            ),
            "batch_id",
        )
        .withColumn("n_inter", F.size(F.array_intersect("sh_l", "sh_r")))
        .withColumn(
            "n_union", F.size("sh_l") + F.size("sh_r") - F.col("n_inter")
        )
        .withColumn(
            # raw integer-ratio double, CASE-guarded against the
            # zero-shingle sentinel collision (see minhash_lsh_pairs)
            "jaccard",
            F.when(
                F.col("n_union") > 0,
                F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("corpus_id", "batch_id", "jaccard")


def _semantic_assign(
    df: DataFrame,
    centroids_q: list[list[int]],
    scale: int,
    vec_col: str,
    id_col: str,
    threshold_den: int = 1,
) -> DataFrame:
    """(id, cid, qv, n2): quantize, exact integer-L2² argmin against the
    broadcast centroid literal (first-min tie-break), squared norm.

    Overflow validation (the exactness contract's operating bound): the
    downstream dot/n2 folds accumulate in int64 and the threshold test
    multiplies in decimal(38,0) — outside the bound the long fold wraps
    silently and the decimal products overflow to NULL under non-ANSI
    mode, silently classifying true duplicates as non-duplicates. So
    every row checks max|qv| ≤ L where D·L² < 2⁶⁰ — long-safe for every
    downstream integer form: |dot|, n2 ≤ D·L², assignment distances
    Σ(a−b)² ≤ 4·D·L² and the Arrow path's c² − 2·dot ≤ 3·D·L², all
    < 2⁶² — and den·D·L² < 10¹⁹ (so den²·dot² and num²·|l|²·|r|² stay
    under decimal(38,0)'s 10³⁸), and raises with the offending id
    instead of mis-answering. (At D=64, den=10 the decimal bound binds:
    L ≈ 1.25·10⁸, ~119× the unit-vector quantization magnitude.)"""
    from .ann import quantize_vec

    den = max(1, int(threshold_den))
    q = spread(df).select(
        F.col(id_col), quantize_vec(vec_col, scale).alias("qv")
    )
    d = F.size("qv").cast("double")
    lim = F.floor(
        F.sqrt(F.least(F.lit(float(1 << 60)) / d, F.lit(1e19 / den) / d))
    ).cast("long")
    max_abs = F.array_max(F.transform(F.col("qv"), F.abs))
    q = q.withColumn(
        "qv",
        F.when(max_abs <= lim, F.col("qv")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "semantic dedup overflow bound exceeded: max|qv|="
                    ),
                    max_abs.cast("string"),
                    F.lit(" > limit="),
                    lim.cast("string"),
                    F.lit(" (id="),
                    F.col(id_col).cast("string"),
                    F.lit(
                        "); lower the quantization scale or raise the "
                        "threshold denominator bound"
                    ),
                )
            )
        ),
    )
    if len(centroids_q) > LITERAL_K_MAX:
        return _assign_arrow_int(q, centroids_q, id_col)
    cents = array_lit(centroids_q, "array<array<bigint>>")
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col("qv"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    n2 = F.aggregate(
        F.transform(F.col("qv"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return q.select(
        F.col(id_col),
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("cid"),
        F.col("qv"),
        n2.alias("n2"),
    )


# Above this cluster count the k·D expression-literal argmin stops being
# the right plan: Catalyst higher-order array aggregates run INTERPRETED
# (~1 µs per element), so per-row cost is k·D·µs, against one numpy
# int64 matmul per Arrow batch for the SAME exact argmin
# (value-identical, parity-pinned). The literal itself is cheap to
# build (one ``array_lit`` node, ~0.2 s at k=32, D=64), so the gap is
# execution only: at k=32, D=64 on local[4] the two paths tie at 1,600
# rows (0.5 s each, warm) and the matmul wins 3× at 25,600 rows
# (0.9 s vs 2.8 s). The threshold sits at the driver-pin scale (k=8):
# the sf0.01 oracle queries keep the pure-Catalyst no-Python-worker
# plan, every corpus-sized k routes through the matmul.
LITERAL_K_MAX = 8


def _assign_arrow_int(
    q: DataFrame, centroids_q: list[list[int]], id_col: str
) -> DataFrame:
    """Large-k twin of the literal argmin in :func:`_semantic_assign` —
    value-IDENTICAL, not approximate: distances are exact int64
    (|q−c|² = |q|² − 2·q·c + |c|², every term bounded by the
    `_semantic_assign` guard so the int64 matmul cannot wrap; numpy
    int64 matmul is exact integer arithmetic, no BLAS float path) and
    ties break to the first minimum (np.argmin) exactly like
    ``array_position``/the oracle's ORDER BY dist, cid. Map-only —
    the centroid matrix rides the closure (k·D·8 bytes per executor),
    the same shape as :func:`~.ann.assign_centroids_arrow`."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    cents = np.asarray(centroids_q, dtype=np.int64)
    c2 = (cents * cents).sum(axis=1)  # int64: k · D · L² < 2⁶² by guard

    id_field = next(f for f in q.schema.fields if f.name == id_col)
    out_schema = StructType(
        [
            id_field,
            StructField("cid", IntegerType(), False),
            StructField("qv", ArrayType(LongType()), False),
            StructField("n2", LongType(), False),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cid": pd.Series([], dtype="int32"),
                        "qv": pdf["qv"],
                        "n2": pd.Series([], dtype="int64"),
                    }
                )
                continue
            x = np.asarray(pdf["qv"].tolist(), dtype=np.int64)
            n2 = (x * x).sum(axis=1)
            # argmin over |x|² − 2·x·c + |c|²; |x|² is constant per row
            d = c2[None, :] - 2 * (x @ cents.T)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cid": d.argmin(axis=1).astype("int32"),
                    "qv": pdf["qv"],
                    "n2": n2,
                }
            )

    return q.mapInPandas(score, out_schema)


def _sq_cos_gt(num: int, den: int):
    """Integer-exact cos > num/den over (__dot, __ln2, __rn2) columns:
    dot > 0 ∧ den²·dot² > num²·|l|²·|r|², in decimal(38,0)."""

    def dec(c):
        return c.cast("decimal(38,0)")

    return (F.col("__dot") > 0) & (
        dec(F.col("__dot")) * dec(F.col("__dot")) * F.lit(den * den)
        > F.lit(num * num) * dec(F.col("__ln2")) * dec(F.col("__rn2"))
    )


def _sq_dot():
    return F.aggregate(
        F.zip_with(F.col("__lq"), F.col("__rq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def semantic_dedup(
    df: DataFrame,
    centroids_q: list[list[int]],
    threshold_num: int = 3,
    threshold_den: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int | None = None,
    cache_handles: list | None = None,
    pinned: bool = True,
    gram_block_elems: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-blocked
    semantic near-dup removal over an embedding column. Cluster with
    k-means (the coarse quantizer the reference trains inside FAISS,
    ``utils/faiss_utils.py:7-9``), then drop every vector that has a
    lower-id neighbor with cosine similarity above τ INSIDE its cluster
    — the pairwise work is blocked by cluster, never all-pairs.

    Exactness (the oracle unlock): vectors quantize to int64
    (:func:`~.ann.quantize_vec`), assignment is the exact integer-L2²
    argmin of :func:`~.ann.kmeans_lloyd_step`, and the cosine threshold
    evaluates WITHOUT any float math: with τ = num/den,

        cos(l, r) > τ  ⟺  dot > 0  ∧  den²·dot² > num²·|l|²·|r|²

    — all integer products, carried in decimal(38, 0) on the Spark side
    (dot ≤ D·(scale·max|x|)² ≈ 2⁴⁶ here, so den²·dot² ≈ 10³⁰ ≪ 10³⁸)
    and HUGEINT in DuckDB. No sqrt, no division, no ulp hazard at the
    threshold boundary.

    Scale shape (r17): assignment is map-only (centroids broadcast as
    a k·D literal; beyond ``LITERAL_K_MAX`` the value-identical Arrow
    int64-matmul twin, still map-only); the pair stage is ONE shuffle
    keyed on cid feeding a per-cluster Arrow group map with O(m²)
    verify work — k is the occupancy knob (:func:`~.ann.k_for_corpus`)
    and scales with the corpus exactly like
    :func:`~.ann.planes_for_corpus` sizes LSH buckets (SemDeDup itself
    uses k ≈ N/occupancy), so every group is an occupancy-bounded
    pandas frame. No join anywhere anymore: the pre-r17 machinery (cid
    self-join + interpreted per-pair dot + decimal(38,0) threshold +
    distinct drop set + corpus back-join — 3 corpus-scaled exchanges
    behind shuffle_hash/merge pins against mis-estimated broadcasts)
    collapsed into the group map — fewer shuffled bytes and no
    broadcast hazard left to pin.

    Oversized-cluster caveat (r18): ``k_for_corpus`` bounds the AVERAGE
    occupancy, not the max — a duplicate-heavy or degenerate corpus can
    collapse into one giant cluster. The group-map verify therefore
    never materializes the m×m Gram matrix: it runs in column blocks of
    ``SEMANTIC_GRAM_BLOCK_ELEMS`` elements (O(m·(D+B)) memory, ~32 MB
    working set), with the integer threshold decided by a
    margin-certified float64 compare and an exact Python-int recheck
    only inside the margin band — bit-identical to the all-int loop at
    numpy speed. The remaining skew exposure is the one pandas group
    itself (Spark materializes m·D int64 per group ≈ 0.5 GB at m=1M,
    D=64) and the O(m²) verify TIME in one task; if a corpus is known
    to degenerate past that, re-size k or fall back to the pre-r17
    join form (git history, r16).

    ``centroids_q`` are quantized int centroids — from the k lowest-id
    vectors (deterministic init) or :func:`~.ann.kmeans_train_exact`
    output re-quantized (exact round-trip: quantized/scale·scale is the
    identity in double for |v| < 2⁵³).

    Output: one row per input vector — (id_col, cid, keep).
    """
    import pandas as pd

    from .ann import KMEANS_SCALE

    if scale is None:
        scale = KMEANS_SCALE
    if not centroids_q:
        raise ValueError("semantic_dedup requires at least one centroid")
    if not (0 < threshold_num < threshold_den):
        raise ValueError("threshold must be a fraction in (0, 1)")

    # r17 optimization (guide §2.4/§4.2): the pair stage is ONE shuffle
    # keyed on cid feeding a per-cluster Arrow group map, replacing the
    # previous 4-piece machinery (cid self-join + interpreted zip_with
    # dot per pair + decimal(38,0) threshold + distinct drop set +
    # corpus back-join — 3 consumers of a persisted assignment, ~3
    # corpus-scaled exchanges). Every cluster is occupancy-bounded by
    # construction (k ≈ N/occupancy sizes the clusters exactly so the
    # O(m²) verify is affordable — the SemDeDup blocking argument), so
    # one group is one bounded pandas frame. Inside the group the dot
    # matrix is ONE numpy int64 matmul (exact integer arithmetic —
    # |dot| ≤ D·L² < 2⁶⁰ by the _semantic_assign guard) and the
    # threshold compare runs in arbitrary-precision Python ints —
    # the same integers the decimal(38,0)/HUGEINT forms compare, with
    # no overflow-to-NULL hazard at all. Drop rule unchanged: rid is
    # dropped iff ANY lower-id same-cluster vector exceeds τ
    # (independent of that vector's own keep flag — plain SemDeDup,
    # not the incremental greedy). Single consumption of the
    # assignment ⇒ no persist, no spill, zero cached blocks by
    # construction; ``cache_handles``/``pinned`` stay accepted for API
    # compatibility (the join pins have nothing left to pin).
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        StructField,
        StructType,
    )

    assigned = _semantic_assign(
        df, centroids_q, scale, vec_col, id_col, threshold_den
    )
    id_field = next(f for f in assigned.schema.fields if f.name == id_col)
    out_schema = StructType(
        [
            id_field,
            StructField("cid", IntegerType(), False),
            StructField("keep", BooleanType(), False),
        ]
    )
    num2 = int(threshold_num) * int(threshold_num)
    den2 = int(threshold_den) * int(threshold_den)
    # closure-captured (not read from module globals at call time) so
    # the pickled group map ships the effective value to the workers —
    # ``gram_block_elems`` is the test seam for the multi-block path
    block_elems = int(gram_block_elems or SEMANTIC_GRAM_BLOCK_ELEMS)

    # r18 (ADVICE r17): the threshold matrix is computed in COLUMN
    # BLOCKS of the Gram product (memory O(m·(D+B)) per cluster instead
    # of the full m×m int64 Gram — a degenerate corpus that collapses
    # into one giant cluster no longer allocates m² ints), and the
    # compare itself is vectorized float64 with a certified margin: the
    # exact integer predicate den²·d² > num²·|l|²·|r|² is decided in
    # float wherever the two sides differ by more than the accumulated
    # rounding error (|ε| ≤ ~6u per side, u = 2⁻⁵³; margin 1e-9 ≫ that)
    # and re-checked in arbitrary-precision Python ints ONLY inside the
    # uncertainty band — near-τ pairs, empirically a handful per
    # cluster — so the result is bit-identical to the all-int loop
    # while the common case runs at numpy speed. The drop rule is
    # independent of other rows' keep flags (rid dropped iff ANY
    # lower-id same-cluster vector exceeds τ), so blocks are
    # embarrassingly independent. NOTE the group itself is still
    # materialized as one pandas frame by applyInPandas — k must keep
    # clusters occupancy-bounded (k_for_corpus); the blocking bounds
    # the O(m²) term, not the O(m·D) input.
    def cluster_keep(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m == 0:
            return pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cid": pd.Series([], dtype="int32"),
                    "keep": pd.Series([], dtype="bool"),
                }
            )
        X = np.asarray(pdf["qv"].tolist(), dtype=np.int64)
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        Xo = X[order]
        # exact: |n2| ≤ D·L² < 2⁶⁰ by the _semantic_assign guard
        n2 = np.einsum("ij,ij->i", Xo, Xo)
        n2f = n2.astype(np.float64)
        den2f, num2f = float(den2), float(num2)
        keep_o = np.ones(m, dtype=bool)
        rows = np.arange(m)
        bsz = max(1, min(m, block_elems // m))
        for j0 in range(1, m, bsz):
            j1 = min(j0 + bsz, m)
            Gb = Xo @ Xo[j0:j1].T  # exact int64 (|dot| < 2⁶⁰)
            tri = rows[:, None] < np.arange(j0, j1)[None, :]
            pos = (Gb > 0) & tri
            Gf = Gb.astype(np.float64)
            lhs = den2f * Gf * Gf
            rhs = num2f * n2f[:, None] * n2f[None, j0:j1]
            exceed = pos & (lhs > rhs * (1.0 + SEMANTIC_FLOAT_MARGIN))
            uncertain = pos & ~exceed & (
                lhs >= rhs * (1.0 - SEMANTIC_FLOAT_MARGIN)
            )
            for i, jj in zip(*np.nonzero(uncertain)):
                d = int(Gb[i, jj])
                if den2 * d * d > num2 * int(n2[i]) * int(n2[j0 + jj]):
                    exceed[i, jj] = True
            keep_o[j0:j1] &= ~exceed.any(axis=0)
        keep = np.empty(m, dtype=bool)
        keep[order] = keep_o
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cid": pdf["cid"].astype("int32"),
                "keep": keep,
            }
        )

    return assigned.groupBy("cid").applyInPandas(cluster_keep, out_schema)


def semantic_dedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    centroids_q: list[list[int]],
    threshold_num: int = 3,
    threshold_den: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int | None = None,
    cache_handles: list | None = None,
    pinned: bool = True,
) -> DataFrame:
    """Batch-vs-corpus SemDeDup — the daily-ingest shape (the semantic
    twin of :func:`minhash_lsh_incremental`, mirroring
    ``append_to_ivf_index`` on the ANN side), with TRUE sequential-ingest
    semantics: the keep set equals the outcome of ingesting the batch one
    vector at a time in ``id_col`` order against a sink that appends only
    kept rows. A batch vector is dropped iff it has a SAME-CLUSTER
    neighbor above τ that is either (a) any corpus vector, or (b) a
    lower-id batch vector that was itself KEPT. Rule (b)'s kept-only
    restriction matters: in a chain b1~corpus (dropped), b2~b1-only, the
    sequential sink never holds b1 when b2 arrives, so b2 is kept — and
    the result is therefore independent of how an ingest day is split
    into batches, as long as kept rows are appended between them.

    Shape: rule (a) is one cid-keyed join (shuffle_hash pin — the
    minhash_lsh_pairs broadcast-estimate hazard; at real scale neither
    side is broadcastable); rule (b) is a per-cluster greedy pass in one
    Arrow ``applyInPandas`` over the corpus-clean batch rows — the greedy
    prefix-maximal set is inherently sequential per cluster, but clusters
    are independent (parallelism = k) and per-cluster work is O(m²·D)
    with m bounded by the occupancy knob (:func:`~.ann.k_for_corpus`),
    exactly the budget the cid self-join already spends. The corpus is
    never compared against itself: corpus×corpus work never re-runs,
    candidate volume ∝ batch × cluster occupancy.

    Same integer-exact machinery as :func:`semantic_dedup` (quantized
    argmin assignment, den²·dot² > num²·|l|²·|r|² threshold carried in
    decimal(38,0)/HUGEINT on the join side and numpy-int64-dot +
    arbitrary-precision Python int compare inside the greedy pass — no
    float at the boundary anywhere, and the `_semantic_assign` guard
    bounds max|qv| so the int64 dot cannot wrap). Assignment must use
    the SAME centroids the corpus was assigned with — k grows only on
    index rebuild, exactly like the IVF layout.

    Output: one row per batch vector — (id_col, cid, keep).
    """
    import pandas as pd

    from .ann import KMEANS_SCALE

    if scale is None:
        scale = KMEANS_SCALE
    if not centroids_q:
        raise ValueError("semantic_dedup_incremental requires centroids")
    if not (0 < threshold_num < threshold_den):
        raise ValueError("threshold must be a fraction in (0, 1)")

    # batch assignment feeds the corpus join AND the greedy pass;
    # corpus assignment is consumed once (no persist)
    b = _opt_persist(
        _semantic_assign(
            batch, centroids_q, scale, vec_col, id_col, threshold_den
        ),
        cache_handles,
    )
    c = _semantic_assign(
        corpus, centroids_q, scale, vec_col, id_col, threshold_den
    )

    b_r = b.select(
        F.col(id_col).alias("right_id"),
        F.col("cid"),
        F.col("qv").alias("__rq"),
        F.col("n2").alias("__rn2"),
    )
    c_l = c.select(
        F.col("cid"),
        F.col("qv").alias("__lq"),
        F.col("n2").alias("__ln2"),
    )

    # (a) batch vs corpus: any qualifying corpus neighbor drops the
    # batch vector — shuffle_hash pin (see minhash_lsh_incremental)
    vs_corpus = (
        c_l.join(_pin(b_r, "shuffle_hash", pinned), "cid")
        .withColumn("__dot", _sq_dot())
        .filter(_sq_cos_gt(threshold_num, threshold_den))
        .select(F.col("right_id").alias(id_col))
        .distinct()
        .withColumn("__cdrop", F.lit(True))
    )
    # merge pin: the corpus-drop set scales with the batch — never
    # trust the static estimate to refuse a broadcast at real size
    flagged = b.join(_pin(vs_corpus, "merge", pinned), id_col, "left").select(
        F.col(id_col),
        F.col("cid"),
        F.col("qv"),
        F.col("n2"),
        F.coalesce(F.col("__cdrop"), F.lit(False)).alias("__cdrop"),
    )

    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    id_field = next(f for f in flagged.schema.fields if f.name == id_col)
    out_schema = StructType(
        [
            id_field,
            StructField("cid", IntegerType(), True),
            StructField("keep", BooleanType(), False),
        ]
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        # (b) sequential greedy per cluster: corpus-dropped rows are
        # never in the comparison set; a corpus-clean row is kept iff no
        # KEPT lower-id row exceeds τ. int64 matmul is exact under the
        # _semantic_assign bound; the threshold compare is Python-int.
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        m = len(pdf)
        qvs = np.asarray(pdf["qv"].tolist(), dtype=np.int64)
        n2s = pdf["n2"].to_numpy()
        cdrop = pdf["__cdrop"].to_numpy()
        keep = np.zeros(m, dtype=bool)
        kept_rows: list[int] = []
        for i in range(m):
            if cdrop[i]:
                continue
            ok = True
            if kept_rows:
                dots = qvs[kept_rows] @ qvs[i]
                ni = int(n2s[i])
                for j, dt in zip(kept_rows, dots):
                    dt = int(dt)
                    if dt > 0 and den2 * dt * dt > num2 * ni * int(n2s[j]):
                        ok = False
                        break
            keep[i] = ok
            if ok:
                kept_rows.append(i)
        return pd.DataFrame(
            {id_col: pdf[id_col], "cid": pdf["cid"], "keep": keep}
        )

    return flagged.groupBy("cid").applyInPandas(greedy, out_schema)


# ---------------------------------------------------------------------------
# URL/host-level dedup (staged r14, r16 registration candidate)
# ---------------------------------------------------------------------------

# Default strip list: only UNAMBIGUOUS tracking params (ad/click IDs
# and mail-campaign tags). Bare ``ref``/``ref_src`` are deliberately
# NOT here (r14 ADVICE): on many sites ``ref`` is semantic (e.g.
# ``?ref=<branch>`` on code hosts), and stripping it would silently
# collapse distinct documents into one canonical key. Callers whose
# crawl knows its referrer convention pass their own regex.
_TRACKING_PARAM_RE = r"^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)="


def normalize_url(
    url, tracking_param_re: str = _TRACKING_PARAM_RE
) -> tuple["F.Column", "F.Column"]:
    """Canonical (host, url_key) expressions for a URL column — the
    normalization step of URL-level dedup (the CCNet/C4-style "one
    document per canonical URL" rule; every crawl pipeline dedups by
    normalized URL before any content pass because it is free: no
    tokenize, no shingle, one shuffle on a short key).

    Normalization, all pure Catalyst string expressions (zero UDF):
    lowercase + trim, strip scheme, strip fragment, strip a leading
    ``www``/``www2``-style label, strip default ports (:80/:443), strip
    trailing slashes (empty path → "/"), drop tracking query params
    (``tracking_param_re`` — default utm_*, gclid, fbclid, msclkid,
    mc_cid/mc_eid; see ``_TRACKING_PARAM_RE`` for why bare ``ref`` is
    excluded), sort the surviving params so ``?a=1&b=2`` ≡ ``?b=2&a=1``.

    Returns ``(host, key)`` where ``key = host + path[?canonical_query]``.
    """
    c = F.col(url) if isinstance(url, str) else url
    u = F.lower(F.trim(c))
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"#.*$", "")
    host = F.regexp_extract(u, r"^([^/?]+)", 1)
    host = F.regexp_replace(host, r"^www\d*\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    rest = F.regexp_replace(u, r"^[^/?]+", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(tracking_param_re),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    key = F.concat(
        host,
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(
            F.lit("")
        ),
    )
    return host, key


def url_host_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    tracking_param_re: str = _TRACKING_PARAM_RE,
) -> DataFrame:
    """URL-level exact dedup over the canonical key of
    :func:`normalize_url`: one row per input document with its
    normalized ``host``/``url_key``, the canonical-group size
    ``n_copies``, and ``is_kept`` (lowest id per key survives — the
    same keep rule as :func:`exact_dedup`).

    Scale shape at 100 TB: the normalization is a codegen'd projection
    fused into the scan; the ONLY exchange is one shuffle keyed by the
    short canonical-key string (same single-shuffle budget as
    content-hash exact dedup, but ~100 bytes/row instead of a
    tokenize+md5 pass — which is why crawl pipelines run it first).
    Key cardinality ≈ N with crawl-shaped skew on hot hosts; the
    window partitions by the full (host, path, query) key, so hot
    HOSTS do not make hot KEYS."""
    host, key = normalize_url(url_col, tracking_param_re=tracking_param_re)
    w = Window.partitionBy("url_key")
    return (
        df.select(
            F.col(id_col),
            host.alias("host"),
            key.alias("url_key"),
        )
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_kept",
            F.row_number().over(w.orderBy(F.col(id_col).asc())) == 1,
        )
    )
