"""Training-batch layout (SURVEY §2.5 SA3): the reference's
``DataLoader(batch_size=16, shuffle=True, drop_last=True)``
(``train_model.py:49-50``) as a globally canonical batch assignment
(:func:`batch_assignments`), and context-window sequence packing
(:func:`pack_sequences`). Both rank rows globally in two phases, never
with a single-task sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sample import shuffle_key


def pack_sequences(
    df: DataFrame,
    n_tokens_col,
    window: int = 512,
    id_col: str = "doc_id",
    bucket_size: int = 10_000,
) -> DataFrame:
    """Concat-and-chunk context-window packing (the GPT-style training
    layout): documents concatenate in ``id_col`` order into one token
    stream chunked every ``window`` tokens; each document is assigned the
    chunk containing its FIRST token. Returns one row per input row:
    ``(id, n_tokens, start_offset, bin)``.

    The global running offset is built TWO-PHASE exactly like
    ``sample.weighted_multinomial_sample``: per-bucket subtotals (one
    row per ``bucket_size`` ids) get prefix offsets through one ordered
    window over #buckets rows, then within-bucket cumsums run
    partition-parallel. No single-task global window ever sees the
    corpus — the only corpus-wide exchange is the bucket hash join.

    ``bucket_size`` sets the phase-1 table to N/bucket_size rows — that
    table IS broadcast and prefix-summed in one task, so size it ~√N:
    the 10k default keeps it ≤100k rows up to a 10⁹-doc corpus. Results
    are invariant to the choice (bucketing only restructures the sum).
    """
    n = n_tokens_col.cast("long")
    bucket = F.floor(F.col(id_col) / bucket_size).cast("long")
    base = df.select(F.col(id_col), n.alias("_n"), bucket.alias("_bkt"))
    offsets = (
        base.groupBy("_bkt")
        .agg(F.sum("_n").alias("_bn"))
        .withColumn(
            "_off",
            F.sum("_bn").over(
                Window.orderBy("_bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        )
        .select("_bkt", F.coalesce("_off", F.lit(0)).alias("_off"))
    )
    return (
        base.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            "_cum",
            F.col("_off")
            + F.sum("_n").over(
                Window.partitionBy("_bkt")
                .orderBy(id_col)
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select(
            id_col,
            F.col("_n").alias("n_tokens"),
            (F.col("_cum") - F.col("_n")).alias("start_offset"),
            F.floor((F.col("_cum") - F.col("_n")) / window)
            .cast("long")
            .alias("bin"),
        )
    )


def batch_assignments(
    df: DataFrame,
    batch_size: int = 16,
    drop_last: bool = True,
    id_col: str = "vec_id",
    seed: int = 42,
    bucket_width: int = 1 << 22,
) -> DataFrame:
    """Globally-CANONICAL fixed-size batches (SURVEY §2.5 SA3, the
    reference's ``DataLoader(batch_size, shuffle=True, drop_last=True)``,
    ``train_model.py:49-50``). Batch ids derive from the GLOBAL
    deterministic-shuffle order, never from the physical partitioning,
    so the assignment is a pure
    function of (ids, seed, batch_size): reproducible across cluster
    sizes, re-runs, and engines. Output one row per surviving input
    row: ``(id_col, batch_id, pos)`` with ``batch_id =
    floor(global_rank / batch_size)`` and ``pos`` the 0-based slot
    inside the batch; ``drop_last`` removes the trailing partial batch
    GLOBALLY (exactly the reference's semantics).

    Scale shape (the 100 TB question): a naive global
    ``row_number() OVER (ORDER BY key)`` is a single-task sort. This
    runs the same two-phase scheme as :func:`pack_sequences` /
    ``sample.weighted_multinomial_sample``: the multiplicative-hash
    shuffle key is range-bucketed (``floor(key / bucket_width)`` —
    hash values are uniform on [0, 2^31), so ~2^31/bucket_width ordered
    buckets of ~N·bucket_width/2^31 rows each); per-bucket counts get
    prefix offsets through one ordered window over #buckets rows (512
    buckets at the default — broadcast, never the corpus); within-bucket
    ranks run partition-parallel. The only corpus-wide operations are
    the bucket hash exchange and the broadcast joins of the offsets
    table and the 1-row total (for the global drop-last cut).
    """
    key = shuffle_key(id_col, seed)
    base = df.select(
        F.col(id_col),
        key.alias("_key"),
        F.floor(key / F.lit(bucket_width)).cast("long").alias("_bkt"),
    )
    counts = base.groupBy("_bkt").agg(F.count("*").alias("_bn"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_bn").over(
                Window.orderBy("_bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("_bkt", "_off")
    total = counts.agg(F.sum("_bn").alias("_total"))

    ranked = (
        base.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            "_rank",
            F.col("_off")
            + F.row_number().over(
                Window.partitionBy("_bkt").orderBy(
                    F.col("_key").asc(), F.col(id_col).asc()
                )
            )
            - F.lit(1),
        )
    )
    if drop_last:
        ranked = ranked.join(F.broadcast(total)).filter(
            F.col("_rank")
            < F.col("_total") - (F.col("_total") % F.lit(batch_size))
        )
    return ranked.select(
        id_col,
        F.floor(F.col("_rank") / batch_size).cast("long").alias("batch_id"),
        (F.col("_rank") % F.lit(batch_size)).cast("int").alias("pos"),
    )


def length_bucket_batches(
    df: DataFrame,
    token_budget: int = 512,
    granule: int = 16,
    cap: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    drop_last: bool = True,
    bucket_width: int = 1 << 22,
) -> DataFrame:
    """Length-bucketed DataLoader batching — the PAD-side batching
    policy (dynamic padding / bucketing by sequence length, the
    standard alternative to :func:`pack_sequences`' concat-and-chunk):
    docs are grouped by padded width (token count rounded UP to the
    next ``granule`` multiple, capped at ``cap`` — over-cap docs
    truncate to ``cap``), each width's batch holds
    ``token_budget div width`` rows (a fixed token budget per batch,
    so short-doc batches are wide and long-doc batches are narrow),
    and batch membership comes from the deterministic
    multiplicative-hash order — a pure function of (ids, seed,
    knobs), reproducible across engines and cluster sizes. Output one
    row per kept doc: (id, n_tokens, width, batch_id, pos,
    pad_tokens); ``drop_last`` removes each width's trailing partial
    batch. Zero-token docs are excluded (nothing to train on).

    Integer-exact cross-engine: width is ``((min(n, cap) + granule-1)
    div granule) · granule``, capacity is ``token_budget div width``,
    batch_id/pos are div/mod of the per-width rank — every step
    integral division on non-negatives (Spark ``div`` ≡ DuckDB
    ``//``), no float anywhere.

    Scale shape: the per-width rank runs the SAME two-phase bucketed
    scheme as :func:`batch_assignments`, keyed by (width, key-bucket)
    — a naive ``row_number() OVER (PARTITION BY width)`` would funnel
    the corpus through ≤ cap/granule partitions (8 hot keys at the
    defaults, a single-machine bottleneck at 100 TB). Per-(width,
    bucket) counts aggregate map-side; the offsets table is ≤
    widths × 512 rows (broadcast); within-bucket ranks run
    partition-parallel. One corpus shuffle total.
    """
    from ..functions.text import tokens

    g, c, t = int(granule), int(cap), int(token_budget)
    if g <= 0 or c <= 0 or c % g:
        raise ValueError("cap must be a positive multiple of granule")
    if t < c:
        # width can reach cap, and a width whose capacity floors to 0
        # would NULL the div/mod chain and silently drop every row in
        # that bucket — refuse loudly instead
        raise ValueError(
            f"token_budget ({t}) must be >= cap ({c}) so every width "
            "holds at least one row per batch"
        )
    n_tok = F.size(tokens(text_col))
    base = (
        df.select(F.col(id_col), n_tok.alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "width",
            F.expr(
                f"CAST(((least(n_tokens, {c}) + {g - 1}) div {g}) * {g} "
                "AS INT)"
            ),
        )
    )
    key = shuffle_key(id_col, seed)
    base = base.select(
        id_col, "n_tokens", "width",
        key.alias("_key"),
        F.floor(key / F.lit(bucket_width)).cast("long").alias("_bkt"),
    )
    counts = base.groupBy("width", "_bkt").agg(F.count("*").alias("_bn"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_bn").over(
                Window.partitionBy("width")
                .orderBy("_bkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("width", "_bkt", "_off")
    totals = counts.groupBy("width").agg(F.sum("_bn").alias("_total"))

    ranked = base.join(F.broadcast(offsets), ["width", "_bkt"]).withColumn(
        "_rank",
        F.col("_off")
        + F.row_number().over(
            Window.partitionBy("width", "_bkt").orderBy(
                F.col("_key").asc(), F.col(id_col).asc()
            )
        )
        - F.lit(1),
    )
    capacity = F.expr(f"CAST({t} div width AS LONG)")
    ranked = ranked.withColumn("_capacity", capacity)
    if drop_last:
        ranked = ranked.join(F.broadcast(totals), "width").filter(
            F.col("_rank")
            < F.col("_total") - (F.col("_total") % F.col("_capacity"))
        )
    return ranked.select(
        F.col(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("width"),
        F.expr("CAST(_rank div _capacity AS LONG)").alias("batch_id"),
        (F.col("_rank") % F.col("_capacity")).cast("int").alias("pos"),
        F.expr(f"CAST(width - least(n_tokens, {c}) AS INT)").alias(
            "pad_tokens"
        ),
    )
