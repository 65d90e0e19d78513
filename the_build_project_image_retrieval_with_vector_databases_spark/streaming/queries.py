"""Structured Streaming twins of the batch window operators.

Semantics are pinned by the batch implementations in
``operators/windows.py`` (which the DuckDB oracle checks); these wire the
same expressions into ``readStream``/``writeStream`` with watermarks.
Tests drive them with bounded file sources + ``processAllAvailable()``
(memory sink), so the state-store code paths genuinely execute.

The serve loop mirrors the reference's interactive query path
(upload → embed → kNN → join, ``app.py:124-179``): a stream of query
vectors joined per-microbatch against the cached embeddings table via
``foreachBatch``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener


def streaming_tumbling_counts(
    stream: DataFrame,
    width_s: int = 600,
    watermark_s: int = 1800,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time counts with a watermark for late data."""
    return (
        stream.withWatermark(ts_col, f"{watermark_s} seconds")
        .groupBy(F.window(F.col(ts_col), f"{width_s} seconds"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).cast("long").alias("window_start"),
            "event_type",
            "n",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    watermark_s: int = 3600,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming dropDuplicates with watermark-bounded state."""
    return stream.withWatermark(ts_col, f"{watermark_s} seconds").dropDuplicates(
        key_cols
    )


def streaming_slot_latest(
    stream: DataFrame,
    step_s: int = 21600,
    watermark_s: int = 86400,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming half of ``operators.windows.gap_fill``: per (key, slot)
    the LATEST observation — a watermarked tumbling-window ``max_by``
    over struct(ep, value), the same tie rule as the batch operator
    (latest epoch, then largest value). State per key is one struct per
    open slot, expired by the watermark; the dense-grid + forward-fill
    finisher stays a batch window over the (tiny, slot-grained) sink —
    at 100 TB the observation stream is the big side, the filled grid is
    output-sized. tests/test_streaming.py pins stream ≡ batch."""
    ep = F.unix_timestamp(F.col(ts_col)).cast("long")
    return (
        stream.withWatermark(ts_col, f"{watermark_s} seconds")
        .groupBy(
            F.window(F.col(ts_col), f"{step_s} seconds").alias("w"),
            F.col(key_col),
        )
        .agg(
            F.max(F.struct(ep.alias("ep"), F.col(value_col).alias("v"))).alias(
                "last"
            )
        )
        .select(
            key_col,
            F.unix_timestamp(F.col("w.start")).cast("long").alias("slot"),
            F.col("last.v").alias("_obs"),
        )
    )


def interval_join(
    purchases: DataFrame,
    views: DataFrame,
    max_lag_s: int = 3600,
    watermark_s: int = 3600,
) -> DataFrame:
    """Stream-stream interval join: every purchase matched to the same
    user's views within the preceding ``max_lag_s``. Watermarks on BOTH
    sides plus the time-range predicate are what lets Spark expire join
    state (without them the view buffer grows forever) — state per key is
    bounded by watermark + lag. Works identically on batch DataFrames
    (the twin the test compares against)."""
    p = purchases.withWatermark("ts", f"{watermark_s} seconds").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = views.withWatermark("ts", f"{watermark_s} seconds").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_lag_s} SECONDS")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        F.unix_timestamp("p_ts").cast("long").alias("purchase_ep"),
        F.unix_timestamp("v_ts").cast("long").alias("view_ep"),
    )


def serve_loop(
    query_stream: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """The reference's interactive query path as a stream: each microbatch
    of query vectors runs the broadcast kNN join against the cached corpus
    (``foreachBatch`` — exactly-once per sink contract)."""
    from ..operators.knn import knn_join

    corpus = corpus.cache()

    def score_batch(batch: DataFrame, epoch_id: int) -> None:
        out = knn_join(corpus, batch, k=k, exclude_self=False)
        if sink is not None:
            sink(out, epoch_id)

    writer = query_stream.writeStream.foreachBatch(score_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _payload_pool(
    df: DataFrame, id_col: str, vec_col: str, payload_pool: int, what: str
) -> tuple[list[int], list[list[float]]]:
    """The rate loops' request payloads: (ids, vectors) of the
    ``payload_pool`` lowest-id rows of ``df``. A stand-in for real
    requests, which carry their own vectors; one
    ``TakeOrderedAndProject`` collect of pool×D floats, so driver memory
    is O(pool·D) whatever the corpus size. Pooled vectors are real corpus
    rows, so scored distances keep the corpus' neighbor structure, and
    the emitted query ids are the rows' REAL ids, so rank-1 self-hits
    hold for any id space (sparse or dense)."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(payload_pool)
        .collect()
    )
    if not rows:
        raise ValueError(f"{what} is empty — nothing to serve")
    return [int(r[0]) for r in rows], [list(r[1]) for r in rows]


def _rate_loop(
    spark,
    rows_per_second: int,
    trigger_ms: int,
    pool_size: int,
    search: Callable[[list[int]], DataFrame],
    sink: Callable[[DataFrame, int], None] | None,
    latencies: list | None,
) -> StreamingQuery:
    """Start the rate-source serving loop the ``serve_loop_rate*``
    tiers share. Each microbatch maps its arrivals onto pool positions
    (``value % pool_size``), ``search`` answers the sorted distinct
    positions, the answer goes to ``sink`` (a noop write without one),
    and the END-TO-END latency of the batch (oldest arrival timestamp →
    results materialized) is appended to ``latencies``."""
    import time

    def score_batch(batch: DataFrame, epoch_id: int) -> None:
        # one job reads the arrival floor AND answers the empty check —
        # a separate isEmpty() costs a whole extra job per epoch, real
        # money when the trigger interval is the latency budget
        agg = batch.agg(
            F.min("timestamp").alias("t0"),
            F.collect_list(F.col("value") % pool_size).alias("qids"),
        ).first()
        if agg.t0 is None:
            return
        out = search(sorted(set(int(v) for v in agg.qids)))
        if sink is not None:
            sink(out, epoch_id)
        else:
            out.write.format("noop").mode("overwrite").save()
        if latencies is not None:
            latencies.append(time.time() - agg.t0.timestamp())

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .writeStream.foreachBatch(score_batch)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )


def serve_loop_rate(
    spark,
    corpus: DataFrame,
    k: int = 5,
    rows_per_second: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    latencies: list | None = None,
    sink: Callable[[DataFrame, int], None] | None = None,
    trigger_ms: int = 500,
    payload_pool: int = 256,
) -> StreamingQuery:
    """Continuous serving harness (§2.9 latency path): the built-in
    ``rate`` source emits query arrivals at a fixed rate; each microbatch
    maps arrivals onto a BOUNDED pool of corpus vectors
    (``value % pool_size`` where pool_size = min(payload_pool, corpus
    rows) — a stand-in for a real request payload, which would carry
    its own vector), scores the whole batch against
    the cached corpus with the Arrow/BLAS kNN join
    (:func:`~..operators.knn.knn_join_arrow` — one matmul per corpus
    partition, per-partition top-k heaps, tiny global rank; the
    expression-based exact join is ~11 µs/pair interpreted and cannot
    sustain a serving rate), and records END-TO-END latency per batch
    (oldest arrival timestamp → results materialized) into
    ``latencies``.

    The measured quantity is the serving SLO of the reference's
    interactive search (``app.py:171``) under steady load: trigger
    interval + queue wait + score + sink. At scale the corpus side is
    the same partitioned/cached table every executor already holds —
    the per-epoch work that scales with arrival rate is one Q×D
    broadcast and a partitions·Q·k candidate rank. The request payload
    pool is HARNESS state (real requests carry vectors) and is
    SCALE-HONEST: the ``payload_pool`` lowest-id corpus vectors, one
    ``TakeOrderedAndProject`` collect of pool×D floats at loop start —
    driver memory is O(pool·D) regardless of corpus size, never a
    full-corpus O(N·D) collect. Pooled vectors are real corpus
    rows, so scored distances keep the corpus' neighbor structure; the
    measured path (:func:`knn_join_arrow`) is unchanged."""
    from ..operators.knn import knn_join_arrow

    corpus = corpus.cache()
    pool_ids, payload = _payload_pool(
        corpus, id_col, vec_col, payload_pool, "corpus"
    )

    def search(qidx: list[int]) -> DataFrame:
        return knn_join_arrow(
            corpus,
            [pool_ids[q] for q in qidx],
            [payload[q] for q in qidx],
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            exclude_self=False,
        )

    return _rate_loop(
        spark, rows_per_second, trigger_ms, len(payload), search, sink,
        latencies,
    )


# Registry of cached IVF serving layouts, keyed by (application id,
# path) — serve_loop_rate_ivf reuses one cached DataFrame per path
# instead of pinning a fresh copy per invocation (executor storage
# memory has no other release path once the returned StreamingQuery is
# stopped). The application-id component makes a stop/recreate of the
# SparkSession a cache MISS rather than a DataFrame bound to a dead
# JVM context. A rewrite of the layout AT THE SAME PATH in the same
# session must still be preceded by ``release_layout_cache(path)`` —
# the cache cannot see the storage change (the snapshot it pinned is
# the one it serves), which is also why ``build_ivf_layout``-style
# rebuilds in scripts call the release first.
_LAYOUT_CACHE: dict[tuple[str, str], DataFrame] = {}


def release_layout_cache(layout_path: str | None = None) -> None:
    """Unpersist cached serving layout(s): every entry for the given
    path (across any sessions this process has run), or all entries.
    Call before rebuilding a layout at a cached path."""
    keys = [
        key
        for key in list(_LAYOUT_CACHE)
        if layout_path is None or key[1] == layout_path
    ]
    for key in keys:
        df = _LAYOUT_CACHE.pop(key, None)
        if df is not None:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped — nothing pinned anymore


def serve_loop_rate_ivf(
    spark,
    layout_path: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    rows_per_second: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    latencies: list | None = None,
    sink: Callable[[DataFrame, int], None] | None = None,
    trigger_ms: int = 500,
    payload_pool: int = 256,
    cache_layout: bool = True,
) -> StreamingQuery:
    """IVF-tier continuous serving — :func:`serve_loop_rate` with the
    flat Arrow/BLAS scan replaced by the inverted-list kernel
    (:func:`~..operators.knn.knn_join_arrow_ivf`) over the materialized
    ``partitionBy(centroid)`` layout. This is the engine's answer to
    "what serves the rates past the flat-scan knee": per epoch, only
    the probed inverted lists are READ (parquet
    partition pruning — at 100 TB the unprobed corpus never leaves
    storage) and each list is scored only against the queries probing
    it, so per-epoch multiply-adds drop by ~nprobe/k_cents at the
    recall point RECALL_CURVE.json prices.

    Harness contract identical to :func:`serve_loop_rate`: bounded
    payload pool (pool·D driver floats, real corpus rows), per-query
    probe sets precomputed once driver-side over the pooled vectors
    (pool × k_cents numpy — the FAISS coarse-quantizer step), END-TO-END
    per-batch latency (oldest arrival → results materialized) appended
    to ``latencies``.

    ``cache_layout`` (default True) holds the layout in executor
    storage memory — the SAME memory model as the flat loop (which
    caches 100% of the corpus), so the flat-vs-ivf knee comparison
    isolates the FLOP masking. Measured on the 200k corpus: uncached,
    per-epoch parquet decode (~100 MB) dominates and IVF lands ON the
    flat knee (p50 2.15-2.65 s); cached, only the masked matmul
    remains. Set False to measure the cold/storage-read path — at
    100 TB a serving fleet pins hot inverted lists and pays this path
    only on probe misses.

    Cached layouts are REUSED across invocations in the same session
    (one registry entry per path — the serve_latency.py sweep's
    warm-up + per-rate runs re-read the same path, and per-run
    ``.cache()`` calls would otherwise accumulate in executor storage
    memory with no release path); call :func:`release_layout_cache`
    when a sweep is done with a path."""
    from ..operators.ann import nearest_centroids
    from ..operators.knn import knn_join_arrow_ivf

    if cache_layout:
        cache_key = (spark.sparkContext.applicationId, layout_path)
        layout = _LAYOUT_CACHE.get(cache_key)
        if layout is None:
            layout = spark.read.parquet(layout_path).cache()
            _LAYOUT_CACHE[cache_key] = layout
    else:
        layout = spark.read.parquet(layout_path)
    pool_ids, payload = _payload_pool(
        layout, id_col, vec_col, payload_pool, "layout"
    )
    pool_probes = [nearest_centroids(centroids, v, nprobe) for v in payload]

    def search(qidx: list[int]) -> DataFrame:
        return knn_join_arrow_ivf(
            layout,
            [pool_ids[q] for q in qidx],
            [payload[q] for q in qidx],
            [pool_probes[q] for q in qidx],
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            exclude_self=False,
        )

    return _rate_loop(
        spark, rows_per_second, trigger_ms, len(payload), search, sink,
        latencies,
    )


def serve_loop_rate_bq(
    spark,
    corpus: DataFrame,
    k: int = 5,
    rows_per_second: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    latencies: list | None = None,
    sink: Callable[[DataFrame, int], None] | None = None,
    trigger_ms: int = 500,
    payload_pool: int = 256,
    train_n: int = 16,
    code_cache: list | None = None,
) -> StreamingQuery:
    """Binary-quantization-tier continuous serving — the 5th tier of
    the rate-loop family (:func:`serve_loop_rate` = flat,
    :func:`serve_loop_rate_ivf` = inverted lists). Setup, ONCE per
    loop: train per-dim integer thresholds on the ``train_n`` lowest-id
    corpus rows, project the corpus to dim/32 packed BIGINT halves
    (:func:`~..operators.pq.bq_encode_cols` — one projection, zero shuffle)
    and CACHE the code table (16 bytes/row at 64-D vs 256 for floats —
    the BQ memory model is the tier's point: 6% of the flat tier's
    cached bytes). Per epoch: encode is already done, so the batch is
    one XOR/popcount pass (:func:`~..operators.knn.
    knn_join_arrow_hamming`) over the cached codes — no float matmul
    at all. Harness contract identical to the flat loop: bounded
    payload pool of real corpus rows, query codes precomputed
    driver-side (pool × dim/32 ints), END-TO-END per-batch latency
    appended to ``latencies``.

    Per-epoch FLOP shape vs the other tiers at corpus size N: flat
    does N·Q·D multiply-adds; IVF (nprobe/k_cents)·N·Q·D; BQ does
    N·Q·(D/32) XOR+popcounts over 16× fewer bytes — the bandwidth
    lever FAISS's ``IndexBinaryFlat`` rescoring tiers use. Recall is
    the BQ curve (sign quantization), not exact — production rescores
    the Hamming shortlist with full floats (``pq_rerank_topk``'s
    pattern); this loop measures the shortlist scan itself."""
    from ..operators.knn import knn_join_arrow_hamming
    from ..operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_train_thresholds,
    )

    pool_ids, payload = _payload_pool(
        corpus, id_col, vec_col, payload_pool, "corpus"
    )
    train = payload[: min(train_n, len(payload))]
    thr = bq_train_thresholds(train)
    halves = bq_encode_cols(thr, len(train), vec_col)
    names = [f"bq_h{i}" for i in range(len(halves))]
    # repartition to full parallelism before caching: the packed table
    # inherits the float corpus' parquet split count, but each code
    # partition is 16× smaller — without this, a 32-core box scans the
    # cached codes on the parent scan's 8-16 partitions and leaves
    # half the cores idle every epoch (one-time 48 MB shuffle at 2M)
    codes = (
        corpus.select(
            id_col, *[c.alias(nm) for nm, c in zip(names, halves)]
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    codes.count()  # materialize the packed table before the loop starts
    if code_cache is not None:
        # hand the cached code table back so the caller can unpersist
        # it once the loop stops (the loop itself cannot — the
        # StreamingQuery outlives this call)
        code_cache.append(codes)
    pool_codes = [bq_encode_query(v, thr, len(train)) for v in payload]

    def search(qidx: list[int]) -> DataFrame:
        return knn_join_arrow_hamming(
            codes,
            [pool_ids[q] for q in qidx],
            [pool_codes[q] for q in qidx],
            k=k,
            id_col=id_col,
            code_cols=tuple(names),
        )

    return _rate_loop(
        spark, rows_per_second, trigger_ms, len(payload), search, sink,
        latencies,
    )


def serve_loop_rate_bq_ivf(
    spark,
    layout_path: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    rows_per_second: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_col: str = "centroid",
    latencies: list | None = None,
    sink: Callable[[DataFrame, int], None] | None = None,
    trigger_ms: int = 500,
    payload_pool: int = 256,
    train_n: int = 16,
    code_cache: list | None = None,
    rescore_overfetch: int | None = None,
) -> StreamingQuery:
    """Composed BQ×IVF continuous serving — the production shape the
    bq_tier measurement points at: encode the materialized
    ``partitionBy(centroid)`` layout to packed codes ONCE (keeping the
    centroid column), cache, and per epoch run the Hamming scan only
    within each query's probed inverted lists
    (:func:`~..operators.knn.knn_join_arrow_hamming_ivf`). The two
    tiers' levers multiply: per-epoch popcount work ≈
    (nprobe/k_cents)·N·Q word-ops, and at storage scale probed scan
    bytes are (nprobe/k_cents)·(1/16) of a flat float scan (over a
    packed-code parquet layout the centroid INSET filter is partition
    pruning). Harness contract identical to the other rate loops.

    ``rescore_overfetch`` turns on the PRODUCTION shape: Hamming
    shortlist at ``k·rescore_overfetch`` within probed lists → exact
    float re-rank of the shortlist
    (:func:`~..operators.knn.knn_join_arrow_hamming_ivf_rescored`).
    The float layout is cached alongside the codes for the loop (the
    steady-state serving memory model matches the IVF tier; at storage
    scale only shortlist rows inside already-probed lists are
    fetched). Recall at the measured operating point is priced in
    RECALL_CURVE.json ``bq_ivf_rescored``."""
    from ..operators.ann import nearest_centroids
    from ..operators.knn import (
        knn_join_arrow_hamming_ivf,
        knn_join_arrow_hamming_ivf_rescored,
    )
    from ..operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_train_thresholds,
    )

    layout = spark.read.parquet(layout_path)
    pool_ids, payload = _payload_pool(
        layout, id_col, vec_col, payload_pool, "layout"
    )
    train = payload[: min(train_n, len(payload))]
    thr = bq_train_thresholds(train)
    halves = bq_encode_cols(thr, len(train), vec_col)
    names = [f"bq_h{i}" for i in range(len(halves))]
    codes = (
        layout.select(
            id_col, centroid_col,
            *[c.alias(nm) for nm, c in zip(names, halves)],
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    codes.count()
    if code_cache is not None:
        code_cache.append(codes)
    floats = None
    if rescore_overfetch is not None:
        # range-partition the float cache BY CENTROID: in-memory scans
        # cannot partition-prune like parquet, but cached-batch min/max
        # stats do skip batches whose centroid range misses the isin
        # predicate — round-robin caching would put every centroid in
        # every batch and force a full 2M-row decode per epoch (the
        # first rescored sweep measured exactly that: +2 s/epoch)
        floats = (
            layout.select(id_col, centroid_col, vec_col)
            .repartitionByRange(
                spark.sparkContext.defaultParallelism, F.col(centroid_col)
            )
            .cache()
        )
        floats.count()
        if code_cache is not None:
            code_cache.append(floats)
    pool_codes = [bq_encode_query(v, thr, len(train)) for v in payload]
    pool_probes = [nearest_centroids(centroids, v, nprobe) for v in payload]

    def search(qidx: list[int]) -> DataFrame:
        ids = [pool_ids[q] for q in qidx]
        qcodes = [pool_codes[q] for q in qidx]
        probes = [pool_probes[q] for q in qidx]
        if rescore_overfetch is not None:
            return knn_join_arrow_hamming_ivf_rescored(
                codes,
                floats,
                ids,
                [payload[q] for q in qidx],
                qcodes,
                probes,
                k=k,
                overfetch=rescore_overfetch,
                id_col=id_col,
                vec_col=vec_col,
                code_cols=tuple(names),
                centroid_col=centroid_col,
            )
        return knn_join_arrow_hamming_ivf(
            codes,
            ids,
            qcodes,
            probes,
            k=k,
            id_col=id_col,
            code_cols=tuple(names),
            centroid_col=centroid_col,
        )

    return _rate_loop(
        spark, rows_per_second, trigger_ms, len(payload), search, sink,
        latencies,
    )


def ingest_dedup_loop(
    batch_stream: DataFrame,
    corpus_source: Callable[[], DataFrame] | DataFrame,
    centroids_q: list[list[int]],
    threshold_num: int = 3,
    threshold_den: int = 10,
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Streaming ingest dedup — the serve-loop twin of
    :func:`~..operators.dedup.semantic_dedup_incremental`: each
    microbatch of newly-embedded vectors runs batch-vs-corpus SemDeDup
    (``foreachBatch``, exactly-once per sink contract); the sink
    receives (vec_id, cid, keep) per batch row and owns appending the
    kept rows to the corpus/index between epochs (the same maintenance
    contract as ``append_to_ivf_index``) — corpus×corpus work never
    re-runs inside the loop.

    ``corpus_source`` is a zero-arg CALLABLE returning the current
    corpus DataFrame; it is re-invoked at every epoch so the comparison
    set reflects the rows the sink appended between microbatches — a
    launch-time DataFrame snapshot would let vectors duplicating
    earlier-epoch kept rows pass dedup forever (with a parquet corpus,
    return a fresh ``spark.read.parquet(path)`` so the file listing is
    re-resolved too). Passing a plain DataFrame is still accepted for a
    genuinely static corpus, and is cached for the run; the cache is
    unpersisted when the stream terminates (``awaitTermination`` /
    ``stop``) via a listener, never leaked."""
    from ..operators.dedup import semantic_dedup_incremental

    static_corpus: DataFrame | None = None
    if not callable(corpus_source):
        static_corpus = corpus_source.cache()

    def resolve_corpus() -> DataFrame:
        if static_corpus is not None:
            return static_corpus
        return corpus_source()

    def score_batch(batch: DataFrame, epoch_id: int) -> None:
        out = semantic_dedup_incremental(
            resolve_corpus(), batch, centroids_q,
            threshold_num=threshold_num, threshold_den=threshold_den,
        )
        if sink is not None:
            sink(out, epoch_id)

    writer = batch_stream.writeStream.foreachBatch(score_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    query = writer.start()

    if static_corpus is not None:
        spark = static_corpus.sparkSession

        class _Unpersist(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                if event.id == query.id:
                    try:
                        static_corpus.unpersist()
                    finally:
                        spark.streams.removeListener(self)

        spark.streams.addListener(_Unpersist())
    return query
