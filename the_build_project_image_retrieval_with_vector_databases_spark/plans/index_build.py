"""The batch index-build pipeline — the reference's ``precompute.sh`` →
``utils/precompute_features.py:main()`` dataflow (SURVEY §3.2), Spark-first.

Reference DAG:  manifest scan → group by label → seeded stratified sample
→ per-row [resolve → decode → embed] (sequential, batch=1 — the scaling
bottleneck) → (N,D) matrix → suffix-match label join → 3 sinks (JSON
metadata + FAISS index + pickle map).

Engine DAG (one lazy chain, one columnar sink):

    table/manifest → stratified_sample (exact-k, deterministic)
      → embed (Arrow-batched mapInPandas, model loaded once per task)
      → l2_normalize (Catalyst expr)
      → id assignment (row_number over a stable key — positional identity
        materialized ONCE, SURVEY §4.3.4)
      → optional IVF centroid assignment
      → single partitioned-Parquet sink (replaces index + both sidecars)

At 100 TB: the embed stage is embarrassingly parallel (no shuffle); the
only shuffles are the sample's per-stratum rank and the final id window —
both keyed well. The write is partitioned by centroid so later searches
partition-prune, one parquet file per inverted list
(``operators.ann.write_lists``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import l2_normalize
from ..operators.sample import stratified_sample
from ..sources.tables import local_frame


def build_index(
    df: DataFrame,
    out_path: str | None = None,
    per_class: int = 20,
    strata_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_k: int = 0,
    seed: int = 42,
) -> DataFrame:
    """Run the build; returns the final DataFrame (written if ``out_path``).

    ``per_class`` mirrors ``NUM_PER_CLASS=20`` (``precompute.sh:12``);
    exact-k seeded semantics of SA1 (``utils/precompute_features.py:152-159``).
    """
    sampled = stratified_sample(df, strata_col, per_class, id_col, seed)
    normalized = sampled.withColumn(
        vec_col, l2_normalize(vec_col).cast("array<float>")
    )
    # positional identity: assigned once, stable under any later
    # repartitioning (never monotonically_increasing_id). A single global
    # row_number window would funnel everything through one partition, so
    # ids are built as per-stratum rank + driver-computed stratum offsets
    # (the offset table is |labels| rows — trivially broadcastable).
    counts = (
        normalized.groupBy(strata_col).agg(F.count("*").alias("__n")).collect()
    )
    counts.sort(key=lambda r: r[strata_col])
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r[strata_col], acc))
        acc += r["__n"]
    off_df = F.broadcast(
        local_frame(
            normalized.sparkSession, offsets, f"{strata_col} int, __offset long"
        )
    )
    per_stratum = Window.partitionBy(strata_col).orderBy(F.col(id_col).asc())
    indexed = (
        normalized.withColumn("__rn", F.row_number().over(per_stratum) - 1)
        .join(off_df, strata_col)
        .withColumn("row_id", (F.col("__rn") + F.col("__offset")).cast("long"))
        .drop("__rn", "__offset")
    )

    if ivf_k > 0:
        from ..operators.ann import assign_centroids, train_centroids, write_lists

        cents = train_centroids(indexed, k=ivf_k, vec_col=vec_col, seed=seed)
        indexed = assign_centroids(indexed, cents, vec_col)
        if out_path:
            write_lists(indexed, out_path)
        return indexed

    if out_path:
        indexed.write.mode("overwrite").parquet(out_path)
    return indexed


def write_metadata_json(
    indexed: DataFrame, path: str, vec_col: str = "embedding"
) -> None:
    """S7 sidecar parity: the reference's JSON metadata file
    (``utils/precompute_features.py:211-213`` — one
    ``{path,label,category}`` record per indexed row). Here: the
    non-vector columns of the index table as JSON lines — a distributed
    write, no driver materialization (``json.dump`` of the whole corpus
    on one node is exactly what dies at 100 TB)."""
    indexed.drop(vec_col).write.mode("overwrite").json(path)


def write_vector_map(
    indexed: DataFrame,
    path: str,
    key_col: str = "row_id",
    vec_col: str = "embedding",
) -> None:
    """S8 sidecar parity: the reference's pickled ``{path: feature}`` map
    (``utils/precompute_features.py:221-224``). Here: a two-column
    (key, vector) parquet table — columnar, splittable, predicate-pushable;
    a pickle blob is a single-node artifact with none of those."""
    indexed.select(key_col, vec_col).write.mode("overwrite").parquet(path)
