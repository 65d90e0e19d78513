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
      → optional IVF: exact quantized k-means (``kmeans_train_exact``)
        and nearest-centroid assignment
      → single partitioned-Parquet sink (replaces index + both sidecars)

At 100 TB: the embed stage is embarrassingly parallel (no shuffle); the
only shuffles are the sample's per-stratum rank and the final id window —
both keyed well. The write is partitioned by centroid so later searches
partition-prune, one parquet file per inverted list
(``operators.ann.write_lists``).

A small IVF build written to the local file system runs the steps after
the sample in the driver instead, as the reference's
``faiss.IndexIVFFlat.train`` + ``add`` run in one process: one
``toArrow()`` job (the sample's window is not a bare scan that
``sources.tables.collect_arrow`` could read itself) collects the
sampled, normalized rows and their quantized vectors, and numpy assigns
the ids, trains, assigns the lists and hands them to the IVF driver
writer. Both paths write the same layout, row for row and bit for bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, LongType, StructField, StructType

from ..functions.vector import l2_normalize
from ..operators import ann, knn
from ..operators.sample import stratified_sample
from ..sources.tables import collect_arrow, local_frame


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
    """Run the build; returns the final DataFrame. With ``out_path`` the
    index is written there and the returned frame reads it back, so the
    sidecar writers scan the written files instead of re-running the
    sample and id lineage.

    ``per_class`` mirrors ``NUM_PER_CLASS=20`` (``precompute.sh:12``);
    exact-k seeded semantics of SA1 (``utils/precompute_features.py:152-159``).
    ``seed`` seeds the sample only: the IVF trainer
    (``ann.kmeans_train_exact``, ``ivf_k`` lists, 20 Lloyd rounds) starts
    from the ``ivf_k`` lowest ``id_col`` vectors and has no randomness.

    An IVF build with ``out_path`` runs in the driver
    (:func:`_build_lists_driver`) when the input relation is within the
    kNN driver-path byte bound, ``out_path`` is on the ``file`` file
    system and the sampled rows are driver-writable and clean; otherwise
    every step is a Spark job, with the same layout."""
    max_iter = 20
    sampled = stratified_sample(df, strata_col, per_class, id_col, seed)
    normalized = sampled.withColumn(
        vec_col, l2_normalize(vec_col).cast("array<float>")
    )
    spark = df.sparkSession
    if ivf_k > 0 and out_path and _build_lists_driver(
        df, normalized, out_path, ivf_k, max_iter, strata_col, id_col, vec_col
    ):
        return spark.read.parquet(out_path)

    # positional identity: assigned once, stable under any later
    # repartitioning (never monotonically_increasing_id). A single global
    # row_number window would funnel everything through one partition, so
    # ids are built as per-stratum rank + driver-computed stratum offsets
    # (the offset table is |labels| rows — trivially broadcastable).
    counts = (
        normalized.groupBy(strata_col).agg(F.count("*").alias("__n")).collect()
    )
    if any(r[strata_col] is None for r in counts):
        raise ValueError(f"build_index: stratum column {strata_col!r} holds a null")
    counts.sort(key=lambda r: r[strata_col])
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r[strata_col], acc))
        acc += r["__n"]
    off_df = F.broadcast(
        local_frame(spark, offsets, f"{strata_col} int, __offset long")
    )
    per_stratum = Window.partitionBy(strata_col).orderBy(F.col(id_col).asc())
    indexed = (
        normalized.withColumn("__rn", F.row_number().over(per_stratum) - 1)
        .join(off_df, strata_col)
        .withColumn("row_id", (F.col("__rn") + F.col("__offset")).cast("long"))
        .drop("__rn", "__offset")
    )

    if ivf_k > 0:
        cents, _ = ann.kmeans_train_exact(
            indexed, k=ivf_k, max_iter=max_iter, vec_col=vec_col, id_col=id_col
        )
        indexed = ann.assign_centroids(indexed, cents, vec_col)
    if not out_path:
        return indexed
    if ivf_k > 0:
        ann.write_lists(indexed, out_path)
    else:
        indexed.write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path)


def _build_lists_driver(
    df: DataFrame,
    normalized: DataFrame,
    path: str,
    k: int,
    max_iter: int,
    strata_col: str,
    id_col: str,
    vec_col: str,
) -> bool:
    """The driver path of an IVF :func:`build_index`: one ``toArrow()``
    job collects ``normalized`` (the sampled, normalized rows: a sample
    window, never a bare scan that ``sources.tables.collect_arrow``
    reads itself) with each vector's ``ann.quantize_vec``, so the
    quantization stays the pinned Spark expression. Then, in numpy:

    - ``row_id`` is the rank in a ``lexsort`` on (stratum, id), which is
      the Spark path's per-stratum ``row_number`` plus its stratum offsets;
    - the centroids are ``ann._kmeans_train_driver``'s Lloyd loop, the
      loop ``kmeans_train_exact`` runs on the same (id, quantized vector)
      pairs below its byte bound, and its rounds give the same integers
      above it;
    - each row's list is ``ann._assign_driver``'s, the doubles and the
      first-minimum tie rule of ``ann.assign_centroids``;

    and ``ann._write_list_files`` replaces ``path`` with one parquet file
    per list, ``_SUCCESS`` last. The columns are the Spark path's, in its
    order: the stratum first (the key of its offset join), the rest of
    ``normalized``, ``row_id``.

    Returns False, having written nothing, where the Spark path must
    answer: the input relation past ``knn.ARROW_DRIVER_MAX_BYTES`` or of
    unknown size, a ``path`` off the ``file`` file system, a column type
    the driver writer does not write, a non-integral stratum or id, a
    ``row_id`` or ``centroid`` column already there, no rows, a null
    anywhere, a vector whose length differs from the first's or a NaN.
    The vector's length D is known only after the collect, so the
    collected n·k is checked against ``knn.ARROW_DRIVER_MAX_PAIRS`` and
    n·D·8 against ``ann.KMEANS_DRIVER_TRAIN_MAX_BYTES`` then; a miss
    there also hands the build to Spark."""
    import pyarrow as pa

    types = {f.name: f.dataType for f in normalized.schema.fields}
    if (
        {"row_id", "centroid", "__qv"} & set(types)
        or not isinstance(types.get(strata_col), IntegralType)
        or not isinstance(types.get(id_col), IntegralType)
    ):
        return False
    local = ann._driver_dir(normalized, path, vec_col)
    # dim 1 and no queries: only the byte bound is read before the collect
    if local is None or knn._fits_driver(df, 0, 1) is None:
        return False
    table = collect_arrow(
        normalized.select("*", ann.quantize_vec(vec_col).alias("__qv"))
    )
    x = ann._driver_vectors(table, vec_col)
    if (
        x is None
        or not len(x)
        or np.isnan(x).any()
        or len(x) * k > knn.ARROW_DRIVER_MAX_PAIRS
        or x.size * 8 > ann.KMEANS_DRIVER_TRAIN_MAX_BYTES
    ):
        return False
    qv = table.column("__qv").combine_chunks().flatten().to_numpy()
    ids = table.column(id_col).to_numpy()
    strata = table.column(strata_col).to_numpy()
    row_id = np.empty(len(x), dtype=np.int64)
    row_id[np.lexsort((ids, strata))] = np.arange(len(x))
    cents, _ = ann._kmeans_train_driver(
        ids, qv.reshape(x.shape), k, max_iter, ann.KMEANS_SCALE
    )
    lists = ann._assign_driver(x, np.asarray(cents, dtype=np.float64))
    if lists is None:
        return False
    cols = [strata_col] + [c for c in normalized.columns if c != strata_col]
    schema = StructType(
        [normalized.schema[c] for c in cols]
        + [StructField("row_id", LongType(), False)]
    )
    table = table.append_column("row_id", pa.array(row_id))
    ann._write_list_files(
        df.sparkSession, path, local, table, schema, lists, overwrite=True
    )
    return True


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
