#!/usr/bin/env python
"""Tuning curves for the approximation knobs (round 8).

The registered evaluation queries measure ONE operating point each
(`ann_recall_eval` at nprobe=4, `dedup_recall_eval` at 8 hashes /
4 bands, the staged `quantized_recall_eval` at m=8). A deployment
tunes by sweeping the knob against exactly these measurements — this
script produces THREE curves in one artifact (`ivf_nprobe`,
`lsh_bands`, `pq_m`):

- **IVF nprobe curve**: mean recall@10 over the 32 held-out queries
  (16 ≤ vec_id < 48) for nprobe ∈ {1, 2, 4, 8, 16} against the exact
  expression kNN — nprobe=16 probes every centroid, so its recall is
  1.0 by construction (a built-in sanity row: the IVF tier restricted
  to ALL partitions IS exact search).
- **MinHash-LSH bands curve**: pair recall vs the exhaustive
  shingle-blocked Jaccard ground truth (τ=0.5) for bands ∈ {1, 2, 4, 8}
  at 8 minhashes (rows/band = 8/bands). More bands → more candidate
  buckets → higher recall at higher candidate volume; precision stays
  1.0 because the banded pipeline re-verifies true Jaccard.
- **PQ subspace-count curve**: mean recall@10 for m ∈ {4, 8, 16}
  (code bytes/vector = m) via the ADC ≡ L2-to-reconstruction identity.

Writes RECALL_CURVE.json at the repo root and prints one JSON line.

Usage: python scripts/recall_curve.py  [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.session import (
    get_spark,
)

BASE_DEFAULT = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = 10


def ivf_curve(spark, sf_dir: str) -> list[dict]:
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        ivf_search_batch,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ANN_EVAL_Q_HI,
        ANN_EVAL_Q_LO,
        _ivf_layout,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
        load_table,
    )

    path, centroids = _ivf_layout(spark, sf_dir)
    layout = spark.read.parquet(path)
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(
            (F.col("vec_id") >= ANN_EVAL_Q_LO)
            & (F.col("vec_id") < ANN_EVAL_Q_HI)
        )
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    qdf = spark.createDataFrame(
        queries, "query_id long, embedding array<double>"
    )
    exact = (
        knn_join(emb, qdf, k=K, metric="l2", exclude_self=True)
        .select("query_id", "vec_id")
        .cache()
    )
    n_q = len(queries)
    exact.count()  # materialize once; every nprobe point reuses it

    rows = []
    for nprobe in (1, 2, 4, 8, 16):
        approx = ivf_search_batch(
            layout, centroids, queries, k=K, nprobe=nprobe, exclude_self=True
        ).select("query_id", "vec_id")
        hits = approx.join(exact, ["query_id", "vec_id"]).count()
        rows.append(
            {
                "nprobe": nprobe,
                "mean_recall": round(hits / (n_q * K), 4),
                "scan_fraction": round(nprobe / len(centroids), 4),
            }
        )
        print(f"# ivf nprobe={nprobe}: recall={rows[-1]['mean_recall']}",
              file=sys.stderr)
    exact.unpersist()
    return rows


def pq_m_curve(spark, sf_dir: str) -> list[dict]:
    """Mean recall@10 vs the PQ subspace count m ∈ {4, 8, 16} (16
    codewords per subspace from the same 16 training rows). Uses the
    ADC ≡ L2-to-reconstruction identity: each point is the exact kNN
    join over the reconstructed-vector expression (the staged
    quantized_recall_eval machinery), so no new operator is involved —
    this sweeps the code-size/recall trade the PQ tier ships with
    (bytes/vector = m)."""
    from pyspark.sql import functions as F

    from the_build_project_image_retrieval_with_vector_databases_spark.functions.vector import (
        array_lit,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        pq_encode,
        slice_codebooks,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ANN_EVAL_Q_HI,
        ANN_EVAL_Q_LO,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    train = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    qrows = (
        emb.filter(
            (F.col("vec_id") >= ANN_EVAL_Q_LO)
            & (F.col("vec_id") < ANN_EVAL_Q_HI)
        )
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    qdf = spark.createDataFrame(
        queries, "query_id long, embedding array<double>"
    )
    exact = (
        knn_join(emb, qdf, k=K, metric="l2", exclude_self=True)
        .select("query_id", "vec_id")
        .cache()
    )
    exact.count()
    n_q = len(queries)

    rows = []
    for m in (4, 8, 16):
        codebooks = slice_codebooks(train, m)
        recon = F.concat(
            *[
                F.element_at(
                    array_lit(codebooks[j], "array<array<double>>"),
                    F.col(f"code_{j}") + 1,
                )
                for j in range(m)
            ]
        )
        corpus = pq_encode(emb, codebooks).select(
            "vec_id", recon.alias("embedding")
        )
        approx = knn_join(
            corpus, qdf, k=K, metric="l2", exclude_self=True
        ).select("query_id", "vec_id")
        hits = approx.join(exact, ["query_id", "vec_id"]).count()
        rows.append(
            {
                "m": m,
                "code_bytes_per_vector": m,
                "mean_recall": round(hits / (n_q * K), 4),
            }
        )
        print(f"# pq m={m}: recall={rows[-1]['mean_recall']}",
              file=sys.stderr)
    exact.unpersist()
    return rows


def lsh_curve(spark, sf_dir: str) -> list[dict]:
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        dedup as D,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    exact = (
        D.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
        .select("left_id", "right_id")
        .cache()
    )
    n_exact = exact.count()

    rows = []
    for bands in (1, 2, 4, 8):
        handles: list = []
        lsh = D.minhash_lsh_pairs(
            docs, n=3, num_hashes=8, bands=bands, threshold=0.5,
            cache_handles=handles, pinned=D.pins_for(sf_dir),
        ).select("left_id", "right_id")
        n_hit = lsh.join(exact, ["left_id", "right_id"]).count()
        n_lsh = lsh.count()
        for h in handles:
            h.unpersist()
        rows.append(
            {
                "bands": bands,
                "rows_per_band": 8 // bands,
                "n_exact": n_exact,
                "n_candidates_verified": n_lsh,
                "recall": round(n_hit / max(n_exact, 1), 4),
            }
        )
        print(f"# lsh bands={bands}: recall={rows[-1]['recall']}",
              file=sys.stderr)
    exact.unpersist()
    return rows


def bq_curve(spark, sf_dir: str) -> list[dict]:
    """Mean recall@10 of the BQ tier vs the Hamming-shortlist
    overfetch factor ov ∈ {1, 4, 16} — BOTH raw (take Hamming top-10
    directly) and the production shape (Hamming top-(10·ov) shortlist
    → exact float rescore → top-10). Same 32 held-out queries and the
    same exact-kNN ground truth as the other curves. This is the third
    axis of the BQ story: INDEX_FOOTPRINT has bytes (0.07× flat),
    SERVE_LATENCY `bq_tier` has the rate-loop answer, this prices the
    sign-quantization recall and how fast rescoring buys it back."""
    from pyspark.sql import functions as F

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join,
        knn_join_arrow_hamming,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_train_thresholds,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ANN_EVAL_Q_HI,
        ANN_EVAL_Q_LO,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    train = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    thr = bq_train_thresholds(train)
    halves = bq_encode_cols(thr, len(train))
    names = [f"bq_h{i}" for i in range(len(halves))]
    codes = emb.select(
        "vec_id", *[c.alias(n) for n, c in zip(names, halves)]
    ).cache()
    codes.count()

    qrows = (
        emb.filter(
            (F.col("vec_id") >= ANN_EVAL_Q_LO)
            & (F.col("vec_id") < ANN_EVAL_Q_HI)
        )
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    qcodes = [bq_encode_query(v, thr, len(train)) for _, v in queries]
    qdf = spark.createDataFrame(
        queries, "query_id long, embedding array<double>"
    )
    exact_rows = (
        knn_join(emb, qdf, k=K, metric="l2", exclude_self=True)
        .select("query_id", "vec_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in exact_rows:
        truth.setdefault(int(r.query_id), set()).add(int(r.vec_id))
    n_q = len(queries)

    rows = []
    for ov in (1, 4, 16):
        short = knn_join_arrow_hamming(
            codes,
            [q for q, _ in queries],
            qcodes,
            k=K * ov + 1,  # +1 absorbs the self row (hamming 0)
            code_cols=tuple(names),
        ).filter(F.col("query_id") != F.col("vec_id"))

        # raw: Hamming order is the final order (only meaningful at ov=1)
        raw_hits = None
        if ov == 1:
            raw = short.filter(F.col("rank") <= K + 1).collect()
            by_q: dict[int, list] = {}
            for r in raw:
                by_q.setdefault(int(r.query_id), []).append(
                    (int(r.rank), int(r.vec_id))
                )
            raw_hits = sum(
                len({v for _, v in sorted(hits)[:K]} & truth[q])
                for q, hits in by_q.items()
            )

        # production shape: exact float rescore of the shortlist
        resc = (
            short.join(
                emb.select(
                    F.col("vec_id"), F.col("embedding").alias("__cv")
                ),
                "vec_id",
            )
            .join(
                qdf.select(
                    F.col("query_id"), F.col("embedding").alias("__qv")
                ),
                "query_id",
            )
            .withColumn(
                "__d2",
                F.aggregate(
                    F.zip_with(
                        F.col("__cv").cast("array<double>"),
                        F.col("__qv"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.col("__d2").asc(), F.col("vec_id").asc()
        )
        top = (
            resc.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= K)
            .select("query_id", "vec_id")
            .collect()
        )
        hits = sum(1 for r in top if int(r.vec_id) in truth[int(r.query_id)])
        row = {
            "overfetch": ov,
            "shortlist": K * ov,
            "mean_recall_rescored": round(hits / (n_q * K), 4),
        }
        if raw_hits is not None:
            row["mean_recall_raw_hamming"] = round(raw_hits / (n_q * K), 4)
        rows.append(row)
    codes.unpersist()
    return rows


def bq_ivf_curve(spark, sf_dir: str) -> list[dict]:
    """Mean recall@10 of the COMPOSED BQ×IVF serving tier vs nprobe —
    raw Hamming rank WITHIN probed lists, exactly what
    ``serve_loop_rate_bq_ivf`` serves (no rescore stage), against the
    same exact-kNN ground truth as the other curves. Recorded so a
    deployment prices the composition DIRECTLY instead of assuming the
    two component curves (ivf_nprobe × bq raw-Hamming) multiply
    independently: at nprobe=16 (probe everything) the row collapses
    to the pure-BQ raw-Hamming point by construction — a built-in
    sanity anchor, like ivf_curve's nprobe=16 row."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        nearest_centroids,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join,
        knn_join_arrow_hamming_ivf,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_train_thresholds,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ANN_EVAL_Q_HI,
        ANN_EVAL_Q_LO,
        _ivf_layout,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
        load_table,
    )

    path, centroids = _ivf_layout(spark, sf_dir)
    layout = spark.read.parquet(path)
    emb = load_table(spark, sf_dir, "embeddings")
    train = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    thr = bq_train_thresholds(train)
    halves = bq_encode_cols(thr, len(train))
    names = [f"bq_h{i}" for i in range(len(halves))]
    codes = layout.select(
        "vec_id", "centroid", *[c.alias(n) for n, c in zip(names, halves)]
    ).cache()
    codes.count()

    qrows = (
        emb.filter(
            (F.col("vec_id") >= ANN_EVAL_Q_LO)
            & (F.col("vec_id") < ANN_EVAL_Q_HI)
        )
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    qcodes = [bq_encode_query(v, thr, len(train)) for _, v in queries]
    qdf = spark.createDataFrame(
        queries, "query_id long, embedding array<double>"
    )
    exact_rows = (
        knn_join(emb, qdf, k=K, metric="l2", exclude_self=True)
        .select("query_id", "vec_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in exact_rows:
        truth.setdefault(int(r.query_id), set()).add(int(r.vec_id))
    n_q = len(queries)

    rows = []
    for nprobe in (1, 2, 4, 8, 16):
        probes = [nearest_centroids(centroids, v, nprobe) for _, v in queries]
        got = (
            knn_join_arrow_hamming_ivf(
                codes,
                [q for q, _ in queries],
                qcodes,
                probes,
                k=K + 1,  # +1 absorbs the self row (hamming 0)
                code_cols=tuple(names),
            )
            .filter(F.col("query_id") != F.col("vec_id"))
            .collect()
        )
        by_q: dict[int, list] = {}
        for r in got:
            by_q.setdefault(int(r.query_id), []).append(
                (int(r.hamming), int(r.vec_id))
            )
        hits = sum(
            len({v for _, v in sorted(cand)[:K]} & truth[q])
            for q, cand in by_q.items()
        )
        rows.append(
            {
                "nprobe": nprobe,
                "scan_fraction": round(nprobe / len(centroids), 4),
                "mean_recall_raw_hamming": round(hits / (n_q * K), 4),
            }
        )
        print(
            f"# bq_ivf nprobe={nprobe}: "
            f"recall={rows[-1]['mean_recall_raw_hamming']}",
            file=sys.stderr,
        )
    codes.unpersist()
    return rows


def bq_ivf_rescored_curve(spark, sf_dir: str) -> list[dict]:
    """Mean recall@10 of the PRODUCTION composed tier (r14):
    Hamming shortlist at k·overfetch WITHIN probed lists → exact float
    rescore of the shortlist — exactly what
    ``serve_loop_rate_bq_ivf(rescore_overfetch=...)`` serves. The grid
    prices BOTH knobs (nprobe × overfetch) so a deployment reads its
    operating point directly: the raw-Hamming ``bq_ivf`` rows are the
    overfetch→1 floor, and at nprobe=16/overfetch→∞ the row collapses
    to exact search by construction."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        nearest_centroids,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join,
        knn_join_arrow_hamming_ivf_rescored,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_train_thresholds,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ANN_EVAL_Q_HI,
        ANN_EVAL_Q_LO,
        _ivf_layout,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.tables import (
        load_table,
    )

    path, centroids = _ivf_layout(spark, sf_dir)
    layout = spark.read.parquet(path)
    emb = load_table(spark, sf_dir, "embeddings")
    train = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    thr = bq_train_thresholds(train)
    halves = bq_encode_cols(thr, len(train))
    names = [f"bq_h{i}" for i in range(len(halves))]
    codes = layout.select(
        "vec_id", "centroid", *[c.alias(n) for n, c in zip(names, halves)]
    ).cache()
    codes.count()

    qrows = (
        emb.filter(
            (F.col("vec_id") >= ANN_EVAL_Q_LO)
            & (F.col("vec_id") < ANN_EVAL_Q_HI)
        )
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    qcodes = [bq_encode_query(v, thr, len(train)) for _, v in queries]
    qdf = spark.createDataFrame(
        queries, "query_id long, embedding array<double>"
    )
    exact_rows = (
        knn_join(emb, qdf, k=K, metric="l2", exclude_self=True)
        .select("query_id", "vec_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in exact_rows:
        truth.setdefault(int(r.query_id), set()).add(int(r.vec_id))
    n_q = len(queries)

    rows = []
    for nprobe in (4, 8):
        probes = [nearest_centroids(centroids, v, nprobe) for _, v in queries]
        for ov in (4, 8, 16):
            got = (
                knn_join_arrow_hamming_ivf_rescored(
                    codes,
                    layout,
                    [q for q, _ in queries],
                    [v for _, v in queries],
                    qcodes,
                    probes,
                    k=K + 1,  # +1 absorbs the self row (dist 0)
                    overfetch=ov,
                    code_cols=tuple(names),
                )
                .filter(F.col("query_id") != F.col("vec_id"))
                .collect()
            )
            by_q: dict[int, list] = {}
            for r in got:
                by_q.setdefault(int(r.query_id), []).append(
                    (int(r.rank), int(r.vec_id))
                )
            hits = sum(
                len({v for _, v in sorted(cand)[:K]} & truth[q])
                for q, cand in by_q.items()
            )
            rows.append(
                {
                    "nprobe": nprobe,
                    "overfetch": ov,
                    "shortlist": (K + 1) * ov,
                    "scan_fraction": round(nprobe / len(centroids), 4),
                    "mean_recall_rescored": round(hits / (n_q * K), 4),
                }
            )
            print(
                f"# bq_ivf_rescored nprobe={nprobe} ov={ov}: "
                f"recall={rows[-1]['mean_recall_rescored']}",
                file=sys.stderr,
            )
    codes.unpersist()
    return rows


def main() -> None:
    argv = sys.argv[1:]
    only_bq_ivf = "--bq-ivf" in argv
    only_rescored = "--bq-ivf-rescored" in argv
    argv = [a for a in argv if a not in ("--bq-ivf", "--bq-ivf-rescored")]
    sf_dir = argv[0] if argv else BASE_DEFAULT
    spark = get_spark(app_name="recall-curve")
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "RECALL_CURVE.json")
    if only_bq_ivf or only_rescored:
        # incremental: merge the composed-tier curve into the artifact
        out = {}
        if os.path.exists(out_path):
            with open(out_path) as f:
                out = json.load(f)
        out.setdefault("metric", "recall_curves")
        out.setdefault("sf_dir", sf_dir)
        out.setdefault("k", K)
        if only_bq_ivf:
            out["bq_ivf"] = bq_ivf_curve(spark, sf_dir)
        if only_rescored:
            out["bq_ivf_rescored"] = bq_ivf_rescored_curve(spark, sf_dir)
    else:
        out = {
            "metric": "recall_curves",
            "sf_dir": sf_dir,
            "k": K,
            "ivf_nprobe": ivf_curve(spark, sf_dir),
            "lsh_bands": lsh_curve(spark, sf_dir),
            "pq_m": pq_m_curve(spark, sf_dir),
            "bq_overfetch": bq_curve(spark, sf_dir),
            "bq_ivf": bq_ivf_curve(spark, sf_dir),
            "bq_ivf_rescored": bq_ivf_rescored_curve(spark, sf_dir),
        }
    line = json.dumps(out)
    print(line)
    with open(out_path, "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
