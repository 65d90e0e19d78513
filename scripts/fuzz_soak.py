#!/usr/bin/env python
"""Extended cross-engine fuzz soak — the hypothesis panels in
tests/test_fuzz_oracle.py run 2-4 derandomized examples per suite pass;
this driver sweeps MANY seeds over the same generators, panels, and
driver-faithful compare, for use as an idle-box background soak.

Usage:  python scripts/fuzz_soak.py [first_seed] [n_seeds]
Prints one line per (seed, panel) and a final summary; nonzero exit on
any divergence.
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)

from tests.test_fuzz_oracle import (  # noqa: E402
    DOC_QUERIES,
    EMB_INDEX_QUERIES,
    EMB_QUERIES,
    EMB_SERVE_QUERIES,
    EVENT_FUZZ_QUERIES,
    REL_QUERIES,
    _cleanup_layouts,
    _gen_documents,
    _gen_embeddings,
    _gen_ppm_tree,
    _gen_relational,
    _oracle_generated_ppm,
    _run_panel,
)

from the_build_project_image_retrieval_with_vector_databases_spark.session import (  # noqa: E402
    get_spark,
)

from tests.oracle_harness import compare  # noqa: E402


def _staged_pairs():
    """(name, query_fn, oracle_sql) per panel for the registered queries
    whose generated-corpus constraints differ from the generic panel
    ranges, so the many-seed soak covers them with the shared corpus
    too. The oracle slot may be a callable(dir) -> sql for
    corpus-sized oracles (leakage_safe_split re-derives its LSH plane
    count from the generated corpus's footer row count, like
    lsh_near_dup)."""
    from tests.test_oracle_parity import _sized_oracles
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ORACLE_SEMANTIC_DECONTAMINATE,
        q_semantic_decontaminate,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        ORACLE_DSIR_IMPORTANCE,
        ORACLE_PERPLEXITY_BUCKETS,
        _oracle_exact_substring_dedup,
        _oracle_leakage_safe_split,
        _oracle_length_bucket_batches,
        _oracle_ngram_novelty_score,
        _oracle_source_overlap_matrix,
        _oracle_unimax_mix,
        q_dsir_importance,
        q_exact_substring_dedup,
        q_leakage_safe_split,
        q_length_bucket_batches,
        q_ngram_novelty_score,
        q_perplexity_buckets,
        q_source_overlap_matrix,
        q_unimax_mix,
    )

    return {
        "docs": [
            ("dsir_importance", q_dsir_importance, ORACLE_DSIR_IMPORTANCE),
            ("perplexity_buckets", q_perplexity_buckets, ORACLE_PERPLEXITY_BUCKETS),
            ("unimax_mix", q_unimax_mix, _oracle_unimax_mix()),
            ("length_bucket_batches", q_length_bucket_batches,
             _oracle_length_bucket_batches()),
            ("leakage_safe_split", q_leakage_safe_split,
             lambda d: _sized_oracles(d).get(
                 "leakage_safe_split", _oracle_leakage_safe_split())),
            ("source_overlap_matrix", q_source_overlap_matrix,
             _oracle_source_overlap_matrix()),
            ("ngram_novelty_score", q_ngram_novelty_score,
             _oracle_ngram_novelty_score()),
            ("exact_substring_dedup", q_exact_substring_dedup,
             _oracle_exact_substring_dedup()),
        ],
        "emb": [
            ("semantic_decontaminate", q_semantic_decontaminate,
             ORACLE_SEMANTIC_DECONTAMINATE),
        ],
        "rel": [],
        "serve": [],
        "idx": [],
    }


def main() -> int:
    first = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark(app_name="fuzz-soak")
    failures: list[str] = []
    for seed in range(first, first + n):
        rng = np.random.default_rng(seed)
        n_docs = int(rng.integers(3, 61))
        n_vecs = int(rng.integers(20, 49))
        n_cust = int(rng.integers(25, 121))
        n_orders = int(rng.integers(10, 201))
        n_vecs_srv = int(rng.integers(66, 91))
        n_vecs_idx = int(rng.integers(66, 97))
        n_imgs = int(rng.integers(4, 25))
        for panel, names, write in [
            ("docs", DOC_QUERIES,
             lambda d: pq.write_table(_gen_documents(rng, n_docs),
                                      os.path.join(d, "documents.parquet"))),
            ("emb", EMB_QUERIES,
             lambda d: pq.write_table(_gen_embeddings(rng, n_vecs),
                                      os.path.join(d, "embeddings.parquet"))),
            ("serve", EMB_SERVE_QUERIES,
             lambda d: pq.write_table(_gen_embeddings(rng, n_vecs_srv),
                                      os.path.join(d, "embeddings.parquet"))),
            ("idx", EMB_INDEX_QUERIES,
             lambda d: pq.write_table(_gen_embeddings(rng, n_vecs_idx),
                                      os.path.join(d, "embeddings.parquet"))),
            ("rel", REL_QUERIES + EVENT_FUZZ_QUERIES,
             lambda d: [pq.write_table(t, os.path.join(d, f"{k}.parquet"))
                        for k, t in _gen_relational(rng, n_cust, n_orders).items()]),
        ]:
            with tempfile.TemporaryDirectory(prefix=f"soak_{seed}_{panel}_") as d:
                write(d)
                try:
                    _run_panel(spark, d, names)
                    for sname, qfn, osql in _staged_pairs()[panel]:
                        osql_s = osql(d) if callable(osql) else osql
                        ok, msg = compare(qfn(spark, d), osql_s, d, sname)
                        assert ok, f"staged {msg}"
                    print(f"seed={seed} panel={panel}: OK", flush=True)
                except AssertionError as exc:
                    failures.append(f"seed={seed} panel={panel}: {exc}")
                    print(failures[-1], flush=True)
                finally:
                    if panel == "idx":
                        _cleanup_layouts(d)
        # generated-image panel (own compare — not a registry table)
        with tempfile.TemporaryDirectory(prefix=f"soak_{seed}_img_") as d:
            _gen_ppm_tree(rng, d, n_imgs)
            from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
                _decode_rows_query,
            )

            df = _decode_rows_query(spark, d, "*.ppm", with_md5=False)
            ok, msg = compare(df, _oracle_generated_ppm(d), d, "image_decode_gen")
            if ok:
                print(f"seed={seed} panel=img: OK", flush=True)
            else:
                failures.append(f"seed={seed} panel=img: {msg}")
                print(failures[-1], flush=True)
        # generated-JPEG panel: the REAL Huffman+IDCT decode over fresh
        # rasters vs the registry oracle re-rooted (r13 — closes the
        # fixture-only blind spot on image_decode_jpeg)
        with tempfile.TemporaryDirectory(prefix=f"soak_{seed}_jpg_") as d:
            from tests.test_fuzz_oracle import _gen_jpeg_tree
            from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
                JPEG_ROOT,
                ORACLE_IMAGE_DECODE_JPEG,
            )

            _gen_jpeg_tree(rng, d)
            df = _decode_rows_query(spark, d, "*.jpg", with_md5=True)
            ok, msg = compare(
                df,
                ORACLE_IMAGE_DECODE_JPEG.replace(JPEG_ROOT, d),
                d,
                "image_decode_jpeg_gen",
            )
            if ok:
                print(f"seed={seed} panel=jpg: OK", flush=True)
            else:
                failures.append(f"seed={seed} panel=jpg: {msg}")
                print(failures[-1], flush=True)
        # FLAGSHIP end-to-end panel: scan → decode → integer embed →
        # exact-int64 cosine kNN over generated P6 rasters vs the full
        # raster-bytes-to-ranks oracle (r13 — the last composed surface)
        with tempfile.TemporaryDirectory(prefix=f"soak_{seed}_iknn_") as d:
            from tests.test_fuzz_oracle import _gen_ppm_p6_tree
            from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
                _oracle_image_knn_pipeline,
                q_image_knn_pipeline,
            )

            _gen_ppm_p6_tree(rng, d, n_imgs=int(rng.integers(3, 9)))
            ok, msg = compare(
                q_image_knn_pipeline(spark, d, root=d),
                _oracle_image_knn_pipeline(root=d),
                d,
                "image_knn_pipeline_gen",
            )
            if ok:
                print(f"seed={seed} panel=iknn: OK", flush=True)
            else:
                failures.append(f"seed={seed} panel=iknn: {msg}")
                print(failures[-1], flush=True)
        # generated manifest/jsonl/video panel (file-format intake)
        with tempfile.TemporaryDirectory(prefix=f"soak_{seed}_files_") as d:
            from tests.test_fuzz_oracle import _run_file_formats_panel

            try:
                _run_file_formats_panel(spark, d, rng, n_docs)
                print(f"seed={seed} panel=files: OK", flush=True)
            except AssertionError as exc:
                failures.append(f"seed={seed} panel=files: {exc}")
                print(failures[-1], flush=True)
    print(f"SOAK DONE: {n} seeds, failures={len(failures)}")
    for f in failures:
        print(f)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
