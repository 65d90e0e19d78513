"""Training-batch layout contract tests: context-window packing and
the SA3 canonical batch assignment (DataLoader analogue)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# pack_sequences (context-window packing)
# ---------------------------------------------------------------------------


def test_pack_sequences_matches_sequential_scan(spark):
    """The two-phase bucketed cumsum must equal the single-threaded
    reference: concatenate docs in id order, each doc's start offset is
    the sum of all earlier docs' token counts, bin = start // window."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.batching import (
        pack_sequences,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.functions.text import (
        tokens,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.start_offset, r.bin)
        for r in pack_sequences(
            docs, F.size(tokens(F.col("text"))), window=512, id_col="doc_id"
        ).collect()
    }
    rows = sorted(
        (r.doc_id, len(r.text.split()))
        for r in docs.select("doc_id", "text").collect()
    )
    off = 0
    for doc_id, n in rows:
        assert got[doc_id] == (n, off, off // 512), doc_id
        off += n
    assert len(got) == len(rows)


def test_pack_sequences_bins_are_dense_and_bounded(spark):
    """Every bin except possibly the last holds >= 1 doc; a doc's start
    offset always falls inside its bin's [bin*W, (bin+1)*W) range; total
    tokens are preserved."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.batching import (
        pack_sequences,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.functions.text import (
        tokens,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    W = 256
    packed = pack_sequences(
        docs, F.size(tokens(F.col("text"))), window=W, id_col="doc_id"
    ).collect()
    total = sum(r.n_tokens for r in packed)
    assert total == sum(
        len(r.text.split()) for r in docs.select("text").collect()
    )
    bins = sorted({r.bin for r in packed})
    assert bins == list(range(bins[-1] + 1)), "bins must be contiguous"
    for r in packed:
        assert r.bin * W <= r.start_offset < (r.bin + 1) * W


def test_batch_assignments_exact_batches_and_edges(spark):
    """Edge contracts for the canonical SA3 form: every batch is exactly
    full after the global drop-last cut, positions are a permutation of
    0..B-1 per batch, batch ids are dense from 0, drop_last=False keeps
    every row with only the LAST batch partial, a different seed yields
    a different permutation (same membership), and a corpus smaller
    than one batch drops to empty."""
    from pyspark.sql import Row

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.batching import (
        batch_assignments,
    )

    n, B = 103, 16
    df = spark.createDataFrame([Row(vec_id=i * 7 + 3) for i in range(n)])

    out = batch_assignments(df, batch_size=B, seed=42).collect()
    assert len(out) == n - (n % B)
    by_batch: dict = {}
    for r in out:
        by_batch.setdefault(r.batch_id, []).append(r.pos)
    assert sorted(by_batch) == list(range(n // B)), "dense batch ids"
    for bid, poss in by_batch.items():
        assert sorted(poss) == list(range(B)), (bid, "full batch, dense pos")

    kept = batch_assignments(df, batch_size=B, seed=42, drop_last=False)
    rows = kept.collect()
    assert len(rows) == n
    sizes = {}
    for r in rows:
        sizes[r.batch_id] = sizes.get(r.batch_id, 0) + 1
    last = max(sizes)
    assert all(v == B for k, v in sizes.items() if k != last)
    assert sizes[last] == n % B

    # seed reshuffle: compare under drop_last=False so membership is
    # total on BOTH sides (under drop_last=True different seeds drop
    # different tails, so membership itself legitimately differs) —
    # same keys, different permutation
    base_all = {
        r.vec_id: (r.batch_id, r.pos)
        for r in batch_assignments(
            df, batch_size=B, seed=42, drop_last=False
        ).collect()
    }
    other_all = {
        r.vec_id: (r.batch_id, r.pos)
        for r in batch_assignments(
            df, batch_size=B, seed=7, drop_last=False
        ).collect()
    }
    assert set(other_all) == set(base_all), "drop_last=False keeps all ids"
    assert other_all != base_all, "a different seed must reshuffle"

    tiny = spark.createDataFrame([Row(vec_id=i) for i in range(B - 1)])
    assert batch_assignments(tiny, batch_size=B).count() == 0
