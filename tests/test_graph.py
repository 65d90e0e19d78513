"""Connected components (operators.graph): chain/clique/singleton-edge
topologies, fixpoint determinism, and the non-convergence guard."""

from __future__ import annotations

import pytest

from the_build_project_image_retrieval_with_vector_databases_spark.operators.graph import (
    connected_components,
    dedup_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "left_id long, right_id long")


def test_chain_merges_into_one_component(spark):
    """A~B, B~C, C~D: transitive closure pulls the whole chain to min id
    even though the ends never share an edge (diameter > 1 ⇒ needs >1
    round)."""
    cc = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)]))
    got = {r.node: r.comp for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_component_summary(spark):
    out = dedup_components(_edges(spark, [(5, 9), (9, 7), (20, 21)]))
    got = {r.component: (r.n_docs, r.id_checksum) for r in out.collect()}
    assert got == {5: (3, 21), 20: (2, 41)}


def test_max_iter_guard(spark):
    with pytest.raises(RuntimeError, match="converge"):
        # a 5-chain needs ~4 propagation rounds; 1 is not enough.
        # driver_max_edges=0 forces the DISTRIBUTED loop — the guard is
        # an iterative-loop contract (the r18 driver union-find always
        # lands the exact fixpoint, so it has nothing to guard).
        connected_components(
            _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]),
            max_iter=1,
            driver_max_edges=0,
        )


def test_path_graph_converges_logarithmically(spark):
    """The adversarial topology for plain propagation: a 10,000-node path
    needs ~10,000 propagate-only rounds, but pointer jumping must land the
    fixpoint within 30 — and every node must still label to the global
    min."""
    n = 10_000
    edges = (
        spark.range(1, n)
        .selectExpr("id AS left_id", "id + 1 AS right_id")
        .coalesce(8)
    )
    # force the distributed pointer-jumping loop — this test pins ITS
    # convergence rate, not the r18 driver union-find's
    cc = connected_components(edges, max_iter=30, driver_max_edges=0)
    agg = cc.groupBy("comp").count().collect()
    cc.unpersist()
    assert len(agg) == 1 and agg[0].comp == 1 and agg[0]["count"] == n


def test_dedup_components_releases_all_cached_blocks(spark):
    """dedup_components owns its caching: after the result materializes,
    the executor storage pool holds nothing new (the iteration's persisted
    labels/edges are all released; the fixpoint lives in a temp parquet
    spill)."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = dedup_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (7, 8)]))
    assert {r.component for r in out.collect()} == {1, 7}
    assert jsc.getPersistentRDDs().size() == before


def test_local_checkpoint_blocks_freed_without_jvm_gc(spark):
    """The local-checkpoint loop frees every round's checkpoint
    blocks through the ``_jdf`` accessor in ``_free_checkpoint``: the
    persistent-RDD count is back to its starting value right after the
    call, with no JVM GC in between. Without that fast path the blocks
    would wait for the ContextCleaner, which only acts after a GC."""
    jsc = spark.sparkContext._jsc.sc()
    edges = [(i, i + 1) for i in range(1, 24)] + [(40, 41)]
    before = jsc.getPersistentRDDs().size()
    cc = connected_components(_edges(spark, edges), driver_max_edges=0)
    assert jsc.getPersistentRDDs().size() == before
    got = {r.node: r.comp for r in cc.collect()}
    assert got == {**{i: 1 for i in range(1, 25)}, 40: 40, 41: 40}


def test_fused_round_fixpoint_matches_union_find_random_graphs(spark):
    """The r17 fused propagate+jump round (one join + one aggregate per
    round, pointer edges unioned with the graph) must land the exact
    min-label fixpoint of a reference union-find on arbitrary
    topologies — stars, cliques-with-bridges, random sparse graphs."""
    import random

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        n = 200
        edges = [
            (rng.randrange(n) * 7 + 3, rng.randrange(n) * 7 + 3)
            for _ in range(150)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}
        # r18: BOTH paths must land the reference fixpoint — the
        # default (driver union-find at this size) and the distributed
        # fused loop (forced via driver_max_edges=0)
        got = {
            r.node: r.comp
            for r in connected_components(_edges(spark, edges)).collect()
        }
        assert got == want, f"seed {seed} (driver path)"
        got_dist = {
            r.node: r.comp
            for r in connected_components(
                _edges(spark, edges), driver_max_edges=0
            ).collect()
        }
        assert got_dist == want, f"seed {seed} (distributed path)"


def test_minhash_sentinel_skip_changes_no_pairs(spark):
    """r17: minhash_lsh_pairs computes signatures with sentinel=False
    (zero-shingle docs never reach the banding). Pin the equivalence
    argument on a corpus that HAS zero-shingle docs: (1) sentinel=False
    signatures are exactly the sentinel=True table minus the
    all-MINHASH_PRIME rows, and (2) the verified pair set is identical
    whether or not sentinel docs enter the banding, and contains no
    zero-shingle doc."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        dedup as D,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        MINHASH_PRIME,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different text with many other words inside here"),
        (10, "hi"),          # < 3 tokens: zero shingles
        (11, "yo"),          # zero shingles — would sentinel-collide with 10
        (12, ""),            # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with_s = D.minhash_signatures(docs, sentinel=True).collect()
    without_s = D.minhash_signatures(docs, sentinel=False).collect()
    sig_cols = [c for c in with_s[0].asDict() if c.startswith("mh")]
    kept = {
        r.doc_id: tuple(r[c] for c in sig_cols)
        for r in with_s
        if any(r[c] != MINHASH_PRIME for c in sig_cols)
    }
    assert {r.doc_id: tuple(r[c] for c in sig_cols) for r in without_s} == kept
    assert {r.doc_id for r in with_s} - set(kept) == {10, 11, 12}

    pairs = {
        (r.left_id, r.right_id, r.jaccard)
        for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert pairs == {(1, 2, 1.0)}
