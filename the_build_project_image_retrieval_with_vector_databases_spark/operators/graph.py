"""Iterative graph operators — dedup clustering.

Near-dup PAIRS (MinHash-LSH, SimHash, cosine) are only half the dedup
story: production dedup keeps one representative per *connected
component* of the pair graph (A~B, B~C ⇒ {A,B,C} is one cluster even if
A≁C directly). Components need iteration — the one operator family in
this engine that is not a single declarative plan.

Spark-first shape: min-label propagation with **pointer jumping**
(label-doubling, the shortcutting step of Shiloach–Vishkin / the
star-contraction family), FUSED into one keyed join + one aggregate
per round: the round's edge multiset is the graph
edges ∪ per-node self-loops ∪ the current label table read as pointer
edges ``v → comp(v)``, so ``min(comp(b)) GROUP BY a`` computes, in a
single shuffle pair, ``comp'(v) = min(comp(v), min_{u∈N(v)} comp(u),
comp(comp(v)))`` — the neighborhood propagate AND the pointer jump.
The jump term keeps the label-doubling recurrence
``comp_{r+1}(v) ≤ comp_r(comp_r(v))``, so convergence stays O(log n)
rounds on ANY topology — a 10k-node path converges well inside 30
rounds, not 10k — while near-dup almost-cliques still finish in 2-3.
Fixpoint unchanged: at a fixpoint the propagate inequality holds both
ways across every (symmetric) edge, so labels are constant per
component, and the min node m keeps ``comp(m) = m`` from the first
round — the constant is min(component), exactly the old two-join
fixpoint.

Iterative-lineage discipline: each round cuts lineage with an eager
``localCheckpoint`` (guide §5 — the cheap lineage cut; a persisted
DataFrame alone keeps its full logical plan, and a loop that
references the previous round's frame 3× per round grows the plan
tree exponentially until the driver OOMs just *printing* it). The
convergence checksum rides the checkpoint job via ``observe`` — ONE
Spark job per round, no per-round parquet committer round-trip
(measured 0.66 s write + 0.68 s read-back of a 500-row label table at
sf0.1: pure fixed cost, ~2 s/round). Rounds free the previous round's
checkpoint blocks as they go (rolling two-generation discipline). A
localCheckpoint is not fault-tolerant by design: an executor lost
mid-loop takes its checkpoint blocks with it and fails the call. The
converged labels ARE written to parquet once: the returned labels are a
plain file scan, ZERO cached blocks outlive the call, repeated calls
leak nothing into the executor storage pool.
Spill dirs are process-temp and removed at exit.

The *driver* runs only the bounded loop + an O(1) convergence check
(labels decrease monotonically, so an unchanged label SUM is the
fixpoint).

The DuckDB oracle computes the same components via a recursive-CTE
transitive closure — exact cross-engine agreement on an iterative
algorithm's fixpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .spill import spill_dir as _spill_dir
from ..sources.tables import local_frame


# Driver union-find bound: at or below this many symmetric edge
# rows the component labels are computed by a driver-side union-find
# over the ALREADY-MATERIALIZED pair cache — the same (node, min
# reachable id) fixpoint, with zero per-round Spark jobs. 2^18 edge
# rows ≈ 4 MB collected, union-find runs in well under 100 ms; above
# the gate the distributed pointer-jumping loop is unchanged (the
# crossover belongs to the cluster, so the gate is a row count, not a
# deployment mode).
CC_DRIVER_MAX_EDGES = 262_144


def connected_components(
    edges: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 30,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` = min node id reachable (including self).

    Converges in O(log n) rounds via pointer jumping (see module doc);
    raises if ``max_iter`` is hit without a fixpoint (deterministic
    result only AT the fixpoint). Returns a parquet-backed file-scan
    DataFrame (process-temp spill, removed at exit); no cached blocks
    remain after the call.

    At or below ``CC_DRIVER_MAX_EDGES`` symmetric edge rows
    (override via ``driver_max_edges``; the test seam) the labels come
    from a driver-side union-find over the persisted edge cache — the
    identical min-id-per-component fixpoint (parity-pinned against the
    distributed loop on random graphs), one job to materialize the
    pairs (which the distributed init paid anyway) and one parquet
    write. The pairs pipeline — the actual corpus-scaled work — is
    untouched either way.
    """
    spark = edges.sparkSession
    out_path = os.path.join(_spill_dir("cc-labels-"), "labels")
    _LABEL_SCHEMA = "node long, comp long"

    # ONE evaluation of the (potentially expensive) pairs plan: explode
    # each pair into both directions instead of unioning two scans of
    # the upstream plan (the union form re-ran the whole candidate
    # verify pipeline twice inside the materializing job — guide §1.1,
    # don't compute things twice).
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(left_col).cast("long").alias("a"),
                    F.col(right_col).cast("long").alias("b"),
                ),
                F.struct(
                    F.col(right_col).cast("long").alias("a"),
                    F.col(left_col).cast("long").alias("b"),
                ),
            )
        ).alias("__e")
    ).select("__e.a", "__e.b")
    sym = sym.persist()

    def _free_checkpoint(df: DataFrame) -> None:
        # a localCheckpoint's blocks live in the storage pool until the
        # ContextCleaner GCs the RDD; free them deterministically so the
        # zero-cached-blocks contract holds the moment we return. The
        # analyzed plan of a checkpointed Dataset is a LogicalRDD whose
        # rdd() is exactly the persisted one. Best-effort: if the
        # internal accessor ever changes shape, results are already
        # computed — fall back to the ContextCleaner's GC release (the
        # zero-leak pin test would flag the regression deterministically
        # in CI rather than failing the query here).
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass

    def _cut(df: DataFrame) -> tuple[DataFrame, int]:
        # lineage cut + convergence checksum in ONE job: labels only
        # ever DECREASE elementwise, so the label sum is strictly
        # monotone until the fixpoint — an unchanged sum IS convergence.
        # The sum rides the materializing job itself via observe().
        obs = Observation()
        observed = df.observe(obs, F.sum("comp").alias("s"))
        return observed.localCheckpoint(eager=True), obs.get["s"]

    try:
        limit = (
            CC_DRIVER_MAX_EDGES if driver_max_edges is None
            else driver_max_edges
        )
        # the count doubles as the cache-materializing action — the
        # pairs pipeline runs exactly once either way (the distributed
        # init's first job did the same scan)
        n_edges = sym.count()
        if n_edges <= limit:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            nodes = set()
            for row in sym.collect():  # reads the persisted cache
                a, b = row[0], row[1]
                nodes.add(a)
                nodes.add(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # min id becomes the root ⇒ root(v) = min(component)
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            labels_local = sorted((n, find(n)) for n in nodes)
            local_frame(spark, labels_local, _LABEL_SCHEMA).write.mode(
                "overwrite"
            ).parquet(out_path)
            return spark.read.schema(_LABEL_SCHEMA).parquet(out_path)
        # init = one propagation round for free: label(v) = min(v, N(v)),
        # computed by the same groupBy that enumerates the nodes. Valid
        # starting point for the invariant (every label is a node id of
        # the same component, ≤ v); saves a full fused round.
        init = (
            sym.groupBy("a")
            .agg(F.min("b").alias("__nbr_min"))
            .select(
                F.col("a").alias("node"),
                F.least(F.col("a"), F.col("__nbr_min")).alias("comp"),
            )
        )
        labels, prev_sum = _cut(init)
        for _ in range(max_iter):
            # fused propagate + pointer jump (module doc): round edges =
            # sym ∪ self-loops ∪ pointer edges (v → comp(v)), then ONE
            # keyed join + min aggregate computes
            # comp'(v) = min(comp(v), comp(N(v)), comp(comp(v))).
            # Every comp value is itself a node id (labels start as
            # identity and only take existing ids), so the pointer join
            # is total; self-loops keep every node in the output and
            # make the round monotone.
            ptr = labels.select(
                F.col("node").alias("a"), F.col("comp").alias("b")
            )
            selfe = labels.select(
                F.col("node").alias("a"), F.col("node").alias("b")
            )
            lab_r = labels.select(
                F.col("node").alias("__n"), F.col("comp").alias("__c")
            )
            out = (
                sym.unionAll(ptr)
                .unionAll(selfe)
                .join(lab_r, F.col("b") == F.col("__n"))
                .groupBy("a")
                .agg(F.min("__c").alias("comp"))
                .select(F.col("a").alias("node"), "comp")
            )
            new_labels, new_sum = _cut(out)  # lineage cut
            # the generation two rounds back is released as we go —
            # storage stays bounded at two label generations
            _free_checkpoint(labels)
            labels = new_labels
            if new_sum == prev_sum:
                # contract: the returned labels are a plain file scan —
                # ONE write of the converged table, no per-round parquet
                # round-trips; every checkpoint block is freed before
                # returning.
                labels.write.mode("overwrite").parquet(out_path)
                _free_checkpoint(labels)
                return spark.read.schema(_LABEL_SCHEMA).parquet(out_path)
            prev_sum = new_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        sym.unpersist()


def dedup_components(
    pairs: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Cluster summary per component: representative (min id), member
    count, id checksum — the keep/drop manifest of a dedup run. Inherits
    connected_components' zero-cache-footprint contract."""
    cc = connected_components(pairs, left_col, right_col)
    return cc.groupBy(F.col("comp").alias("component")).agg(
        F.count("*").alias("n_docs"),
        F.sum("node").alias("id_checksum"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    left_col: str = "left_id",
    right_col: str = "right_id",
    mod: int = 10,
    train_parts: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup-aware train/eval split — the leakage guard a benchmark
    pipeline needs BEFORE holding out an eval set: a naive per-doc
    hash split puts near-duplicate pairs on opposite sides (the eval
    copy "leaks" into training, Lee et al. 2022's core warning), so
    the split unit here is the CONNECTED COMPONENT of the near-dup
    pair graph. Every member of a component shares the component's
    min-id label, the split hashes THAT label (multiplicative hash,
    ``hash % mod < train_parts`` → train), and unpaired docs are their
    own singleton components — by construction no pair, and no
    transitive chain of pairs, can straddle the split. Output one row
    per doc: (id, component, split).

    Scale shape: components via :func:`connected_components`
    (pointer jumping, O(log n) rounds, lineage cut by localCheckpoint —
    zero cached blocks after the call); the label table holds only nodes
    that APPEAR in pairs (dup-involved docs, ≪ corpus for real
    crawls), joined back id-keyed in one shuffle; the hash split is a
    codegen'd projection. Integer-exact cross-engine: the hash is the
    engine-portable multiplicative form, components agree with the
    oracle's recursive-CTE closure by the fixpoint argument on
    :func:`connected_components`."""
    from .sample import HASH_MOD, HASH_MULT

    cc = connected_components(pairs, left_col, right_col)
    comp = (
        docs.select(F.col(id_col))
        .join(
            cc.withColumnRenamed("node", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col))
            .cast("long")
            .alias("component"),
        )
    )
    h = (
        (F.col("component") + F.lit(int(seed))) * F.lit(HASH_MULT)
    ) % F.lit(HASH_MOD)
    return comp.select(
        F.col(id_col),
        F.col("component"),
        F.when(h % F.lit(int(mod)) < F.lit(int(train_parts)), "train")
        .otherwise("eval")
        .alias("split"),
    )


