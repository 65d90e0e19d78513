"""Round-5 staged operators (registry entries planned for the next
rotation window): time-series gap-fill resample and matryoshka
dimension truncation."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.functions.vector import (
    truncate_renormalize,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.windows import (
    gap_fill,
)
from .conftest import SF_SMOKE


def test_gap_fill_matches_python_reference(spark):
    """Grid completeness + forward-fill semantics against a single-threaded
    reference over the real events fixture."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    step = 3600  # hourly grid keeps the expansion reviewable
    got = {
        (r.user_id, r.slot): (r.value, r.observed)
        for r in gap_fill(ev, step_s=step).collect()
    }

    rows = ev.select("user_id", F.unix_timestamp("ts").alias("ep"), "value").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.ep, r.value))
    expect_n = 0
    for uid, obs in by_user.items():
        slots: dict = {}
        for ep, v in sorted(obs):
            s = (ep // step) * step
            # same tie rule as the operator: latest ep, then largest value
            cur = slots.get(s)
            cand = (ep, v)
            if cur is None or cand > cur:
                slots[s] = cand
        lo, hi = min(slots), max(slots)
        last = None
        for s in range(lo, hi + step, step):
            expect_n += 1
            if s in slots:
                last = slots[s][1]
                assert got[(uid, s)] == (last, True), (uid, s)
            else:
                assert got[(uid, s)] == (last, False), (uid, s)
            assert got[(uid, s)][0] is not None, "fill must be total"
    assert len(got) == expect_n, "grid must be exactly min..max per key"


def test_truncate_renormalize_recall_and_norm(spark):
    """Truncated-and-renormalized vectors are unit-norm and bit-agree
    with the numpy reference. The recall check is a NEGATIVE control:
    the fixture's vectors are random (not matryoshka-trained), so
    half-dimension ranking is distance-concentration noise and recall@10
    collapses — exactly why the operator's docstring restricts the knob
    to front-loaded (MRL) embeddings. A future MRL-shaped fixture flips
    this into a positive recall bound."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    half = emb.select(
        "vec_id", truncate_renormalize("embedding", 32).alias("t")
    )
    norms = half.select(
        F.sqrt(F.aggregate("t", F.lit(0.0), lambda a, x: a + x * x)).alias("n")
    ).collect()
    assert all(abs(r.n - 1.0) < 1e-9 for r in norms)

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    q = 0

    def topk(m, k=10):
        d = ((m - m[q]) ** 2).sum(axis=1)
        d[q] = np.inf
        return set(ids[np.argsort(d, kind="stable")[:k]])

    full = topk(mat)
    t = mat[:, :32]
    t = t / np.linalg.norm(t, axis=1, keepdims=True)
    trunc = topk(t)
    # spark-side truncation must agree with the numpy reference exactly
    got = {r.vec_id: np.array(r.t) for r in half.collect()}
    for i, vid in enumerate(ids[:20]):
        assert np.allclose(got[vid], t[i], atol=1e-9)
    # negative control: random vectors concentrate distances, so the
    # half-space ranking shares (almost) nothing with the full ranking —
    # deterministic on the fixed fixture
    overlap = len(full & trunc)
    assert overlap <= 3, (
        f"unexpected recall {overlap}/10 from random vectors — "
        "fixture no longer random?"
    )


def test_pii_scrub_matches_python_reference(spark):
    """Round-6 staged PII redaction: placeholders + per-class hit counts
    agree with a single-threaded re.sub reference over both synthetic
    PII-dense rows and the real documents fixture; the scrub is
    idempotent and the md5 fingerprints the clean text."""
    import hashlib
    import re as _re

    from pyspark.sql import Row

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        PII_PATTERNS,
        pii_scrub,
    )

    synth = [
        Row(doc_id=1000, text="mail me at jo.doe+x@example.co.uk or root@a.io now"),
        Row(doc_id=1001, text="card 1234-5678-9012-3456 ssn 123-45-6789 ok"),
        Row(doc_id=1002, text="call +1 (555) 123-4567 or 555-987-6543 today"),
        Row(doc_id=1003, text="host 10.0.0.1 and 192.168.255.254 up"),
        Row(doc_id=1004, text="no pii here, just words"),
        Row(doc_id=1005, text="already <EMAIL> present plus bob@x.org"),
    ]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    df = docs.unionAll(spark.createDataFrame(synth))
    got = {r.doc_id: r for r in pii_scrub(df).collect()}

    for row in df.collect():
        txt = row.text
        counts = {}
        for name, pat, token in PII_PATTERNS:
            before = txt.count(token)
            txt = _re.sub(pat, token, txt)
            counts[f"n_{name}"] = txt.count(token) - before
        g = got[row.doc_id]
        assert g.clean_text == txt, row.doc_id
        for k, v in counts.items():
            assert getattr(g, k) == v, (row.doc_id, k)
        assert g.clean_md5 == hashlib.md5(txt.encode()).hexdigest()

    # the synthetic rows actually exercise every class
    assert got[1000].n_email == 2 and got[1001].n_card == 1
    assert got[1001].n_ssn == 1 and got[1002].n_phone == 2
    assert got[1003].n_ipv4 == 2
    assert got[1005].n_email == 1  # pre-existing placeholder not counted
    # idempotence: scrubbing clean text is a no-op
    clean = spark.createDataFrame(
        [Row(doc_id=r.doc_id, text=r.clean_text) for r in got.values()]
    )
    again = {r.doc_id: r for r in pii_scrub(clean).collect()}
    for did, r in again.items():
        assert r.clean_text == got[did].clean_text
        assert r.n_email == r.n_card == r.n_ssn == r.n_phone == r.n_ipv4 == 0


def test_pii_scrub_oracle_parity_staged(spark, sf_dir):
    """The staged pii_scrub DuckDB oracle already passes the
    driver-faithful comparison, so r7 registration is a 2-line diff.
    Also pins Java-regex ≡ RE2 behavior on the PII patterns."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_pii_scrub,
        q_pii_scrub,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_pii_scrub(spark, sf_dir), _oracle_pii_scrub(), sf_dir, "pii_scrub"
    )
    assert ok, msg


def test_bm25_matches_python_reference(spark):
    """Round-6 staged BM25 retrieval: scores agree with a single-threaded
    reference (math.log, same op order) over the real documents fixture
    at 6 decimals — ln is only 1-ulp-reproducible across engines, which
    is why the operator rounds and ranks on the rounded score — and the
    top-k ordering (rounded score DESC, doc_id ASC) holds."""
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import bm25

    terms, k1, b, k = ["hash", "join", "vector"], 1.2, 0.75, 15
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = bm25(docs, terms, k=k, k1=k1, b=b).collect()

    rows = [(r.doc_id, r.text.lower().split()) for r in docs.collect()]
    n = len(rows)
    sum_dl = sum(len(t) for _, t in rows)
    avgdl = float(sum_dl) / float(n)
    dfs = [sum(1 for _, t in rows if term in t) for term in terms]
    expect = []
    for did, toks in rows:
        dl = len(toks)
        norm = k1 * ((1.0 - b) + (b * float(dl)) / avgdl)
        score, hits = None, 0
        for i, term in enumerate(terms):
            tf = float(toks.count(term))
            hits += 1 if tf > 0 else 0
            idf = math.log((float(n) - float(dfs[i]) + 0.5) / (float(dfs[i]) + 0.5) + 1.0)
            s = idf * ((tf * (k1 + 1.0)) / (tf + norm))
            score = s if score is None else score + s
        if hits > 0:
            expect.append((-round(score, 6), did, dl, hits))
    expect.sort()
    expect = expect[:k]

    assert len(got) == len(expect)
    for g, (neg_s, did, dl, hits) in zip(got, expect):
        assert g.doc_id == did
        assert g.dl == dl and g.n_hit_terms == hits
        assert g.score == -neg_s, (did, g.score, -neg_s)


def test_bm25_oracle_parity_staged(spark, sf_dir):
    """The staged bm25 DuckDB oracle already passes the driver-faithful
    comparison (bit-exact doubles through the mirrored op order), so r7
    registration is a 2-line diff."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_bm25,
        q_bm25,
    )
    from .oracle_harness import compare

    ok, msg = compare(q_bm25(spark, sf_dir), _oracle_bm25(), sf_dir, "bm25")
    assert ok, msg


def test_kmeans_step_matches_numpy_reference(spark):
    """Round-6 staged Lloyd step: quantized assignment and the new
    centroid means agree bit-exactly with a numpy/pure-Python reference
    (same floor-quantization, same first-min tie-break, same division
    order) over the real embeddings fixture."""
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        KMEANS_SCALE,
        kmeans_lloyd_step,
    )

    k = 8
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    got = {(r.cid, r.dim): r for r in kmeans_lloyd_step(emb, k=k).collect()}

    rows = sorted(
        (r.vec_id, [math.floor(float(x) * float(KMEANS_SCALE) + 0.5) for x in r.embedding])
        for r in emb.collect()
    )
    cents = [qv for _, qv in rows[:k]]
    sums: dict = {}
    counts: dict = {}
    for _, qv in rows:
        dists = [sum((a - b) * (a - b) for a, b in zip(qv, c)) for c in cents]
        cid = dists.index(min(dists))  # first-min tie-break
        counts[cid] = counts.get(cid, 0) + 1
        acc = sums.setdefault(cid, [0] * len(qv))
        for i, v in enumerate(qv):
            acc[i] += v
    expect_keys = set()
    for cid, acc in sums.items():
        for dim, s in enumerate(acc):
            expect_keys.add((cid, dim))
            g = got[(cid, dim)]
            assert g.n_members == counts[cid]
            assert g.mean == (float(s) / float(counts[cid])) / float(KMEANS_SCALE), (
                cid,
                dim,
            )
    assert set(got) == expect_keys
    assert len({cid for cid, _ in got}) >= 2, "degenerate clustering"


def test_kmeans_step_oracle_parity_staged(spark, sf_dir):
    """The staged kmeans_step DuckDB oracle already passes the
    driver-faithful comparison (integer-exact end-to-end), so r7
    registration is a 2-line diff."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_kmeans_step,
        q_kmeans_step,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_kmeans_step(spark, sf_dir), _oracle_kmeans_step(), sf_dir, "kmeans_step"
    )
    assert ok, msg


def test_kmeans_train_exact_matches_python_loop(spark):
    """The full quantized-Lloyd training loop reproduces a pure-Python
    reference bit-for-bit (same init, same integer assignment, same
    re-quantization, same empty-cluster rule) and early-exits on the
    quantized fixed point."""
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        KMEANS_SCALE,
        kmeans_train_exact,
    )

    k, iters = 6, 8
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    got_cents, got_rounds = kmeans_train_exact(emb, k=k, max_iter=iters)

    rows = sorted(
        (r.vec_id, [math.floor(float(x) * float(KMEANS_SCALE) + 0.5) for x in r.embedding])
        for r in emb.collect()
    )
    cents = [list(qv) for _, qv in rows[:k]]
    ref_rounds = 0
    for ref_rounds in range(1, iters + 1):
        sums: dict = {}
        counts: dict = {}
        for _, qv in rows:
            dists = [sum((a - b) * (a - b) for a, b in zip(qv, c)) for c in cents]
            cid = dists.index(min(dists))
            counts[cid] = counts.get(cid, 0) + 1
            acc = sums.setdefault(cid, [0] * len(qv))
            for i, v in enumerate(qv):
                acc[i] += v
        new = []
        for cid in range(k):
            if cid in sums:
                new.append(
                    [
                        math.floor(
                            ((float(s) / float(counts[cid])) / float(KMEANS_SCALE))
                            * float(KMEANS_SCALE)
                            + 0.5
                        )
                        for s in sums[cid]
                    ]
                )
            else:
                new.append(list(cents[cid]))
        if new == cents:
            break
        cents = new
    assert got_rounds == ref_rounds
    expect = [[v / float(KMEANS_SCALE) for v in c] for c in cents]
    assert got_cents == expect  # bit-exact, every centroid every dim


def test_lloyd_round_partials_fold_and_agg_paths_agree(spark):
    """r17 optimization internals: the training round's Arrow partial
    sums return the identical {cid: (n, sums)} through BOTH driver-pull
    shapes — the small-layout driver fold and the wide-layout k-row
    Spark aggregate — and both match kmeans_lloyd_step's posexplode
    aggregate (the pre-r17 round) on the same centroids."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        KMEANS_SCALE,
        _lloyd_round_partials,
        kmeans_lloyd_step,
        quantize_vec,
    )

    k = 5
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.select(
        F.col("vec_id"), quantize_vec("embedding", KMEANS_SCALE).alias("qv")
    ).repartition(3)
    init = [list(r.qv) for r in q.orderBy("vec_id").limit(k).collect()]

    fold = _lloyd_round_partials(q, init, n_parts=3)      # ≤ threshold
    agg = _lloyd_round_partials(q, init, n_parts=10_000)  # > threshold
    assert fold == agg

    step = kmeans_lloyd_step(emb, k=k, centroids_q=init, pre_quantized=q)
    ref: dict = {}
    for r in step.collect():
        n, s = ref.setdefault(r.cid, (r.n_members, [0] * len(init[0])))
        assert n == r.n_members
        # lloyd_step emits means; recover the integer sum it divided:
        # mean = (s/n)/scale with exact operands, so s = the engine's
        # sum iff round-tripping through the SAME double ops agrees —
        # compare on the means instead to avoid re-deriving s
        s[r.dim] = r.mean
    got_means = {
        cid: [
            (float(s[d]) / float(n)) / float(KMEANS_SCALE)
            for d in range(len(s))
        ]
        for cid, (n, s) in fold.items()
    }
    assert set(got_means) == set(ref)
    for cid, means in got_means.items():
        assert means == ref[cid][1], cid
        assert fold[cid][0] == ref[cid][0]


def test_assign_cids_arrow_matches_literal_argmin(spark):
    """r17 optimization internals: the lean Arrow (id, cid) assignment
    used by kmeans_train_assign's final pass equals the k·D
    expression-literal argmin row-for-row (same exact integer
    distances, same first-min tie-break)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        KMEANS_SCALE,
        assign_cids_arrow_int,
        quantize_vec,
    )

    k = 6
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.select(
        F.col("vec_id"), quantize_vec("embedding", KMEANS_SCALE).alias("qv")
    )
    cq = [list(r.qv) for r in q.orderBy("vec_id").limit(k).collect()]
    got = {
        r.vec_id: r.cid for r in assign_cids_arrow_int(q, cq).collect()
    }
    cents_lit = F.array(*[F.array(*[F.lit(int(v)) for v in c]) for c in cq])
    dists = F.transform(
        cents_lit,
        lambda c: F.aggregate(
            F.zip_with(F.col("qv"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    ref = {
        r.vec_id: r.cid
        for r in q.select(
            "vec_id",
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias("cid"),
        ).collect()
    }
    assert got == ref and len({c for c in got.values()}) >= 2


def test_assign_cids_arrow_dist2_matches_expression_fold(spark):
    """r17 optimization internals: with_dist2=True adds the |q|² term
    back inside the Arrow kernel, so (cid, dist2) equals the
    expression-literal Σ(a−b)² fold row-for-row — the identity
    embedding_outliers' rewrite rests on."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        KMEANS_SCALE,
        assign_cids_arrow_int,
        quantize_vec,
    )

    k = 8
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.select(
        F.col("vec_id"), quantize_vec("embedding", KMEANS_SCALE).alias("qv")
    )
    cq = [list(r.qv) for r in q.orderBy("vec_id").limit(k).collect()]
    got = {
        r.vec_id: (r.cid, r.dist2)
        for r in assign_cids_arrow_int(q, cq, with_dist2=True).collect()
    }
    cents_lit = F.array(*[F.array(*[F.lit(int(v)) for v in c]) for c in cq])
    dists = F.transform(
        cents_lit,
        lambda c: F.aggregate(
            F.zip_with(F.col("qv"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    ref = {
        r.vec_id: (r.cid, r.dist2)
        for r in q.select(
            "vec_id",
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias("cid"),
            F.array_min(dists).alias("dist2"),
        ).collect()
    }
    assert got == ref
    assert any(d > 0 for _c, d in got.values())


def test_kmeans_driver_and_distributed_training_agree(spark):
    """Below KMEANS_DRIVER_TRAIN_MAX_BYTES the Lloyd rounds run
    driver-side in numpy; forcing the gate to 0 re-runs the identical
    training through the distributed per-round jobs. Centroids AND
    round counts must be bit-identical — the driver path is the same
    integer kernel, not an approximation."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        kmeans_train_exact,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    drv = kmeans_train_exact(emb, k=5, max_iter=7)
    dist = kmeans_train_exact(emb, k=5, max_iter=7, driver_train_max_bytes=0)
    assert drv == dist


def test_kmeans_train_centroids_drive_ivf_assignment(spark):
    """Trained centroids slot straight into the IVF path: every vector
    gets a valid centroid id and no cluster is empty after training on
    the fixture."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        assign_centroids,
        kmeans_train_exact,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents, _ = kmeans_train_exact(emb, k=4, max_iter=5)
    counts = (
        assign_centroids(emb, cents)
        .groupBy("centroid")
        .count()
        .collect()
    )
    assert {r.centroid for r in counts} == {0, 1, 2, 3}
    assert sum(r["count"] for r in counts) == emb.count()


def test_kmeans_step_plan_single_update_shuffle(spark):
    """Assignment is map-only (broadcast-literal centroids, no join);
    the centroid update is the single hash exchange, keyed (cid, dim)
    with map-side partial aggregation."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        kmeans_lloyd_step,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = kmeans_lloyd_step(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "HashAggregate" in plan


def test_bm25_plan_no_corpus_shuffle(spark):
    """BM25's physical plan: per-partition top-k heap (TakeOrderedAndProject)
    and no hash-partition exchange of the corpus — the only exchanges are
    the 1-row global-stats single-partition agg and its broadcast."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import bm25

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = bm25(docs, ["hash", "join", "vector"]) ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def _semantic_dedup_reference(rows, centroids_q, num, den):
    """Single-threaded integer-exact SemDeDup: same quantization, argmin
    assignment (first-min tie-break), and sign-guarded squared-cosine
    threshold as the operator — python ints never overflow, so this is
    the arbitrary-precision ground truth."""
    import math

    assigned = {}
    for vid, qv in rows:
        dists = [
            sum((a - b) * (a - b) for a, b in zip(qv, c)) for c in centroids_q
        ]
        assigned[vid] = (dists.index(min(dists)), qv, sum(x * x for x in qv))
    dropped = set()
    ids = sorted(assigned)
    for i, li in enumerate(ids):
        lc, lq, ln2 = assigned[li]
        for ri in ids[i + 1:]:
            rc, rq, rn2 = assigned[ri]
            if lc != rc:
                continue
            dot = sum(a * b for a, b in zip(lq, rq))
            if dot > 0 and den * den * dot * dot > num * num * ln2 * rn2:
                dropped.add(ri)
    return {vid: (assigned[vid][0], vid not in dropped) for vid in ids}


def _quantized_rows(spark, path):
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        quantize_vec,
    )

    df = spark.read.parquet(path)
    return df, [
        (r.vec_id, list(r.qv))
        for r in df.select("vec_id", quantize_vec("embedding").alias("qv")).collect()
    ]


def test_semantic_dedup_matches_python_reference(spark):
    """Init-centroid pin (the staged registry shape) against the
    arbitrary-precision reference over the real embeddings fixture."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup,
    )

    df, rows = _quantized_rows(spark, f"{SF_SMOKE}/embeddings.parquet")
    init = [qv for _, qv in sorted(rows)[:8]]
    num, den = 3, 10
    got = {
        r.vec_id: (r.cid, r.keep)
        for r in semantic_dedup(df, init, num, den).collect()
    }
    want = _semantic_dedup_reference(rows, init, num, den)
    assert got == want
    assert any(not keep for _, keep in got.values()), (
        "threshold pin should actually drop something at sf0.001"
    )


def test_semantic_dedup_trained_centroids(spark):
    """The deploy path: kmeans_train_exact centroids re-quantize
    exactly (power-of-two scale round-trip) and the dedup agrees with
    the reference on those trained centroids."""
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        KMEANS_SCALE,
        kmeans_train_exact,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup,
    )

    df, rows = _quantized_rows(spark, f"{SF_SMOKE}/embeddings.parquet")
    cents, rounds = kmeans_train_exact(df, k=4, max_iter=5)
    cents_q = [
        [math.floor(v * float(KMEANS_SCALE) + 0.5) for v in c] for c in cents
    ]
    got = {
        r.vec_id: (r.cid, r.keep)
        for r in semantic_dedup(df, cents_q, 1, 4).collect()
    }
    assert got == _semantic_dedup_reference(rows, cents_q, 1, 4)


def test_semantic_dedup_blocked_verify_boundary_and_blocks(spark):
    """r18: the vectorized column-blocked verify is bit-identical to the
    arbitrary-precision reference — including a pair EXACTLY AT the
    threshold boundary (den²·dot² == num²·|l|²·|r|², which must KEEP:
    the predicate is strict >) that lands inside the float-margin band
    and exercises the exact Python-int recheck, and with the Gram
    blocking forced down to 1-wide column blocks."""
    import random

    from pyspark.sql import Row

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        KMEANS_SCALE,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup,
    )

    # engineered boundary family at τ = 3/5 (3-4-5 triple):
    #   cos((3,4,0…), (5,0,0…)) = 15/25 = 3/5 exactly → id 2 KEPT
    #   cos((3,4,0…), (6,8,0…)) = 1 > 3/5            → id 3 dropped
    #   cos((5,0,0…), (4,-3,0…)) = 20/25 = 4/5 > 3/5 → id 4 dropped
    base = [
        (1, [3, 4] + [0] * 62),
        (2, [5, 0] + [0] * 62),
        (3, [6, 8] + [0] * 62),
        (4, [4, -3] + [0] * 62),
    ]
    rng = random.Random(18)
    rows = base + [
        (10 + i, [rng.randint(-50, 50) for _ in range(64)])
        for i in range(36)
    ]
    df = spark.createDataFrame(
        [
            Row(vec_id=vid, embedding=[q / float(KMEANS_SCALE) for q in qv])
            for vid, qv in rows
        ]
    )
    init = [[0] * 64]  # one centroid → every vector in one cluster
    num, den = 3, 5
    want = _semantic_dedup_reference(rows, init, num, den)
    assert want[2][1] is True, "exact-boundary pair must keep (strict >)"
    assert want[3][1] is False and want[4][1] is False
    for blk in (None, 1):  # default blocking, then forced 1-wide blocks
        got = {
            r.vec_id: (r.cid, r.keep)
            for r in semantic_dedup(
                df, init, num, den, gram_block_elems=blk
            ).collect()
        }
        assert got == want, f"gram_block_elems={blk}"


def test_semantic_dedup_validation():
    import pytest

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup,
    )

    with pytest.raises(ValueError):
        semantic_dedup(None, [])
    with pytest.raises(ValueError):
        semantic_dedup(None, [[0] * 64], threshold_num=5, threshold_den=5)


def test_semantic_dedup_overflow_guard_raises(spark):
    """Outside the documented operating bound (D·max|qv|² must stay
    long-safe and den·D·max|qv|² under decimal(38,0)) the old behavior
    was a silent wrap → true duplicates classified unique. The
    `_semantic_assign` guard now raises with the offending id instead:
    a |x| ≈ 10⁵ coordinate at the 2²⁰ scale (|qv| ≈ 10¹⁰ > the ≈1.2·10⁸
    bound for D=64, den=10) must fail loudly; in-bound rows still run."""
    import pytest
    from pyspark.sql import Row

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup,
    )

    ok_vec = [0.5] * 64
    bad_vec = [1.0e5] * 64
    init = [[int(0.5 * (1 << 20) + 0.5)] * 64]
    good = spark.createDataFrame(
        [Row(vec_id=1, embedding=ok_vec), Row(vec_id=2, embedding=ok_vec)]
    )
    assert {
        r.vec_id: r.keep for r in semantic_dedup(good, init).collect()
    } == {1: True, 2: False}

    bad = spark.createDataFrame(
        [Row(vec_id=1, embedding=ok_vec), Row(vec_id=7, embedding=bad_vec)]
    )
    with pytest.raises(Exception, match="overflow bound exceeded"):
        semantic_dedup(bad, init).collect()


def test_semantic_dedup_oracle_parity_staged(spark, sf_dir):
    """The staged semantic_dedup DuckDB oracle already passes the
    driver-faithful comparison, so r7 registration is a 2-line diff.
    The oracle is built with the corpus-sized k so the test is valid at
    ANY SPARK_GRAFT_TEST_SF_DIR — at the sf0.001/sf0.01 driver scales
    sized_k_for == 8, i.e. exactly the registered default-k string."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_semantic_dedup,
        q_semantic_dedup,
        sized_k_for,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_semantic_dedup(spark, sf_dir),
        _oracle_semantic_dedup(k=sized_k_for(sf_dir)),
        sf_dir,
        "semantic_dedup",
    )
    assert ok, msg


def _sequential_ingest_reference(rows, init, num, den, split):
    """Arbitrary-precision greedy: ingest batch vectors one at a time in
    id order against corpus ∪ previously-KEPT batch vectors."""
    asg = {}
    for vid, qv in rows:
        dists = [sum((a - b) * (a - b) for a, b in zip(qv, c)) for c in init]
        asg[vid] = (dists.index(min(dists)), qv, sum(x * x for x in qv))

    def dup(u, v):
        ucid, uq, un2 = asg[u]
        vcid, vq, vn2 = asg[v]
        if ucid != vcid:
            return False
        dot = sum(a * b for a, b in zip(uq, vq))
        return dot > 0 and den * den * dot * dot > num * num * un2 * vn2

    corpus_ids = [v for v, _ in rows if v < split]
    out = {}
    kept_batch: list[int] = []
    for vid, _ in sorted(r for r in rows if r[0] >= split):
        cid = asg[vid][0]
        if any(dup(u, vid) for u in corpus_ids) or any(
            dup(u, vid) for u in kept_batch
        ):
            out[vid] = (cid, False)
        else:
            out[vid] = (cid, True)
            kept_batch.append(vid)
    return out


def test_semantic_dedup_incremental_matches_sequential(spark):
    """Batch-vs-corpus SemDeDup equals the TRUE sequential-ingest
    outcome: ingest batch vectors one at a time in vec_id order against
    a sink holding corpus ∪ previously-kept rows — a vector dropped by
    the corpus is never in the comparison set, so a chain
    b1~corpus (dropped), b2~b1-only KEEPS b2. Verified against the
    arbitrary-precision greedy reference; also asserts the kept-only
    rule genuinely diverges from the old any-lower-id rule on this
    fixture (else the test can't tell them apart)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup_incremental,
    )

    df, rows = _quantized_rows(spark, f"{SF_SMOKE}/embeddings.parquet")
    init = [qv for _, qv in sorted(rows)[:8]]
    num, den = 3, 10
    split = 400
    corpus = df.filter(df.vec_id < split)
    batch = df.filter(df.vec_id >= split)

    got = {
        r.vec_id: (r.cid, r.keep)
        for r in semantic_dedup_incremental(
            corpus, batch, init, num, den
        ).collect()
    }
    assert set(got) == {vid for vid, _ in rows if vid >= split}

    want = _sequential_ingest_reference(rows, init, num, den, split)
    assert got == want

    # batch-boundary independence: splitting the batch at any midpoint
    # and replaying the second half against corpus ∪ kept-first-half
    # yields the same keep set (the property the ADVICE finding named)
    batch_ids = sorted(v for v, _ in rows if v >= split)
    mid = batch_ids[len(batch_ids) // 2]
    first = {v: k for v, k in want.items() if v < mid}
    kept_first = [v for v, (_, k) in first.items() if k]
    corpus2 = corpus.unionByName(
        df.filter(df.vec_id.isin([int(x) for x in kept_first]))
    )
    batch2 = df.filter(df.vec_id >= mid)
    got2 = {
        r.vec_id: (r.cid, r.keep)
        for r in semantic_dedup_incremental(
            corpus2, batch2, init, num, den
        ).collect()
    }
    assert got2 == {v: k for v, k in want.items() if v >= mid}

    # some batch row must actually drop for the test to mean anything,
    # and the fixture must distinguish kept-only from any-lower-id
    assert any(not keep for _, keep in got.values())
    old_rule = {}
    asg = {}
    for vid, qv in rows:
        dists = [sum((a - b) * (a - b) for a, b in zip(qv, c)) for c in init]
        asg[vid] = (dists.index(min(dists)), qv, sum(x * x for x in qv))
    for vid, qv in rows:
        if vid < split:
            continue
        cid, _, n2 = asg[vid]
        dropped = False
        for other, (ocid, oqv, on2) in asg.items():
            if other == vid or ocid != cid:
                continue
            if other >= split and other > vid:
                continue
            dot = sum(a * b for a, b in zip(qv, oqv))
            if dot > 0 and den * den * dot * dot > num * num * n2 * on2:
                dropped = True
                break
        old_rule[vid] = (cid, not dropped)
    assert old_rule != want, (
        "fixture no longer distinguishes sequential from any-lower-id"
    )


def test_semantic_dedup_incremental_oracle_parity_staged(spark, sf_dir):
    """The staged semantic_dedup_incremental DuckDB oracle already
    passes the driver-faithful comparison. Oracle built with the
    corpus-sized k (== the registered default at the driver scales) so
    the test holds at any SPARK_GRAFT_TEST_SF_DIR."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_semantic_dedup_incremental,
        q_semantic_dedup_incremental,
        sized_k_for,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_semantic_dedup_incremental(spark, sf_dir),
        _oracle_semantic_dedup_incremental(k=sized_k_for(sf_dir)),
        sf_dir,
        "semantic_dedup_incremental",
    )
    assert ok, msg


def test_sized_k_derivation():
    """k = ceil(N/64) from the embeddings footer: 8 at the 500-row
    fixtures (the original registered pin — derivation and pin agree at
    the driver's sf0.01), 32 at sf0.1."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        sized_k_for,
    )

    assert sized_k_for("/root/testdata/sf0.001") == 8
    assert sized_k_for("/root/testdata/sf0.01") == 8
    assert sized_k_for("/root/testdata/sf0.1") == 32
    assert sized_k_for("/no/such/dir") == 8  # fallback N=500


def test_semantic_dedup_sized_k_parity_sf01(spark):
    """The corpus-sized derivation generalizes: at sf0.1 (k=32, a
    DIFFERENT clustering than the sf0.01 pin's k=8) the registered
    query still matches an oracle built with the same sized k."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_semantic_dedup,
        q_semantic_dedup,
        sized_k_for,
    )
    from .oracle_harness import compare

    sfd = "/root/testdata/sf0.1"
    ok, msg = compare(
        q_semantic_dedup(spark, sfd),
        _oracle_semantic_dedup(k=sized_k_for(sfd)),
        sfd,
        "semantic_dedup_sf01_sized",
    )
    assert ok, msg


def test_semantic_assign_arrow_path_matches_literal(spark, monkeypatch):
    """Beyond LITERAL_K_MAX clusters `_semantic_assign` switches to the
    Arrow int64-matmul argmin. The two paths must be value-IDENTICAL
    (exact integer distances, first-min tie-break on both): forcing the
    arrow path at the registered k must reproduce the registered oracle
    bit-for-bit through the whole semantic_dedup query."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        dedup as D,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_semantic_dedup,
        q_semantic_dedup,
    )
    from .oracle_harness import compare

    monkeypatch.setattr(D, "LITERAL_K_MAX", 2)  # k=8 now takes arrow
    ok, msg = compare(
        q_semantic_dedup(spark, SF_SMOKE),
        _oracle_semantic_dedup(k=8),
        SF_SMOKE,
        "semantic_dedup_arrow_forced",
    )
    assert ok, msg


def test_semantic_dedup_incremental_sized_k_parity_sf01(spark):
    """Sequential-ingest incremental SemDeDup under the sf0.1 sized
    clustering (k=32): recursive-CTE oracle parity holds for a k the
    registered sf0.01 pin never exercises."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_semantic_dedup_incremental,
        q_semantic_dedup_incremental,
        sized_k_for,
    )
    from .oracle_harness import compare

    sfd = "/root/testdata/sf0.1"
    ok, msg = compare(
        q_semantic_dedup_incremental(spark, sfd),
        _oracle_semantic_dedup_incremental(k=sized_k_for(sfd)),
        sfd,
        "semantic_dedup_incremental_sf01_sized",
    )
    assert ok, msg


def test_ann_recall_eval_matches_numpy_reference(spark):
    """Staged r8: per-query IVF recall@10 against a numpy ground truth —
    exact top-k, probe selection, float argmin assignment (first-min
    ties), and the overlap count all recomputed independently."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ANN_EVAL_K,
        ANN_EVAL_NPROBE,
        ANN_EVAL_Q_HI,
        ANN_EVAL_Q_LO,
        q_ann_recall_eval,
    )

    got = {
        r.query_id: (r.n_hits, r.recall)
        for r in q_ann_recall_eval(spark, SF_SMOKE).collect()
    }

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    cents = mat[:16]
    cdist = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assigned = cdist.argmin(axis=1)  # first-min ties, same as the engine

    want = {}
    for qi in range(ANN_EVAL_Q_LO, ANN_EVAL_Q_HI):
        q = mat[qi]
        d = np.sqrt(((mat - q) ** 2).sum(axis=1))
        mask_self = ids != qi
        order = sorted(
            (float(d[i]), int(ids[i])) for i in range(len(ids)) if mask_self[i]
        )
        exact = {vid for _, vid in order[:ANN_EVAL_K]}
        probe = set(
            np.argsort(((cents - q) ** 2).sum(axis=1), kind="stable")[
                :ANN_EVAL_NPROBE
            ]
        )
        in_probe = [
            i for i in range(len(ids))
            if mask_self[i] and assigned[i] in probe
        ]
        order_a = sorted((float(d[i]), int(ids[i])) for i in in_probe)
        approx = {vid for _, vid in order_a[:ANN_EVAL_K]}
        n = len(exact & approx)
        want[qi] = (n, n / float(ANN_EVAL_K))
    assert got == want
    # the measurement must be non-trivial: some recall loss and some hits
    vals = [v for _, (_, v) in got.items()]
    assert min(vals) < 1.0 and max(vals) > 0.0


def test_ann_recall_eval_oracle_parity_staged(spark, sf_dir):
    """The staged ann_recall_eval DuckDB oracle already passes the
    driver-faithful comparison, so r8 registration is a 2-line diff."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_ann_recall_eval,
        q_ann_recall_eval,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_ann_recall_eval(spark, sf_dir),
        _oracle_ann_recall_eval(),
        sf_dir,
        "ann_recall_eval",
    )
    assert ok, msg


def test_mmr_rerank_matches_python_reference(spark):
    """Staged r8: MMR greedy against a single-threaded reference over
    the real fixture — selections, ranks, and scores must agree; the
    diverse pick-set must genuinely differ from plain top-k (else the
    diversity term did nothing and the test is vacuous)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        MMR_K,
        MMR_LAM_DEN,
        MMR_LAM_NUM,
        MMR_N_QUERIES,
        MMR_SHORTLIST,
        q_mmr_rerank,
    )

    got = {
        (r.query_id, r.rank): (r.vec_id, r.mmr_score)
        for r in q_mmr_rerank(spark, SF_SMOKE).collect()
    }
    assert len(got) == MMR_N_QUERIES * MMR_K

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    lam = float(MMR_LAM_NUM) / float(MMR_LAM_DEN)
    one_m = float(MMR_LAM_DEN - MMR_LAM_NUM) / float(MMR_LAM_DEN)

    diverged = False
    for qi in range(MMR_N_QUERIES):
        q = mat[qi]
        sims = (mat @ q) / np.maximum(nrm * nrm[qi], 1e-12)
        order = sorted(
            ((-float(sims[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != qi),
        )[:MMR_SHORTLIST]
        short = [vid for _, vid in order]
        rel = {vid: round(float(sims[vid]), 6) for vid in short}
        sub = mat[short]
        subn = nrm[short]
        psim = np.round(
            (sub @ sub.T) / np.maximum(subn[:, None] * subn[None, :], 1e-12), 6
        )
        pos = {vid: i for i, vid in enumerate(short)}
        selected: list[int] = []
        for rank in range(1, MMR_K + 1):
            best = None
            for vid in short:
                if vid in selected:
                    continue
                ms = max(
                    (float(psim[pos[vid], pos[s]]) for s in selected),
                    default=0.0,
                )
                score = lam * rel[vid] - one_m * ms
                key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, vid, score)
            _, pick, score = best
            selected.append(pick)
            gvid, gscore = got[(qi, rank)]
            assert gvid == pick, (qi, rank, gvid, pick)
            assert gscore == score, (qi, rank, gscore, score)
        if selected != short[:MMR_K]:
            diverged = True
    assert diverged, "diversity term never changed a pick — vacuous fixture"


def test_mmr_rerank_oracle_parity_staged(spark, sf_dir):
    """The staged mmr_rerank DuckDB oracle (k unrolled greedy steps)
    already passes the driver-faithful comparison."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_mmr_rerank,
        q_mmr_rerank,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_mmr_rerank(spark, sf_dir),
        _oracle_mmr_rerank(),
        sf_dir,
        "mmr_rerank",
    )
    assert ok, msg


def test_dedup_keep_best_matches_reference(spark):
    """Staged r8: per-cluster best-quality representative — cluster
    membership must match dedup_components' rosters and the pick must
    be the max-quality member (ties → lowest id), recomputed from the
    quality_score output (registry row retired r16; the surface stays
    via the kept q_ function)."""
    import collections

    import __spark_entry__ as entrymod

    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_dedup_keep_best,
        q_quality_score,
    )

    got = {
        r.component: (r.n_docs, r.keep_id, r.keep_quality)
        for r in q_dedup_keep_best(spark, SF_SMOKE).collect()
    }

    comp_rows = entrymod.queries()["dedup_components"](spark, SF_SMOKE).collect()
    qual = {
        r.doc_id: r.quality
        for r in q_quality_score(spark, SF_SMOKE).collect()
    }
    # reconstruct rosters from the pair table (components query only
    # emits checksums): rebuild via union-find over the same pairs
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        dedup as D,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = [
        (r.left_id, r.right_id)
        for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    ]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    rosters = collections.defaultdict(list)
    for n in list(parent):
        rosters[find(n)].append(n)

    want = {}
    for comp, members in rosters.items():
        best = min(members, key=lambda d: (-qual[d], d))
        want[min(members)] = (len(members), best, qual[best])
    assert got == want
    # cross-check against the registered components row count
    assert len(got) == len(comp_rows)
    # the quality pick must differ from min-id for at least one cluster
    # (else the test cannot distinguish keep-best from keep-first)
    assert any(k != c for c, (_, k, _q) in got.items()), (
        "every best-quality pick equals the min id — vacuous fixture"
    )


def test_dedup_keep_best_oracle_parity_staged(spark, sf_dir):
    """The staged dedup_keep_best DuckDB oracle already passes the
    driver-faithful comparison."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_dedup_keep_best,
        q_dedup_keep_best,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_dedup_keep_best(spark, sf_dir),
        _oracle_dedup_keep_best(),
        sf_dir,
        "dedup_keep_best",
    )
    assert ok, msg


def test_dedup_recall_eval_matches_reference(spark):
    """Staged r8: the LSH-recall summary equals counts recomputed from
    the two pair operators directly, and is non-trivial (some ground
    truth, full precision — the LSH verify step re-checks true Jaccard,
    so precision must be 1.0 by construction)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        dedup as D,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_dedup_recall_eval,
    )

    row = q_dedup_recall_eval(spark, SF_SMOKE).collect()
    assert len(row) == 1
    r = row[0]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    exact = {
        (p.left_id, p.right_id)
        for p in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (p.left_id, p.right_id)
        for p in D.minhash_lsh_pairs(
            docs, n=3, num_hashes=8, bands=4, threshold=0.5
        ).collect()
    }
    assert (r.n_exact, r.n_lsh, r.n_hit) == (
        len(exact),
        len(lsh),
        len(exact & lsh),
    )
    assert r.recall == len(exact & lsh) / max(len(exact), 1)
    assert r.precision == 1.0, "verified LSH pairs must all be true pairs"
    assert r.n_exact > 0 and 0.0 < r.recall <= 1.0


def test_dedup_recall_eval_oracle_parity_staged(spark, sf_dir):
    """The staged dedup_recall_eval DuckDB oracle already passes the
    driver-faithful comparison."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_dedup_recall_eval,
        q_dedup_recall_eval,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_dedup_recall_eval(spark, sf_dir),
        _oracle_dedup_recall_eval(),
        sf_dir,
        "dedup_recall_eval",
    )
    assert ok, msg


def test_search_batch_matches_numpy_reference(spark):
    """Registered r8 (VERDICT r7 #2): the Arrow/BLAS serving kernel via
    the search_batch facade against a numpy ground truth — exact L2
    top-k per query, self excluded, ties toward the lower vec_id, dist
    rounded to 6 decimals exactly as the registry row emits it."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        SB_K,
        SB_Q_HI,
        SB_Q_LO,
        q_search_batch,
    )

    got = {
        (r.query_id, r.rank): (r.vec_id, r.dist)
        for r in q_search_batch(spark, SF_SMOKE).collect()
    }
    assert len(got) == (SB_Q_HI - SB_Q_LO) * SB_K

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    for qi in range(SB_Q_LO, SB_Q_HI):
        d = np.sqrt(((mat - mat[qi]) ** 2).sum(axis=1))
        order = sorted(
            (float(d[i]), int(ids[i]))
            for i in range(len(ids))
            if ids[i] != qi
        )
        for rank, (dist, vid) in enumerate(order[:SB_K], start=1):
            gvid, gdist = got[(qi, rank)]
            assert gvid == vid, (qi, rank, gvid, vid)
            assert gdist == round(dist, 6), (qi, rank, gdist, dist)


def test_search_batch_oracle_parity_staged(spark, sf_dir):
    """The search_batch DuckDB oracle passes the driver-faithful
    comparison — the BLAS kernel's rounded distances and raw ranks
    hash-match the exact left-fold SQL."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_search_batch,
        q_search_batch,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_search_batch(spark, sf_dir),
        _oracle_search_batch(),
        sf_dir,
        "search_batch",
    )
    assert ok, msg


def test_search_batch_plan_no_corpus_shuffle(spark):
    """Serving-kernel plan contract: the corpus scan feeds mapInPandas
    directly (no exchange before scoring); the only hash exchange is
    the tiny candidate window (≤ partitions·Q·k rows), and nothing
    plans a cartesian product."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_search_batch,
    )

    df = q_search_batch(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch_assignments_matches_python_reference(spark):
    """Staged r9 (SA3 oracle gap): global-canonical batch assignment
    against a single-threaded reference — identical permutation, batch
    ids, slots, and global drop-last cut; the assignment must be a pure
    function of (ids, seed, size), so a repartitioned input yields the
    SAME rows."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.batching import (
        batch_assignments,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.sample import (
        HASH_MOD,
        HASH_MULT,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id")
    got = {
        r.vec_id: (r.batch_id, r.pos)
        for r in batch_assignments(emb, batch_size=16, seed=42).collect()
    }

    ids = sorted(r.vec_id for r in emb.collect())
    order = sorted(ids, key=lambda i: (((i + 42) * HASH_MULT) % HASH_MOD, i))
    keep = len(order) - (len(order) % 16)
    want = {vid: (rk // 16, rk % 16) for rk, vid in enumerate(order[:keep])}
    assert got == want
    assert len(got) == keep and keep < len(ids), "drop_last must cut globally"

    # physical-layout independence: a different partitioning, same rows
    got2 = {
        r.vec_id: (r.batch_id, r.pos)
        for r in batch_assignments(
            emb.repartition(7), batch_size=16, seed=42
        ).collect()
    }
    assert got2 == got


def test_batch_assignments_oracle_parity_staged(spark, sf_dir):
    """The staged batch_assignments DuckDB oracle passes the
    driver-faithful comparison (all-integer arithmetic — bit-exact)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_batch_assignments,
        q_batch_assignments,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_batch_assignments(spark, sf_dir),
        _oracle_batch_assignments(),
        sf_dir,
        "batch_assignments",
    )
    assert ok, msg


def test_batch_assignments_plan_two_phase(spark):
    """Scale contract: the global rank must NEVER plan a single-task
    corpus sort — the offsets/total sides are broadcast and the
    per-bucket rank window runs after a hash exchange on the bucket."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_batch_assignments,
    )

    df = q_batch_assignments(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the corpus-side window is partitioned by _bkt (parallel), never a
    # global ORDER BY over the full table in one task: every
    # single-partition exchange in the plan belongs to the tiny
    # offsets/total aggregates, which arrive at the corpus via broadcast
    assert "BroadcastExchange" in plan
    import re
    corpus_windows = [
        l for l in plan.splitlines()
        if "Window" in l and "_key" in l and "windowspecdefinition(_bkt" in l
    ]
    assert corpus_windows, "bucket-partitioned rank window missing"


def test_embedding_outliers_matches_numpy_reference(spark):
    """Staged r9: the embedding-quality outlier screen against an
    integer-exact numpy reference — same quantization, assignment,
    first-min ties, and cross-multiplied flag; the screen must be
    non-vacuous on the fixture (some outliers, never a whole cluster)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        OUT_DEN,
        OUT_K,
        OUT_NUM,
        q_embedding_outliers,
    )

    got = {
        r.vec_id: (r.cid, r.dist2, r.is_outlier)
        for r in q_embedding_outliers(spark, SF_SMOKE).collect()
    }

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    scale = 1 << 20
    qv = {
        r.vec_id: np.floor(
            np.asarray(r.embedding, dtype=np.float64) * scale + 0.5
        ).astype(np.int64)
        for r in rows
    }
    cents = [qv[i] for i in range(OUT_K)]
    want_assign = {}
    for vid, v in qv.items():
        d = [int(((v - c) ** 2).sum()) for c in cents]
        cid = d.index(min(d))  # first-min tie-break
        want_assign[vid] = (cid, min(d))
    agg: dict = {}
    for vid, (cid, d2) in want_assign.items():
        n, s = agg.get(cid, (0, 0))
        agg[cid] = (n + 1, s + d2)
    want = {
        vid: (cid, d2, d2 * OUT_DEN * agg[cid][0] > OUT_NUM * agg[cid][1])
        for vid, (cid, d2) in want_assign.items()
    }
    assert got == want
    flags = [v[2] for v in got.values()]
    assert any(flags) and not all(flags), "vacuous screen"


def test_embedding_outliers_oracle_parity_staged(spark, sf_dir):
    """The staged embedding_outliers DuckDB oracle passes the
    driver-faithful comparison (all-integer / HUGEINT — bit-exact)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_embedding_outliers,
        q_embedding_outliers,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_embedding_outliers(spark, sf_dir),
        _oracle_embedding_outliers(),
        sf_dir,
        "embedding_outliers",
    )
    assert ok, msg


def test_embedding_outliers_plan_broadcast_stats(spark):
    """Scale contract: the per-cluster totals come back via broadcast —
    the corpus never hash-shuffles for the join; the only hash exchange
    is the k-row aggregate."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_embedding_outliers,
    )

    df = q_embedding_outliers(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the k-row agg


def test_quantized_recall_eval_matches_numpy_reference(spark):
    """Staged r9: PQ/SQ recall@10 against a numpy ground truth that
    re-implements encode → reconstruct → rank independently; PQ (16
    codewords per subspace) must lose recall somewhere and SQ (8-bit)
    must be the finer quantizer on average."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ANN_EVAL_K,
        ANN_EVAL_Q_HI,
        ANN_EVAL_Q_LO,
        PQ_M,
        q_quantized_recall_eval,
    )

    got = {
        (r.query_id, r.tier): (r.n_hits, r.recall)
        for r in q_quantized_recall_eval(spark, SF_SMOKE).collect()
    }
    assert len(got) == 2 * (ANN_EVAL_Q_HI - ANN_EVAL_Q_LO)

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    train = mat[:16]
    dsub = mat.shape[1] // PQ_M

    # PQ reconstruction: per-subspace argmin over the 16 training slices
    recon_pq = np.empty_like(mat)
    for j in range(PQ_M):
        s = slice(j * dsub, (j + 1) * dsub)
        d = ((mat[:, None, s] - train[None, :, s]) ** 2).sum(axis=2)
        codes = d.argmin(axis=1)  # first-min ties, same as the engine
        recon_pq[:, s] = train[codes][:, s]

    # SQ reconstruction: bin midpoints of the per-dim training range
    lo = train.min(axis=0)
    rng = np.maximum(train.max(axis=0) - lo, 1e-12)
    codes = np.clip(np.floor((mat - lo) / rng * 255.0), 0, 255)
    recon_sq = lo + (codes + 0.5) * rng / 255.0

    def topk(base, qi):
        d = ((base - mat[qi]) ** 2).sum(axis=1)
        order = sorted(
            (float(d[i]), int(ids[i]))
            for i in range(len(ids))
            if ids[i] != qi
        )
        return {vid for _, vid in order[:ANN_EVAL_K]}

    pq_rs, sq_rs = [], []
    for qi in range(ANN_EVAL_Q_LO, ANN_EVAL_Q_HI):
        exact = topk(mat, qi)
        n_pq = len(exact & topk(recon_pq, qi))
        n_sq = len(exact & topk(recon_sq, qi))
        assert got[(qi, "pq")] == (n_pq, n_pq / float(ANN_EVAL_K)), qi
        assert got[(qi, "sq")] == (n_sq, n_sq / float(ANN_EVAL_K)), qi
        pq_rs.append(n_pq)
        sq_rs.append(n_sq)
    assert min(pq_rs) < ANN_EVAL_K, "PQ must lose recall somewhere"
    assert sum(sq_rs) > sum(pq_rs), "8-bit SQ must beat 16-codeword PQ"


def test_quantized_recall_eval_oracle_parity_staged(spark, sf_dir):
    """The staged quantized_recall_eval DuckDB oracle passes the
    driver-faithful comparison."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_quantized_recall_eval,
        q_quantized_recall_eval,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_quantized_recall_eval(spark, sf_dir),
        _oracle_quantized_recall_eval(),
        sf_dir,
        "quantized_recall_eval",
    )
    assert ok, msg


def test_hard_negatives_matches_python_reference(spark):
    """Registered r11 (VERDICT r9 #5 / r10 #1): hard-negative mining
    against a single-threaded bit-exact reference — per-query top-k
    nearest DIFFERENT-label rows, distances accumulated with the same
    float64 left fold (``acc + (x-q)**2`` per dimension, then sqrt) the
    Arrow kernel and the DuckDB oracle use, ties toward the lower
    vec_id. Every returned neighbour's label must differ from its
    query's label, and dist must be bit-identical (==, not approx)."""
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ANN_EVAL_Q_HI,
        ANN_EVAL_Q_LO,
        HN_K,
        q_hard_negatives,
    )

    got = {
        (r.query_id, r.rank): (r.vec_id, r.neg_label, r.dist)
        for r in q_hard_negatives(spark, SF_SMOKE).collect()
    }
    assert len(got) == (ANN_EVAL_Q_HI - ANN_EVAL_Q_LO) * HN_K

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    by_id = {r.vec_id: r for r in rows}

    def fold_l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            d = float(x) - float(y)
            acc = acc + d * d
        return math.sqrt(acc)

    for qi in range(ANN_EVAL_Q_LO, ANN_EVAL_Q_HI):
        q = by_id[qi]
        cands = sorted(
            (fold_l2(r.embedding, q.embedding), r.vec_id, r.label)
            for r in rows
            if r.label != q.label
        )
        for rank, (dist, vid, lab) in enumerate(cands[:HN_K], start=1):
            gvid, glab, gdist = got[(qi, rank)]
            assert gvid == vid, (qi, rank, gvid, vid)
            assert glab == lab and lab != q.label, (qi, rank)
            assert gdist == dist, (qi, rank, gdist, dist)  # bit-exact


def test_hard_negatives_oracle_parity_staged(spark, sf_dir):
    """The hard_negatives DuckDB oracle passes the driver-faithful
    comparison — the RAW-double left-fold distance hash-matches
    DuckDB's list_reduce fold (the exact-hash claim of the r10
    de-rounding, verified at every SF this suite runs at)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_hard_negatives,
        q_hard_negatives,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_hard_negatives(spark, sf_dir),
        _oracle_hard_negatives(),
        sf_dir,
        "hard_negatives",
    )
    assert ok, msg


def test_hard_negatives_plan_no_corpus_shuffle(spark):
    """Mining-kernel plan contract (same shape as search_batch): the
    corpus scan feeds mapInPandas directly — the label mask and k-cut
    happen inside the Arrow kernel, so the only hash exchange is the
    tiny candidate window (≤ partitions·Q·k rows); nothing plans a
    cartesian product or a broadcast nested loop."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_hard_negatives,
    )

    df = q_hard_negatives(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# dsir_importance — staged r11, REGISTERED r12 (paired with the
# split_counts retirement per the write-ahead plan).
# ---------------------------------------------------------------------------


def test_dsir_importance_matches_python_reference(spark):
    """DSIR importance scores agree bit-exactly with a single-threaded
    reference: same md5-hash bucketing, same two correctly-rounded
    divisions feeding one ln, same HALF-UP λ quantization, integer
    score sum (order-free by construction, so 'bit-exact' here is not
    luck — only the per-bucket λ touches floats at all)."""
    import hashlib
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.mixing import (
        DSIR_BUCKETS,
        DSIR_SCALE,
        dsir_importance,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = dsir_importance(docs, F.col("lang") == "en", k=None).collect()

    def grams(text):
        toks = [t for t in text.lower().split() if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bkt(gram):
        return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % DSIR_BUCKETS

    def half_up(v):
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    rows = [(r.doc_id, grams(r.text), r.lang == "en") for r in docs.collect()]
    rc, tc = {}, {}
    for _, gs, is_t in rows:
        for g in gs:
            b = bkt(g)
            rc[b] = rc.get(b, 0) + 1
            if is_t:
                tc[b] = tc.get(b, 0) + 1
    rtot, ttot = sum(rc.values()), sum(tc.values())
    lam = {
        b: half_up(
            math.log(
                ((tc.get(b, 0) + 1) / (ttot + DSIR_BUCKETS))
                / ((rc[b] + 1) / (rtot + DSIR_BUCKETS))
            )
            * float(DSIR_SCALE)
        )
        for b in rc
    }
    expect = {
        did: (len(gs), sum(lam[bkt(g)] for g in gs))
        for did, gs, _ in rows
        if gs
    }

    assert len(got) == len(expect)
    for r in got:
        n_grams, score_q = expect[r.doc_id]
        assert r.n_grams == n_grams, (r.doc_id, r.n_grams, n_grams)
        assert r.score_q == score_q, (r.doc_id, r.score_q, score_q)


def test_dsir_importance_oracle_parity_staged(spark, sf_dir):
    """The staged dsir_importance DuckDB oracle passes the driver-faithful
    comparison — integer score hash, exact at every SF this suite runs
    at (verified by hand at sf0.001/sf0.01/sf0.1 in r11)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        ORACLE_DSIR_IMPORTANCE,
        q_dsir_importance,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_dsir_importance(spark, sf_dir),
        ORACLE_DSIR_IMPORTANCE,
        sf_dir,
        "dsir_importance",
    )
    assert ok, msg


def test_dsir_importance_plan_shape(spark):
    """Plan contract: two corpus-keyed hash exchanges only (bucket
    statistics with map-side partials, then the per-document score
    aggregate); the totals window runs over the ≤B-row post-aggregate
    stats table (bounded single-partition move, not corpus-sized); λ
    arrives by broadcast; no cartesian/BNLJ, no Python row UDF."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.mixing import (
        dsir_importance,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = dsir_importance(docs, F.col("lang") == "en", k=40)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# perplexity_buckets — staged r11, REGISTERED r12 (paired with the
# knn_display retirement per the write-ahead plan).
# ---------------------------------------------------------------------------


def test_perplexity_buckets_matches_python_reference(spark):
    """CCNet tercile assignment agrees with a single-threaded reference:
    same md5 bucketing, same quantized per-bucket NLL, integer milli-λ
    per-token average, numpy linear-interpolation percentiles (the
    (n−1)·p definition Spark's percentile shares)."""
    import hashlib
    import math

    import numpy as np

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.mixing import (
        DSIR_BUCKETS,
        DSIR_SCALE,
        ccnet_perplexity_buckets,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = {r.doc_id: r for r in ccnet_perplexity_buckets(docs).collect()}

    def toks(text):
        return [t for t in text.lower().split() if t]

    def bkt(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % DSIR_BUCKETS

    def half_up(v):
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    rows = [(r.doc_id, r.lang, toks(r.text)) for r in docs.collect()]
    cnt = {}
    for _, _, ts in rows:
        for t in ts:
            b = bkt(t)
            cnt[b] = cnt.get(b, 0) + 1
    total = sum(cnt.values())
    lam = {
        b: half_up(-math.log(c / total) * float(DSIR_SCALE))
        for b, c in cnt.items()
    }
    scored = [
        (did, lang, len(ts), (sum(lam[bkt(t)] for t in ts) * 1000) // len(ts))
        for did, lang, ts in rows
        if ts
    ]
    by_lang = {}
    for did, lang, n, avg in scored:
        by_lang.setdefault(lang, []).append(avg)
    cuts = {
        lang: (
            float(np.percentile(v, 100.0 / 3.0, method="linear")),
            float(np.percentile(v, 200.0 / 3.0, method="linear")),
        )
        for lang, v in by_lang.items()
    }

    assert len(got) == len(scored)
    for did, lang, n, avg in scored:
        r = got[did]
        assert (r.lang, r.n_tokens, r.avg_nll_q) == (lang, n, avg), (
            did, (r.lang, r.n_tokens, r.avg_nll_q), (lang, n, avg),
        )
        c1, c2 = cuts[lang]
        want = "head" if avg <= c1 else ("middle" if avg <= c2 else "tail")
        assert r.ppl_bucket == want, (did, r.ppl_bucket, want, avg, c1, c2)
    # all three buckets non-trivially populated on the fixture
    labels = {r.ppl_bucket for r in got.values()}
    assert labels == {"head", "middle", "tail"}


def test_perplexity_buckets_oracle_parity_staged(spark, sf_dir):
    """The staged perplexity_buckets DuckDB oracle passes the
    driver-faithful comparison — integer scores, exact interpolated
    tercile cuts (green at sf0.001/0.01/0.1 in r11)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        ORACLE_PERPLEXITY_BUCKETS,
        q_perplexity_buckets,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_perplexity_buckets(spark, sf_dir),
        ORACLE_PERPLEXITY_BUCKETS,
        sf_dir,
        "perplexity_buckets",
    )
    assert ok, msg


def test_perplexity_buckets_plan_shape(spark):
    """Plan contract: three DISTINCT exchanges — bucket-keyed LM stats
    (map-side partial), doc-keyed score aggregate, lang-keyed percentile
    cuts over the per-doc pairs. The raw plan string shows five because
    `scored` is referenced by both the cuts aggregate and the bucket
    join (toString reprints the branch); under the registered query's
    cache contract `scored` is persisted, so the branch EXECUTES once —
    the with-handles plan reads it back through InMemoryTableScan. LM
    and cuts arrive by broadcast; no cartesian/BNLJ/Python row UDF."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.mixing import (
        ccnet_perplexity_buckets,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = ccnet_perplexity_buckets(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    keys = {
        re.sub(r"#\d+", "", m.group(1))
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert len(keys) == 3, keys  # bkt, (doc_id, lang), lang — and no more
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    handles: list = []
    cached = ccnet_perplexity_buckets(docs, cache_handles=handles)
    cplan = cached._jdf.queryExecution().executedPlan().toString()
    try:
        assert "InMemoryTableScan" in cplan  # the persisted reuse is real
    finally:
        for h in handles:
            h.unpersist()


# ---------------------------------------------------------------------------
# semantic_decontaminate — staged r11, REGISTERED r12 (paired with the
# sq_topk retirement per the write-ahead plan).
# ---------------------------------------------------------------------------


def test_semantic_decontaminate_matches_numpy_reference(spark):
    """The screen agrees bit-exactly with a single-threaded reference:
    same normalize clamp, same per-dimension left-fold distance, same
    (dist, eval_id) best tie-break and (dist, vec_id) global top-50."""
    import numpy as np

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
        semantic_screen,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    got = semantic_screen(emb, eval_ids_max=32, k=50).collect()

    rows = sorted(
        (r.vec_id, np.asarray(r.embedding, dtype=np.float64))
        for r in emb.collect()
    )

    def norm(x):
        acc = 0.0
        for v in x:
            acc = acc + v * v
        return x / max(np.sqrt(acc), 1e-12)

    ev = [(i, norm(x)) for i, x in rows if i < 32]
    corp = [(i, norm(x)) for i, x in rows if i >= 32]
    best = []
    for ci, cx in corp:
        cands = []
        for ei, ex in ev:
            acc = 0.0
            for j in range(len(cx)):
                d = cx[j] - ex[j]
                acc = acc + d * d
            cands.append((float(np.sqrt(acc)), ei))
        d, e = min(cands)
        best.append((d, ci, e))
    best.sort()
    expect = best[:50]

    assert len(got) == len(expect)
    for r, (d, ci, ei) in zip(got, expect):
        assert (r.vec_id, r.eval_id) == (ci, ei), (r, ci, ei)
        assert r.dist == d, (r.vec_id, r.dist, d)  # bit-exact


def test_semantic_decontaminate_oracle_parity_staged(spark, sf_dir):
    """The staged semantic_decontaminate DuckDB oracle passes the
    driver-faithful comparison — RAW-double distances through the
    shared left-fold (green at sf0.001/0.01/0.1 in r11)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ORACLE_SEMANTIC_DECONTAMINATE,
        q_semantic_decontaminate,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_semantic_decontaminate(spark, sf_dir),
        ORACLE_SEMANTIC_DECONTAMINATE,
        sf_dir,
        "semantic_decontaminate",
    )
    assert ok, msg


def test_semantic_decontaminate_plan_no_corpus_shuffle(spark):
    """Kernel-composition plan contract: the corpus scan feeds
    mapInPandas directly (normalize + distance inside the Arrow
    kernel); the only exchanges are the two bounded candidate windows
    (per-eval rank, per-corpus-row best) over <= partitions*Q*k rows.
    No cartesian, no BNLJ."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_semantic_decontaminate,
    )

    df = q_semantic_decontaminate(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_semantic_screen_empty_eval_slice_raises_clearly(spark):
    """r12 ADVICE regression: an eval slice with no rows must raise a
    dedicated error naming the empty benchmark slice, not fail deep in
    the kernel with a misleading query-matrix shape message."""
    import pytest

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
        semantic_screen,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries import (
        load_table,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    with pytest.raises(ValueError, match="empty eval slice"):
        semantic_screen(emb, eval_ids_max=0, k=5)


# ---------------------------------------------------------------------------
# bq_hamming_topk — staged r12, REGISTERED r13 (paired with the
# ivf_topk_batch retirement per the write-ahead plan in queries.py).
# ---------------------------------------------------------------------------


def test_bq_hamming_matches_python_reference(spark):
    """Packed BQ codes and Hamming distances agree bit-exactly with a
    single-threaded reference: same floor(x*2^20 + 0.5) quantization,
    same division-free q*n > sum threshold test, same two-half packing,
    same popcount — every step is integer, so exactness is by
    construction."""
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_hamming,
        bq_train_thresholds,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    rows = sorted(
        ((int(r.vec_id), [float(x) for x in r.embedding]) for r in emb.collect()),
    )
    train = [v for _, v in rows[:16]]
    thr = bq_train_thresholds(train)
    qh = bq_encode_query(rows[0][1], thr, 16)

    def code(v):
        h = bq_encode_query(v, thr, 16)
        return h

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    expect = {vid: ham(code(v), qh) for vid, v in rows if vid != 0}

    lo, hi = bq_encode_cols(thr, 16)
    got = {
        int(r.vec_id): int(r.hamming)
        for r in emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            lo.alias("bq_lo"),
            hi.alias("bq_hi"),
        )
        .select("vec_id", bq_hamming(qh, ["bq_lo", "bq_hi"]).alias("hamming"))
        .collect()
    }
    assert got == expect


def test_bq_hamming_oracle_parity_staged(spark, sf_dir):
    """The staged bq_hamming_topk DuckDB oracle passes the
    driver-faithful comparison (verified by hand at
    sf0.001/sf0.01/sf0.1 in r12 — integer output, exact hash)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_bq_hamming_topk,
        q_bq_hamming_topk,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_bq_hamming_topk(spark, sf_dir),
        _oracle_bq_hamming_topk(),
        sf_dir,
        "bq_hamming_topk",
    )
    assert ok, msg


def test_bq_hamming_plan_and_near_dup_retrieval(spark):
    """Plan contract: the flagship zero-shuffle shape — encode is one
    codegen'd projection (literal thresholds), search is
    TakeOrderedAndProject, NO exchange/BNLJ/Python anywhere.

    Retrieval property (the BQ use case — near-duplicate/rescore
    tiers, NOT fine ranking of unstructured gaussians, where 1-bit
    codes genuinely carry no signal): a corpus row that is a
    sign-preserving perturbation of the query must come back at
    Hamming distance 0, rank 1."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_hamming,
        bq_train_thresholds,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_bq_hamming_topk,
    )

    df = q_bq_hamming_topk(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    rows = sorted(
        ((int(r.vec_id), [float(x) for x in r.embedding]) for r in emb.collect())
    )
    train = [v for _, v in rows[:16]]
    thr = bq_train_thresholds(train)
    qvec = rows[0][1]
    # sign-preserving wiggle: scale every component AWAY from its
    # threshold mean by 1% — bits identical to the query's by design
    means = [t / (len(train) * float(1 << 20)) for t in thr]
    dup = [m + (x - m) * 1.01 for x, m in zip(qvec, means)]
    big = int(max(vid for vid, _ in rows)) + 1
    corpus = emb.unionAll(
        spark.createDataFrame(
            [(big, dup, -1)], "vec_id long, embedding array<double>, label int"
        ).select(
            "vec_id", F.col("embedding").cast("array<float>"), "label"
        )
    )
    lo, hi = bq_encode_cols(thr, len(train))
    qh = bq_encode_query(qvec, thr, len(train))
    top = (
        corpus.filter(F.col("vec_id") != 0)
        .select("vec_id", lo.alias("bq_lo"), hi.alias("bq_hi"))
        .select("vec_id", bq_hamming(qh, ["bq_lo", "bq_hi"]).alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(1)
        .first()
    )
    assert top.vec_id == big and top.hamming == 0


# ---------------------------------------------------------------------------
# passage_chunking — staged r12, REGISTERED r13 (paired with the
# label_counts retirement per the write-ahead plan in queries.py).
# ---------------------------------------------------------------------------


def test_passage_chunks_matches_python_reference(spark):
    """Chunk boundaries, counts, and texts agree exactly with a
    single-threaded splitter: same tokenizer, chunk i covers tokens
    [i*stride, i*stride + window), count = 1 + ceil(max(L-W,0)/S),
    token-less docs emit nothing."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        passage_chunks,
    )

    W, S = 7, 5  # deliberately NOT the registry constants — generality
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in passage_chunks(docs, window=W, stride=S).collect()
    }

    expect = {}
    for r in docs.collect():
        toks = [t for t in r.text.lower().split() if t]
        L = len(toks)
        if L == 0:
            continue
        n = 1 + max(0, -(-(L - W) // S)) if L > W else 1
        for i in range(n):
            piece = toks[i * S : i * S + W]
            expect[(r.doc_id, i)] = (len(piece), " ".join(piece))
    assert got == expect


def test_passage_chunking_oracle_parity_staged(spark, sf_dir):
    """The staged passage_chunking DuckDB oracle passes the
    driver-faithful comparison (verified by hand at
    sf0.001/sf0.01/sf0.1 in r12)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_passage_chunking,
        q_passage_chunking,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_passage_chunking(spark, sf_dir),
        _oracle_passage_chunking(),
        sf_dir,
        "passage_chunking",
    )
    assert ok, msg


def test_passage_chunking_plan_zero_shuffle_one_tokenize(spark):
    """Plan contract: tokenize → guarded sequence → explode → slice is
    ONE projection chain — zero exchanges, exactly one Generate, and
    exactly ONE copy of the tokenize subtree (a pushed `size(toks) > 0`
    filter would inline it 3× — the doc_shingles lesson, blocked here
    by the NULL-sequence guard instead of a filter)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_passage_chunking,
    )

    df = q_passage_chunking(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Generate") == 1
    assert plan.count("split(trim(lower(") == 1
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# temperature_mix — staged r12, REGISTERED r13 (paired with the
# simhash retirement per the write-ahead plan in queries.py).
# ---------------------------------------------------------------------------


def test_temperature_mix_matches_python_reference(spark):
    """Quotas and the selected id set agree exactly with a
    single-threaded reference: floor(sqrt(n)) weights, integer
    largest-remainder allocation (ties to the smaller source name),
    multiplicative-hash selection order."""
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.mixing import (
        temperature_mix,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.sample import (
        HASH_MOD,
        HASH_MULT,
    )

    budget = 37  # NOT the registry constant — exercises remainders
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = [(r.doc_id, r.source) for r in docs.collect()]

    counts: dict = {}
    for _, s in rows:
        counts[s] = counts.get(s, 0) + 1
    w = {s: int(math.floor(math.sqrt(n))) for s, n in counts.items()}
    W = sum(w.values())
    base = {s: (budget * w[s]) // W for s in w}
    rem = {s: (budget * w[s]) % W for s in w}
    leftover = budget - sum(base.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    quota = {
        s: base[s] + (1 if i < leftover else 0) for i, s in enumerate(order)
    }

    def hkey(i):
        return ((i + 42) * HASH_MULT) % HASH_MOD

    by_src: dict = {}
    for did, s in rows:
        by_src.setdefault(s, []).append(did)
    expect = set()
    for s, ids in by_src.items():
        ids.sort(key=lambda i: (hkey(i), i))
        expect |= {(s, i) for i in ids[: quota[s]]}

    got = {
        (r.source, r.doc_id)
        for r in temperature_mix(docs, budget).collect()
    }
    assert got == expect
    assert len(got) == min(
        budget, sum(min(quota[s], counts[s]) for s in quota)
    )


def test_temperature_mix_oracle_parity_staged(spark, sf_dir):
    """The staged temperature_mix DuckDB oracle passes the
    driver-faithful comparison (verified by hand at
    sf0.001/sf0.01/sf0.1 in r12)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_temperature_mix,
        q_temperature_mix,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_temperature_mix(spark, sf_dir),
        _oracle_temperature_mix(),
        sf_dir,
        "temperature_mix",
    )
    assert ok, msg


def test_temperature_mix_plan_shape(spark):
    """Plan contract: ONE corpus-keyed exchange (the per-source rank
    window); the quota table derives from a map-side-partial count
    aggregate and joins back by BROADCAST; the tiny unpartitioned
    windows run over the ≤|sources|-row stats table only. No
    cartesian/BNLJ/Python."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_temperature_mix,
    )

    df = q_temperature_mix(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # corpus-keyed exchanges: source-rank window + the count aggregate
    assert plan.count("Exchange hashpartitioning") == 2


# ---------------------------------------------------------------------------
# unimax_mix — STAGED r13, r14 registration candidate (pair with the
# kmeans_step retirement per the write-ahead plan in queries.py).
# ---------------------------------------------------------------------------


def test_unimax_quotas_matches_paper_fold():
    """The integer UniMax fold: ascending order, equal integer shares,
    epoch caps bind for small sources, an uncapped tail absorbs
    crumbs, and an all-capped corpus leaves budget unspent."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.mixing import (
        unimax_quotas,
    )

    # mixed: 'a' caps (2*3=6 < share), the rest split what remains
    q = unimax_quotas([("a", 3), ("b", 50), ("c", 40)], budget=90, epoch_cap=2)
    assert q["a"] == 6            # capped at 2 epochs
    assert q["c"] == (90 - 6) // 2  # share of the remainder
    assert q["b"] == 90 - 6 - q["c"]  # last (largest) absorbs crumbs
    assert sum(q.values()) == 90
    # all capped: leftover deliberately unspent
    q2 = unimax_quotas([("x", 2), ("y", 3)], budget=100, epoch_cap=1)
    assert q2 == {"x": 2, "y": 3}
    # determinism: tie on n broken by source name ascending
    q3 = unimax_quotas([("n2", 5), ("n1", 5)], budget=7, epoch_cap=9)
    assert q3["n1"] == 3 and q3["n2"] == 4


def test_unimax_mix_matches_python_reference(spark):
    """Per-doc epoch counts agree exactly with a single-threaded
    reference: quota fold, q div n base copies, first q mod n
    hash-ordered docs get one more, zero-copy docs dropped."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.mixing import (
        unimax_mix,
        unimax_quotas,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.sample import (
        HASH_MOD,
        HASH_MULT,
    )

    budget, epochs = 57, 3  # NOT the registry constants — generality
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = [(r.doc_id, r.source) for r in docs.collect()]
    counts: dict = {}
    for _, s in rows:
        counts[s] = counts.get(s, 0) + 1
    quotas = unimax_quotas(sorted(counts.items()), budget, epochs)

    def hkey(i):
        return ((i + 42) * HASH_MULT) % HASH_MOD

    by_src: dict = {}
    for did, s in rows:
        by_src.setdefault(s, []).append(did)
    expect = {}
    for s, ids in by_src.items():
        ids.sort(key=lambda i: (hkey(i), i))
        full, partial = quotas[s] // counts[s], quotas[s] % counts[s]
        for rk, did in enumerate(ids, start=1):
            n_copies = full + (1 if rk <= partial else 0)
            if n_copies >= 1:
                expect[(s, did)] = (rk, n_copies)

    got = {
        (r.source, r.doc_id): (r.mix_rank, r.n_copies)
        for r in unimax_mix(docs, budget, epochs).collect()
    }
    assert got == expect
    # total allocated copies == Σ quotas (nothing lost to the div/mod)
    assert sum(n for _, n in got.values()) == sum(quotas.values())


def test_unimax_mix_oracle_parity_staged(spark, sf_dir):
    """The staged unimax_mix DuckDB oracle passes the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r13)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_unimax_mix,
        q_unimax_mix,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_unimax_mix(spark, sf_dir), _oracle_unimax_mix(), sf_dir,
        "unimax_mix",
    )
    assert ok, msg


def test_unimax_mix_plan_shape(spark):
    """Plan contract: ONE corpus-keyed exchange (the per-source rank
    window) plus the count aggregate's; the quota table is a BROADCAST
    local relation (driver fold output, never a corpus-derived
    shuffle). No cartesian/BNLJ/Python."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_unimax_mix,
    )

    df = q_unimax_mix(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # the rank window's source exchange is the ONLY corpus shuffle —
    # quotas arrive as a broadcast driver-local relation (the fold's
    # createDataFrame output), not a corpus-derived aggregate
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


# ---------------------------------------------------------------------------
# length_bucket_batches — STAGED r13, r14 registration candidate (pair
# with the tumbling_window retirement per the write-ahead plan).
# ---------------------------------------------------------------------------


def test_length_bucket_batches_matches_python_reference(spark):
    """Width assignment, capacity, batch ids, positions, and drop-last
    agree exactly with a single-threaded reference."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.batching import (
        length_bucket_batches,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.sample import (
        HASH_MOD,
        HASH_MULT,
    )

    T, G, C = 96, 8, 64  # NOT the registry constants
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = [
        (r.doc_id, len([t for t in r.text.lower().split() if t]))
        for r in docs.collect()
    ]

    def hkey(i):
        return ((i + 42) * HASH_MULT) % HASH_MOD

    by_width: dict = {}
    for did, n in rows:
        if n == 0:
            continue
        width = ((min(n, C) + G - 1) // G) * G
        by_width.setdefault(width, []).append((did, n))
    expect = {}
    for width, members in by_width.items():
        members.sort(key=lambda t: (hkey(t[0]), t[0]))
        capacity = T // width
        keep = len(members) - (len(members) % capacity)
        for rk, (did, n) in enumerate(members[:keep]):
            expect[did] = (
                n, width, rk // capacity, rk % capacity, width - min(n, C)
            )

    got = {
        r.doc_id: (r.n_tokens, r.width, r.batch_id, r.pos, r.pad_tokens)
        for r in length_bucket_batches(
            docs, token_budget=T, granule=G, cap=C
        ).collect()
    }
    assert got == expect
    # every kept batch is exactly full (drop_last) and within budget
    from collections import Counter

    sizes = Counter((w, b) for _, (n, w, b, p, pd) in got.items())
    for (w, b), cnt in sizes.items():
        assert cnt == T // w
        assert cnt * w <= T


def test_length_bucket_batches_oracle_parity_staged(spark, sf_dir):
    """The staged length_bucket_batches DuckDB oracle passes the
    driver-faithful comparison (verified by hand at
    sf0.001/sf0.01/sf0.1 in r13)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_length_bucket_batches,
        q_length_bucket_batches,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_length_bucket_batches(spark, sf_dir),
        _oracle_length_bucket_batches(),
        sf_dir,
        "length_bucket_batches",
    )
    assert ok, msg


def test_length_bucket_batches_plan_two_phase(spark):
    """Plan contract: the per-width rank uses the two-phase bucketed
    scheme — the corpus-keyed exchange partitions by (width, _bkt),
    NEVER by width alone (≤ 8 hot keys at the registry knobs), and the
    offsets/totals tables join back by BROADCAST."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_length_bucket_batches,
    )

    df = q_length_bucket_batches(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    import re

    # the corpus rank window must PARTITION by (width, _bkt) — in the
    # windowspecdefinition arg list, partition columns precede the
    # ordered (ASC/DESC) columns, so a width-only-partition rank would
    # print `windowspecdefinition(width#N, _key#M ASC ...)`
    assert re.search(
        r"row_number\(\) windowspecdefinition\(width#\d+, _bkt#\d+L?, _key",
        plan,
    ), "per-width rank window must partition by (width, _bkt)"
    assert not re.search(
        r"row_number\(\) windowspecdefinition\(width#\d+, _key", plan
    ), "corpus rank window partitions by width alone (8 hot keys)"


# ---------------------------------------------------------------------------
# leakage_safe_split — STAGED r13, r14 registration candidate (pair
# with the semantic_dedup_incremental retirement per the write-ahead
# plan).
# ---------------------------------------------------------------------------


def test_leakage_safe_split_no_pair_straddles(spark):
    """The guarantee itself: every doc appears exactly once, members of
    one component share one split side, and therefore NO near-dup pair
    (or transitive chain) straddles train/eval; split fractions are
    sane (hash % 10 < 8)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        dedup as D,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.graph import (
        leakage_safe_split,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    handles: list = []
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.5, cache_handles=handles,
        pinned=D.pins_for(SF_SMOKE),
    )
    pair_rows = [(r.left_id, r.right_id) for r in pairs.collect()]
    out = leakage_safe_split(docs, pairs).collect()
    for h in handles:
        h.unpersist()
    assert pair_rows, "fixture must produce near-dup pairs"
    side = {r.doc_id: r.split for r in out}
    comp = {r.doc_id: r.component for r in out}
    assert len(side) == docs.count()
    for a, b in pair_rows:
        assert side[a] == side[b], f"pair ({a},{b}) straddles the split"
        assert comp[a] == comp[b]
    # unpaired docs are their own singleton component
    paired = {x for ab in pair_rows for x in ab}
    assert all(comp[d] == d for d in side if d not in paired)
    frac = sum(1 for s in side.values() if s == "train") / len(side)
    assert 0.6 < frac < 0.95


def test_leakage_safe_split_oracle_parity_staged(spark, sf_dir):
    """The staged leakage_safe_split DuckDB oracle passes the
    driver-faithful comparison (verified by hand at
    sf0.001/sf0.01/sf0.1 in r13)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_leakage_safe_split,
        q_leakage_safe_split,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_leakage_safe_split(spark, sf_dir),
        _oracle_leakage_safe_split(),
        sf_dir,
        "leakage_safe_split",
    )
    assert ok, msg


def test_leakage_safe_split_zero_cache_footprint(spark):
    """Inherits connected_components' contract: no cached blocks
    outlive the call (the pair cache is the caller's, released in the
    query wrapper)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_leakage_safe_split,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    rows = q_leakage_safe_split(spark, SF_SMOKE).collect()
    assert rows
    assert jsc.getPersistentRDDs().size() == before


def test_length_bucket_batches_rejects_degenerate_knobs(spark):
    """token_budget < cap would floor some width's capacity to 0 and
    NULL the div/mod chain (silent row loss) — must refuse loudly;
    ditto a cap that is not a granule multiple."""
    import pytest

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.batching import (
        length_bucket_batches,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with pytest.raises(ValueError, match="token_budget"):
        length_bucket_batches(docs, token_budget=64, granule=16, cap=128)
    with pytest.raises(ValueError, match="multiple"):
        length_bucket_batches(docs, token_budget=512, granule=16, cap=100)


# ---------------------------------------------------------------------------
# winnowing_fingerprint / bloom_decontaminate / bpe_merge_step — STAGED
# r13, r15 registration candidates (write-ahead pairings in queries.py
# above _CHECK_FIRST: winnowing_fingerprint ↔ doc_fingerprint,
# bloom_decontaminate ↔ mixture_sample, bpe_merge_step ↔ top_terms).
# ---------------------------------------------------------------------------


def _md5_long_py(s: str, salt: str = "", digits: int = 8) -> int:
    import hashlib

    return int(hashlib.md5((salt + s).encode()).hexdigest()[:digits], 16)


def _winnow_py(toks, k, w):
    """Single-threaded winnowing reference: positional k-gram md5
    hashes, w-wide windows (single short window when grams < w),
    rightmost-minimal selection, distinct (pos, hash)."""
    hs = [
        _md5_long_py(" ".join(toks[i : i + k]))
        for i in range(len(toks) - k + 1)
    ]
    out = set()
    if not hs:
        return out
    for j in range(1, max(len(hs) - w + 1, 1) + 1):
        sub = hs[j - 1 : j - 1 + w]
        m = min(sub)
        rp = len(sub) - 1 - sub[::-1].index(m)  # rightmost min, 0-based
        out.add((j + rp, m))
    return out


def test_winnowing_matches_python_reference(spark):
    """Selections agree exactly with the single-threaded reference at
    NON-registry (k, w)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        winnowing_fingerprints,
    )

    k, w = 2, 3  # NOT the registry constants — generality
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    expect = set()
    for r in docs.collect():
        toks = [t for t in r.text.lower().split() if t]
        for pos, h in _winnow_py(toks, k, w):
            expect.add((r.doc_id, pos, h))
    got = {
        (x.doc_id, x.fp_pos, x.fp_hash)
        for x in winnowing_fingerprints(docs, k=k, w=w).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_winnowing_shared_substring_guarantee(spark):
    """The paper's core guarantee: two documents sharing a run of at
    least w + k − 1 tokens share at least one fingerprint HASH — and a
    pair with no shared k-gram at all shares none."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        winnowing_fingerprints,
    )

    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"  # 6 = w + k - 1 tokens
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"{shared} six seven eight nine ten eleven"),
        (3, "completely disjoint vocabulary with no overlap here at all"),
        (4, "tiny"),  # sub-k: no grams, no fingerprints
        (5, ""),  # token-less
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=k, w=w).collect()
    by_doc: dict = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[3] & by_doc[1])
    assert 4 not in by_doc and 5 not in by_doc


def test_winnowing_plan_zero_shuffle(spark):
    """Plan contract: ONE codegen'd projection chain — explode over a
    per-row array, ZERO exchanges, no Python, no join."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_winnowing_fingerprint,
    )

    df = q_winnowing_fingerprint(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_winnowing_position_overflow_guard(spark, monkeypatch):
    """Fail-loudly contract (r14 ADVICE): a document with more than
    2^POS_BITS grams must RAISE, not silently overflow the encoded
    position field into the hash bits. The bound is monkeypatched down
    to fixture scale (2^1 = 2 grams); a doc at the bound still works —
    including the 1 ≤ g < w short-window degeneration under the
    unconditional-safety clamp."""
    import pytest

    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        textops,
    )

    monkeypatch.setattr(textops, "_WN_POS_BITS", 1)
    ok = spark.createDataFrame(
        [(1, "a b c"), (2, "a b")], "doc_id long, text string"
    )
    # 2 grams (k=2) == 2^1 bound: passes, and g < w=4 winnows the
    # single short window → exactly one fingerprint per doc
    rows = textops.winnowing_fingerprints(ok, k=2, w=4).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2]
    bad = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )  # 4 grams > 2^1
    with pytest.raises(Exception, match="winnowing_fingerprints"):
        textops.winnowing_fingerprints(bad, k=2, w=4).collect()


def test_winnowing_oracle_parity_staged(spark, sf_dir):
    """The staged winnowing DuckDB oracle passes the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r13)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_winnowing_fingerprint,
        q_winnowing_fingerprint,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_winnowing_fingerprint(spark, sf_dir),
        _oracle_winnowing_fingerprint(),
        sf_dir,
        "winnowing_fingerprint",
    )
    assert ok, msg


def test_bloom_decontaminate_matches_python_reference(spark):
    """Flagged docs and per-doc maybe-counts agree exactly with a
    single-threaded Bloom simulation at NON-registry (n, m_bits)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
        BLOOM_HEX_STARTS,
        bloom_decontaminate,
    )

    n, m = 3, 1024  # NOT the registry constants; small m forces FPs
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.collect()]

    def grams(text):
        toks = [t for t in text.lower().split() if t]
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    def positions(g):
        import hashlib

        h = hashlib.md5(g.encode()).hexdigest()
        return tuple(
            int(h[s - 1 : s + 7], 16) % m for s in BLOOM_HEX_STARTS
        )

    bits = set()
    for did, text in rows:
        if did < 20:
            for g in grams(text):
                bits.update(positions(g))
    expect = {}
    for did, text in rows:
        if did < 20:
            continue
        gs = grams(text)
        n_maybe = sum(1 for g in gs if all(p in bits for p in positions(g)))
        if n_maybe >= 1:
            expect[did] = (len(gs), n_maybe)

    corpus = docs.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    got = {
        r.doc_id: (r.n_grams, r.n_maybe)
        for r in bloom_decontaminate(corpus, bench, n=n, m_bits=m).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_bloom_decontaminate_superset_of_exact(spark):
    """No false negatives: every doc the exact gram join flags is
    Bloom-flagged with n_maybe ≥ n_shared; at the registry knobs the
    filter also produces SOME deterministic false positives (that is
    what makes it a prefilter, not a re-implementation)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
        bloom_decontaminate,
        ngram_overlap,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    exact = {
        r.doc_id: r.n_shared
        for r in ngram_overlap(corpus, bench, n=4, min_hits=1).collect()
    }
    bloom = {
        r.doc_id: r.n_maybe
        for r in bloom_decontaminate(corpus, bench, n=4, m_bits=65536).collect()
    }
    for did, n_shared in exact.items():
        assert did in bloom and bloom[did] >= n_shared
    assert set(bloom) - set(exact), "expected deterministic false positives"


def test_bloom_decontaminate_plan_shape(spark):
    """Plan contract: the probe checks are broadcast LEFT SEMI joins
    (the fixed-size position set is the ONLY broadcast state); no
    cartesian, no Python, corpus-keyed exchanges bounded."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_bloom_decontaminate,
    )

    df = q_bloom_decontaminate(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") == 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_bloom_decontaminate_oracle_parity_staged(spark, sf_dir):
    """The staged bloom_decontaminate DuckDB oracle passes the
    driver-faithful comparison (verified by hand at
    sf0.001/sf0.01/sf0.1 in r13)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_bloom_decontaminate,
        q_bloom_decontaminate,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_bloom_decontaminate(spark, sf_dir),
        _oracle_bloom_decontaminate(),
        sf_dir,
        "bloom_decontaminate",
    )
    assert ok, msg


def test_bpe_merge_step_matches_python_reference(spark):
    """Pair counts (per-occurrence, frequency-weighted) and the
    (count desc, pair asc) top-N agree with a Counter reference."""
    import re
    from collections import Counter

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        BPE_PATTERN,
        bpe_merge_step,
    )

    top_n = 10  # NOT the registry constant
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    wf: Counter = Counter()
    for r in docs.collect():
        wf.update(re.findall(BPE_PATTERN, r.text.lower()))
    pc: Counter = Counter()
    for word, freq in wf.items():
        for i in range(len(word) - 1):
            pc[word[i : i + 2]] += freq
    expect = sorted(pc.items(), key=lambda t: (-t[1], t[0]))[:top_n]
    got = [
        (r.pair, r.pair_count)
        for r in bpe_merge_step(docs, top_n=top_n)
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .collect()
    ]
    assert got == expect
    # duplicate pairs within one word count once per occurrence
    one = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    rows = bpe_merge_step(one, top_n=4).collect()
    assert [(r.pair, r.pair_count) for r in rows] == [("aa", 2)]


def test_bpe_merge_step_plan_vocab_collapse(spark):
    """Plan contract: exactly TWO hash exchanges (word key, pair key —
    both map-side partial) and a TakeOrderedAndProject; the per-char
    explode runs on the VOCABULARY side of the first aggregate."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_bpe_merge_step,
    )

    df = q_bpe_merge_step(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan and "partial_sum" in plan


def test_bpe_merge_step_oracle_parity_staged(spark, sf_dir):
    """The staged bpe_merge_step DuckDB oracle passes the
    driver-faithful comparison (verified by hand at
    sf0.001/sf0.01/sf0.1 in r13)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_bpe_merge_step,
        q_bpe_merge_step,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_bpe_merge_step(spark, sf_dir),
        _oracle_bpe_merge_step(),
        sf_dir,
        "bpe_merge_step",
    )
    assert ok, msg


# ---------------------------------------------------------------------------
# url_host_dedup / contamination_eval_split / repetition_quality —
# STAGED r14, r16 registration candidates (write-ahead pairings in
# queries.py above _CHECK_FIRST: url_host_dedup ↔ exact_dedup,
# contamination_eval_split ↔ decontaminate, repetition_quality ↔
# quality_score).
# ---------------------------------------------------------------------------


def _norm_url_py(url: str) -> tuple[str, str]:
    """Single-threaded mirror of operators.dedup.normalize_url."""
    import re

    u = url.strip().lower()
    u = re.sub(r"^[a-z][a-z0-9+.-]*://", "", u)
    u = re.sub(r"#.*$", "", u)
    m = re.match(r"^([^/?]+)", u)
    host = m.group(1) if m else ""
    host = re.sub(r"^www\d*\.", "", host)
    host = re.sub(r":(80|443)$", "", host)
    rest = re.sub(r"^[^/?]+", "", u, count=1)
    path = re.sub(r"/+$", "", re.match(r"^([^?]*)", rest).group(1))
    if path == "":
        path = "/"
    qm = re.search(r"\?(.*)$", rest)
    query = qm.group(1) if qm else ""
    params = [
        p
        for p in query.split("&")
        if p
        and not re.match(
            r"^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)=",
            p,
        )
    ]
    canon = "&".join(sorted(params))
    return host, host + path + (("?" + canon) if canon else "")


def test_url_host_dedup_matches_python_reference(spark):
    """Hand-built URLs covering every normalization branch (scheme
    case/absence, www2 label, default + NON-default ports, nested
    paths, repeated slashes, fragments, tracking-only query, param
    reordering, bare host) normalize and dedup exactly like the
    single-threaded reference."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        url_host_dedup,
    )

    urls = [
        (0, "HTTPS://WWW.Example.COM:443/a/b/?b=2&a=1#frag"),
        (1, "http://example.com/a/b?a=1&b=2"),
        (2, "example.com/a/b/?utm_source=x&b=2&a=1"),
        (3, "https://www2.example.com:443/a/b"),
        (4, "http://example.com:8080/a/b"),  # NON-default port survives
        (5, "ftp://files.example.com/pub//data//"),
        (6, "https://Example.com"),
        (7, "example.com/?utm_campaign=z&gclid=abc"),  # tracking-only
        (8, "https://sub.example.com/a/b?ref=home&c=3"),
        (9, "http://example.com/a/b?c=3&d=4&c=3"),  # dup param kept twice
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    got = {
        r.doc_id: (r.host, r.url_key, r.n_copies, r.is_kept)
        for r in url_host_dedup(df).collect()
    }
    keys = {i: _norm_url_py(u) for i, u in urls}
    from collections import Counter

    sizes = Counter(k for _, k in keys.values())
    firsts = {}
    for i in sorted(keys):
        firsts.setdefault(keys[i][1], i)
    for i, u in urls:
        host, key = keys[i]
        assert got[i] == (host, key, sizes[key], firsts[key] == i), (i, u)
    # branch sanity: 0-2 collapse to one canonical key (scheme case,
    # www label, default port, trailing slash, tracking param, param
    # order); 3 differs ONLY by its missing query; 4 keeps its
    # NON-default port
    assert got[0][1] == got[1][1] == got[2][1] == "example.com/a/b?a=1&b=2"
    assert got[3][1] == "example.com/a/b"
    assert got[4][1] != got[0][1] and ":8080" in got[4][0]
    assert got[7][1] == "example.com/"  # tracking-only query drops
    # bare ref is SEMANTIC by default (r14 ADVICE): it survives the
    # canonical key — distinct ?ref= values must NOT collapse
    assert got[8][1] == "sub.example.com/a/b?c=3&ref=home"


def test_url_host_dedup_custom_tracking_regex(spark):
    """A caller whose crawl knows its referrer convention can pass its
    own strip regex — ``ref`` then folds into the canonical key and
    the two variants dedup to one group."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        url_host_dedup,
    )

    urls = [
        (0, "https://example.com/a?ref=home&c=3"),
        (1, "https://example.com/a?c=3&ref=nav"),
        (2, "https://example.com/a?c=3"),
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    default = {r.doc_id: r.url_key for r in url_host_dedup(df).collect()}
    assert len(set(default.values())) == 3  # ref kept → three keys
    custom = {
        r.doc_id: (r.url_key, r.n_copies, r.is_kept)
        for r in url_host_dedup(
            df, tracking_param_re=r"^(utm_[a-z]+|gclid|ref)="
        ).collect()
    }
    assert {k for k, _, _ in custom.values()} == {"example.com/a?c=3"}
    assert [custom[i][1] for i in range(3)] == [3, 3, 3]
    assert [custom[i][2] for i in range(3)] == [True, False, False]


def test_contamination_eval_split_matches_python_reference(spark):
    """Per-eval-doc dirty-gram counts equal the single-threaded mirror
    (same 60-bit md5-prefix gram hashes) at a NON-registry n."""
    import hashlib

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
        contamination_eval_split,
    )

    n = 3  # NOT the registry constant — generality
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = docs.filter("doc_id >= 20")
    ev = docs.filter("doc_id < 20")

    def grams(text):
        toks = [t for t in text.lower().split() if t]
        return {
            int(
                hashlib.md5(
                    " ".join(toks[i : i + n]).encode()
                ).hexdigest()[:15],
                16,
            )
            for i in range(len(toks) - n + 1)
        }

    rows = {r.doc_id: r.text for r in docs.collect()}
    corpus_g = set()
    for i, t in rows.items():
        if i >= 20:
            corpus_g |= grams(t)
    got = {
        r.doc_id: (r.n_grams, r.n_dirty_grams, r.dirty)
        for r in contamination_eval_split(corpus, ev, n=n).collect()
    }
    assert set(got) == {i for i in rows if i < 20}
    for i in got:
        g = grams(rows[i])
        dirty = len(g & corpus_g)
        assert got[i] == (len(g), dirty, dirty >= 1), i
    assert any(v[2] for v in got.values())  # fixture has real overlap


def test_repetition_quality_matches_python_reference(spark):
    """Char-mass fractions and flags equal the single-threaded mirror,
    including forced pathological docs (pure repetition → top-2-gram
    frac near 1 and flagged; all-distinct tokens → dup mass 0)."""
    from collections import Counter

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        REPETITION_RULES,
        repetition_ngram_fractions,
    )

    rows = [
        (0, "spam spam spam spam spam spam spam spam"),
        (1, "one two three four five six seven eight nine ten"),
        (2, "a b a b a b a b a b a b"),
        (3, "x y z x y z x y z x y z x y z"),
        (4, "only two"),
        (5, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.n, r.kind): (r.n_chars, r.gram_chars, r.frac, r.flagged)
        for r in repetition_ngram_fractions(df).collect()
    }
    for i, text in rows:
        toks = [t for t in text.lower().split() if t]
        nc = len(text.strip())
        for n, kind, thr in REPETITION_RULES:
            g = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            if not g:
                assert (i, n, kind) not in got
                continue
            cnt = Counter(g)
            if kind == "top":
                mass = max((c, c * len(s)) for s, c in cnt.items())[1]
            else:
                mass = min(
                    sum(c * len(s) for s, c in cnt.items() if c >= 2), nc
                )
            frac = mass / max(nc, 1)
            assert got[(i, n, kind)] == (nc, mass, frac, frac > thr), (
                i, n, kind,
            )
    assert got[(0, 2, "top")][3]  # pure repetition flags
    assert got[(1, 5, "dup")][1] == 0  # all-distinct: zero dup mass


def test_staged_r16_oracle_parity(spark, sf_dir):
    """The staged r16 DuckDB oracles pass the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r14)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_contamination_eval_split,
        _oracle_repetition_quality,
        _oracle_url_host_dedup,
        q_contamination_eval_split,
        q_repetition_quality,
        q_url_host_dedup,
    )
    from .oracle_harness import compare

    for name, q, o in [
        ("url_host_dedup", q_url_host_dedup, _oracle_url_host_dedup()),
        (
            "contamination_eval_split",
            q_contamination_eval_split,
            _oracle_contamination_eval_split(),
        ),
        (
            "repetition_quality",
            q_repetition_quality,
            _oracle_repetition_quality(),
        ),
    ]:
        ok, msg = compare(q(spark, sf_dir), o, sf_dir, name)
        assert ok, msg


def test_staged_r16_plan_shapes(spark):
    """Plan contracts: url_host_dedup — ONE exchange (the canonical-key
    window), pure expressions; contamination_eval_split — the eval-gram
    set broadcasts, the corpus side never shuffles before the join;
    repetition_quality — exactly the two aggregate exchanges
    ((doc,n,kind,gram) then (doc,n,kind)). All: no cartesian, no BNLJ,
    no row-Python."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_contamination_eval_split,
        q_repetition_quality,
        q_url_host_dedup,
    )

    plans = {}
    for name, q in [
        ("url", q_url_host_dedup),
        ("cont", q_contamination_eval_split),
        ("rep", q_repetition_quality),
    ]:
        plan = q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        plans[name] = plan
    assert plans["url"].count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plans["cont"]
    # corpus side: the only hash exchanges are the per-eval-doc
    # distinct aggregate (expand) — never a corpus-gram shuffle join
    assert "SortMergeJoin" not in plans["cont"]
    assert plans["rep"].count("Exchange hashpartitioning") == 2


# ---------------------------------------------------------------------------
# source_overlap_matrix / ngram_novelty_score — staged r14, REGISTERED
# r17 per the write-ahead plan (source_overlap_matrix ↔ token_stats
# retired, ngram_novelty_score ↔ incremental_dedup retired). These
# staging tests stay as the operator-level reference checks.
# ---------------------------------------------------------------------------


def _gram_hashes_py(text: str, n: int) -> set[int]:
    import hashlib

    toks = [t for t in text.lower().split() if t]
    return {
        int(
            hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()[:15],
            16,
        )
        for i in range(len(toks) - n + 1)
    }


def test_source_overlap_matrix_matches_python_reference(spark):
    """Per-pair KMV slots and shared counts equal the single-threaded
    mirror at a NON-registry (n, k); in the small-k regime the
    estimator must differ from exact Jaccard only through the sketch
    (same k-smallest-union rule), and with k covering every gram it IS
    exact Jaccard."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.sketch import (
        source_overlap_matrix,
    )

    n, k = 2, 8  # NOT the registry constants
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = [(r.source, r.text) for r in docs.collect()]
    by_src: dict[str, set] = {}
    for s, t in rows:
        by_src.setdefault(s, set()).update(_gram_hashes_py(t, n))

    def expect(kk):
        out = {}
        for a in sorted(by_src):
            for b in sorted(by_src):
                if a >= b:
                    continue
                sa = set(sorted(by_src[a])[:kk])
                sb = set(sorted(by_src[b])[:kk])
                union_k = sorted(sa | sb)[:kk]
                shared = sum(1 for h in union_k if h in sa and h in sb)
                out[(a, b)] = (len(union_k), shared)
        return out

    got = {
        (r.source_a, r.source_b): (r.n_slots, r.n_shared, r.jaccard_est)
        for r in source_overlap_matrix(docs, n=n, k=k).collect()
    }
    want = expect(k)
    assert set(got) == set(want)
    for p, (slots, shared) in want.items():
        assert got[p][:2] == (slots, shared), p
        assert got[p][2] == shared / slots, p

    # exact regime: k >= every union size → exact Jaccard
    big_k = max(len(a | b) for a in by_src.values() for b in by_src.values())
    got_big = {
        (r.source_a, r.source_b): r.jaccard_est
        for r in source_overlap_matrix(docs, n=n, k=big_k).collect()
    }
    for a in sorted(by_src):
        for b in sorted(by_src):
            if a >= b:
                continue
            sa, sb = by_src[a], by_src[b]
            assert got_big[(a, b)] == len(sa & sb) / len(sa | sb), (a, b)


def test_ngram_novelty_score_matches_python_reference(spark):
    """Per-doc novel-gram counts equal the single-threaded min-doc_id
    mirror at a NON-registry n; a doc that duplicates an earlier doc
    scores 0 novelty and is flagged stale, the first doc scores 1."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        ngram_novelty_score,
    )

    n = 2
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = sorted((r.doc_id, r.text) for r in docs.collect())
    first: dict[int, int] = {}
    per_doc: dict[int, set] = {}
    for i, t in rows:
        g = _gram_hashes_py(t, n)
        per_doc[i] = g
        for h in g:
            first.setdefault(h, i)
    got = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty_frac, r.is_stale)
        for r in ngram_novelty_score(docs, n=n).collect()
    }
    assert set(got) == {i for i, g in per_doc.items() if g}
    for i, g in per_doc.items():
        if not g:
            continue
        novel = sum(1 for h in g if first[h] == i)
        frac = novel / len(g)
        assert got[i] == (len(g), novel, frac, frac < 0.5), i
    lo = min(per_doc)
    assert got[lo][2] == 1.0  # the first doc is all-novel

    # forced duplicate: an exact copy of doc 0 appended later → 0 novelty
    import pyspark.sql.functions as F

    dup = docs.limit(0).unionAll(
        spark.createDataFrame(
            [(10_000, rows[0][1])], "doc_id long, text string"
        ).select(
            "doc_id", "text", *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in docs.schema.fields
                if f.name not in ("doc_id", "text")
            ]
        ).select(*docs.columns)
    )
    both = docs.unionAll(dup)
    got2 = {
        r.doc_id: (r.novelty_frac, r.is_stale)
        for r in ngram_novelty_score(both, n=n).collect()
    }
    if per_doc[rows[0][0]]:
        assert got2[10_000] == (0.0, True)


def _ess_py(rows, L, tau):
    """Single-threaded mirror of operators.textops.exact_substring_spans,
    with an independent union-of-intervals cross-check of the
    least(L, pos - lag) coverage fold."""
    import hashlib

    counts: dict[int, int] = {}
    per_doc: dict[int, tuple[int, list[int]]] = {}
    for i, t in rows:
        toks = [x for x in t.lower().split() if x]
        hs = []
        for p in range(len(toks) - L + 1):
            h = int(
                hashlib.md5(" ".join(toks[p : p + L]).encode()).hexdigest()[:15],
                16,
            )
            hs.append(h)
            counts[h] = counts.get(h, 0) + 1
        per_doc[i] = (len(toks), hs)
    out = {}
    for i, (n, hs) in per_doc.items():
        if n < 1:
            continue
        dup_pos = [p for p, h in enumerate(hs) if counts[h] >= 2]
        cov, prev = 0, None
        for p in dup_pos:
            cov += L if prev is None else min(L, p - prev)
            prev = p
        # the fold must equal the literal union of [p, p+L-1] intervals
        assert cov == len({q for p in dup_pos for q in range(p, p + L)})
        frac = cov / n
        out[i] = (n, len(dup_pos), cov, frac, frac > tau)
    return out


def test_exact_substring_spans_matches_python_reference(spark):
    """Coverage, span counts and flags equal the single-threaded mirror
    on the fixture corpus at a NON-registry (L, tau)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        exact_substring_spans,
    )

    L, tau = 3, 0.5  # NOT the registry constants
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    want = _ess_py(rows, L, tau)
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_token_cov, r.dup_frac, r.flagged)
        for r in exact_substring_spans(docs, L=L, flag_above=tau).collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in got.values())  # fixture has real spans


def test_exact_substring_spans_pathological_docs(spark):
    """Hand-built shapes: an exact duplicate pair covers 100% of both
    copies and flags; within-doc repetition alone marks spans; an
    all-distinct doc and a sub-L doc report zero with a row; an empty
    doc emits NO row; overlapping spans never double-count (coverage
    <= n_tokens)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        exact_substring_spans,
    )

    L = 3
    dup = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, dup),
        (2, dup),                            # exact duplicate of 1
        (3, "x y z x y z x y z x y z"),      # within-doc repeats only
        (4, "one two three four five six"),  # all-distinct
        (5, "just two"),                     # sub-L: no windows
        (6, ""),                             # token-less: no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_token_cov, r.dup_frac, r.flagged)
        for r in exact_substring_spans(df, L=L, flag_above=0.2).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    for i in (1, 2):  # full coverage, every window duplicated
        assert got[i] == (6, 4, 6, 1.0, True)
    n3, s3, c3, f3, fl3 = got[3]
    assert n3 == 12 and s3 == 10 and c3 == 12 and f3 == 1.0 and fl3
    assert got[4] == (6, 0, 0, 0.0, False)
    assert got[5] == (2, 0, 0, 0.0, False)
    assert all(v[2] <= v[0] for v in got.values())


def test_exact_substring_spans_plan_shape(spark):
    """Plan contract: exactly TWO keyed exchanges (global gram-hash
    count; doc_id window+agg, which reuse one partitioning) with
    map-side partial aggregation on both; no cartesian, no BNLJ, no
    row-Python. The dup-hash and coverage joins may broadcast at
    fixture scale — the pin allows either join strategy. r17: the
    registered query materializes through a spill (file-scan plan), so
    pin the operator-level plan the spill consumes — the
    test_banded_candidate_joins precedent. The persisted gram stream
    (cache_handles) keeps the same two keyed exchanges; InMemoryScan
    nodes replace the duplicated tokenize subtree."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        exact_substring_spans,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        ESS_L,
        ESS_TAU,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    handles: list = []
    df = exact_substring_spans(
        docs, L=ESS_L, flag_above=ESS_TAU, cache_handles=handles
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    for h in handles:
        h.unpersist()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("partial_count") >= 2  # both aggs map-side partial


def test_exact_substring_dedup_oracle_parity_staged(spark, sf_dir):
    """The staged ExactSubstr DuckDB oracle passes the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r15)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_exact_substring_dedup,
        q_exact_substring_dedup,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_exact_substring_dedup(spark, sf_dir),
        _oracle_exact_substring_dedup(),
        sf_dir,
        "exact_substring_dedup",
    )
    assert ok, msg


def test_language_confidence_matches_python_reference(spark):
    """pred/best/second/margin/gate equal the single-threaded mirror on
    the fixture corpus at a NON-registry margin, including und docs
    (no stopword hits => margin 0, never confident) and argmax ties
    (first language ascending, matching language_id)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        LANG_STOPWORDS,
        language_confidence,
    )

    m = 0.1  # NOT the registry constant
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = {
        r.doc_id: (r.pred_lang, r.lang_score, r.second_score, r.margin, r.is_confident)
        for r in language_confidence(docs, min_margin=m).collect()
    }
    langs = sorted(LANG_STOPWORDS)
    n_confident = 0
    for r in docs.collect():
        toks = [t for t in r.text.lower().split() if t]
        n = max(len(toks), 1)
        sc = [sum(1 for t in toks if t in LANG_STOPWORDS[g]) / n for g in langs]
        best = max(sc)
        second = sorted(sc)[-2]
        pred = "und" if best <= 0 else langs[sc.index(best)]
        conf = best > 0 and best - second >= m
        n_confident += conf
        assert got[r.doc_id] == (pred, best, second, best - second, conf), r.doc_id
    assert 0 < n_confident < len(got)  # the gate splits the fixture


def test_language_confidence_und_and_tie_shapes(spark):
    """Hand-built shapes: a no-stopword doc is und/unconfident with
    margin 0; a doc hitting two languages EQUALLY ties pred to the
    first language ascending and has margin 0; a clean English doc
    clears the gate."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        language_confidence,
    )

    rows = [
        (1, "zzz qqq xxx www"),                     # und
        (2, "the der the der"),                     # en/de tie -> de
        (3, "the cat and the dog is in the house"),  # clean en
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.pred_lang, r.margin, r.is_confident)
        for r in language_confidence(df, min_margin=0.05).collect()
    }
    assert got[1] == ("und", 0.0, False)
    assert got[2][0] == "de" and got[2][1] == 0.0 and not got[2][2]
    assert got[3][0] == "en" and got[3][2]


def test_language_confidence_plan_zero_shuffle(spark):
    """Plan contract: per-row projection chain — ZERO exchanges, no
    Python, no join (the language_id class)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_language_confidence_filter,
    )

    df = q_language_confidence_filter(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def _entropy_py(rows, thr):
    """Single-threaded mirror of operators.textops.token_entropy under
    the integer micro-nat quantization contract."""
    import math
    from collections import Counter

    out = {}
    for i, t in rows:
        toks = [x for x in t.lower().split() if x]
        if not toks:
            continue
        cnt = Counter(toks)
        n = sum(cnt.values())
        s_q = sum(c * round(math.log(c) * 1e6) for c in cnt.values())
        ent = round(math.log(n) * 1e6) - s_q // n
        out[i] = (n, len(cnt), ent, ent < thr)
    return out


def test_token_entropy_matches_python_reference(spark):
    """Integer micro-nat entropies equal the single-threaded mirror on
    the fixture corpus at a NON-registry threshold."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        token_entropy,
    )

    thr = 3_000_000  # NOT the registry constant
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    want = _entropy_py(rows, thr)
    got = {
        r.doc_id: (r.n_tokens, r.n_distinct, r.entropy_micro, r.is_templated)
        for r in token_entropy(docs, templated_below=thr).collect()
    }
    assert got == want
    assert any(v[3] for v in got.values()) and not all(v[3] for v in got.values())


def test_token_entropy_pathological_docs(spark):
    """Hand shapes: a single repeated token has entropy exactly 0 and
    flags; a uniform all-distinct doc hits ln(n) to within quantization
    (+-1 micro-nat); a one-token doc is 0; token-less docs emit no
    row."""
    import math

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        token_entropy,
    )

    rows = [
        (1, "spam spam spam spam spam spam"),
        (2, "a b c d e f g h"),
        (3, "solo"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.entropy_micro, r.is_templated)
        for r in token_entropy(df, templated_below=1_000_000).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (6, round(math.log(6) * 1e6) - (6 * round(math.log(6) * 1e6)) // 6, True)
    assert got[1][1] == 0
    assert abs(got[2][1] - round(math.log(8) * 1e6)) <= 1
    assert got[3] == (1, 0, True)


def test_token_entropy_plan_shape(spark):
    """Plan contract: two keyed exchanges ((doc, token) count then the
    doc aggregate), both map-side partial; no join, no Python."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_token_entropy,
    )

    df = q_token_entropy(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2


def _bpe_train_py(texts, n_merges):
    """Single-threaded Sennrich et al. 2016 learn_bpe + apply_bpe
    mirror: per round, count adjacent symbol pairs weighted by word
    frequency, fuse the (count desc, pair asc) argmax greedily
    left-to-right non-overlapping in every word."""
    import re
    from collections import Counter

    pat = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]")
    vocab = Counter()
    for t in texts:
        vocab.update(pat.findall(t.lower()))
    segs = {w: list(w) for w in vocab}
    for _ in range(n_merges):
        pairs = Counter()
        for w, f in vocab.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += f
        if not pairs:
            continue
        a, b = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for w, s in segs.items():
            out = []
            for sym in s:
                if out and out[-1] == a and sym == b:
                    out[-1] = a + b
                else:
                    out.append(sym)
            segs[w] = out
    counts = Counter()
    for w, f in vocab.items():
        for sym in segs[w]:
            counts[sym] += f
    return dict(counts)


def test_bpe_train_encode_matches_python_reference(spark):
    """Learned vocabulary + occurrence counts equal the single-threaded
    Sennrich mirror at a NON-registry merge count, and training
    actually fused multi-char tokens."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        bpe_train_encode,
    )

    n = 3  # NOT the registry constant
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    texts = [r.text for r in docs.collect()]
    want = _bpe_train_py(texts, n)
    got = {
        r.token: r.n_occurrences
        for r in bpe_train_encode(docs, n_merges=n).collect()
    }
    assert got == want
    assert any(len(t) > 1 for t in got)  # real merges happened


def test_bpe_train_encode_classic_corpus(spark):
    """The canonical Sennrich example shape: 'low/lower/newest/widest'
    — the first merges fuse the high-frequency suffix pairs, within-
    word repeats fuse non-overlapping ('aaaa' + (a,a) → two 'aa'), and
    a single-char vocabulary survives n_merges rounds as identity."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        bpe_train_encode,
    )

    rows = [(1, "low low low low low lower lower newest newest newest "
                "newest newest newest widest widest widest")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.token: r.n_occurrences
        for r in bpe_train_encode(df, n_merges=4).collect()
    }
    want = _bpe_train_py([rows[0][1]], 4)
    assert got == want
    assert "est" in got and got["est"] == 9  # newest*6 + widest*3
    dfa = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    gota = {
        r.token: r.n_occurrences
        for r in bpe_train_encode(dfa, n_merges=1).collect()
    }
    assert gota == {"aa": 4}  # greedy non-overlap: each 'aaaa' → 2×'aa'
    dfs = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    gots = {
        r.token: r.n_occurrences
        for r in bpe_train_encode(dfs, n_merges=3).collect()
    }
    assert gots == {"a": 2, "b": 2}  # no pairs ever; identity rounds


def test_bpe_train_encode_plan_shape(spark):
    """Plan contract for the returned-DataFrame lineage: the merge
    literals embed in codegen'd fuse projections over the PERSISTED
    segmentation (InMemoryTableScan), so the only NEW exchange above
    the cache is the final token aggregate; the cache subtree holds
    only the word-keyed vocab aggregate (its exchange prints once per
    nested InMemoryRelation level — count keys, not lines). No join,
    no Python. (Per-round pair counts are separate driver-collected
    jobs, the kmeans_train_assign shape.)"""
    import re

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        bpe_train_encode,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    handles: list = []
    df = bpe_train_encode(docs, n_merges=2, cache_handles=handles)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for h in handles:
        h.unpersist()
    keys = {
        re.match(r"(\w+)", k).group(1)
        for k in re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    }
    assert keys == {"token", "word"}, keys
    assert plan.count("Exchange hashpartitioning(token") == 1
    assert "InMemoryTableScan" in plan  # fuse chain rides the cache
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_train_encode_self_managed_cache_release(spark):
    """r15 ADVICE: without cache_handles the training loop must release
    superseded segmentations itself — a direct caller pins at most the
    last two small vocab tables (the returned lineage reads the newest
    cache), never n_merges+1. With handles, the caller owns all of
    them, exactly as before."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        bpe_train_encode,
    )

    jsc = spark.sparkContext._jsc.sc()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    before = jsc.getPersistentRDDs().size()
    rows = bpe_train_encode(docs, n_merges=5).collect()
    assert rows
    leaked = jsc.getPersistentRDDs().size() - before
    assert leaked <= 2, f"self-managed mode pinned {leaked} caches"
    spark.catalog.clearCache()

    handles: list = []
    before = jsc.getPersistentRDDs().size()
    bpe_train_encode(docs, n_merges=5, cache_handles=handles).collect()
    assert len(handles) == 6  # seg0 + one per round — caller-owned
    for h in handles:
        h.unpersist()


def test_bpe_oracle_regex_single_spelling():
    """r15 ADVICE: every DuckDB mirror of the BPE word regex must embed
    the ONE shared textops.BPE_PATTERN constant — three hand-spelled
    copies had drifted into two escape styles (one with raw control
    characters mid-SQL)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        BPE_PATTERN,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        ORACLE_BPE_TOKEN_COUNTS,
        _oracle_bpe_merge_step,
        _oracle_bpe_train_encode,
    )

    want = f"'{BPE_PATTERN}'"
    for name, sql in (
        ("bpe_token_counts", ORACLE_BPE_TOKEN_COUNTS),
        ("bpe_merge_step", _oracle_bpe_merge_step()),
        ("bpe_train_encode", _oracle_bpe_train_encode()),
    ):
        assert want in sql, f"{name} drifted from BPE_PATTERN"
        for ctrl in "\t\n\f\r":
            assert ctrl not in want  # literal escapes, not control chars


def test_language_confidence_oracle_indices_track_language_set():
    """r15 ADVICE: the oracle's best/runner-up cells must be derived
    from len(LANG_STOPWORDS), not hard-coded — the Spark side reads
    element_at(arr, -1)/(-2) and stays correct if the language set
    ever changes."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        LANG_STOPWORDS,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_language_confidence_filter,
    )

    n = len(LANG_STOPWORDS)
    sql = _oracle_language_confidence_filter()
    assert f"arr[{n}] AS best" in sql
    assert f"arr[{n - 1}] AS second" in sql


def test_bpe_train_encode_oracle_parity_staged(spark, sf_dir):
    """The staged unrolled-CTE DuckDB oracle passes the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r15)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_bpe_train_encode,
        q_bpe_train_encode,
    )
    from .oracle_harness import compare

    ok, msg = compare(
        q_bpe_train_encode(spark, sf_dir),
        _oracle_bpe_train_encode(),
        sf_dir,
        "bpe_train_encode",
    )
    assert ok, msg


def test_staged_r18_oracle_parity(spark, sf_dir):
    """Both r18-staged DuckDB oracles pass the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r15)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_language_confidence_filter,
        _oracle_token_entropy,
        q_language_confidence_filter,
        q_token_entropy,
    )
    from .oracle_harness import compare

    for name, q, o in [
        ("language_confidence_filter", q_language_confidence_filter,
         _oracle_language_confidence_filter()),
        ("token_entropy", q_token_entropy, _oracle_token_entropy()),
    ]:
        ok, msg = compare(q(spark, sf_dir), o, sf_dir, name)
        assert ok, msg
    # bpe_train_encode has its own parity test above (heavier: 6
    # driver-collected rounds) -- kept separate so -k filters compose


def test_staged_r17_oracle_parity(spark, sf_dir):
    """The staged r17 DuckDB oracles pass the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r14)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_ngram_novelty_score,
        _oracle_source_overlap_matrix,
        q_ngram_novelty_score,
        q_source_overlap_matrix,
    )
    from .oracle_harness import compare

    for name, q, o in [
        ("source_overlap_matrix", q_source_overlap_matrix,
         _oracle_source_overlap_matrix()),
        ("ngram_novelty_score", q_ngram_novelty_score,
         _oracle_ngram_novelty_score()),
    ]:
        ok, msg = compare(q(spark, sf_dir), o, sf_dir, name)
        assert ok, msg


def test_staged_r17_plan_shapes(spark):
    """Plan contracts: source_overlap_matrix — the per-source KMV rank
    rides WindowGroupLimit (only ≤ k rows per split/source shuffle, the
    kmv_distinct_sketch machinery) and everything after the slot table
    is broadcast-joined; ngram_novelty_score — hash aggregates and one
    gram-keyed equi-join, no window at all. Both: no cartesian, no
    row-Python."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_ngram_novelty_score,
        q_source_overlap_matrix,
    )

    p1 = (
        q_source_overlap_matrix(spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in p1
    assert "BroadcastHashJoin" in p1 or "BroadcastNestedLoopJoin" in p1
    assert "CartesianProduct" not in p1
    assert "BatchEvalPython" not in p1

    p2 = (
        q_ngram_novelty_score(spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in p2
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2
    assert "BatchEvalPython" not in p2


# ---------------------------------------------------------------------------
# gopher_length_screen / fineweb_filter_chain / domain_quota_sample —
# STAGED r16, r19 registration candidates (provisional write-ahead
# pairings in queries.py below the ROUND-18 plan: gopher_length_screen ↔
# gopher_quality, fineweb_filter_chain ↔ clean_corpus,
# domain_quota_sample ↔ stratified_sample).
# ---------------------------------------------------------------------------


def test_gopher_length_screen_matches_python_reference(spark):
    """Length signals and the pass flag equal the single-threaded
    mirror on forced shapes: bullet lines, ellipsis lines, blank and
    whitespace-only lines, a numeric-token doc (alpha fraction), an
    empty doc, and one doc long enough to pass every rule."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        GOPHER_LENGTH_RULES,
        gopher_length_screen,
    )

    passing = " ".join(f"word{i}" for i in range(60)) + "."
    rows = [
        (0, "- bullet one\n- bullet two\nplain line."),
        (1, "to be continued...\nanother line\n\n   \nlast..."),
        (2, "12345 67890 42"),
        (3, ""),
        (4, passing),
        (5, "* starred\n-not-a-bullet\n   - padded bullet\nend?"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.n_words, r.mean_word_len, r.alpha_word_frac,
            r.bullet_line_frac, r.ellipsis_line_frac, r.passes,
        )
        for r in gopher_length_screen(df).collect()
    }
    R = GOPHER_LENGTH_RULES
    for i, text in rows:
        toks = [t for t in text.lower().split() if t]
        nw = max(len(toks), 1)
        lines = [ln.strip(" \t\r") for ln in text.split("\n")]
        lines = [ln for ln in lines if ln]
        nl = max(len(lines), 1)
        mean = sum(len(t) for t in toks) / nw
        alpha = sum(any(c.isalpha() for c in t) for t in toks) / nw
        bullet = sum(
            ln.startswith("- ") or ln.startswith("* ") for ln in lines
        ) / nl
        ell = sum(ln.endswith("...") for ln in lines) / nl
        passes = (
            R["min_words"] <= len(toks) <= R["max_words"]
            and R["min_mean_word_len"] <= mean <= R["max_mean_word_len"]
            and alpha > R["min_alpha_word_frac"]
            and bullet <= R["max_bullet_line_frac"]
            and ell <= R["max_ellipsis_line_frac"]
        )
        assert got[i] == (len(toks), mean, alpha, bullet, ell, passes), i
    assert got[4][5]  # the constructed passing doc actually passes
    assert not got[2][5] and not got[3][5]


def test_fineweb_filter_chain_matches_python_reference(spark):
    """Rule booleans, keep, and first-failed attribution equal the
    single-threaded mirror, with each rule forced to be the first
    failure at least once (the attribution order is the contract)."""
    from collections import Counter

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        FINEWEB_PUNCT_MIN_FRAC,
        FINEWEB_RULE_ORDER,
        GOPHER_LENGTH_RULES,
        LANG_STOPWORDS,
        fineweb_filter_chain,
    )

    en_pass = (
        "the quick fox and the lazy dog of the old farm with all "
        + " ".join(f"token{i}" for i in range(45))
        + " end."
    )
    rows = [
        (0, "le chat et la maison de la rue."),          # fails lang
        (1, "the and of short."),                        # fails n_words
        (2, en_pass),                                    # keeps
        (3, "the " * 60 + "end."),                       # fails repetition
        (4, en_pass.replace(".", "")),                   # fails punct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.r_lang, r.r_n_words, r.r_mean_word_len, r.r_repetition,
            r.r_punct, r.keep, r.first_failed,
        )
        for r in fineweb_filter_chain(df).collect()
    }
    R = GOPHER_LENGTH_RULES
    for i, text in rows:
        toks = [t for t in text.lower().split() if t]
        nw = max(len(toks), 1)
        scores = {
            lg: sum(t in LANG_STOPWORDS[lg] for t in toks) / nw
            for lg in LANG_STOPWORDS
        }
        best = max(scores.values())
        pred = "und"
        if best > 0:
            pred = min(lg for lg, s in scores.items() if s == best)
        r_lang = pred == "en"
        r_words = R["min_words"] <= len(toks) <= R["max_words"]
        mean = sum(len(t) for t in toks) / nw
        r_mean = R["min_mean_word_len"] <= mean <= R["max_mean_word_len"]
        top = max(Counter(toks).values()) / nw if toks else 0.0
        g2 = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        dup = 1.0 - len(set(g2)) / len(g2) if g2 else 0.0
        r_rep = top <= 0.2 and dup <= 0.4
        lines = [ln.strip(" \t\r") for ln in text.split("\n")]
        lines = [ln for ln in lines if ln]
        punct = (
            sum(ln[-1] in '.!?"' for ln in lines) / max(len(lines), 1)
        )
        r_punct = punct >= FINEWEB_PUNCT_MIN_FRAC
        rules = {
            "lang": r_lang, "n_words": r_words, "mean_word_len": r_mean,
            "repetition": r_rep, "punct": r_punct,
        }
        keep = all(rules.values())
        first = next(
            (n for n in FINEWEB_RULE_ORDER if not rules[n]), None
        )
        assert got[i] == (
            r_lang, r_words, r_mean, r_rep, r_punct, keep, first,
        ), i
    assert got[2][5] and got[2][6] is None
    assert {got[0][6], got[1][6], got[3][6], got[4][6]} == {
        "lang", "n_words", "repetition", "punct",
    }


def test_domain_quota_sample_matches_python_reference(spark):
    """Host normalization, per-host counts, surrogate-order ranks and
    the quota flag equal the single-threaded mirror (same hash
    constants), including scheme/www/case variants collapsing to one
    host and a host with fewer docs than the quota."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.sample import (
        HASH_MOD,
        HASH_MULT,
        domain_quota_sample,
    )

    rows = [
        (0, "http://WWW.Alpha.COM/a"),
        (1, "https://alpha.com/b"),
        (2, "alpha.com:443/c"),
        (3, "www2.alpha.com/d#frag"),
        (4, "http://beta.org/only"),
        (5, "ALPHA.com/e"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r.doc_id: (r.host, r.n_host_docs, r.rank_in_host, r.is_kept)
        for r in domain_quota_sample(df, max_per_host=2).collect()
    }
    hosts = {0: "alpha.com", 1: "alpha.com", 2: "alpha.com",
             3: "alpha.com", 4: "beta.org", 5: "alpha.com"}
    by_host: dict = {}
    for i, h in hosts.items():
        by_host.setdefault(h, []).append(i)
    for h, ids in by_host.items():
        order = sorted(ids, key=lambda i: (((i + 42) * HASH_MULT) % HASH_MOD, i))
        for rank, i in enumerate(order, start=1):
            assert got[i] == (h, len(ids), rank, rank <= 2), i
    assert sum(k for _, _, _, k in got.values()) == 3  # 2 alpha + 1 beta


def test_staged_r19_oracle_parity(spark, sf_dir):
    """All three r19-staged DuckDB oracles pass the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r16)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_domain_quota_sample,
        _oracle_fineweb_filter_chain,
        _oracle_gopher_length_screen,
        q_domain_quota_sample,
        q_fineweb_filter_chain,
        q_gopher_length_screen,
    )
    from .oracle_harness import compare

    for name, q, o in [
        (
            "gopher_length_screen",
            q_gopher_length_screen,
            _oracle_gopher_length_screen(),
        ),
        (
            "fineweb_filter_chain",
            q_fineweb_filter_chain,
            _oracle_fineweb_filter_chain(),
        ),
        (
            "domain_quota_sample",
            q_domain_quota_sample,
            _oracle_domain_quota_sample(),
        ),
    ]:
        ok, msg = compare(q(spark, sf_dir), o, sf_dir, name)
        assert ok, msg


def test_staged_r19_plan_shapes(spark):
    """Plan contracts: gopher_length_screen and fineweb_filter_chain —
    ZERO hash exchanges (pure per-row expression chains over one scan,
    no joins between rule stages; the only Exchange is spread()'s
    deliberate RoundRobin fan-out of the small fixture);
    domain_quota_sample — exactly ONE hash exchange (the host key),
    shared by the count window and the rank window. All: no cartesian,
    no BNLJ, no row-Python."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_domain_quota_sample,
        q_fineweb_filter_chain,
        q_gopher_length_screen,
    )

    plans = {}
    for name, q in [
        ("len", q_gopher_length_screen),
        ("chain", q_fineweb_filter_chain),
        ("quota", q_domain_quota_sample),
    ]:
        plan = q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "Join" not in plan, name
        plans[name] = plan
    assert plans["len"].count("Exchange hashpartitioning") == 0
    assert plans["chain"].count("Exchange hashpartitioning") == 0
    assert plans["quota"].count("Exchange hashpartitioning") == 1
    assert plans["quota"].count("Window") >= 1


# ---------------------------------------------------------------------------
# line_dedup / winnow_overlap_pairs / ivf_balance_stats — STAGED r16,
# r20 registration candidates (two rounds ahead; final pairings belong
# to the r18/r19 write-ahead plans in queries.py).
# ---------------------------------------------------------------------------


def test_ccnet_line_dedup_matches_python_reference(spark):
    """Corpus-wide first-occurrence line dedup equals the
    single-threaded mirror: cross-doc boilerplate collapses to the
    (doc_id, pos)-first copy, within-doc repeats count as dups, blank
    and whitespace-only lines never participate, empty docs keep a
    zero row, and kept text reconstructs in position order."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        ccnet_line_dedup,
    )

    rows = [
        (0, "subscribe now\nreal content alpha\nsubscribe now"),
        (1, "subscribe now\nreal content beta"),
        (2, "real content beta\nunique gamma\n  \n\nunique gamma"),
        (3, ""),
        (4, "   only whitespace lines   \nactual delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_dup_lines, r.dup_line_frac, r.kept_text)
        for r in ccnet_line_dedup(df).collect()
    }
    seen: set = set()
    expect: dict = {}
    per_doc = {
        i: [ln.strip(" \t\r") for ln in text.split("\n") if ln.strip(" \t\r")]
        for i, text in rows
    }
    for i in sorted(per_doc):  # (doc_id, pos) order IS iteration order
        kept, dups = [], 0
        for ln in per_doc[i]:
            if ln in seen:
                dups += 1
            else:
                seen.add(ln)
                kept.append(ln)
        n = len(per_doc[i])
        expect[i] = (n, dups, dups / max(n, 1), "\n".join(kept))
    assert got == expect
    assert got[0] == (3, 1, 1 / 3, "subscribe now\nreal content alpha")
    assert got[3] == (0, 0, 0.0, "")


def test_winnow_overlap_pairs_matches_python_reference(spark):
    """Pair counts and fingerprint Jaccard equal the single-threaded
    mirror built on _winnow_py, at NON-registry (k, w) and with the
    df cap active: a boilerplate gram shared by every doc must be
    dropped before pairing."""
    from collections import Counter

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
        winnow_overlap_pairs,
    )

    k, w, min_shared, max_df = 2, 3, 1, 3
    common = "standard footer text here"
    rows = [
        (0, f"alpha beta gamma delta epsilon zeta {common}"),
        (1, f"alpha beta gamma delta other words {common}"),
        (2, f"completely different content stream {common}"),
        (3, f"unrelated fourth document body {common}"),
        (4, "alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        i: {h for _, h in _winnow_py(
            [t for t in text.lower().split() if t], k, w)}
        for i, text in rows
    }
    dfc = Counter(h for s in fps.values() for h in s)
    fps = {i: {h for h in s if dfc[h] <= max_df} for i, s in fps.items()}
    expect = {}
    ids = sorted(fps)
    for a in ids:
        for b in ids:
            if a < b:
                shared = len(fps[a] & fps[b])
                if shared >= min_shared:
                    expect[(a, b)] = (
                        shared,
                        shared / (len(fps[a]) + len(fps[b]) - shared),
                    )
    got = {
        (r.left_id, r.right_id): (r.n_shared, r.fp_jaccard)
        for r in winnow_overlap_pairs(
            df, k=k, w=w, min_shared=min_shared, max_df=max_df
        ).collect()
    }
    assert got == expect
    assert (0, 1) in got  # the real overlap pair survives
    # without the cap the footer would pair everything with everything:
    uncapped = {
        (r.left_id, r.right_id)
        for r in winnow_overlap_pairs(
            df, k=k, w=w, min_shared=min_shared, max_df=None
        ).collect()
    }
    assert (2, 3) in uncapped and (2, 3) not in got


def test_ivf_balance_stats_matches_python_reference(spark):
    """Per-list counts, fractions, and the imbalance factor equal the
    numpy argmin assignment (ties -> lowest centroid id) over the same
    vec_id < 16 centroids the layout builder used; fractions sum to 1
    and imbalance means to 1 exactly."""
    import numpy as np

    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_ivf_balance_stats,
    )

    rows = q_ivf_balance_stats(spark, SF_SMOKE).collect()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb}
    cents = [vecs[i] for i in range(16)]
    counts: dict = {}
    for vid, v in vecs.items():
        d = [float(np.sqrt(((v - c) ** 2).sum())) for c in cents]
        cid = min(range(16), key=lambda i: (d[i], i))
        counts[cid] = counts.get(cid, 0) + 1
    n, kk = len(vecs), len(counts)
    got = {r.centroid: (r.n_vectors, r.frac, r.imbalance) for r in rows}
    assert set(got) == set(counts)
    for cid, c in counts.items():
        assert got[cid] == (c, c / n, c * kk / n), cid
    assert abs(sum(f for _, f, _ in got.values()) - 1.0) < 1e-12
    assert abs(sum(i for _, _, i in got.values()) / kk - 1.0) < 1e-12


def test_staged_r20_oracle_parity(spark, sf_dir):
    """All three r20-staged DuckDB oracles pass the driver-faithful
    comparison (verified by hand at sf0.001/sf0.01/sf0.1 in r16)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_ivf_balance_stats,
        q_ivf_balance_stats,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_line_dedup,
        _oracle_winnow_overlap_pairs,
        q_line_dedup,
        q_winnow_overlap_pairs,
    )
    from .oracle_harness import compare

    for name, q, o in [
        ("line_dedup", q_line_dedup, _oracle_line_dedup()),
        (
            "winnow_overlap_pairs",
            q_winnow_overlap_pairs,
            _oracle_winnow_overlap_pairs(),
        ),
        (
            "ivf_balance_stats",
            q_ivf_balance_stats,
            _oracle_ivf_balance_stats(),
        ),
    ]:
        ok, msg = compare(q(spark, sf_dir), o, sf_dir, name)
        assert ok, msg


def test_staged_r20_plan_shapes(spark):
    """Plan contracts: line_dedup — exactly TWO hash exchanges (the
    line-hash window, the per-doc re-aggregation); winnow_overlap_pairs
    — every join a hash/sort-merge EQUI join on the fingerprint hash or
    doc id, never a nested loop; ivf_balance_stats — the k-row totals
    BROADCAST back (BroadcastNestedLoopJoin of a 1-row side is the
    broadcast-scalar shape, same as important_stock), and the scan
    reads only the partition column (column pruning — no vector bytes).
    All: no cartesian, no row-Python."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_ivf_balance_stats,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_line_dedup,
        q_winnow_overlap_pairs,
    )

    plans = {}
    for name, q in [
        ("line", q_line_dedup),
        ("wop", q_winnow_overlap_pairs),
        ("ivf", q_ivf_balance_stats),
    ]:
        plan = q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        plans[name] = plan
    assert plans["line"].count("Exchange hashpartitioning") == 2
    assert "BroadcastNestedLoopJoin" not in plans["line"]
    assert "BroadcastNestedLoopJoin" not in plans["wop"]
    assert "ReadSchema: struct<vec_id" not in plans["ivf"]  # pruned scan


def test_dedup_cluster_stats_matches_python_reference(spark):
    """The cluster-size histogram equals a union-find over the same
    MinHash-LSH pairs: per size, cluster counts / doc coverage /
    removable counts / corpus fractions, with singletons derived as
    corpus_total − docs_in_clusters."""
    from collections import Counter

    from the_build_project_image_retrieval_with_vector_databases_spark.operators import (
        dedup as D,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_dedup_cluster_stats,
    )

    got = {
        r.cluster_size: (
            r.n_clusters, r.n_docs, r.n_removable, r.removable_frac,
        )
        for r in q_dedup_cluster_stats(spark, SF_SMOKE).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    total = docs.count()
    pairs = [
        (r.left_id, r.right_id)
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, pinned=D.pins_for(SF_SMOKE)
        ).collect()
    ]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    sizes = Counter(Counter(find(x) for x in parent).values())
    in_clusters = sum(s * c for s, c in sizes.items())
    if total - in_clusters > 0:
        sizes[1] = sizes.get(1, 0) + (total - in_clusters)
    expect = {
        s: (c, s * c, (s - 1) * c, (s - 1) * c / total)
        for s, c in sizes.items()
    }
    assert got == expect
    assert sum(n for _, n, _, _ in got.values()) == total  # partition
    assert pairs, "fixture lost its near-dup pairs"


def test_dedup_cluster_stats_plan_shape(spark):
    """Plan contract: the histogram runs on the cluster table (already
    collapsed from the corpus) and the two 1-row totals broadcast back
    — BNLJ of 1-row sides only (the broadcast-scalar shape), no
    cartesian, no row-Python; corpus text is never re-read by the
    stats stage. The operator legitimately scans documents exactly
    TWICE — once in the pair generator and once for the corpus-total
    count the singleton backfill needs — so the pin is == 2: an
    accidental extra scan in the stats stage fails it (r16 ADVICE #3:
    the old <= 2 pin with a one-scan docstring would have passed
    one)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        q_dedup_cluster_stats,
    )

    plan = (
        q_dedup_cluster_stats(spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("documents.parquet") == 2  # pair scan + count agg
