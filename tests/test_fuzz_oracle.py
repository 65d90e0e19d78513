"""Cross-engine FUZZ layer (r11): randomized generated tables — not the
fixed fixtures — driven through the registry's real (query, oracle)
pairs and the driver-faithful compare harness.

The fixed-fixture oracle tests prove agreement on ONE dataset; a latent
fixture-overfit (an oracle that happens to match because the fixture
never hits an edge) survives them. Here hypothesis draws corpus shapes
(sizes, duplicate docs, empty/whitespace-only texts, duplicate vectors,
degenerate labels) and every drawn corpus must hash-match across Spark
and DuckDB for a panel of registry queries whose semantics are
input-agnostic (no fixture-specific slices beyond vec_id 0 / label
presence, which the generator guarantees).

Panel selection rule: documents-only and embeddings-only queries with
no corpus-specific constants other than the flagship vec_id=0 query
row. Oracles hardcode the 64-dim embedding width, so generated vectors
are 64-D float32 like the fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings, strategies as st

from .oracle_harness import compare
from .test_oracle_parity import _sized_oracles

DOC_QUERIES = [
    "gopher_quality",
    "language_id",
    "bpe_token_counts",
    "pii_scrub",
    "top_docs_per_lang",
    "salted_term_counts",
    "clean_corpus",
    "bm25",
    "vocab_filter",
    "seq_packing",
    "weighted_sample",
    # these also have dedicated panels below with their own generators;
    # the rows here run them against the shared corpus too:
    "temperature_mix",
    "passage_chunking",
    "winnowing_fingerprint",
    "bloom_decontaminate",
    "bpe_merge_step",
    "url_host_dedup",
    "contamination_eval_split",
    "repetition_quality",
    "source_overlap_matrix",
    "ngram_novelty_score",
    "exact_substring_dedup",
    # the whole near-dup family: 1-2-token docs have no 3-shingles,
    # duplicate/case-variant docs force real pairs through every blocker
    "minhash_lsh_dedup",
    "ngram_jaccard_dedup",
    "simhash_near_dup",
    "dedup_components",
    "dedup_keep_best",
    "dedup_recall_eval",
]
EMB_QUERIES = [
    "vector_norms",
    "embedding_stats",
    "knn_l2_topk",
    "distinct_labels",
    "grouped_ids",
    "bq_hamming_topk",      # r13 registration — integer BQ pipeline,
                            # re-derived end-to-end by its oracle
    "semantic_dedup",
    "label_category_join",
    "path_normalize",
    "radius_pairs",         # non-unit vectors: near-empty radius ball,
    "stratified_sample",    # only the forced duplicate pair survives
    "suffix_join_equi",
    "lsh_near_dup",         # corpus-sized planes via the _sized_oracles override
    # r12 widening (VERDICT r11 #5) — the layout-free ANN/pipeline rows
    # whose constants the generator already satisfies (vec_id 0 query
    # row, >= 8 lowest-id centroid/query inits, labels present):
    "matryoshka_topk",      # truncate+renormalize fold on random floats
    "knn_two_phase",        # local/global top-k, queries vec_id < 8
    "mmr_rerank",           # greedy diversity re-rank; shortlist may be
                            # corpus-limited — both engines cut at 20
    "embedding_outliers",   # integer cross-multiplied outlier flags
    "batch_assignments",    # pure id/seed arithmetic, drop_last global
    "train_metrics",        # modular epoch simulation over vec_id
    "kmeans_train_assign",  # 10 unrolled Lloyd rounds, quantized ints —
                            # the duplicate + zero vectors hit the
                            # empty-cluster/tie re-quantization rules
]

# Serving-batch rows need vec_id spans the small panel can't provide
# (search_batch queries 48 <= vec_id < 64; hard_negatives evals
# 16 <= vec_id < 48 plus a DIFFERENT-label corpus per query) — a
# second embeddings panel at 66-90 vectors covers them.
EMB_SERVE_QUERIES = [
    "search_batch",
    "hard_negatives",
]

# The materialized-index tiers (VERDICT r12 #3a): these entries BUILD
# a real IVF/PQ/SQ layout per generated corpus (the content-addressed
# `_layout` machinery fingerprints the table, so each seed gets a
# fresh build) and search it — exactly the input class where the r12
# duplicate-vector serving bug hid for four rounds (the parquet
# fixtures carry no duplicate vectors; the generator forces one, plus
# a zero vector). Spans: train vec_id<16, ann_search query row 3,
# eval queries 16<=vec_id<48 — n_vecs >= 66 covers every constant.
EMB_INDEX_QUERIES = [
    "ivf_topk",
    "ann_search",
    "ivfpq_topk",
    "pq_rerank_topk",
    "ann_recall_eval",
    "quantized_recall_eval",
]

# Every relational registry query except bucketed_revenue, which has
# its OWN dedicated panel below (test_fuzz_bucketed_revenue_panel):
# its content-addressed bucketed-layout sink needs an explicit
# DROP TABLE + layout-dir cleanup per generated corpus, which the
# shared panel loop does not do.
REL_QUERIES = [
    "part_profit",
    "forecast_revenue",
    "running_revenue",
    "order_priority_semi",
    "customers_without_orders",
    "order_count_distribution",
    "supplier_rollup",
    "set_ops",
    "asof_join",
    "important_stock",
    "large_orders",
    "revenue_growth",
    "ntile_segments",
    "zorder_keys",
    "waiting_suppliers",
    "idle_customers",
    "min_cost_order",
    "dominant_suppliers",
    "pricing_summary",
    "top_revenue_customers",
]

# The whole events family rides the same generated corpus: epoch-integer
# window/session arithmetic, deterministic tie-breaks (the generator
# forces equal-timestamp events through sessionize/gap_fill/asof), and
# sketch oracles that rebuild the identical md5 grids.
EVENT_FUZZ_QUERIES = [
    "sliding_window",
    "sessionize",
    "streaming_dedup_batch",
    "json_extract_agg",
    "value_quantiles",
    "kmv_distinct_sketch",
    "cms_heavy_hitters",
    "funnel_conversion",
    "interval_join",
    "retention_cohorts",
    "gap_fill",
]

_WORDS = [
    "the", "cat", "sat", "on", "a", "mat", "dog", "ran", "big", "data",
    "spark", "dedup", "la", "el", "und", "der", "le", "et", "12",
    "x@y.z", "a-b", "...",
    # PORTABLE Unicode (tests/test_unicode_portability.py): exercises
    # Java-vs-DuckDB case folding through the generator's .upper() dup
    # variant. The known-divergent classes (İ, word-final Σ, the
    # unmapped A7Cx block) are deliberately absent — the oracle harness
    # cannot express Java's folding for those (documented boundary).
    "straße", "ñoño", "中文", "σιγμα", "офис", "ışık", "été",
    # long tokens: exercise bpe_merge_step's per-word pair explosion
    # (19 pairs from one word) and mixed letter/digit run splitting
    "internationalization", "v2beta3rc1",
]


def _gen_documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    rows = []
    for i in range(n_docs):
        ln = int(rng.integers(0, 40))
        if ln == 0:
            text = str(rng.choice(["", " ", "\t", "  \n "]))
        elif rng.integers(0, 3) == 0:
            # multi-line doc (for line-based rules such as bullet /
            # ellipsis caps and terminal punctuation): bullet
            # prefixes, ellipsis/period endings, occasional \r\n line
            # endings — the [ \t\r] trim class must strip the \r on
            # both engines
            words = [str(w) for w in rng.choice(_WORDS, size=ln)]
            lines, j = [], 0
            while j < ln:
                take = int(rng.integers(1, 7))
                line = " ".join(words[j : j + take])
                style = int(rng.integers(0, 6))
                if style == 0:
                    line = "- " + line
                elif style == 1:
                    line = "* " + line
                elif style == 2:
                    line = line + "..."
                elif style == 3:
                    line = line + "."
                lines.append(line)
                j += take
            sep = "\r\n" if rng.integers(0, 4) == 0 else "\n"
            text = sep.join(lines)
        else:
            text = " ".join(str(w) for w in rng.choice(_WORDS, size=ln))
            if rng.integers(0, 4) == 0:
                text = "  " + text + "\t"  # leading/trailing whitespace
        rows.append((i, text))
    if n_docs >= 6:
        # exact duplicates (exercise the exact/near-dup family) and a
        # case-only variant (must NOT collapse under md5 of raw text)
        rows[n_docs - 1] = (n_docs - 1, rows[0][1])
        rows[n_docs - 2] = (n_docs - 2, rows[1][1])
        rows[n_docs - 3] = (n_docs - 3, rows[1][1].upper())
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(
                [str(rng.choice(["en", "es", "de", "fr"])) for _ in rows],
                pa.string(),
            ),
            "source": pa.array(
                [f"src{int(rng.integers(0, 3))}" for _ in rows], pa.string()
            ),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )


def _gen_embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    d = 64  # the oracles' hardcoded EMB_DIM
    mat = rng.standard_normal((n_vecs, d)).astype(np.float32)
    if n_vecs >= 6:
        mat[n_vecs - 1] = mat[0]       # duplicate vector → exact dist ties
        mat[n_vecs - 2] = 0.0          # degenerate zero vector
    labels = rng.integers(0, max(2, n_vecs // 8), size=n_vecs)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in mat], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.tolist(), pa.int32()),
        }
    )


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> list[float]:
    """2-decimal money values — the fixture value class (exact in
    decimal(12,2), so cross-engine sums stay integer-exact)."""
    return [round(float(x), 2) for x in rng.uniform(lo, hi, size=n)]


def _day(rng: np.random.Generator, y0: int, y1: int):
    import datetime

    start = datetime.datetime(y0, 1, 1)
    span = (datetime.datetime(y1, 12, 31) - start).days
    return start + datetime.timedelta(days=int(rng.integers(0, span + 1)))


def _gen_relational(
    rng: np.random.Generator, n_cust: int, n_orders: int
) -> dict[str, pa.Table]:
    """Random TPC-H-shaped corpus mirroring the fixture value classes
    (2-decimal money, whole-number quantities, the fixture enum domains,
    1995–2001 dates) while varying every SHAPE the fixed fixtures pin:
    zero-lineitem orders, orderless customers, orphan lineitems,
    unit-price ties (min_cost_order's rank), acctbal ties (ntile),
    equal-timestamp events (asof's max-view_id tiebreak), a 2021
    shipdate slice (forecast_revenue's pushed-down range non-empty)."""
    n_supp = int(rng.integers(1, 13))
    n_part = int(rng.integers(5, 61))
    n_users = int(rng.integers(3, 16))

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array([f"REGION{i}" for i in range(5)], pa.string()),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION{i:02d}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(
                rng.integers(0, 25, n_supp).tolist(), pa.int32()
            ),
            "s_acctbal": pa.array(_money(rng, n_supp, -1000, 10000)),
        }
    )
    # ~40% of part names carry the 'red' token part_profit filters on
    colors = ["red", "blue", "green", "ivory", "navy"]
    part = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"large {rng.choice(colors, p=[0.4, 0.15, 0.15, 0.15, 0.15])} widget"
                    for _ in range(n_part)
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{int(rng.integers(1, 6))}" for _ in range(n_part)]
            ),
            "p_type": pa.array(
                [str(rng.choice(["STANDARD", "ECONOMY", "PROMO"])) for _ in range(n_part)]
            ),
            "p_size": pa.array(rng.integers(1, 50, n_part).tolist(), pa.int32()),
            "p_retailprice": pa.array(_money(rng, n_part, 900, 2000)),
        }
    )
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    # acctbal: half from a coarse grid (forced ntile ties), half free
    bal = [
        float(rng.integers(-4, 40)) * 250.0
        if rng.integers(0, 2) == 0
        else _money(rng, 1, -1000, 10000)[0]
        for _ in range(n_cust)
    ]
    customer = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(
                rng.integers(0, 25, n_cust).tolist(), pa.int32()
            ),
            "c_acctbal": pa.array(bal),
            "c_mktsegment": pa.array(
                [str(rng.choice(segments)) for _ in range(n_cust)]
            ),
        }
    )
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            # random fan-out: some customers get many orders, some none
            "o_custkey": pa.array(
                rng.integers(0, n_cust, n_orders).tolist(), pa.int64()
            ),
            "o_orderstatus": pa.array(
                [str(rng.choice(["P", "O", "F"])) for _ in range(n_orders)]
            ),
            "o_totalprice": pa.array(_money(rng, n_orders, 1000, 500000)),
            "o_orderdate": pa.array(
                [_day(rng, 1995, 2001) for _ in range(n_orders)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                [str(rng.choice(priorities)) for _ in range(n_orders)]
            ),
        }
    )
    # unit-price tie pool: identical (extendedprice, quantity) pairs on
    # different lineitems force min_cost_order through its tiebreak
    tie_pool = [
        (p, q)
        for p, q in zip(_money(rng, 4, 900, 105000), rng.integers(1, 51, 4))
    ]
    ship_2021 = rng.integers(0, 3) == 0  # some corpora hit forecast's range
    li_rows = []
    for ok_ in range(n_orders):
        for ln in range(1, int(rng.integers(0, 8)) + 1):
            if rng.integers(0, 5) == 0:
                price, qty = tie_pool[int(rng.integers(0, len(tie_pool)))]
            else:
                price, qty = _money(rng, 1, 900, 105000)[0], int(
                    rng.integers(1, 51)
                )
            yr = (2020, 2021) if (ship_2021 and rng.integers(0, 2) == 0) else (1995, 2001)
            li_rows.append(
                (
                    ok_,
                    int(rng.integers(0, n_part)),
                    int(rng.integers(0, n_supp)),
                    ln,
                    float(qty),
                    float(price),
                    round(float(rng.integers(0, 11)) / 100.0, 2),
                    round(float(rng.integers(0, 9)) / 100.0, 2),
                    str(rng.choice(["A", "N", "R"])),
                    str(rng.choice(["O", "F"])),
                    _day(rng, *yr),
                )
            )
    # orphan lineitems: orderkeys with no orders row (inner joins must
    # drop them identically on both engines)
    for j in range(int(rng.integers(0, 3))):
        li_rows.append(
            (
                n_orders + j,
                int(rng.integers(0, n_part)),
                int(rng.integers(0, n_supp)),
                1,
                float(rng.integers(1, 51)),
                _money(rng, 1, 900, 105000)[0],
                0.05,
                0.02,
                "R",
                "F",
                _day(rng, 1995, 2001),
            )
        )
    cols = list(zip(*li_rows)) if li_rows else [[]] * 11
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(cols[0], pa.int64()),
            "l_partkey": pa.array(cols[1], pa.int64()),
            "l_suppkey": pa.array(cols[2], pa.int64()),
            "l_linenumber": pa.array(cols[3], pa.int32()),
            "l_quantity": pa.array(cols[4], pa.float64()),
            "l_extendedprice": pa.array(cols[5], pa.float64()),
            "l_discount": pa.array(cols[6], pa.float64()),
            "l_tax": pa.array(cols[7], pa.float64()),
            "l_returnflag": pa.array(cols[8], pa.string()),
            "l_linestatus": pa.array(cols[9], pa.string()),
            "l_shipdate": pa.array(cols[10], pa.timestamp("us")),
        }
    )
    import datetime

    base = datetime.datetime(2024, 1, 1)
    n_ev = int(rng.integers(50, 301))
    ev_ts = [
        base
        + datetime.timedelta(
            seconds=int(rng.integers(0, 30 * 86400)),
            microseconds=int(rng.integers(0, 1_000_000)),
        )
        for _ in range(n_ev)
    ]
    ev_user = rng.integers(0, n_users, n_ev).tolist()
    ev_type = [
        str(rng.choice(["click", "view", "purchase", "signup", "error"]))
        for _ in range(n_ev)
    ]
    # forced equal-ts (user, view) pairs: asof's max-view_id tiebreak
    if n_ev >= 10:
        ev_ts[3] = ev_ts[2]
        ev_user[3] = ev_user[2]
        ev_type[2] = ev_type[3] = "view"
        ev_ts[5] = ev_ts[4] = ev_ts[2]
        ev_user[5] = ev_user[4] = ev_user[2]
        ev_type[4] = "purchase"  # purchase at the tied instant (<= holds)
        ev_type[5] = "view"
    events = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(ev_user, pa.int64()),
            "event_type": pa.array(ev_type, pa.string()),
            "value": pa.array(_money(rng, n_ev, 0, 120)),
            "props": pa.array(
                [f'{{"k": {int(rng.integers(0, 100))}}}' for _ in range(n_ev)]
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "part": part,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def _run_panel(spark, tmpdir: str, names: list[str]) -> None:
    from the_build_project_image_retrieval_with_vector_databases_spark.queries import (
        ORACLES,
        QUERIES,
    )

    # Corpus-sized oracles (semantic_dedup's k here) embed the sf0.01
    # derivation in their REGISTERED strings; at any other corpus size
    # the comparison must re-derive them — the same structural override
    # the SF-sweep parity tests use (tests/test_oracle_parity.py).
    sized = _sized_oracles(tmpdir)
    for name in names:
        oracle = sized.get(name) or ORACLES[name]
        ok, msg = compare(QUERIES[name](spark, tmpdir), oracle, tmpdir, name)
        assert ok, f"fuzz corpus diverged: {msg}"


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=3, max_value=60),
)
def test_fuzz_documents_panel(spark, tmp_path_factory, seed, n_docs):
    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_docs_{seed}_{n_docs}"))
    pq.write_table(
        _gen_documents(rng, n_docs), os.path.join(tmpdir, "documents.parquet")
    )
    _run_panel(spark, tmpdir, DOC_QUERIES)


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_cust=st.integers(min_value=25, max_value=120),
    n_orders=st.integers(min_value=10, max_value=200),
)
def test_fuzz_relational_panel(spark, tmp_path_factory, seed, n_cust, n_orders):
    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_rel_{seed}_{n_cust}_{n_orders}"))
    for name, tbl in _gen_relational(rng, n_cust, n_orders).items():
        pq.write_table(tbl, os.path.join(tmpdir, f"{name}.parquet"))
    _run_panel(spark, tmpdir, REL_QUERIES + EVENT_FUZZ_QUERIES)


@settings(max_examples=4, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_vecs=st.integers(min_value=20, max_value=48),
)
def test_fuzz_embeddings_panel(spark, tmp_path_factory, seed, n_vecs):
    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_emb_{seed}_{n_vecs}"))
    pq.write_table(
        _gen_embeddings(rng, n_vecs), os.path.join(tmpdir, "embeddings.parquet")
    )
    _run_panel(spark, tmpdir, EMB_QUERIES)


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_vecs=st.integers(min_value=66, max_value=90),
)
def test_fuzz_embeddings_serving_panel(spark, tmp_path_factory, seed, n_vecs):
    """The BLAS serving kernel and the contrastive negative miner on
    generated corpora — the two Arrow-kernel rows whose query-id spans
    (48-64 / 16-48) need a larger generated table. The forced
    duplicate vector (mat[n-1] = mat[0]) lands OUTSIDE both query
    spans, exercising exact-distance ties from the corpus side."""
    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_srv_{seed}_{n_vecs}"))
    pq.write_table(
        _gen_embeddings(rng, n_vecs), os.path.join(tmpdir, "embeddings.parquet")
    )
    _run_panel(spark, tmpdir, EMB_SERVE_QUERIES)


def _cleanup_layouts(tmpdir: str) -> None:
    """Drop the content-addressed index layouts a generated corpus
    left behind (and their in-process memo entries) — the fuzz panels
    mint a fresh corpus per seed, so without this the layout root
    accumulates one dir per seed forever."""
    import hashlib
    import shutil

    from the_build_project_image_retrieval_with_vector_databases_spark import (
        queries_ann as QA,
    )

    sfh = hashlib.sha256(os.path.abspath(tmpdir).encode()).hexdigest()[:8]
    if os.path.isdir(QA._LAYOUT_ROOT):
        for d in os.listdir(QA._LAYOUT_ROOT):
            if f"-{sfh}-" in d:
                shutil.rmtree(
                    os.path.join(QA._LAYOUT_ROOT, d), ignore_errors=True
                )
    for key in [k for k in QA._LAYOUTS if k[1] == tmpdir]:
        QA._LAYOUTS.pop(key, None)


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_vecs=st.integers(min_value=66, max_value=96),
)
def test_fuzz_index_tier_panel(spark, tmp_path_factory, seed, n_vecs):
    """VERDICT r12 #3a: build a small materialized IVF/PQ/SQ layout
    per generated corpus and run every index-tier registry entry
    against its re-derived oracle — the fixture-free twin of the
    serving panel that caught the r12 GEMM tie-break bug."""
    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_idx_{seed}_{n_vecs}"))
    pq.write_table(
        _gen_embeddings(rng, n_vecs), os.path.join(tmpdir, "embeddings.parquet")
    )
    try:
        _run_panel(spark, tmpdir, EMB_INDEX_QUERIES)
    finally:
        _cleanup_layouts(tmpdir)


def _gen_ppm_tree(rng: np.random.Generator, root: str, n_imgs: int) -> None:
    """Generated Netpbm fixtures in the fixed 17-byte header layout the
    registered oracle parses (``P6\\n{w:04d} {h:04d}\\n255\\n`` +
    raster), across the corruption classes both engines can express:
    valid P6 (RGB), valid P5 (gray — decode replicates to RGB),
    truncated raster (header intact), and an undecodable magic."""
    for i in range(n_imgs):
        w, h = int(rng.integers(1, 9)), int(rng.integers(1, 9))
        gray = bool(rng.integers(0, 2))
        magic, ch = (b"P5", 1) if gray else (b"P6", 3)
        raster = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8)
        blob = magic + f"\n{w:04d} {h:04d}\n255\n".encode() + raster.tobytes()
        cls = int(rng.integers(0, 4))
        if cls == 0:
            blob = blob[: 17 + int(rng.integers(0, len(raster)))]  # cut raster
        elif cls == 1:
            blob = b"XY" + blob[2:]  # dead magic — no codec claims it
        cat = os.path.join(root, f"cat{i % 2}")
        os.makedirs(cat, exist_ok=True)
        with open(os.path.join(cat, f"img{i:03d}.ppm"), "wb") as f:
            f.write(blob)


def _oracle_generated_ppm(root: str) -> str:
    """Generated-tree twin of ORACLE_IMAGE_DECODE_REAL: the same
    fixed-offset hex parse (w at byte 4, h at byte 9, raster at byte
    18), extended with the magic dispatch the generator exercises —
    '50360a' = P6 (3 channels), '50350a' = P5 (1 channel, decode
    replicates gray to RGB so r0=g0=b0 and n_channels reports 3)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
        _hx_byte,
        _hx_digits,
    )

    return f"""
WITH b AS (
  SELECT filename, lower(hex(content)) AS hx, octet_length(content) AS n
  FROM read_blob('{root}/*/*.ppm')
),
hdr AS (
  SELECT filename, hx, n,
         CASE WHEN n >= 17 AND substr(hx, 1, 6) = '50360a' THEN 3
              WHEN n >= 17 AND substr(hx, 1, 6) = '50350a' THEN 1
         END AS ch,
         CASE WHEN n >= 17 THEN {_hx_digits(4, 4)} END AS w,
         CASE WHEN n >= 17 THEN {_hx_digits(9, 4)} END AS h
  FROM b
),
ok AS (SELECT *,
         ch IS NOT NULL AND n >= 17 + w * h * ch AS good
       FROM hdr)
SELECT list_extract(string_split(filename, '/'), -1) AS basename,
       list_extract(string_split(filename, '/'), -2) AS category,
       CASE WHEN good THEN w END AS width,
       CASE WHEN good THEN h END AS height,
       CASE WHEN good THEN 3 END AS n_channels,
       CASE WHEN good THEN {_hx_byte(18)} END AS r0,
       CASE WHEN good THEN
         CASE WHEN ch = 3 THEN {_hx_byte(19)} ELSE {_hx_byte(18)} END
       END AS g0,
       CASE WHEN good THEN
         CASE WHEN ch = 3 THEN {_hx_byte(20)} ELSE {_hx_byte(18)} END
       END AS b0,
       good AS decode_ok
FROM ok
"""


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_imgs=st.integers(min_value=4, max_value=24),
)
def test_fuzz_image_decode_panel(spark, tmp_path_factory, seed, n_imgs):
    """VERDICT r12 #3b: generated image blobs (random dims/rasters,
    truncations, dead magics, the P5 gray path) through the REAL
    decode query surface vs a blob-hex oracle — the fixture PPMs only
    ever exercise one happy path plus one truncation."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
        _decode_rows_query,
    )

    rng = np.random.default_rng(seed)
    root = str(tmp_path_factory.mktemp(f"fuzz_img_{seed}_{n_imgs}"))
    _gen_ppm_tree(rng, root, n_imgs)
    df = _decode_rows_query(spark, root, "*.ppm", with_md5=False)
    ok, msg = compare(df, _oracle_generated_ppm(root), root, "image_decode_gen")
    assert ok, f"generated-image corpus diverged: {msg}"


@settings(max_examples=2, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=3, max_value=60),
)
def test_fuzz_staged_mixing_panel(spark, tmp_path_factory, seed, n_docs):
    """The two r11-staged mixing ops face this same gate once registered
    — pre-verify them on generated corpora now. Shapes the fixtures
    never hit: zero-token docs (must vanish from both sides), corpora
    where a whole language or the DSIR target predicate is empty
    (smoothing must agree), 1-token docs (no bigrams), forced exact
    duplicates (tied scores through the doc_id tiebreak)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        ORACLE_DSIR_IMPORTANCE,
        ORACLE_PERPLEXITY_BUCKETS,
        q_dsir_importance,
        q_perplexity_buckets,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_mix_{seed}_{n_docs}"))
    pq.write_table(
        _gen_documents(rng, n_docs), os.path.join(tmpdir, "documents.parquet")
    )
    for name, q, o in [
        ("dsir_importance", q_dsir_importance, ORACLE_DSIR_IMPORTANCE),
        ("perplexity_buckets", q_perplexity_buckets, ORACLE_PERPLEXITY_BUCKETS),
    ]:
        ok, msg = compare(q(spark, tmpdir), o, tmpdir, name)
        assert ok, f"fuzz corpus diverged: {msg}"


@settings(max_examples=2, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_vecs=st.integers(min_value=20, max_value=48),
)
def test_fuzz_staged_semantic_decontaminate(spark, tmp_path_factory, seed, n_vecs):
    """Staged embedding-screen pre-verification on generated corpora:
    the zero vector exercises the normalize clamp, the duplicate vector
    forces exact distance ties through the (dist, vec_id) order, and
    n_vecs <= 32 draws leave the corpus side EMPTY (both engines must
    agree on zero rows)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        ORACLE_SEMANTIC_DECONTAMINATE,
        q_semantic_decontaminate,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_sdc_{seed}_{n_vecs}"))
    pq.write_table(
        _gen_embeddings(rng, n_vecs), os.path.join(tmpdir, "embeddings.parquet")
    )
    ok, msg = compare(
        q_semantic_decontaminate(spark, tmpdir),
        ORACLE_SEMANTIC_DECONTAMINATE,
        tmpdir,
        "semantic_decontaminate",
    )
    assert ok, f"fuzz corpus diverged: {msg}"


@settings(max_examples=2, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=3, max_value=60),
)
def test_fuzz_staged_r12_text_ops(spark, tmp_path_factory, seed, n_docs):
    """The r12-staged text-side candidates face the registry gate once
    registered — pre-verify on generated corpora. Shapes the fixtures
    never hit: zero-token docs (chunking must emit nothing), 1-token
    docs (one short chunk), doc counts that make every source quota
    exceed its row count (temperature_mix caps implicitly), and
    remainder ties across sources (deterministic lexicographic
    allocation)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_passage_chunking,
        _oracle_temperature_mix,
        q_passage_chunking,
        q_temperature_mix,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_r12t_{seed}_{n_docs}"))
    pq.write_table(
        _gen_documents(rng, n_docs), os.path.join(tmpdir, "documents.parquet")
    )
    for name, q, o in [
        ("passage_chunking", q_passage_chunking, _oracle_passage_chunking()),
        ("temperature_mix", q_temperature_mix, _oracle_temperature_mix()),
    ]:
        ok, msg = compare(q(spark, tmpdir), o, tmpdir, name)
        assert ok, f"fuzz corpus diverged: {msg}"


@settings(max_examples=2, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_vecs=st.integers(min_value=20, max_value=48),
)
def test_fuzz_staged_bq_hamming(spark, tmp_path_factory, seed, n_vecs):
    """The r12-staged BQ tier on generated corpora: the zero vector
    (all bits from the threshold side of 0), the duplicated vector
    (Hamming ties through the vec_id tiebreak), and thresholds trained
    on whatever the first 16 generated rows are."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_bq_hamming_topk,
        q_bq_hamming_topk,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_bq_{seed}_{n_vecs}"))
    pq.write_table(
        _gen_embeddings(rng, n_vecs), os.path.join(tmpdir, "embeddings.parquet")
    )
    ok, msg = compare(
        q_bq_hamming_topk(spark, tmpdir),
        _oracle_bq_hamming_topk(),
        tmpdir,
        "bq_hamming_topk",
    )
    assert ok, f"fuzz corpus diverged: {msg}"


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=3, max_value=60),
)
def test_fuzz_staged_r13_pipeline_ops(spark, tmp_path_factory, seed, n_docs):
    """The r13-staged candidates face the registry gate once registered
    — pre-verify on generated corpora. Shapes the fixtures never hit:
    source counts small enough that UniMax's epoch cap binds (cap
    2·n_s < equal share), zero-token docs (bucket batching must drop
    them), widths whose buckets hold fewer rows than one batch
    (per-width drop-last empties the bucket), and corpora with no
    near-dup pairs at all (every split component is a singleton)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_leakage_safe_split,
        _oracle_length_bucket_batches,
        _oracle_unimax_mix,
        q_leakage_safe_split,
        q_length_bucket_batches,
        q_unimax_mix,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_r13p_{seed}_{n_docs}"))
    pq.write_table(
        _gen_documents(rng, n_docs), os.path.join(tmpdir, "documents.parquet")
    )
    sized = _sized_oracles(tmpdir)
    for name, q, o in [
        ("unimax_mix", q_unimax_mix, _oracle_unimax_mix()),
        ("length_bucket_batches", q_length_bucket_batches,
         _oracle_length_bucket_batches()),
        ("leakage_safe_split", q_leakage_safe_split,
         sized.get("leakage_safe_split", _oracle_leakage_safe_split())),
    ]:
        ok, msg = compare(q(spark, tmpdir), o, tmpdir, name)
        assert ok, f"fuzz corpus diverged: {msg}"


def _gen_manifest(rng: np.random.Generator, path: str) -> None:
    """train_val.json-shaped manifest with the dirty-vocabulary edge
    set: out-of-bounds labels (negative and past the end → 'Unknown'),
    relpaths with and without the caltech prefix, unicode and
    DUPLICATE category names (resolution is positional, so dup names
    must survive verbatim)."""
    import json as _json

    n_cats = int(rng.integers(1, 8))
    cats = [str(rng.choice(_WORDS)) for _ in range(n_cats)]
    n_pairs = int(rng.integers(1, 30))
    train = []
    for i in range(n_pairs):
        label = int(rng.integers(-2, n_cats + 3))  # OOB both sides
        rel = f"dir{i % 3}/img{i:03d}.jpg"
        if rng.integers(0, 2):
            rel = "caltech101/101_ObjectCategories/" + rel
        train.append([label, rel])
    with open(path, "w") as f:
        _json.dump({"train": train, "categories": cats}, f)


def _gen_jsonl(rng: np.random.Generator, path: str, n_docs: int) -> None:
    """Newline-delimited corpus with forced exact duplicates (same
    text, different doc_id/source — the global dup window must count
    them), empty/whitespace texts, and unicode."""
    import json as _json

    lines = []
    for i in range(n_docs):
        ln = int(rng.integers(0, 20))
        text = (
            " ".join(str(w) for w in rng.choice(_WORDS, size=ln))
            if ln
            else str(rng.choice(["", " "]))
        )
        lines.append(
            {"doc_id": i, "source": f"src{int(rng.integers(0, 3))}",
             "text": text}
        )
    if n_docs >= 4:
        lines[n_docs - 1]["text"] = lines[0]["text"]   # cross-source dup
        lines[n_docs - 2]["text"] = lines[1]["text"]
    with open(path, "w") as f:
        for row in lines:
            f.write(_json.dumps(row) + "\n")


def _run_file_formats_panel(spark, root: str, rng, n_docs: int) -> None:
    """Generated file-format fixtures through the manifest/JSONL/video
    intake surfaces (the registered queries hardcode the package
    fixture paths, so this drives the same code bodies at generated
    paths and substitutes the path into the registered oracle SQL
    verbatim). Shared by the hypothesis test below and fuzz_soak."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from the_build_project_image_retrieval_with_vector_databases_spark.functions.text import (
        tokens,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
        CORPUS_JSONL,
        MANIFEST_PATH,
        ORACLE_MANIFEST_SCAN,
        _oracle_jsonl_ingest,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.manifest import (
        read_manifest,
    )

    # manifest — the q_manifest_scan body over a generated path
    mpath = os.path.join(root, "train_val.json")
    _gen_manifest(rng, mpath)
    train, categories = read_manifest(spark, mpath)
    out = (
        train.join(F.broadcast(categories), "label", "left")
        .withColumn("category", F.coalesce("category", F.lit("Unknown")))
        .withColumn(
            "relpath",
            F.regexp_replace(
                "relpath", r"^caltech101/101_ObjectCategories/", ""
            ),
        )
        .select("label", "relpath", "category")
    )
    ok, msg = compare(
        out, ORACLE_MANIFEST_SCAN.replace(MANIFEST_PATH, mpath), root,
        "manifest_scan_gen",
    )
    assert ok, f"generated manifest diverged: {msg}"

    # jsonl — the q_jsonl_ingest body over a generated path
    jpath = os.path.join(root, "corpus.jsonl")
    _gen_jsonl(rng, jpath, n_docs)
    docs = spark.read.json(jpath).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
    )
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    enriched = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).alias("n_tokens"),
        (F.row_number().over(w) > 1).alias("is_dup"),
    )
    agg = enriched.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_dups"),
    )
    ok, msg = compare(
        agg, _oracle_jsonl_ingest().replace(CORPUS_JSONL, jpath), root,
        "jsonl_ingest_gen",
    )
    assert ok, f"generated jsonl diverged: {msg}"

    # videos — the q_frame_sample body over generated binary blobs
    # (stub codec: n_frames = n div 256, md5 frame digests; blobs
    # under 256 bytes must surface as decode_ok=false error rows)
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
        VIDEOS_ROOT,
        _oracle_frame_sample,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.media import (
        sample_frames,
    )

    vdir = os.path.join(root, "videos")
    os.makedirs(vdir)
    n_vids = int(rng.integers(1, 6))
    for i in range(n_vids):
        size = int(rng.integers(10, 2000))  # some < 256 → error rows
        with open(os.path.join(vdir, f"clip{i}.mp4"), "wb") as f:
            f.write(rng.integers(0, 256, size=size, dtype=np.uint8).tobytes())
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.mp4")
        .load(vdir)
    )
    frames = sample_frames(scanned, stride=2).select(
        F.element_at(F.split("path", "/"), -1).alias("basename"),
        "n_frames",
        "frame_idx",
        "frame_ms",
        "frame_hash",
        "decode_ok",
    )
    ok, msg = compare(
        frames, _oracle_frame_sample().replace(VIDEOS_ROOT, vdir), root,
        "frame_sample_gen",
    )
    assert ok, f"generated videos diverged: {msg}"


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=1, max_value=40),
)
def test_fuzz_manifest_jsonl_video_panel(spark, tmp_path_factory, seed, n_docs):
    rng = np.random.default_rng(seed)
    root = str(tmp_path_factory.mktemp(f"fuzz_files_{seed}_{n_docs}"))
    _run_file_formats_panel(spark, root, rng, n_docs)


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=3, max_value=60),
)
def test_fuzz_staged_r15_text_ops(spark, tmp_path_factory, seed, n_docs):
    """The r15-staged candidates face the registry gate once registered
    — pre-verify on generated corpora. Shapes the fixtures never hit:
    sub-k and token-less docs (winnowing emits nothing), docs shorter
    than the window (single short-window winnowing), duplicate texts
    (identical fingerprint sets; Bloom exact-hit paths), punctuation
    and single-char words ('a', '...' — pairless under the BPE split),
    and tiny corpora where the benchmark slice swallows every doc
    (empty Bloom corpus side → empty on BOTH engines)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_bloom_decontaminate,
        _oracle_bpe_merge_step,
        _oracle_winnowing_fingerprint,
        q_bloom_decontaminate,
        q_bpe_merge_step,
        q_winnowing_fingerprint,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_r15t_{seed}_{n_docs}"))
    pq.write_table(
        _gen_documents(rng, n_docs), os.path.join(tmpdir, "documents.parquet")
    )
    for name, q, o in [
        ("winnowing_fingerprint", q_winnowing_fingerprint,
         _oracle_winnowing_fingerprint()),
        ("bloom_decontaminate", q_bloom_decontaminate,
         _oracle_bloom_decontaminate()),
        ("bpe_merge_step", q_bpe_merge_step, _oracle_bpe_merge_step()),
    ]:
        ok, msg = compare(q(spark, tmpdir), o, tmpdir, name)
        assert ok, f"fuzz corpus diverged: {msg}"


def _gen_jpeg_tree(rng: np.random.Generator, root: str) -> None:
    """Generated baseline-JPEG tree + expected.csv sidecar, the exact
    shape of scripts/make_jpeg_fixtures.py: random rasters through the
    test-side encoder, pixel truths from the INDEPENDENT direct-IDCT
    reference (never the engine's decoder), a progressive (SOF2-swap)
    file for the decode_ok=false path, and the same first-'ffc0'-is-
    SOF0 alignment pin the registry oracle assumes (content retried on
    the vanishingly-rare straddle)."""
    import csv
    import hashlib

    from .test_jpeg import _reconstruct, encode_jpeg

    fields = [
        "basename", "category", "width", "height", "n_channels",
        "r0", "g0", "b0", "pixel_md5", "decode_ok",
    ]
    rows = []
    n_imgs = int(rng.integers(2, 6))
    for i in range(n_imgs):
        h = int(rng.integers(8, 41))
        w = int(rng.integers(8, 41))
        kw = {}
        if rng.integers(0, 2):
            kw["subsample"] = True
        if rng.integers(0, 3) == 0:
            kw["restart_interval"] = int(rng.integers(1, 4))
        for _bump in range(5):
            rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            jpeg, coefs, sampling = encode_jpeg(rgb, **kw)
            if jpeg.hex().index("ffc0") == 2 * jpeg.index(b"\xff\xc0"):
                break
        else:  # pragma: no cover — straddle 5x in a row
            continue
        want = _reconstruct(coefs, sampling, h, w)
        cat = f"cat{i % 2}"
        d = os.path.join(root, cat)
        os.makedirs(d, exist_ok=True)
        name = f"g{i:02d}.jpg"
        with open(os.path.join(d, name), "wb") as f:
            f.write(jpeg)
        rows.append(
            dict(
                basename=name, category=cat, width=w, height=h,
                n_channels=3,
                r0=int(want[0, 0, 0]), g0=int(want[0, 0, 1]),
                b0=int(want[0, 0, 2]),
                pixel_md5=hashlib.md5(want.tobytes()).hexdigest(),
                decode_ok=True,
            )
        )
    # progressive (SOF2) swap: well-formed container, unsupported
    # coding — the F2 error-tolerance row, exactly like the fixture
    base, _, _ = encode_jpeg(
        np.full((8, 8, 3), int(rng.integers(0, 256)), dtype=np.uint8)
    )
    bad = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    d = os.path.join(root, "cat0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "prog.jpg"), "wb") as f:
        f.write(bad)
    rows.append(
        dict(
            basename="prog.jpg", category="cat0", width="", height="",
            n_channels="", r0="", g0="", b0="", pixel_md5="",
            decode_ok=False,
        )
    )
    with open(os.path.join(root, "expected.csv"), "w", newline="") as f:
        wr = csv.DictWriter(f, fieldnames=fields)
        wr.writeheader()
        wr.writerows(rows)


@settings(max_examples=2, deadline=None, derandomize=True)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_fuzz_generated_jpeg_panel(spark, tmp_path_factory, seed):
    """The REAL baseline-JPEG decode surface (Huffman + IDCT + color
    transform) over generated rasters — random dims (not multiples of
    8), random 4:2:0 subsampling, random restart intervals — against
    the registry oracle re-rooted at the generated tree (SOF0 dims
    parsed from the blob in SQL; pixel truths from the independent
    direct-IDCT sidecar). Closes the fixture-only blind spot on
    image_decode_jpeg: the committed fixtures pin 3 rasters forever,
    this panel draws new ones per seed."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
        JPEG_ROOT,
        ORACLE_IMAGE_DECODE_JPEG,
        _decode_rows_query,
    )

    rng = np.random.default_rng(seed)
    root = str(tmp_path_factory.mktemp(f"fuzz_jpg_{seed}"))
    _gen_jpeg_tree(rng, root)
    df = _decode_rows_query(spark, root, "*.jpg", with_md5=True)
    ok, msg = compare(
        df,
        ORACLE_IMAGE_DECODE_JPEG.replace(JPEG_ROOT, root),
        root,
        "image_decode_jpeg_gen",
    )
    assert ok, f"generated-jpeg corpus diverged: {msg}"


def _gen_ppm_p6_tree(rng: np.random.Generator, root: str, n_imgs: int) -> None:
    """P6-only generated tree for the FLAGSHIP pipeline panel: valid
    3-channel rasters plus one truncated file (the F2 drop-out). No P5
    / dead-magic classes here — the flagship oracle's raster-size gate
    (n ≥ 17 + w·h·3) encodes 3-channel semantics, same scope as the
    committed fixtures (the broader corruption classes are covered by
    the decode-surface panel)."""
    for i in range(n_imgs):
        w, h = int(rng.integers(1, 13)), int(rng.integers(1, 13))
        raster = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8)
        blob = b"P6" + f"\n{w:04d} {h:04d}\n255\n".encode() + raster.tobytes()
        if i == n_imgs - 1 and n_imgs > 2:
            blob = blob[: 17 + int(rng.integers(0, len(raster)))]
        cat = os.path.join(root, f"cat{i % 2}")
        os.makedirs(cat, exist_ok=True)
        with open(os.path.join(cat, f"img{i:03d}.ppm"), "wb") as f:
            f.write(blob)


@settings(max_examples=2, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_imgs=st.integers(min_value=3, max_value=8),
)
def test_fuzz_image_knn_pipeline_panel(spark, tmp_path_factory, seed, n_imgs):
    """The FLAGSHIP end-to-end flow — scan → real decode → integer
    resize/pool/projection embed → exact-int64 cosine kNN — over fresh
    generated rasters, against its full raster-bytes-to-ranks oracle
    re-rooted at the generated tree. The last un-fuzzed composed
    surface: the committed PPM fixtures pin one raster set forever;
    new sizes (non-square, 1-pixel-wide), new pixel bytes, and a
    truncated drop-out per seed exercise the nearest-resize index
    arithmetic and the F2 gate across both engines."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_pipeline import (
        _oracle_image_knn_pipeline,
        q_image_knn_pipeline,
    )

    rng = np.random.default_rng(seed)
    root = str(tmp_path_factory.mktemp(f"fuzz_iknn_{seed}_{n_imgs}"))
    _gen_ppm_p6_tree(rng, root, n_imgs)
    ok, msg = compare(
        q_image_knn_pipeline(spark, root, root=root),
        _oracle_image_knn_pipeline(root=root),
        root,
        "image_knn_pipeline_gen",
    )
    assert ok, f"generated flagship corpus diverged: {msg}"


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=3, max_value=60),
)
def test_fuzz_staged_r16_text_ops(spark, tmp_path_factory, seed, n_docs):
    """The r16-staged candidates face the registry gate once registered
    — pre-verify on generated corpora. Shapes the fixtures never hit:
    corpora smaller than the eval slice (contamination's corpus side
    EMPTY → every eval doc clean on BOTH engines), token-less and
    sub-n docs (repetition emits no row for that (doc, n)), duplicate
    and case-variant texts (repetition counts unaffected by doc
    identity; URL groups keyed by (source, lang, id%40) still form),
    and random source/lang mixes driving the synthesized-URL key
    structure."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_contamination_eval_split,
        _oracle_repetition_quality,
        _oracle_url_host_dedup,
        q_contamination_eval_split,
        q_repetition_quality,
        q_url_host_dedup,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_r16t_{seed}_{n_docs}"))
    pq.write_table(
        _gen_documents(rng, n_docs), os.path.join(tmpdir, "documents.parquet")
    )
    for name, q, o in [
        ("url_host_dedup", q_url_host_dedup, _oracle_url_host_dedup()),
        ("contamination_eval_split", q_contamination_eval_split,
         _oracle_contamination_eval_split()),
        ("repetition_quality", q_repetition_quality,
         _oracle_repetition_quality()),
    ]:
        ok, msg = compare(q(spark, tmpdir), o, tmpdir, name)
        assert ok, f"fuzz corpus diverged: {msg}"


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=3, max_value=60),
)
def test_fuzz_staged_r17_text_ops(spark, tmp_path_factory, seed, n_docs):
    """The r17-staged candidates on generated corpora: tiny corpora
    where a single source holds every doc (source_overlap emits zero
    pair rows — both engines agree on empty), sub-n/token-less docs
    (novelty emits no row; ExactSubstr keeps a zero-coverage row for
    sub-L docs and none for token-less), exact duplicates (the later
    copy scores 0 novelty; duplicate sources share full sketches;
    ExactSubstr covers both copies 100%), and case-variant texts
    driving distinct grams."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_text import (
        _oracle_exact_substring_dedup,
        _oracle_ngram_novelty_score,
        _oracle_source_overlap_matrix,
        q_exact_substring_dedup,
        q_ngram_novelty_score,
        q_source_overlap_matrix,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_r17t_{seed}_{n_docs}"))
    pq.write_table(
        _gen_documents(rng, n_docs), os.path.join(tmpdir, "documents.parquet")
    )
    for name, q, o in [
        ("source_overlap_matrix", q_source_overlap_matrix,
         _oracle_source_overlap_matrix()),
        ("ngram_novelty_score", q_ngram_novelty_score,
         _oracle_ngram_novelty_score()),
        ("exact_substring_dedup", q_exact_substring_dedup,
         _oracle_exact_substring_dedup()),
    ]:
        ok, msg = compare(q(spark, tmpdir), o, tmpdir, name)
        assert ok, f"fuzz corpus diverged: {msg}"


@settings(max_examples=2, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_cust=st.integers(min_value=25, max_value=120),
    n_orders=st.integers(min_value=10, max_value=200),
)
def test_fuzz_bucketed_revenue_panel(spark, tmp_path_factory, seed, n_cust, n_orders):
    """The LAST registry surface with no generated-fuzz row (r14
    verdict "what's missing" #3): bucketed_revenue materializes a
    content-addressed bucketed layout per corpus, so the generic
    relational panel excluded it. This dedicated row builds the
    layout for a fresh generated corpus, runs the zero-Exchange
    fact⋈fact compare, then DROPs both external tables and removes
    their layout dirs — nothing outlives the seed."""
    import shutil

    from the_build_project_image_retrieval_with_vector_databases_spark.queries import (
        ORACLES,
        QUERIES,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _LAYOUT_ROOT,
        _table_fingerprint,
    )

    rng = np.random.default_rng(seed)
    tmpdir = str(tmp_path_factory.mktemp(f"fuzz_bkt_{seed}_{n_cust}_{n_orders}"))
    for k, t in _gen_relational(rng, n_cust, n_orders).items():
        pq.write_table(t, os.path.join(tmpdir, f"{k}.parquet"))
    n_buckets = spark.sparkContext.defaultParallelism
    names = [
        f"bkt{n_buckets}_{tbl}_{_table_fingerprint(tmpdir, f'{tbl}.parquet')}"
        for tbl in ("lineitem", "orders")
    ]
    try:
        ok, msg = compare(
            QUERIES["bucketed_revenue"](spark, tmpdir),
            ORACLES["bucketed_revenue"],
            tmpdir,
            "bucketed_revenue",
        )
        assert ok, f"fuzz corpus diverged: {msg}"
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            shutil.rmtree(os.path.join(_LAYOUT_ROOT, n), ignore_errors=True)


def test_fuzz_panel_names_resolve():
    """Every name in every fuzz panel list is a registered query with an
    oracle, so a registry change that drops a panel entry fails here
    instead of KeyError-ing mid-soak."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries import (
        ORACLES,
        QUERIES,
    )

    for panel in (
        DOC_QUERIES,
        EMB_QUERIES,
        EMB_SERVE_QUERIES,
        EMB_INDEX_QUERIES,
        REL_QUERIES,
        EVENT_FUZZ_QUERIES,
    ):
        for name in panel:
            assert name in QUERIES, f"fuzz panel entry {name!r} is not registered"
            assert name in ORACLES, f"no oracle for fuzz panel entry {name!r}"
