"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_writes_identical_inputs(tmp_path, name):
    cls = workloads.WORKLOADS[name]
    cls(7, str(tmp_path / "a"))
    cls(7, str(tmp_path / "b"))
    cls(8, str(tmp_path / "c"))
    a, b, c = (_tree_bytes(tmp_path / d) for d in "abc")
    assert a and a == b
    assert a != c


def test_same_seed_same_streams():
    def take(seed, n=25):
        out = []
        for kind, payload in gen.serve_schedule(seed):
            out.append((kind, np.asarray(payload).tobytes()))
            if len(out) == n:
                return out

    assert take(3) == take(3) and take(3) != take(4)
    assert gen.append_batch(3, 1)[2].tobytes() == gen.append_batch(3, 1)[2].tobytes()
    assert gen.dedup_corpus(3, n=200)[0] == gen.dedup_corpus(3, n=200)[0]


def test_serve_cycle_mix():
    kinds = gen.SERVE_CYCLE
    assert len(kinds) == 12
    assert {k: kinds.count(k) for k in set(kinds)} == {"ivf": 8, "flat": 1, "batch_ivf": 1, "batch_flat": 1, "append": 1}


def test_ivf_recall_matches_per_query_top_k():
    rng = np.random.default_rng(2)
    ids = np.arange(300, dtype=np.int64)
    vecs = rng.normal(size=(300, 8))
    cents = rng.normal(size=(6, 8))
    lists = np.argmin(((vecs[:, None, :] - cents[None]) ** 2).sum(axis=2), axis=1)
    queries = rng.normal(size=(20, 8))
    hits = 0
    for q in queries:
        exact, _ = gen.exact_topk(ids, vecs, q)
        approx, _ = gen.exact_topk(ids, vecs, q, mask=np.isin(lists, gen.probe_lists(cents, q, 2)))
        hits += len(set(exact.tolist()) & set(approx.tolist()))
    assert gen.ivf_recall(vecs, lists, cents, queries, nprobe=2) == hits / (gen.TOP_K * len(queries))
    assert gen.ivf_recall(vecs, lists, cents, queries, nprobe=6) == 1.0


def _topk_case(seed=0):
    rng = np.random.default_rng(seed)
    ids = np.arange(200, dtype=np.int64)
    vecs = rng.normal(size=(200, 8))
    q = rng.normal(size=8)
    d = gen.l2_to(vecs, q)
    top, top_d = gen.exact_topk(ids, vecs, q)
    return ids, d, top, top_d


def test_topk_accepts_exact_answer():
    ids, d, top, top_d = _topk_case()
    assert checks.check_topk(top, top_d, ids, d) == []


def test_topk_rejects_swapped_neighbour():
    ids, d, top, top_d = _topk_case()
    eleventh = ids[np.lexsort((ids, d))[10]]
    bad = top.copy()
    bad[3] = eleventh
    assert checks.check_topk(bad, None, ids, d)


def test_topk_accepts_ties_in_either_order():
    ids, d, top, top_d = _topk_case()
    d = d.copy()
    d[top[5]] = d[top[4]] + 5e-7  # tied within the tolerance
    order = top.copy()
    order[4], order[5] = order[5], order[4]
    assert checks.check_topk(order, d[order], ids, d) == []


def test_topk_rejects_dropped_row():
    ids, d, top, top_d = _topk_case()
    assert checks.check_topk(top[:-1], top_d[:-1], ids, d)


def _index_case():
    ids, labels, vecs, _ = gen.labelled_vectors(5, scale=0.05)
    exp = gen.expected_index(ids, labels, vecs, gen.PER_CLASS_CAP, 5)
    n = len(exp[0])
    layout = {
        "vec_id": exp[0],
        "label": exp[1],
        "row_id": np.arange(n),
        "centroid": np.arange(n) % gen.IVF_K_BUILD,
        "embedding": exp[2].astype(np.float64),
    }
    return exp, layout, {"row_id": np.arange(n)}, {"row_id": np.arange(n), "embedding": layout["embedding"]}


def test_index_check_accepts_expected_layout():
    exp, layout, meta, vmap = _index_case()
    assert checks.check_index(layout, meta, vmap, exp, gen.IVF_K_BUILD) == []


def test_index_check_rejects_dropped_row():
    exp, layout, meta, vmap = _index_case()
    short = {k: v[1:] for k, v in layout.items()}
    assert checks.check_index(short, meta, vmap, exp, gen.IVF_K_BUILD)


def test_index_check_rejects_wrong_sample_and_norms():
    exp, layout, meta, vmap = _index_case()
    bad = dict(layout, vec_id=layout["vec_id"][::-1].copy())
    assert checks.check_index(bad, meta, vmap, exp, gen.IVF_K_BUILD)
    bad = dict(layout, embedding=layout["embedding"] * 1.01)
    assert checks.check_index(bad, meta, dict(vmap, embedding=bad["embedding"]), exp, gen.IVF_K_BUILD)
    bad = dict(layout, centroid=layout["centroid"] + gen.IVF_K_BUILD)
    assert checks.check_index(bad, meta, vmap, exp, gen.IVF_K_BUILD)


def _dedup_case():
    texts, cluster = gen.dedup_corpus(9, n=300)
    pairs = []
    for a, b in sorted(gen.planted_pairs(cluster)):
        j = gen.jaccard(gen.shingles(texts[a]), gen.shingles(texts[b]))
        if j >= gen.JACCARD_TAU:
            pairs.append((a, b, j))
    return texts, cluster, pairs


def test_pairs_check_accepts_planted_pairs():
    texts, cluster, pairs = _dedup_case()
    assert pairs and checks.check_pairs(pairs, texts, cluster) == []


def test_pairs_check_rejects_cross_cluster_pair():
    texts, cluster, pairs = _dedup_case()
    a = int(np.nonzero(cluster == 0)[0][0])
    b = int(np.nonzero(cluster == 1)[0][0])
    a, b = min(a, b), max(a, b)
    bad = pairs + [(a, b, 0.9)]
    assert checks.check_pairs(bad, texts, cluster)


def test_pairs_check_rejects_wrong_jaccard():
    texts, cluster, pairs = _dedup_case()
    a, b, j = pairs[0]
    assert checks.check_pairs([(a, b, j - 0.01)] + pairs[1:], texts, cluster)


def _registry_case():
    import pandas as pd

    pdf = pd.DataFrame({"lang": ["en", "de", "en"], "n": [3, 1, 2], "score": [0.5, 0.25, 1.0]})
    return pdf, checks.canon_rows(pdf, "q")


def test_registry_check_accepts_reordered_result():
    pdf, want = _registry_case()
    got = checks.canon_rows(pdf.iloc[::-1][["score", "n", "lang"]], "q")
    assert checks.check_registry(got, want, "q") == []
    assert checks.rows_recalled(got, want) == 1.0


def test_registry_check_rejects_dropped_row_and_changed_value():
    pdf, want = _registry_case()
    dropped = checks.canon_rows(pdf.iloc[1:], "q")
    assert checks.check_registry(dropped, want, "q")
    assert checks.rows_recalled(dropped, want) == 2 / 3
    changed = checks.canon_rows(pdf.assign(n=pdf["n"].astype(float)), "q")  # int vs float drift
    assert checks.check_registry(changed, want, "q")


def test_registry_panel_is_registered_with_oracles():
    assert set(gen.REGISTRY_PANEL) <= set(workloads.registry.QUERIES)
    assert set(gen.REGISTRY_PANEL) <= set(workloads.registry.ORACLES)



def test_tracer_wraps_aliases_and_self_times_add_up():
    ann = workloads.ann
    search = workloads.S
    original = ann.nearest_centroids
    tracer = tracing.Tracer()
    tracer.install()
    try:
        assert ann.nearest_centroids is not original
        assert search.ivf_search is ann.ivf_search  # the alias in search.py is wrapped too
        with tracer.op(0):
            with tracer.span("search", "outer"):
                ann.nearest_centroids([[0.0, 0.0], [1.0, 1.0]], [0.9, 0.9], 1)
    finally:
        tracer.uninstall()
    assert ann.nearest_centroids is original
    totals, rows = tracing.layer_metrics(tracer, [0])
    assert totals["operators.ann"]["calls"] == 1 and totals["search"]["calls"] == 1
    (row,) = rows
    assert abs(row["self_ms"] - row["wall_ms"]) < 1e-6
    assert abs(sum(t["self_ms"] for t in totals.values()) - row["wall_ms"]) < 1e-6


def test_metric_names_and_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert list(e2e) == list(run.END_TO_END)
    assert {k: m["unit"] for k, m in e2e.items()} == run.UNITS
    assert {k: m["unit"] for k, m in layer.items()} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES) == list(workloads.WORKLOADS)
    for name in list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(layer) <= 128 and all(m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_refuses_to_run_without_the_engine(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", tmp_path)
    assert run.main(["--workload", "batch_pipeline", "--seed", "1", "--seconds", "1"]) == 2
    assert not os.listdir(tmp_path)


def test_tree_cpu_counts_children():
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"], check=True)
    assert run.tree_cpu_s() - before >= 0.25
