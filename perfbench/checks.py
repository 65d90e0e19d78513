"""Per-op correctness checks. Each returns a list of problems (empty when
the output is right); the benchmark counts an op with any problem as
failed. Pure numpy/pandas, so a check never adds Spark work to a run."""

from __future__ import annotations

from collections import Counter

import numpy as np

import gen

TIE_TOL = 1e-6
NORM_TOL = 1e-6


def check_topk(got_ids, got_dists, cand_ids, cand_dists, k: int = gen.TOP_K) -> list[str]:
    """``got`` must be the k nearest of the candidates: each returned id is
    a distinct candidate whose exact distance matches the exact i-th
    smallest within TIE_TOL (so rows tied within the tolerance may come
    in either order), and the reported distance matches it too."""
    got_ids = np.asarray(got_ids, dtype=np.int64)
    want = np.sort(cand_dists)[:k]
    if len(got_ids) != len(want):
        return [f"returned {len(got_ids)} rows, expected {len(want)}"]
    if len(set(got_ids.tolist())) != len(got_ids):
        return ["duplicate ids in top-k"]
    pos = {int(i): j for j, i in enumerate(cand_ids)}
    missing = [int(i) for i in got_ids if int(i) not in pos]
    if missing:
        return [f"ids outside the candidate set: {missing[:3]}"]
    exact = np.asarray([cand_dists[pos[int(i)]] for i in got_ids])
    problems = []
    if np.any(np.abs(exact - want) > TIE_TOL):
        problems.append("top-k ids differ from the exact top-k")
    if got_dists is not None and np.any(np.abs(np.asarray(got_dists, dtype=np.float64) - exact) > TIE_TOL):
        problems.append("reported distances differ from exact distances")
    return problems


def check_index(layout: dict, meta: dict, vmap: dict, expected, n_lists: int) -> list[str]:
    """``layout``/``meta``/``vmap`` map column name to numpy array (row
    order free); ``expected`` is gen.expected_index's (ids, labels, vecs)."""
    exp_ids, exp_labels, exp_vecs = expected
    n = len(exp_ids)
    problems = []
    for name, cols in (("layout", layout), ("metadata", meta), ("vector map", vmap)):
        if len(cols["row_id"]) != n:
            problems.append(f"{name} has {len(cols['row_id'])} rows, expected {n}")
    if problems:
        return problems
    rid = np.asarray(layout["row_id"], dtype=np.int64)
    order = np.argsort(rid)
    if not np.array_equal(rid[order], np.arange(n)):
        return ["row_id is not dense 0..n-1 and unique"]
    if not np.array_equal(np.asarray(layout["vec_id"])[order], exp_ids):
        problems.append("sampled vec_ids or their row_ids differ from the exact-k hash sample")
    if not np.array_equal(np.asarray(layout["label"])[order], exp_labels):
        problems.append("labels differ")
    vecs = np.asarray(layout["embedding"], dtype=np.float64)[order]
    norms = np.linalg.norm(vecs, axis=1)
    if np.any(np.abs(norms - 1.0) > NORM_TOL):
        problems.append("an embedding norm is outside 1 +- 1e-6")
    if np.any(np.abs(vecs - exp_vecs) > NORM_TOL):
        problems.append("embeddings differ from the normalized inputs")
    cent = np.asarray(layout["centroid"])
    if cent.min() < 0 or cent.max() >= n_lists:
        problems.append(f"centroid outside [0, {n_lists})")
    if not np.array_equal(np.sort(np.asarray(meta["row_id"], dtype=np.int64)), np.arange(n)):
        problems.append("metadata row_ids differ from the layout")
    vorder = np.argsort(np.asarray(vmap["row_id"], dtype=np.int64))
    if not np.array_equal(np.asarray(vmap["row_id"])[vorder], np.arange(n)) or np.any(
        np.abs(np.asarray(vmap["embedding"], dtype=np.float64)[vorder] - vecs) > NORM_TOL
    ):
        problems.append("vector map differs from the layout")
    return problems


def check_pairs(pairs, texts: list[str], cluster: np.ndarray, tau: float = gen.JACCARD_TAU) -> list[str]:
    """Every reported pair (left < right) lies inside one planted cluster,
    appears once, and reports its exact shingle Jaccard, which is >= tau."""
    problems = []
    seen = set()
    for left, right, jac in pairs:
        a, b = int(left), int(right)
        if a >= b or (a, b) in seen:
            problems.append(f"pair ({a}, {b}) is unordered or repeated")
        seen.add((a, b))
        if cluster[a] < 0 or cluster[a] != cluster[b]:
            problems.append(f"pair ({a}, {b}) crosses planted clusters")
        exact = gen.jaccard(gen.shingles(texts[a]), gen.shingles(texts[b]))
        if jac < tau or abs(jac - exact) > 1e-12:
            problems.append(f"pair ({a}, {b}) reports jaccard {jac}, exact {exact}")
        if len(problems) > 3:
            break
    return problems


def components_frame(pairs):
    """``dedup_components`` of ``pairs`` by union-find: one row per
    connected component with its min id, size and id sum, as int64."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for left, right in pairs:
        ra, rb = find(int(left)), find(int(right))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for node in parent:
        groups.setdefault(find(node), []).append(node)
    rows = [(root, len(m), sum(m)) for root, m in groups.items()]
    return pd.DataFrame(rows, columns=["component", "n_docs", "id_checksum"], dtype="int64")


def canon_rows(pdf, name: str) -> list[tuple]:
    """A result frame in the registry's canonical comparison form
    (columns by name, rows sorted, dtype-sensitive cells), as the
    repository's oracle harness builds it."""
    from tests.oracle_harness import _canon_frame

    cols, rows = _canon_frame(pdf, name, "result")
    return [tuple(cols)] + rows


def check_registry(got: list[tuple], want: list[tuple], name: str) -> list[str]:
    """``got``/``want`` are ``canon_rows`` of the engine's result and of the
    DuckDB oracle's: same columns, same rows."""
    if got[0] != want[0]:
        return [f"{name}: columns {list(got[0])}, oracle {list(want[0])}"]
    if got[1:] != want[1:]:
        return [f"{name}: {len(got) - 1} rows differ from the oracle's {len(want) - 1}"]
    return []


def rows_recalled(got: list[tuple], want: list[tuple]) -> float:
    """Share of the oracle's rows that the result holds (as a multiset)."""
    if got[0] != want[0]:
        return 0.0
    if len(want) == 1:
        return 1.0 if len(got) == 1 else 0.0
    return sum((Counter(got[1:]) & Counter(want[1:])).values()) / (len(want) - 1)
