"""Seeded input generators and numpy ground truth for the engine benchmark.

Everything here is numpy/pyarrow only: the same seed writes byte-identical
files, and no ground truth is computed by the engine under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128

# index_build: 102 labelled clusters whose sizes are skewed like the
# reference manifest (a long tail of small classes, a few very large ones).
N_CLASSES = 102
CLASS_SIZE_MIN, CLASS_SIZE_MAX = 2, 800
PER_CLASS_CAP = 4
IVF_K_BUILD = 16

# search_serve: the IVF layout and its query / append streams.
N_CORPUS = 4096
SERVE_NOISE = 1.4  # cluster overlap that keeps IVF recall@10 near 0.9
N_SERVE_CLUSTERS = 64
IVF_LISTS = 32
NPROBE = 4
TRAIN_SAMPLE = 512
TRAIN_ITERS = 10  # the iteration count FAISS trains its IVF coarse quantizer with
BATCH_QUERIES = 64
APPEND_ROWS = 256
TOP_K = 10

# batch_pipeline documents: Zipf-vocabulary texts with planted
# near-duplicate clusters, deduplicated through the query registry.
N_DOCS = 1000
VOCAB = 5000
ZIPF_S = 1.1
DOC_LEN = (40, 80)
PLANTED_FRAC = 0.3
BIG_CLUSTER_FRAC = 0.01
JACCARD_TAU = 0.5
SHINGLE_N = 3

PAIRS_QUERY = "minhash_lsh_dedup"  # minhash_lsh_pairs(n=3, 8 hashes, 4 bands, tau=0.5) + spill
# the registry's text-dedup entries, run in this order after the build
REGISTRY_PANEL = (PAIRS_QUERY, "dedup_components")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream): adding a stream never
    shifts the numbers another stream draws."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def vec_table(ids: np.ndarray, labels: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64)),
            "label": pa.array(labels.astype(np.int32)),
            "embedding": emb,
        }
    )


def write_split(out_dir: str, ids, labels, vecs, parts: int = 4) -> None:
    """Write rows as ``parts`` parquet files (round-robin), so the scan has
    one split per core instead of one task for the whole input."""
    for p in range(parts):
        sl = slice(p, None, parts)
        write_parquet(vec_table(ids[sl], labels[sl], vecs[sl]), os.path.join(out_dir, f"part-{p:03d}.parquet"))


# ---------------------------------------------------------------- index_build


def class_sizes(scale: float = 1.0) -> np.ndarray:
    i = np.arange(N_CLASSES) / (N_CLASSES - 1)
    ratio = CLASS_SIZE_MAX / CLASS_SIZE_MIN
    return np.maximum(np.round(scale * CLASS_SIZE_MIN * ratio ** (i**3)), 1).astype(np.int64)


def labelled_vectors(seed: int, scale: float = 1.0):
    """(vec_id, label, raw vectors) — clustered, unnormalized, skewed class
    sizes assigned to labels in a seeded order, rows in a seeded order."""
    rng = rng_for(seed, "labelled")
    sizes = rng.permutation(class_sizes(scale))
    centers = rng.normal(size=(N_CLASSES, DIM))
    labels = np.repeat(np.arange(N_CLASSES), sizes)
    vecs = (centers[labels] + 0.35 * rng.normal(size=(len(labels), DIM))) * rng.uniform(0.5, 2.0, size=(len(labels), 1))
    order = rng.permutation(len(labels))
    ids = rng.permutation(len(labels)).astype(np.int64)
    return ids[order], labels[order], vecs[order].astype(np.float32), centers


SAMPLE_HASH_MULT = 2654435761
SAMPLE_HASH_MOD = 2147483647


def expected_index(ids, labels, vecs, cap: int, seed: int):
    """Ground truth of ``build_index``: the exact-k per-label sample in the
    engine's documented hash order, then dense row ids (rank by id inside a
    label, labels in ascending order) and the L2-normalized float32
    vectors. Returns (vec_ids, labels, vectors) with row ``i`` of each
    being ``row_id == i``."""
    key = ((ids + seed) * SAMPLE_HASH_MULT) % SAMPLE_HASH_MOD
    keep_ids, keep_labels, keep_rows = [], [], []
    for lab in np.unique(labels):
        rows = np.nonzero(labels == lab)[0]
        sel = rows[np.lexsort((ids[rows], key[rows]))[:cap]]
        sel = sel[np.argsort(ids[sel])]
        keep_rows.append(sel)
        keep_ids.append(ids[sel])
        keep_labels.append(labels[sel])
    rows = np.concatenate(keep_rows)
    v = vecs[rows].astype(np.float64)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return np.concatenate(keep_ids), np.concatenate(keep_labels), v


# --------------------------------------------------------------- search_serve


def serve_corpus(seed: int, n: int = N_CORPUS):
    rng = rng_for(seed, "serve-corpus")
    centers = rng.normal(size=(N_SERVE_CLUSTERS, DIM))
    labels = rng.integers(0, N_SERVE_CLUSTERS, n)
    vecs = centers[labels] + SERVE_NOISE * rng.normal(size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return np.arange(n, dtype=np.int64), labels, vecs.astype(np.float32), centers


def serve_points(rng: np.random.Generator, centers: np.ndarray, n: int, cluster: int | None = None) -> np.ndarray:
    c = np.full(n, cluster) if cluster is not None else rng.integers(0, len(centers), n)
    v = centers[c] + SERVE_NOISE * rng.normal(size=(n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


RECALL_QUERIES = 512

# The op mix as one fixed cycle of 12 ops: 8 single IVF searches, and one
# each of single flat, IVF Arrow batch, flat batch and append. Runs time
# whole cycles, so every run sees the same mix. Single IVF searches are
# two thirds of the mix so that the median op is an IVF search well
# inside their spread; at 45% it falls between the IVF and flat latencies
# and swings with whichever is slower in that run.
SERVE_CYCLE = (
    "ivf", "flat", "ivf", "batch_ivf", "ivf", "ivf",
    "append", "ivf", "batch_flat", "ivf", "ivf", "ivf",
)


def serve_schedule(seed: int, stream: str = "serve-schedule"):
    """Endless seeded op stream: (kind, payload) where payload is a query
    vector, a 64-query batch (half from one cluster, half spread), or None
    for an append (its batch comes from ``append_batch``)."""
    rng = rng_for(seed, stream)
    _, _, _, centers = serve_corpus(seed)
    while True:
        for kind in SERVE_CYCLE:
            if kind in ("ivf", "flat"):
                yield kind, serve_points(rng, centers, 1)[0]
            elif kind == "append":
                yield kind, None
            else:
                half = BATCH_QUERIES // 2
                hot = serve_points(rng, centers, half, cluster=int(rng.integers(0, len(centers))))
                yield kind, np.vstack([hot, serve_points(rng, centers, BATCH_QUERIES - half)])


def append_batch(seed: int, j: int):
    rng = rng_for(seed, f"append-{j}")
    _, _, _, centers = serve_corpus(seed)
    ids = N_CORPUS + j * APPEND_ROWS + np.arange(APPEND_ROWS, dtype=np.int64)
    labels = rng.integers(0, N_SERVE_CLUSTERS, APPEND_ROWS)
    v = centers[labels] + SERVE_NOISE * rng.normal(size=(APPEND_ROWS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return ids, labels, v.astype(np.float32)


def train_sample_rows(seed: int, n: int = N_CORPUS) -> np.ndarray:
    return np.sort(rng_for(seed, "train-sample").choice(n, TRAIN_SAMPLE, replace=False))


def l2_to(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    d = vecs.astype(np.float64) - np.asarray(q, dtype=np.float64)[None, :]
    return np.sqrt((d * d).sum(axis=1))


def exact_topk(ids: np.ndarray, vecs: np.ndarray, q, k: int = TOP_K, mask=None):
    """(ids, dists) of the k nearest rows by L2, ties by ascending id."""
    d = l2_to(vecs, q)
    if mask is not None:
        ids, d = ids[mask], d[mask]
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def probe_lists(centroids: np.ndarray, q, nprobe: int = NPROBE) -> np.ndarray:
    d = ((centroids - np.asarray(q, dtype=np.float64)[None, :]) ** 2).sum(axis=1)
    return np.argsort(d, kind="stable")[:nprobe]


def ivf_recall(vecs, lists, centroids, queries, nprobe: int = NPROBE, k: int = TOP_K) -> float:
    """Recall@k of an IVF layout: for each query, the exact top-k of all
    rows against the top-k of the rows in the ``nprobe`` lists whose
    centroids are nearest (what a correct IVF search returns)."""
    v = np.asarray(vecs, dtype=np.float64)
    q = np.asarray(queries, dtype=np.float64)
    d = (v * v).sum(axis=1)[None, :] - 2.0 * q @ v.T + (q * q).sum(axis=1)[:, None]
    c = np.asarray(centroids, dtype=np.float64)
    cd = (c * c).sum(axis=1)[None, :] - 2.0 * q @ c.T
    probed = np.argsort(cd, axis=1, kind="stable")[:, :nprobe]
    in_probed = (np.asarray(lists)[None, :, None] == probed[:, None, :]).any(axis=2)
    exact = np.argpartition(d, k, axis=1)[:, :k]
    approx = np.argpartition(np.where(in_probed, d, np.inf), k, axis=1)[:, :k]
    hits = sum(len(set(a.tolist()) & set(b.tolist())) for a, b in zip(exact, approx))
    return hits / (k * len(q))


# ----------------------------------------------------- batch_pipeline documents


def _zipf_probs() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return p / p.sum()


def dedup_corpus(seed: int, n: int = N_DOCS):
    """(texts, cluster id per doc). Planted clusters are a base document and
    variants of it with ~1 token in 40 replaced; one cluster holds 1% of the
    corpus (band-bucket skew), the rest hold 2-5 docs; the other docs are
    singletons (cluster id -1)."""
    rng = rng_for(seed, "dedup")
    p = _zipf_probs()
    texts: list[str] = []
    cluster: list[int] = []
    sizes = [max(2, int(n * BIG_CLUSTER_FRAC))]
    while sum(sizes) < n * PLANTED_FRAC:
        sizes.append(int(rng.integers(2, 6)))
    for cid, m in enumerate(sizes):
        base = rng.choice(VOCAB, int(rng.integers(*DOC_LEN)), p=p)
        for _ in range(m):
            d = base.copy()
            k = max(1, len(d) // 40)
            pos = rng.choice(len(d), k, replace=False)
            d[pos] = rng.choice(VOCAB, k, p=p)
            texts.append(" ".join(f"w{t}" for t in d))
            cluster.append(cid)
    while len(texts) < n:
        d = rng.choice(VOCAB, int(rng.integers(*DOC_LEN)), p=p)
        texts.append(" ".join(f"w{t}" for t in d))
        cluster.append(-1)
    order = rng.permutation(len(texts))[:n]
    return [texts[i] for i in order], np.asarray(cluster, dtype=np.int64)[order]


def docs_table(seed: int, texts: list[str]) -> pa.Table:
    """The registry's ``documents`` schema over ``texts``."""
    rng = rng_for(seed, "doc-columns")
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(["en", "es", "de", "fr"])[rng.integers(0, 4, n)].tolist()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 3, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def planted_pairs(cluster: np.ndarray) -> set[tuple[int, int]]:
    out = set()
    for cid in np.unique(cluster[cluster >= 0]):
        members = np.sort(np.nonzero(cluster == cid)[0])
        out.update((int(a), int(b)) for i, a in enumerate(members) for b in members[i + 1 :])
    return out
