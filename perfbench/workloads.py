"""The benchmark's workloads. Each one turns its seed into input files
(numpy/pyarrow, untimed), does its engine set-up, and hands out ops: a
timed ``run`` that calls the engine's public API and consumes the result,
and an untimed ``check`` against numpy ground truth or the registry's
DuckDB oracles."""

from __future__ import annotations

import contextlib
import glob
import importlib
import os
import shutil

import numpy as np
import pyarrow.dataset as ds
import pyarrow.json as pajson

import checks
import gen
from tests.oracle_harness import duckdb_conn
from tracing import PKG

S = importlib.import_module(f"{PKG}.search")
registry = importlib.import_module(f"{PKG}.queries")
ann = importlib.import_module(f"{PKG}.operators.ann")
index_build = importlib.import_module(f"{PKG}.plans.index_build")
tables = importlib.import_module(f"{PKG}.sources.tables")


def no_span(layer, name):
    return contextlib.nullcontext()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(f))


def data_files(path: str) -> list[str]:
    return [f for f in glob.glob(os.path.join(path, "**", "part-*"), recursive=True) if not f.endswith(".crc")]


def read_columns(path: str, columns: list[str]) -> dict:
    """Columns of a parquet dataset (hive partition dirs included) as numpy."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    out = {}
    for c in columns:
        col = t.column(c)
        if c == "embedding":
            out[c] = np.asarray(col.to_pylist(), dtype=np.float64)
        else:
            out[c] = col.to_numpy()
    return out


class Op:
    """One request: ``run`` is timed, ``check`` is not. ``items`` counts the
    vectors indexed, query vectors answered or documents deduplicated."""

    def __init__(self, kind: str, items: int, run, check):
        self.kind, self.items, self.run, self.check = kind, items, run, check


class Workload:
    name = ""
    cycle = 1  # timed ops come in whole cycles of this many

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.span = no_span  # the traced run swaps in Tracer.span
        self.recalls: list[float] = []

    def setup(self, spark) -> None:
        """Engine work done before timing."""

    def warmup_ops(self) -> list[Op]:
        return []

    def start_cycle(self) -> None:
        """Untimed reset before each timed cycle."""

    def next_op(self) -> Op:
        raise NotImplementedError

    def recall(self) -> float:
        return float(np.mean(self.recalls)) if self.recalls else 0.0

    def stored_bytes_per_vector(self) -> float:
        return 0.0

    def layout_files(self) -> int:
        return 0


# ----------------------------------------------------------------- search_serve


class SearchServe(Workload):
    name = "search_serve"
    cycle = len(gen.SERVE_CYCLE)

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.dir = os.path.join(work, "ss")
        ids, labels, vecs, centers = gen.serve_corpus(seed)
        gen.write_split(os.path.join(self.dir, "corpus.parquet"), ids, labels, vecs)
        self.recall_queries = gen.serve_points(gen.rng_for(seed, "serve-recall"), centers, gen.RECALL_QUERIES)
        rows = gen.train_sample_rows(seed)
        gen.write_split(os.path.join(self.dir, "train_sample.parquet"), ids[rows], labels[rows], vecs[rows], parts=1)
        self.base_ids, self.base_vecs = ids, vecs.astype(np.float64)
        self.ids, self.vecs = self.base_ids, self.base_vecs
        self.schedule = gen.serve_schedule(seed)
        self.layout = None
        self.n_appends = 0
        self.appended = False

    def setup(self, spark):
        sample = tables.load_table(spark, self.dir, "train_sample")
        # the engine's exact k-means: one Spark job, then Lloyd rounds on the
        # driver; MLlib's train_centroids pays ~7 s more of cold JVM start
        cents, _ = ann.kmeans_train_exact(sample, k=gen.IVF_LISTS, max_iter=gen.TRAIN_ITERS)
        self.layout = os.path.join(self.dir, "layout")
        ann.write_ivf_index(tables.load_table(spark, self.dir, "corpus"), self.layout, cents)
        self.cents_list = cents
        self.cents = np.asarray(cents, dtype=np.float64)
        self.snapshot = os.path.join(self.dir, "layout_setup")
        shutil.copytree(self.layout, self.snapshot)
        self._reload_lists()
        self.base_lists = self.lists

    def start_cycle(self):
        """Put the layout back as set-up left it (untimed), so that every
        cycle meets the same layout and its one append, instead of a
        layout that grows with the number of cycles a run gets through."""
        if self.appended:
            shutil.rmtree(self.layout)
            shutil.copytree(self.snapshot, self.layout)
            self.ids, self.vecs, self.lists = self.base_ids, self.base_vecs, self.base_lists
            self.appended = False

    def _reload_lists(self):
        t = read_columns(self.layout, ["vec_id", "centroid"])
        lists = np.full(len(self.ids), -1, dtype=np.int64)
        pos = np.searchsorted(self.ids, t["vec_id"])
        lists[pos] = t["centroid"]
        self.lists = lists
        return len(t["vec_id"])

    def _read_layout(self, spark):
        with self.span("sources", "read_layout"):
            return spark.read.parquet(self.layout)

    def _check_query(self, q, got_ids, got_dists, ivf: bool) -> list[str]:
        d = gen.l2_to(self.vecs, q)
        mask = np.isin(self.lists, gen.probe_lists(self.cents, q)) if ivf else np.ones(len(self.ids), dtype=bool)
        return checks.check_topk(got_ids, got_dists, self.ids[mask], d[mask])

    def _op(self, kind, payload) -> Op:
        k = gen.TOP_K
        if kind in ("ivf", "flat"):
            q = payload

            def run(spark):
                lay = self._read_layout(spark)
                if kind == "ivf":
                    res = S.search(lay, q.tolist(), k, index="ivf", train_vectors=self.cents_list)
                else:
                    res = S.search(lay, q.tolist(), k, index="flat")
                return res.select("vec_id", "dist").collect()

            def check(rows):
                return self._check_query(q, [r[0] for r in rows], [r[1] for r in rows], kind == "ivf")

            return Op(kind, 1, run, check)

        if kind in ("batch_ivf", "batch_flat"):
            qs = payload
            batch = [(i, q.tolist()) for i, q in enumerate(qs)]

            def run(spark):
                lay = self._read_layout(spark)
                if kind == "batch_ivf":
                    res = S.search_batch(lay, batch, k, index="ivf", train_vectors=self.cents_list, arrow=True)
                else:
                    res = S.search_batch(lay, batch, k, index="flat")
                return res.select("query_id", "vec_id", "dist", "rank").collect()

            def check(rows):
                by_q: dict[int, list] = {}
                for r in sorted(rows, key=lambda r: (r[0], r[3])):
                    by_q.setdefault(r[0], []).append(r)
                problems = []
                for i, q in enumerate(qs):
                    got = by_q.get(i, [])
                    problems += self._check_query(q, [r[1] for r in got], [r[2] for r in got], kind == "batch_ivf")
                return problems[:3]

            return Op(kind, len(qs), run, check)

        j = self.n_appends
        self.n_appends += 1
        path = os.path.join(self.dir, f"append_{j}.parquet")
        new_ids, new_labels, new_vecs = gen.append_batch(self.seed, j)
        gen.write_parquet(gen.vec_table(new_ids, new_labels, new_vecs), path)

        def run(spark):
            self.appended = True
            with self.span("sources", "read_append"):
                batch_df = spark.read.parquet(path)
            ann.append_to_ivf_index(batch_df, self.layout, self.cents_list)
            return None

        def check(_):
            before = len(self.ids)
            self.ids = np.concatenate([self.ids, new_ids])
            self.vecs = np.vstack([self.vecs, new_vecs.astype(np.float64)])
            rows = self._reload_lists()
            problems = []
            if rows != before + len(new_ids) or np.any(self.lists < 0):
                problems.append(f"layout holds {rows} rows after the append, expected {before + len(new_ids)}")
            d = ((new_vecs.astype(np.float64)[:, None, :] - self.cents[None, :, :]) ** 2).sum(axis=2)
            best = np.sort(d, axis=1)
            got = d[np.arange(len(new_ids)), self.lists[before:]]
            if np.any(got - best[:, 0] > 1e-9):
                problems.append("an appended vector is not in its nearest list")
            return problems

        return Op(kind, 0, run, check)

    def warmup_ops(self):
        # One whole cycle from its own stream, append included: the first
        # cycle after a shorter warm-up (one IVF search and one batch) still
        # ran its IVF searches 10-40% slower than the cycles after it, and
        # after one op of each kind it still took 16-25% more CPU per item.
        warmup = gen.serve_schedule(self.seed, "serve-warmup")
        return [self._op(*next(warmup)) for _ in range(self.cycle)]

    def next_op(self):
        kind, payload = next(self.schedule)
        return self._op(kind, payload)

    def recall(self):
        """Recall@10 of the layout as the run leaves it, appends included,
        over 512 seeded queries spread across the clusters: the per-op
        checks hold every served IVF result to exactly what this scores,
        and 512 queries keep the figure from swinging with the few
        queries one run serves."""
        return gen.ivf_recall(self.vecs, self.lists, self.cents, self.recall_queries) if self.layout else 0.0

    def stored_bytes_per_vector(self):
        return dir_bytes(self.layout) / len(self.ids) if self.layout else 0.0

    def layout_files(self):
        return len(data_files(self.layout)) if self.layout else 0


# ---------------------------------------------------------------- batch_pipeline


class IndexBuild(Workload):
    """The reference's precompute: one cold index build and its sidecars
    per op (the first part of ``batch_pipeline``'s cycle)."""

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.build_seed = seed % 100_000
        ids, labels, vecs, _ = gen.labelled_vectors(seed)
        self.src = os.path.join(work, "ib")
        gen.write_split(os.path.join(self.src, "manifest.parquet"), ids, labels, vecs)
        self.expected = gen.expected_index(ids, labels, vecs, gen.PER_CLASS_CAP, self.build_seed)
        self.n_ops = 0
        self.last_out = None
        self.stored = []

    def next_op(self) -> Op:
        # No warm-up: the reference runs its precompute as a one-shot batch
        # job, so the JIT and codegen cost of a fresh JVM is paid every
        # time. (A warm-up build on a tenth-size manifest measured 27 s,
        # longer than the cold build itself.)
        expected = self.expected
        out = os.path.join(self.work, f"ib_out_{self.n_ops}")
        self.n_ops += 1

        def run(spark):
            df = tables.load_table(spark, self.src, "manifest")
            idx = index_build.build_index(
                df, out_path=os.path.join(out, "layout"), per_class=gen.PER_CLASS_CAP,
                strata_col="label", id_col="vec_id", ivf_k=gen.IVF_K_BUILD, seed=self.build_seed,
            )
            index_build.write_metadata_json(idx, os.path.join(out, "metadata"))
            index_build.write_vector_map(idx, os.path.join(out, "vector_map"))
            return out

        def check(out):
            layout = read_columns(os.path.join(out, "layout"), ["vec_id", "label", "row_id", "centroid", "embedding"])
            meta_files = sorted(glob.glob(os.path.join(out, "metadata", "part-*.json")))
            meta_rows = [pajson.read_json(f) for f in meta_files]
            meta = {"row_id": np.concatenate([t.column("row_id").to_numpy() for t in meta_rows if t.num_rows])}
            vmap = read_columns(os.path.join(out, "vector_map"), ["row_id", "embedding"])
            problems = checks.check_index(layout, meta, vmap, expected, gen.IVF_K_BUILD)
            if not problems:
                self.stored.append(dir_bytes(out) / len(expected[0]))
            if self.last_out:
                shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = out
            return problems

        return Op("build", len(expected[0]), run, check)

    def stored_bytes_per_vector(self):
        return float(np.mean(self.stored)) if self.stored else 0.0

    def layout_files(self):
        return len(data_files(self.last_out)) if self.last_out else 0


class TextDedup(Workload):
    """The text-dedup pipeline through the query registry: each op runs one
    of the registry's dedup entries on the seeded documents and collects
    its result, as the registry's oracle check does; a cycle is the panel,
    once, in its fixed order.

    Every result must equal its expected result, computed once before
    set-up: the DuckDB oracle of the near-duplicate pairs; for
    ``dedup_components``, whose recursive-CTE oracle grows fast with the
    planted clusters (10 s on 1,500 docs, 29 s on 3,000), the union-find of
    those pairs (the same MinHash parameters). The pairs must also respect
    the planted clusters."""

    cycle = len(gen.REGISTRY_PANEL)

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.dir = os.path.join(work, "docs")
        self.texts, self.cluster = gen.dedup_corpus(seed)
        gen.write_parquet(gen.docs_table(seed, self.texts), os.path.join(self.dir, "documents.parquet"))
        self.planted = gen.planted_pairs(self.cluster)
        con = duckdb_conn(self.dir)
        try:
            pairs_frame = con.execute(registry.ORACLES[gen.PAIRS_QUERY]).df()
        finally:
            con.close()
        pairs = pairs_frame[["left_id", "right_id"]].itertuples(index=False, name=None)
        frames = {gen.PAIRS_QUERY: pairs_frame, "dedup_components": checks.components_frame(pairs)}
        self.expected = {n: checks.canon_rows(frames[n], n) for n in gen.REGISTRY_PANEL}
        self.n_ops = 0

    def next_op(self):
        name = gen.REGISTRY_PANEL[self.n_ops % self.cycle]
        self.n_ops += 1

        def run(spark):
            with self.span("queries", name):
                df = registry.QUERIES[name](spark, self.dir)
            return df.toPandas()

        def check(pdf):
            problems = checks.check_registry(checks.canon_rows(pdf, name), self.expected[name], name)
            if name == gen.PAIRS_QUERY:
                pairs = list(pdf[["left_id", "right_id", "jaccard"]].itertuples(index=False, name=None))
                problems += checks.check_pairs(pairs, self.texts, self.cluster)
                found = {(int(a), int(b)) for a, b, _ in pairs}
                self.recalls.append(len(found & self.planted) / len(self.planted))
            return problems

        return Op("query", len(self.texts), run, check)


class BatchPipeline(Workload):
    """The batch side of the engine, run as one-shot jobs in a fresh
    session, as the reference runs its precompute: a cycle is the index
    build (``IndexBuild``'s op), then the text-dedup registry entries
    (``TextDedup``'s ops) in the same session. No warm-up: the first run of
    each job, JIT and codegen included, is what a batch job pays."""

    name = "batch_pipeline"
    cycle = 1 + TextDedup.cycle

    def __init__(self, seed, work):
        self.build = IndexBuild(seed, work)
        self.dedup = TextDedup(seed, work)
        super().__init__(seed, work)
        self.n_ops = 0

    @property
    def span(self):
        return self.dedup.span

    @span.setter
    def span(self, fn):
        self.build.span = self.dedup.span = fn

    def next_op(self):
        part = self.build if self.n_ops % self.cycle == 0 else self.dedup
        self.n_ops += 1
        return part.next_op()

    def recall(self):
        return self.dedup.recall()

    def stored_bytes_per_vector(self):
        return self.build.stored_bytes_per_vector()

    def layout_files(self):
        return self.build.layout_files()


WORKLOADS = {w.name: w for w in (SearchServe, BatchPipeline)}
