"""Where the kNN driver paths stop paying.

Times ``operators.knn.knn_join_arrow`` (flat kernel, k=10) from call
through ``.collect()`` on both of its paths — the driver path (bounds
raised out of the way) and the distributed mapInPandas + rank-window
plan (bounds set to 0) — over synthetic D-dimensional float32 parquet
corpora of N rows in 8 files, for each requested (N, Q) cell. The Q=1
cells time ``operators.knn.knn_single`` (l2, k=10) the same way: its
driver path against its expression plan (``TakeOrderedAndProject``,
recorded under ``distributed``), for N from 4k rows up to the byte
bound. The append cells time ``operators.ann.append_to_ivf_index`` of
an N-row batch into a 32-list layout the same way: its driver path
(pyarrow writes) against Spark's writer (``write_lists``, recorded under
``distributed``), for N from 256 rows up to the byte bound, each call
into a fresh layout directory. Each cell
runs one warm-up call per path, then ``reps`` timed calls. Wall time is
the caller's; CPU is that of this process and all its descendants (the
driver, the JVM and its Python workers), read from /proc, so it runs on
Linux only. A descendant whose parent exits first is reaped outside the
tree and takes its CPU with it; a run whose count goes negative that way
is recorded with ``cpu_s`` null and left out of the medians.

The bounds it informs are ``knn.ARROW_DRIVER_MAX_BYTES`` (what the
driver may collect) and ``knn.ARROW_DRIVER_MAX_PAIRS`` (estimated rows ×
queries); the cell list below brackets the pair bound from both sides at
several Q.

    python scripts/knn_driver_crossover.py [workdir] [reps] [batch|single|append|all]

Writes KNN_DRIVER_CROSSOVER.json at the repo root: every timed run,
plus per-cell medians (``cells``/``runs`` for the batch kernel,
``single_cells``/``single_runs`` for Q=1, ``append_cells``/
``append_runs`` for the append). A run of one kind keeps the other
kinds' sections of an existing file.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# local[<cores>] with as many shuffle partitions, as the benchmark runs;
# set before the session module reads it at import
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

import numpy as np  # noqa: E402

from the_build_project_image_retrieval_with_vector_databases_spark.operators import (  # noqa: E402
    ann,
    knn,
)
from the_build_project_image_retrieval_with_vector_databases_spark.session import (  # noqa: E402
    get_spark,
)

D = 128
K = 10
# (N rows, Q queries): pairs from 1M to 67M, several shapes per level
CELLS = [
    (16384, 64), (32768, 64), (61440, 64),
    (2048, 2000), (4096, 1000), (8192, 512), (16384, 256), (32768, 128),
    (65536, 64),
    (4096, 2000), (8192, 1000), (16384, 512), (32768, 256), (65536, 128),
    (131072, 64),
    (8192, 2000), (16384, 1000), (32768, 512), (65536, 256), (131072, 128),
    (61440, 512), (16384, 2000), (32768, 2000), (131072, 512),
]
# Q=1 corpora for knn_single, 4k rows up to ~29 MiB of parquet (the byte
# bound is 32 MiB; 61,440 rows measured 35 MiB)
SINGLE_N = [4096, 8192, 16384, 24576, 32768, 40960, 49152]
# append batches into a 32-list layout, the benchmark's 256 rows up to
# the byte bound
APPEND_N = [256, 1024, 4096, 16384, 49152]
APPEND_LISTS = 32
PATHS = (("driver", 1 << 62), ("distributed", 0))


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    including their reaped children."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                line = f.read()
        except OSError:  # exited while the table was read
            continue
        fields = line[line.rindex(")") + 2 :].split()
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def write_corpus(path: str, n: int, rng) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    x = rng.standard_normal((n, D)).astype(np.float32)
    for part in range(8):
        rows = slice(part * n // 8, (part + 1) * n // 8)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(n)[rows], pa.int64()),
                    "embedding": pa.array(list(x[rows]), pa.list_(pa.float32())),
                }
            ),
            f"{path}/part-{part}.parquet",
        )


def time_paths(cell: dict, call, reps: int, runs: list, reset=None) -> None:
    """Per-path median wall and CPU of ``call()`` into ``cell``, every
    timed run into ``runs``; ``reset()``, untimed, before each call."""
    for name, bound in PATHS:
        knn.ARROW_DRIVER_MAX_BYTES = bound
        knn.ARROW_DRIVER_MAX_PAIRS = bound
        walls, cpus = [], []
        for rep in range(reps + 1):
            if reset is not None:
                reset()
            c0, t0 = tree_cpu_s(), time.perf_counter()
            call()
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            if rep:
                walls.append(round(wall, 3))
                cpu = round(cpu, 3) if cpu >= 0 else None
                if cpu is not None:
                    cpus.append(cpu)
                runs.append({**cell, "path": name, "rep": rep,
                             "wall_s": walls[-1], "cpu_s": cpu})
        cell[f"{name}_wall_s_p50"] = statistics.median(walls)
        cell[f"{name}_cpu_s_p50"] = statistics.median(cpus)
    cell["faster"] = min(
        ("driver", "distributed"), key=lambda p: cell[f"{p}_wall_s_p50"]
    )
    print(json.dumps(cell), flush=True)


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/knn_driver_crossover"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    kinds = sys.argv[3] if len(sys.argv) > 3 else "all"
    spark = get_spark(app_name="knn-driver-crossover")
    rng = np.random.default_rng(0)
    queries = np.random.default_rng(1).standard_normal((max(q for _, q in CELLS), D))
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "KNN_DRIVER_CROSSOVER.json",
    )
    art = {}
    if kinds != "all" and os.path.exists(out):
        with open(out) as f:
            art = json.load(f)

    def corpus(n):
        path = os.path.join(workdir, f"n{n}")
        if not os.path.exists(path):
            write_corpus(path, n, rng)
        df = spark.read.parquet(path)
        return df, knn.scan_plan(df.select("vec_id", "embedding")).size

    if kinds in ("batch", "all"):
        cells, runs = [], []
        for n, q in CELLS:
            df, size = corpus(n)
            cell = {"n": n, "q": q, "pairs": n * q, "relation_bytes": size}

            def batch():
                got = knn.knn_join_arrow(
                    df, list(range(10**7, 10**7 + q)), queries[:q], k=K
                ).collect()
                assert len(got) == q * K

            time_paths(cell, batch, reps, runs)
            cells.append(cell)
        art.update(cells=cells, runs=runs, reps=reps)
    if kinds in ("single", "all"):
        cells, runs = [], []
        for n in SINGLE_N:
            df, size = corpus(n)
            cell = {"n": n, "q": 1, "pairs": n, "relation_bytes": size}

            def single():
                assert len(knn.knn_single(df, queries[0], k=K).collect()) == K

            time_paths(cell, single, reps, runs)
            cells.append(cell)
        art.update(single_cells=cells, single_runs=runs, single_reps=reps)
    if kinds in ("append", "all"):
        cells, runs = [], []
        cents = np.random.default_rng(2).standard_normal((APPEND_LISTS, D)).tolist()
        layout = os.path.join(workdir, "append_layout")
        for n in APPEND_N:
            df, size = corpus(n)
            cell = {"n": n, "lists": APPEND_LISTS, "pairs": n * APPEND_LISTS,
                    "relation_bytes": size}

            def append():
                ann.append_to_ivf_index(df, layout, cents)

            time_paths(cell, append, reps, runs,
                       reset=lambda: shutil.rmtree(layout, ignore_errors=True))
            cells.append(cell)
        art.update(append_cells=cells, append_runs=runs, append_reps=reps)
    art.update(
        dim=D, k=K, master=spark.sparkContext.master,
        cpus=len(os.sched_getaffinity(0)),
    )
    with open(out, "w") as f:
        json.dump(art, f, indent=1)


if __name__ == "__main__":
    main()
