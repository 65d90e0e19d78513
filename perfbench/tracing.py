"""Traced runs: per-layer spans and Spark-job attribution, measured from
outside the program.

``Tracer.install`` replaces each layer module's public functions, and
every alias of the same function object inside the package, with a
wrapper that records a span (layer, name, start, end, parent, op) and
runs the call under its own Spark job group. The engine's source files
are not touched; ``uninstall`` puts the originals back. After each op the
tracer reads the JVM status store for the op's job groups (a
``job -> stageIds -> lastStageAttempt`` walk) and keeps the per-job
numbers in memory. The store keeps only the last 1,000 jobs and stages
by default, so it is read after every op, never once at the end. Jobs
that ran outside every span's group are counted, so a job the tracer
failed to attribute shows up instead of being lost.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from contextlib import contextmanager

PKG = "the_build_project_image_retrieval_with_vector_databases_spark"

# layer name -> module whose public functions are the layer's entry points
LAYER_MODULES = {
    "session": "session",
    "sources": "sources.tables",
    "operators.sample": "operators.sample",
    "operators.ann": "operators.ann",
    "operators.knn": "operators.knn",
    "operators.dedup": "operators.dedup",
    "operators.graph": "operators.graph",
    "operators.spill": "operators.spill",
    "plans.index_build": "plans.index_build",
    "search": "search",
}
# The registry callables, one span per ``QUERIES[name](spark, dir)`` call,
# opened by the workload: the registry dict holds the functions themselves,
# so there is no module attribute to replace.
QUERIES_LAYER = "queries"
# The benchmark's own op loop: its terminal collect/write of each op and
# the glue between layer calls. Every op is one root span in this layer.
ACTION = "action"
LAYERS = tuple(LAYER_MODULES) + (QUERIES_LAYER, ACTION)
LAYER_FIELDS = (
    "calls",
    "self_ms",
    "jobs",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_rows",
)
JOB_FIELDS = LAYER_FIELDS[4:]


class Span:
    __slots__ = ("id", "layer", "name", "parent", "op", "group", "t0", "t1")

    def __init__(self, sid, layer, name, parent, op, group):
        self.id, self.layer, self.name, self.parent = sid, layer, name, parent
        self.op, self.group = op, group
        self.t0 = self.t1 = 0.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.jobs: list[dict] = []  # one record per Spark job, with its layer
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._op = None
        self._groups: dict[str, Span] = {}
        self._ungrouped_seen: set[int] = set()
        self.unattributed: dict = {}  # op id -> jobs that ran outside every group
        self.store_path = "status_store"

    @property
    def sc(self):
        # the active context, which changes when set-up restarts the
        # session; None while get_spark is still creating it
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    # -- wrappers ---------------------------------------------------------
    def install(self) -> None:
        wrappers = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(f"{PKG}.{modname}")
            for name, fn in vars(mod).items():
                if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and not name.startswith("_"):
                    wrappers[id(fn)] = (fn, self._wrap(layer, fn))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _wrap(self, layer, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        # a call that stays inside its caller's layer shares the caller's
        # job group: jobs attribute to layers, and the JVM round trip is saved
        enters = parent is None or parent.layer != layer
        group = f"pb-{sid}" if enters else parent.group
        s = Span(sid, layer, name, parent.id if parent else None, self._op, group)
        self.spans.append(s)
        if enters:
            self._groups[group] = s
            self._set_group(group, f"{layer}:{name}")
        self._stack.append(s)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if enters:
                if parent is not None:
                    self._set_group(parent.group, f"{parent.layer}:{parent.name}")
                else:
                    self._set_group(None, None)

    def _set_group(self, group, description) -> None:
        sc = self.sc
        if sc is None:
            return
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, description)

    @contextmanager
    def op(self, op_id):
        """One op, or the set-up (``op_id == "setup"``): a root span in the
        action layer. Call ``collect_jobs`` after it, outside the op's
        timing."""
        self._op, self._groups = op_id, {}
        with self.span(ACTION, str(op_id)) as root:
            yield root

    # -- status store -----------------------------------------------------
    def _drain(self):
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # private API gone: give the listener a moment
            time.sleep(0.2)
        return jsc, self.sc.statusTracker()

    def baseline(self) -> None:
        """Note the ungrouped jobs that ran before the next traced op (the
        untraced ops'), so ``collect_jobs`` counts only the op's own."""
        if self.sc is not None:
            _, tracker = self._drain()
            self._ungrouped_seen = set(tracker.getJobIdsForGroup(None))

    def collect_jobs(self) -> None:
        """Attribute the last op's jobs to the layers whose spans ran them."""
        groups, self._groups = self._groups, {}
        if self.sc is None:
            return
        jsc, tracker = self._drain()
        for group, span in groups.items():
            for job_id in tracker.getJobIdsForGroup(group):
                rec = self._job_record(jsc, tracker, job_id)
                rec.update(layer=span.layer, op=span.op)
                self.jobs.append(rec)
        # jobs with no group ran outside every span: none should appear
        ungrouped = set(tracker.getJobIdsForGroup(None)) - self._ungrouped_seen
        self._ungrouped_seen |= ungrouped
        self.unattributed[self._op] = len(ungrouped)

    def _job_record(self, jsc, tracker, job_id: int) -> dict:
        rec = dict.fromkeys(("tasks",) + JOB_FIELDS, 0)
        rec.update(job=job_id, t0=None, t1=None)
        if self.store_path == "status_store":
            try:
                store = jsc.statusStore()
                job = store.job(job_id)
                rec["t0"] = job.submissionTime().get().getTime() / 1000.0
                rec["t1"] = job.completionTime().get().getTime() / 1000.0
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    st = store.lastStageAttempt(stage_ids.apply(i))
                    if str(st.status()) == "SKIPPED":
                        continue
                    rec["tasks"] += st.numCompleteTasks()
                    rec["executor_run_ms"] += st.executorRunTime()
                    rec["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    rec["input_rows"] += st.inputRecords()
                return rec
            except Exception:
                # the private store is missing or changed shape: fall back
                # to the public tracker (counts only) for the rest of the run
                self.store_path = "status_tracker"
                rec = dict.fromkeys(("tasks",) + JOB_FIELDS, 0)
                rec.update(job=job_id, t0=None, t1=None)
        info = tracker.getJobInfo(job_id)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None:
                rec["tasks"] += st.numCompletedTasks
        return rec


def _union_ms(intervals, lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total * 1000.0


def layer_metrics(tracer: Tracer, op_ids: list) -> tuple[dict, list[dict]]:
    """Per-layer metrics as means per op over ``op_ids`` (the ``session``
    layer as the set-up's totals instead), plus one row per op with its
    wall time, self-time sum, driver-only time and jobs."""
    ops = set(op_ids)
    by_id = {s.id: s for s in tracer.spans}
    totals = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}

    def counted(layer, op):
        return op == "setup" if layer == "session" else op in ops

    child_ms: dict[int, float] = {}
    for s in tracer.spans:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + (s.t1 - s.t0)
    per_op: dict = {op: {"wall_ms": 0.0, "self_ms": 0.0, "jobs": []} for op in ops}
    for s in tracer.spans:
        self_ms = (s.t1 - s.t0 - child_ms.get(s.id, 0.0)) * 1000.0
        if counted(s.layer, s.op):
            t = totals[s.layer]
            t["self_ms"] += self_ms
            if s.parent is None or by_id[s.parent].layer != s.layer:
                t["calls"] += 1
        if s.op in ops:
            row = per_op[s.op]
            row["self_ms"] += self_ms
            if s.parent is None:
                row["wall_ms"] = (s.t1 - s.t0) * 1000.0
                row["t0"], row["t1"] = s.t0, s.t1
    for j in tracer.jobs:
        if counted(j["layer"], j["op"]):
            t = totals[j["layer"]]
            t["jobs"] += 1
            for f in ("tasks",) + JOB_FIELDS:
                t[f] += j[f]
        if j["op"] in ops:
            per_op[j["op"]]["jobs"].append(j)
    for layer, t in totals.items():
        if layer != "session" and ops:
            for f in t:
                t[f] /= len(ops)
    rows = []
    for op, row in per_op.items():
        spans = [(j["t0"], j["t1"]) for j in row["jobs"] if j["t0"] is not None]
        covered = _union_ms(spans, row["t0"], row["t1"]) if "t0" in row else 0.0
        rows.append(
            {
                "op": op,
                "wall_ms": row["wall_ms"],
                "self_ms": row["self_ms"],
                "driver_only_ms": row["wall_ms"] - covered,
                "job_ms": [(b - a) * 1000.0 for a, b in spans],
                "input_rows": sum(j["input_rows"] for j in row["jobs"]),
            }
        )
    return totals, rows
