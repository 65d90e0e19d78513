#!/usr/bin/env python3
"""The engine benchmark.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 12 --trace 0

Runs one seeded workload on ``local[<cores>]`` from this single driver
process: generates the inputs, starts the session and does the engine
set-up, discards the warm-up ops, then runs ops in a closed loop with one
client for ``--seconds`` (in whole cycles of the workload's op mix) and
checks every op's output against numpy ground truth or DuckDB oracles.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer split with ``--trace 1`` (see README.md).
Run it from the root of a checkout of the repository; it reads and writes
only inside that checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "the_build_project_image_retrieval_with_vector_databases_spark"
WORKLOAD_NAMES = ("search_serve", "batch_pipeline")

END_TO_END = ("setup_s", "cpu_ms_per_item", "recall")
UNITS = {
    "setup_s": "s",
    "cpu_ms_per_item": "ms",
    "recall": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from tracing import LAYER_FIELDS, LAYERS

    field_units = {"calls": "count", "self_ms": "ms", "jobs": "count", "tasks": "count",
                   "executor_run_ms": "ms", "executor_cpu_ms": "ms", "shuffle_write_bytes": "B",
                   "spill_bytes": "B", "input_rows": "count"}
    units = {f"{layer}.{f}": field_units[f] for layer in LAYERS for f in LAYER_FIELDS}
    units.update({
        "driver_only_ms": "ms",
        "job_ms_p50": "ms",
        "search.rows_scanned_per_query": "count",
        "sources.layout_files": "count",
        "operators.graph.jobs_per_call": "count",
        "trace_overhead_frac": "ratio",
        "trace.status_store": "bool",
        "trace.unattributed_jobs": "count",
        "items_per_s": "1/s",
        "op_ms_p50": "ms",
        "search_flat_ms_p50": "ms",
        "search_ivf_ms_p50": "ms",
        "search_batch_ms_p50": "ms",
        "append_ms_p50": "ms",
        "recall_at_10": "ratio",
        "dedup_pair_recall": "ratio",
        "stored_bytes_per_vector": "B",
        "peak_rss_mb": "MB",
    })
    return units


def configure_env(work: Path) -> None:
    """Point every scratch directory of the driver, the JVM and the Python
    workers into ``work``, and size the local master to the usable cores.
    The driver heap is the engine's own default (``session.get_spark``)."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", f"-Djava.io.tmpdir={work / 'tmp'}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "pyspark-shell",
    ])


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_hwm() -> None:
    """Restart this process's peak-RSS count from its current RSS, so that
    the input generation and ground truth before set-up are not counted."""
    with contextlib.suppress(OSError):
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")


def tree_cpu_s() -> float:
    """CPU time (user + system) of this process and all its descendants,
    living or exited: the driver, the JVM it started and the JVM's Python
    workers. Other processes on the machine are not counted."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    line = f.read()
            except OSError:  # exited while the table was read
                continue
            fields = line[line.rindex(")") + 2 :].split()
            # ppid, then utime, stime and the same for reaped children
            stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all cores), if known."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def calibrate() -> float:
    """Seconds for a fixed numpy + interpreter workload: context for
    reading the numbers on a busy machine, never used to rescale them."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.random.default_rng(0).normal(size=(256, 256))
    for _ in range(50):
        a = np.tanh(a @ a.T / 256.0)
    sum(i * i for i in range(300_000))
    return time.perf_counter() - t0


def pct(values, q) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def run(args, work: Path) -> tuple[dict, dict]:
    import tracing
    import workloads

    session = __import__(f"{PKG}.session", fromlist=["get_spark"])
    load_start, steal_start = os.getloadavg()[0], steal_s()
    calib_start = calibrate()
    t_inputs = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, str(work))
    inputs_s = time.perf_counter() - t_inputs
    reset_hwm()
    tracer = tracing.Tracer() if args.trace else None

    # set-up, as a user pays it: JVM and session start, and the workload's
    # engine set-up
    if tracer:
        tracer.install()
    t0 = time.perf_counter()
    with tracer.op("setup") if tracer else contextlib.nullcontext():
        spark = session.get_spark(app_name="perfbench")
        wl.setup(spark)
    setup_s = time.perf_counter() - t0
    if tracer:
        tracer.uninstall()
        tracer.collect_jobs()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    attempted = failed = 0
    problems_seen: list[str] = []

    def execute(op, op_id, trace_it):
        nonlocal attempted, failed
        if trace_it:
            tracer.baseline()
            tracer.install()
            wl.span = tracer.span
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id) if trace_it else contextlib.nullcontext():
                result = op.run(spark)
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            problems = op.check(result)
        except Exception as e:  # an op that raises counts as failed, the run goes on
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            problems = [f"{type(e).__name__}: {e}"]
        finally:
            if trace_it:
                tracer.uninstall()
                wl.span = workloads.no_span
                tracer.collect_jobs()
        attempted += 1
        if problems:
            failed += 1
            problems_seen.extend(f"{op.kind}: {p}" for p in problems[:2])
        return dt, cpu

    t_warmup = time.perf_counter()
    warmup_ms = [round(execute(op, ("warmup", i), False)[0] * 1000.0, 1) for i, op in enumerate(wl.warmup_ops())]
    warmup_s = time.perf_counter() - t_warmup

    # the timed closed loop, in whole cycles of the workload's op mix:
    # (kind, items, wall s, CPU s, traced)
    timed: list[tuple[str, int, float, float, bool]] = []

    def run_cycle(trace_it: bool) -> None:
        wl.start_cycle()
        for _ in range(wl.cycle):
            op = wl.next_op()
            dt, cpu = execute(op, len(timed), trace_it)
            timed.append((op.kind, op.items, dt, cpu, trace_it))

    if args.trace:
        # untraced, traced, untraced: the last cycle is the overhead
        # baseline, op by op, as warm as the traced one (a first cycle
        # still pays first uses the warm-up does not cover)
        for trace_it in (False, True, False):
            run_cycle(trace_it)
    else:
        t_loop = time.perf_counter()
        run_cycle(False)
        while time.perf_counter() - t_loop < args.seconds:
            run_cycle(False)

    rss_python, rss_jvm = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
    durations = [t[2] for t in timed]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "steal_s": steal_s() - steal_start,
        "calibration_s_start": calib_start,
        "calibration_s_end": calibrate(),
        "spark": spark.version,
        "python": platform.python_version(),
        "inputs_s": inputs_s,
        "warmup_s": warmup_s,
        "peak_rss_python_mb": rss_python,
        "peak_rss_jvm_mb": rss_jvm,
        "timed_ops": len(timed),
        "op_ms": [round(dt * 1000.0, 1) for dt in durations],
        "op_cpu_ms": [round(t[3] * 1000.0, 1) for t in timed],
        "warmup_op_ms": warmup_ms,
        "problems": problems_seen[:10],
    }
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "cpu_ms_per_item": sum(t[3] for t in timed) * 1000.0 / sum(t[1] for t in timed),
            "recall": wl.recall(),
        }
    else:
        metrics = layer_report(tracer, wl, timed, context)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}, context


def layer_report(tracer, wl, timed, context) -> dict:
    from tracing import layer_metrics

    traced_ids = [i for i, t in enumerate(timed) if t[4]]
    untraced = [t for t in timed if not t[4]]
    totals, rows = layer_metrics(tracer, traced_ids)
    out = {f"{layer}.{f}": v for layer, fields in totals.items() for f, v in fields.items()}
    jobs_ms = [ms for r in rows for ms in r["job_ms"]]
    queries = sum(timed[i][1] for i in traced_ids) if wl.name == "search_serve" else 0
    graph = totals["operators.graph"]
    c = wl.cycle
    first = traced_ids[0]
    overhead = [timed[first + i][2] / timed[first + c + i][2] for i in range(c)]

    def kind_p50(*kinds):
        return pct([t[2] for t in untraced if t[0] in kinds], 50) * 1000.0

    out.update({
        "driver_only_ms": statistics.median(r["driver_only_ms"] for r in rows),
        "job_ms_p50": pct(jobs_ms, 50),
        "search.rows_scanned_per_query": sum(r["input_rows"] for r in rows) / queries if queries else 0.0,
        "sources.layout_files": wl.layout_files(),
        "operators.graph.jobs_per_call": graph["jobs"] / graph["calls"] if graph["calls"] else 0.0,
        "trace_overhead_frac": statistics.median(overhead) - 1.0,
        "trace.status_store": 1.0 if tracer.store_path == "status_store" else 0.0,
        "trace.unattributed_jobs": sum(tracer.unattributed.values()),
        "items_per_s": sum(t[1] for t in untraced) / sum(t[2] for t in untraced),
        "op_ms_p50": pct([t[2] for t in untraced], 50) * 1000.0,
        "search_flat_ms_p50": kind_p50("flat"),
        "search_ivf_ms_p50": kind_p50("ivf"),
        "search_batch_ms_p50": kind_p50("batch_ivf", "batch_flat"),
        "append_ms_p50": kind_p50("append"),
        "recall_at_10": wl.recall() if wl.name == "search_serve" else 0.0,
        "dedup_pair_recall": wl.recall() if wl.name == "batch_pipeline" else 0.0,
        "stored_bytes_per_vector": wl.stored_bytes_per_vector(),
        # no bound fits it: under the engine's default heap the JVM's peak
        # RSS moved 15-30% between seeds
        "peak_rss_mb": context["peak_rss_python_mb"] + context["peak_rss_jvm_mb"],
    })
    context["status_store_path"] = tracer.store_path
    context["unattributed_jobs"] = tracer.unattributed
    context["self_time_coverage"] = [round(r["self_ms"] / r["wall_ms"], 6) for r in rows if r["wall_ms"]]
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    with open(out_dir / f"spans-{wl.name}-{context['seed']}.jsonl", "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({k: getattr(s, k) for k in s.__slots__}, default=str) + "\n")
        for j in tracer.jobs:
            f.write(json.dumps(j, default=str) + "\n")
    return out


def shutdown() -> None:
    """Stop the session and the JVM it started, and wait for the JVM (and
    the Python workers it forked) to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: the engine package {PKG}/ is not under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work)
    sys.path.insert(0, str(ROOT))
    try:
        result, context = run(args, work)
    finally:
        t_stop = time.perf_counter()
        if "pyspark" in sys.modules:
            shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    context["shutdown_s"] = time.perf_counter() - t_stop
    print("# context " + json.dumps(context, default=str))
    units = UNITS if not args.trace else per_layer_units()
    result["metrics"] = {k: {"value": float(v), "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
