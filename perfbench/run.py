#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload vector_index --seed 1 --seconds 5 --trace 0

Runs one workload (``vector_index`` or ``pipeline_queries``) against
the engine in this checkout, checks its outputs, prints every metric
by name with its unit and sample count, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` puts the end-to-end metrics of BENCHMARK.json in that
line. ``--trace 1`` puts the per-layer metrics there instead, read
from traced operations that alternate with untraced ones of the same
kind; it prints the tracing overhead of each end-to-end metric (the
traced value minus the untraced value, both from this run) and writes
every span to ``.perfbench/spans-*.jsonl``.

Every run must report every bounded metric, so the end-to-end metrics
are the same on both workloads: ``setup_s`` and ``items_per_s`` (work
items completed per second of timed wall). What a timed operation and
an item are is stated per workload in ``workloads.py``. Each
workload's own metrics (``search_qps``, ``append_pts_per_s``,
``cold_pass_s``, ...) follow as ``report`` lines.

``--seconds`` is a floor: each workload also runs a fixed minimum of
operations, which usually takes longer.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

GRAPH_OPS = ("build", "state", "append", "search", "exact_search")
GRAPH_STATS = (
    ("s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("driver_gap_s", "s"), ("task_cpu_s", "s"), ("py_cpu_s", "s"),
    ("shuffle_bytes", "bytes"),
)
# per timed operation, summed over its span tree
TOTALS = (
    ("spark.jobs", "jobs", "count"),
    ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.failed_tasks", "failed_tasks", "count"),
    ("spark.driver_gap_s", None, "s"),
    ("spark.task_run_s", "task_run_s", "s"),
    ("spark.task_cpu_s", "task_cpu_s", "s"),
    ("spark.input_bytes", "input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("python.worker_cpu_s", "py_cpu_s", "s"),
)
END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}


def per_layer_units(modules) -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {"session.start_s": "s"}
    for op in GRAPH_OPS:
        for stat, unit in GRAPH_STATS:
            units[f"graph_ann.{op}.{stat}"] = unit
    for m in modules:
        units[f"queries.{m}.plan_s"] = "s"
        units[f"queries.{m}.exec_s"] = "s"
        units[f"queries.{m}.jobs"] = "count"
    for name, _, unit in TOTALS:
        units[name] = unit
    units["process.peak_rss_mb"] = "MB"
    return units


def load_probe_ms() -> float:
    """Host-load canary: constant single-thread GEMM work, the same
    probe as bench.py's ``_load_probe_ms``. A slow reading marks a run
    taken while the host was busy."""
    import numpy as np

    m = np.random.default_rng(0).random((384, 384))
    t0 = time.perf_counter()
    for _ in range(8):
        m @ m
    return (time.perf_counter() - t0) * 1000


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer, session_s: float, peak_mb: float) -> dict:
    """Per-layer values from the traced spans: engine calls averaged
    per call, query modules per warm execution, totals per timed
    operation (a top-level ``op`` span)."""
    from workloads import PIPELINE_QUERIES

    spans = tracer.spans

    def root(sp):
        while sp.parent is not None:
            sp = spans[sp.parent]
        return sp.name

    vals: dict[str, float] = {"session.start_s": session_s}
    for op in GRAPH_OPS:
        calls = tracer.named(f"graph_ann.{op}")
        for stat, _ in GRAPH_STATS:
            if stat == "s":
                xs = [s.s for s in calls]
            elif stat == "driver_gap_s":
                xs = [s.driver_gap_s for s in calls]
            else:
                key = "shuffle_write_bytes" if stat == "shuffle_bytes" else stat
                xs = [s.total[key] for s in calls]
            vals[f"graph_ann.{op}.{stat}"] = _mean(xs)
    for m in PIPELINE_QUERIES:
        plans = [s for s in tracer.named(f"queries.{m}.plan") if root(s) == "op"]
        execs = [s for s in tracer.named(f"queries.{m}.exec") if root(s) == "op"]
        vals[f"queries.{m}.plan_s"] = _mean([s.s for s in plans])
        vals[f"queries.{m}.exec_s"] = _mean([s.s for s in execs])
        vals[f"queries.{m}.jobs"] = (
            sum(s.total["jobs"] for s in plans + execs) / len(plans) if plans else 0.0
        )
    ops = [s for s in tracer.named("op") if s.parent is None]
    for name, key, _ in TOTALS:
        vals[name] = _mean([s.driver_gap_s if key is None else s.total[key] for s in ops])
    vals["process.peak_rss_mb"] = peak_mb
    return vals


def end_to_end(setup_s: float, n_setup: int, s) -> dict:
    """The metrics BENCHMARK.json bounds, as (value, unit, samples)."""
    values = {
        "setup_s": (setup_s, n_setup),
        "items_per_s": (s.items / sum(s.op_s), len(s.op_s)),
    }
    return {k: (v, END_TO_END[k], n_) for k, (v, n_) in values.items()}


def _session(scratch: str, cpus: int):
    from zvdb_spark.session import get_session

    with open("/proc/meminfo") as fh:
        total_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    mem_gb = min(4, max(1, total_gb // 4))
    tmp = os.path.join(scratch, "tmp")
    return get_session(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": f"{mem_gb}g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "zvdb.export.scratch": os.path.join(scratch, "export"),
        },
    )


def _stop(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    from spans import descendants, proc_table

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(proc_table(), os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(proc_table(), os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _print_metrics(kind: str, metrics: dict) -> None:
    for name, (value, unit, n) in metrics.items():
        print(f"{kind} {name} {value:.6g} {unit} n={n}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # One BLAS thread for the driver's numpy (canary and checks) and,
    # through the environment, for every Python worker; the repo on
    # the workers' import path.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import zvdb_spark
    except ImportError:
        print(f"no engine (zvdb_spark) in {ROOT}", file=sys.stderr)
        return 2
    if not os.path.abspath(zvdb_spark.__file__).startswith(ROOT + os.sep):
        print(f"engine imported from outside {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    scratch = os.path.join(OUT_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "export"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    try:
        return _run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(args, scratch: str) -> int:
    from spans import Tracer, peak_rss_mb
    from stats import NAME_RE
    from workloads import PIPELINE_QUERIES, SETUP_REPS, WORKLOADS, Ctx, Outcome

    trace = bool(args.trace)
    probe_ms = load_probe_ms()
    cpus = len(os.sched_getaffinity(0))
    marks = [("start", time.perf_counter())]
    spark = _session(scratch, cpus)
    marks.append(("session", time.perf_counter()))
    session_s = marks[-1][1] - marks[0][1]
    tracer = Tracer(spark, False)
    out = Outcome()
    try:
        ctx = Ctx(spark, tracer, args.seed, args.seconds, scratch, trace)
        wl = WORKLOADS[args.workload](ctx, out)  # inputs; not timed
        marks.append(("inputs", time.perf_counter()))
        tracer.enabled = trace
        reps = []
        for r in range(SETUP_REPS):
            with tracer.span("setup"):
                t0 = time.perf_counter()
                wl.setup_step(r)
                reps.append(time.perf_counter() - t0)
        setup_cost = tracer.cost_s / SETUP_REPS
        marks.append(("setup", time.perf_counter()))
        wl.measure()
        marks.append(("measure", time.perf_counter()))
        wl.finish()
        marks.append(("finish", time.perf_counter()))
        peak = peak_rss_mb()
    finally:
        _stop(spark)
    marks.append(("stop", time.perf_counter()))
    print("[perfbench] phase_s " + " ".join(
        f"{name}={t - prev:.1f}" for (_, prev), (name, t) in zip(marks, marks[1:])
    ), file=sys.stderr)

    plain = wl.bounded()
    if not plain.op_s:
        print("[perfbench] no timed operation succeeded", file=sys.stderr)
        return 1
    print(
        f"[perfbench] workload={args.workload} seed={args.seed} "
        f"trace={args.trace} cpus={cpus}"
    )
    print("[perfbench] op_s " + " ".join(f"{v:.3f}" for v in plain.op_s), file=sys.stderr)
    setup_s = session_s + median(reps) + wl.warm_s
    e2e = end_to_end(setup_s, len(reps), plain)
    _print_metrics("metric", e2e)
    report = {**wl.report(wl.samples[False]), **wl.final()}
    report["failed_ops_frac"] = (out.failed / out.attempted, "fraction", out.attempted)
    report["load_probe_ms"] = (probe_ms, "ms", 1)
    _print_metrics("report", report)
    names = list(e2e) + list(report)

    if trace:
        untraced, traced = wl.samples[False], wl.samples[True]
        if untraced.op_s and traced.op_s:
            pair = [
                {**end_to_end(setup_s, len(reps), s), **wl.report(s)}
                for s in (untraced, traced)
            ]
            # set-up runs traced as a whole: its overhead is the
            # tracer's own time per set-up step
            pair[1]["setup_s"] = (setup_s + setup_cost, "s", len(reps))
            for k, (v, unit, _) in pair[1].items():
                if k in pair[0]:
                    print(f"tracing_overhead {k} {v - pair[0][k][0]:+.6g} {unit}")
        units = per_layer_units(PIPELINE_QUERIES)
        vals = layer_metrics(tracer, session_s, peak)
        metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
        os.makedirs(OUT_DIR, exist_ok=True)
        spans_path = os.path.join(
            OUT_DIR, f"spans-{args.workload}-s{args.seed}-{tracer.run_id}.jsonl"
        )
        tracer.write(spans_path)
        print(f"[perfbench] spans: {spans_path}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    bad = [n for n in names + list(metrics) if not NAME_RE.fullmatch(n)]
    if bad:
        print(f"[perfbench] bad metric names: {bad}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
