"""Run one benchmark workload, check its outputs and print its metrics.

    python3 perfbench/run.py --workload yt_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run builds its seeded inputs (cached
per seed under ``perfbench/.cache``), starts one ``local[nproc]`` Spark
session through ``session.get_spark``, warms up untimed, then runs timed
passes until ``--seconds`` would be exceeded (at least one; ``yt_refresh``
runs exactly one, cold).  Every pass starts from the same state:
``spark.catalog.clearCache()`` plus a driver JVM GC.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` traces the passes and prints the per-layer metrics.  Its
``trace.overhead_s`` is what tracing adds to a pass, timed directly: the
job-group calls inside the pass plus the status-store reads after it.  (A
like-for-like untraced pass in the same run is not possible: the
``yt_refresh`` pass is cold by design, and a second one would be warm.)

The last stdout line is one JSON object; a self-describing record (and,
when traced, the spans) is written under ``perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

import meter
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
RESET_POLICY = "spark.catalog.clearCache() and java.lang.System.gc() before every pass"


def _configure_env() -> None:
    """Session settings, fixed before the package reads them at import."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_SCRATCH", os.path.join(HERE, ".cache", "scratch"))
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def _stop(spark) -> None:
    """Stop Spark, then the driver JVM and every process under it, and
    wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = meter.process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    meter.wait_ended(tree[1:])


def _reset(spark) -> None:
    spark.catalog.clearCache()
    spark.sparkContext._jvm.java.lang.System.gc()


def _median(values) -> float:
    return float(statistics.median(values))


def _percentile(values, q: float) -> float:
    return float(np.percentile(values, q))


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One run of ``workload``; returns its record (metrics included)."""
    from youtubeanalyzerproject_big_data__spark.session import get_spark

    wl = WORKLOADS[workload](seed)
    input_sizes = wl.prepare_inputs()
    run_id = f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
    scratch = os.path.join(HERE, ".cache", "runs", run_id)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    start_s = time.perf_counter() - t0
    try:
        return _measure(spark, wl, run_id, scratch, seconds, trace, start_s, input_sizes)
    finally:
        _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def _measure(spark, wl, run_id, scratch, seconds, trace, start_s, input_sizes) -> dict:
    from pyspark import SparkContext

    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    procs = meter.ProcTree(SparkContext._gateway.proc.pid)
    counters = meter.SparkCounters(spark)
    tracer = meter.Tracer(spark, run_id, enabled=trace)

    with tracer.span(wl.name, group=run_id):
        with tracer.span("prepare", group=f"{run_id}/prepare") as prep:
            wl.prepare_session(spark, tracer)
        _reset(spark)
        with tracer.span("warmup", group=f"{run_id}/warmup") as warm:
            wl.warmup(spark, tracer, os.path.join(scratch, "warmup"))
        warmup_s = meter.duration(warm)
        shutil.rmtree(os.path.join(scratch, "warmup"), ignore_errors=True)

        passes = []
        t_start = time.perf_counter()
        while True:
            p = _pass(spark, wl, tracer, counters, procs, scratch, run_id, len(passes) + 1)
            passes.append(p)
            if len(passes) == wl.max_passes or time.perf_counter() - t_start + p["wall_s"] > seconds:
                break

    ops = [op for p in passes for op in p["ops"]]
    failures = [{"op": op.label, "error": op.error} for op in ops if not op.ok]
    timed_ops = [meter.duration(op.span) for p in passes for op in p["ops"]]
    spec = _benchmark_spec()
    end_to_end = {
        "setup_s": start_s + warmup_s,
        "wall_s": _median(p["wall_s"] for p in passes),
        "op_p50_s": _percentile(timed_ops, 50),
        "op_p90_s": _percentile(timed_ops, 90),
        "cpu_s": _median(p["cpu_s"] for p in passes),
        "peak_rss_mb": procs.peak_rss_mb(),
        "shuffle_write_mb": _median(p["spark"]["shuffle_write_mb"] for p in passes),
    }
    record = {
        "workload": wl.name,
        "seed": wl.seed,
        "trace": trace,
        "seconds": seconds,
        "run_id": run_id,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark": spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_commit": _git_commit(),
        },
        "inputs": input_sizes,
        "reset": RESET_POLICY,
        "setup": {"session_start_s": start_s, "prepare_s": meter.duration(prep), "warmup_s": warmup_s},
        "passes": [
            {**{k: v for k, v in p.items() if k not in ("ops", "op_spans")},
             "ops": [{"op": op.label, "s": meter.duration(op.span), "phases": op.phases, "ok": op.ok} for op in p["ops"]]}
            for p in passes
        ],
        "attempted": len(ops),
        "failed": len(failures),
        "error_rate": len(failures) / len(ops),
        "failures": failures,
        "ops": len(timed_ops),
        "end_to_end": _with_units(spec["end_to_end"], end_to_end),
    }
    if trace:
        record["per_layer"] = _with_units(spec["per_layer"], _layer_metrics(spec, passes, start_s, warmup_s))
    # what the run prints: traced figures carry the tracing cost
    record["metrics"] = record["per_layer" if trace else "end_to_end"]
    if trace:
        own = tracer.self_times()
        record["spans_file"] = _write(f"{run_id}.spans.json", [{**s, "self_s": own[s["id"]]} for s in tracer.spans])
    record["record_file"] = _write(f"{run_id}.json", record)
    return record


def _with_units(declared: list[dict], values: dict) -> dict:
    """``values`` by the names and units BENCHMARK.json declares; a
    declared metric the run did not produce is an error."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def _write(name: str, data) -> str:
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, name)
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, default=str)
    return os.path.relpath(path, ROOT)


def _pass(spark, wl, tracer, counters, procs, scratch, run_id, i) -> dict:
    """One timed pass from the reset state, then its output checks."""
    _reset(spark)
    out = os.path.join(scratch, f"pass{i}")
    ops = []
    first_span = len(tracer.spans)
    group = None if tracer.enabled else f"{run_id}/pass{i}"
    cpu0, overhead0 = procs.cpu_s(), tracer.overhead_s
    with tracer.span(f"pass{i}", group=group, traced=tracer.enabled) as span:
        wl.run_ops(spark, tracer, out, ops)
    cpu_s = procs.cpu_s() - cpu0
    t_read = time.perf_counter()
    if tracer.enabled:
        spans = tracer.spans[first_span:]
        for s in spans:
            s["spark"] = counters.read(s["group"])
        totals = meter.sum_counts(s["spark"] for s in spans)
        for op in ops:
            op.span["spark_subtree"] = meter.sum_counts(meter.subtree(spans, op.span))
    else:
        totals = counters.read(group)
    trace_overhead_s = tracer.overhead_s - overhead0 + time.perf_counter() - t_read

    meter.set_job_group(spark.sparkContext, f"{run_id}/check{i}")
    for op in ops:
        if op.ok:
            try:
                wl.check(spark, op)
            except Exception as e:  # noqa: BLE001 -- a wrong result is a measured outcome
                op.error = f"check: {type(e).__name__}: {str(e)[:300]}"
    meter.set_job_group(spark.sparkContext, None)
    layers = wl.layer_metrics(ops, out) if tracer.enabled and all(op.ok for op in ops) else {}
    shutil.rmtree(out, ignore_errors=True)
    return {"pass": i, "traced": tracer.enabled, "wall_s": meter.duration(span), "cpu_s": cpu_s,
            "trace_overhead_s": trace_overhead_s,
            "spark": totals, "layers": layers, "ops": ops, "op_spans": [op.span for op in ops]}


HEAVY_OPS = {"ingest": "xml_ingest", "netagg": "jobs.netagg", "pagerank": "jobs.pagerank", "serve_miss": "serve.miss"}


def _layer_metrics(spec, passes, start_s, warmup_s) -> dict:
    """Per-layer metrics: medians over the traced passes; 0 for a layer the
    workload does not call."""
    cores = len(os.sched_getaffinity(0))
    per_pass = []
    for p in passes:
        m = dict(p["layers"])
        t = p["spark"]
        m.update({
            "io.input_mb": t["input_mb"],
            "spark.jobs": t["jobs"], "spark.stages": t["stages"], "spark.tasks": t["tasks"],
            "spark.executor_run_s": t["executor_run_s"], "spark.executor_cpu_s": t["executor_cpu_s"],
            "spark.core_busy_ratio": t["executor_run_s"] / (p["wall_s"] * cores),
            "spark.shuffle_write_mb": t["shuffle_write_mb"], "spark.shuffle_read_mb": t["shuffle_read_mb"],
            "spark.spill_mb": t["spill_mb"], "spark.gc_s": t["gc_s"],
            "trace.overhead_s": p["trace_overhead_s"],
        })
        for op_span in p["op_spans"]:
            prefix = HEAVY_OPS.get(op_span["kind"])
            if prefix is not None:
                c = op_span["spark_subtree"]
                m.update({
                    f"{prefix}.spark_jobs": c["jobs"], f"{prefix}.spark_stages": c["stages"],
                    f"{prefix}.spark_tasks": c["tasks"], f"{prefix}.executor_run_s": c["executor_run_s"],
                    f"{prefix}.shuffle_write_mb": c["shuffle_write_mb"],
                })
        per_pass.append(m)
    names = [m["name"] for m in spec["per_layer"]]
    out = {n: _median([m.get(n, 0.0) for m in per_pass]) for n in names}
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warmup_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _configure_env()
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; pick from {sorted(WORKLOADS)}")
    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for name, m in record["metrics"].items():
        print(f"{name} {m['value']!r} {m['unit']}")
    print(f"error_rate {record['error_rate']!r} ratio ({record['failed']} of {record['attempted']} ops)")
    for f in record["failures"]:
        print(f"FAILED {f['op']}: {f['error']}")
    print(f"record {record['record_file']}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
