"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached per seed under ``.perfbench_work/inputs``), the session is a fresh
``local[<cores>]`` Spark session with the engine's own defaults (only the
core count and the local directories are pinned), and every result is
checked against an independent answer after the measured window.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before
it give every figure by name with its unit. A traced run also writes its
spans to ``.perfbench_work/traces/<workload>_seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("interactive_mix", "curate_batch", "stream_ingest")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=None,
        help="input scale factor (default: the workload's own)",
    )
    return ap.parse_args(argv)


def _pin_environment(run_dir: str) -> None:
    """Core count and local directories only; everything else stays at
    the engine's defaults. Temp files of Python, the JVM and Spark go
    under the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData keeps the JVM's hsperfdata file out of /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The engine is imported from the checkout, here and in Spark's
    # Python workers (which also unpickle the benchmark's own mappers).
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it has
    exited (Spark's Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(ctx, wl) -> dict:
    """Per-layer figures from the spans of the measured window (per call
    or per op), plus the ones the workload measured itself."""
    from harness import median
    from spans import job_totals, merged_length

    tr = ctx.tracer
    ops = max(1, len(wl.op_latencies))
    out: dict[str, tuple[float, str]] = {}

    def spans(name, phase="measure"):
        return tr.named(name, phase)

    def total(name, phase="measure"):
        return sum(s.dur for s in spans(name, phase))

    def per_call(name):
        ss = spans(name)
        return (sum(s.dur for s in ss) / len(ss)) if ss else 0.0

    def jobs_per_call(name):
        ss = spans(name)
        return (sum(len(s.jobs) for s in ss) / len(ss)) if ss else 0.0

    def gap_per_call(name):
        ss = spans(name)
        gap = sum(
            s.dur - merged_length(
                (max(j["submit"], s.w0), min(j["end"], s.w1)) for j in s.jobs
            )
            for s in ss
        )
        return gap / len(ss) if ss else 0.0

    out["session.start_s"] = (total("session.start", "setup"), "s")
    out["session.warm_s"] = (total("session.warm", "setup"), "s")
    out["sources.load_s"] = (total("sources.load", "setup"), "s")
    out["plans.build_s"] = (total("plans.build") / ops, "s")
    out["plans.exec_s"] = (total("plans.exec") / ops, "s")
    ex = job_totals([j for s in spans("plans.exec") for j in s.jobs])
    out["plans.jobs"] = (ex["jobs"] / ops, "count")
    out["plans.job_busy_s"] = (ex["job_busy_s"] / ops, "s")
    out["plans.driver_gap_s"] = (
        gap_per_call("plans.exec") * len(spans("plans.exec")) / ops, "s")
    out["plans.tasks"] = (ex["tasks"] / ops, "count")
    out["plans.input_mb"] = (ex["input_bytes"] / 1e6 / ops, "MB")
    out["plans.shuffle_mb"] = (ex["shuffle_bytes"] / 1e6 / ops, "MB")
    out["plans.gc_s"] = (ex["gc_s"] / ops, "s")
    out["plans.failed_tasks"] = (ex["failed_tasks"], "count")
    out["plans.cache_hit_frac"] = (0.0, "ratio")
    out["operators.ann_probe_s"] = (per_call("operators.ann_probe"), "s")
    out["operators.ann_probe_jobs"] = (jobs_per_call("operators.ann_probe"), "count")
    out["operators.ann_recall_at_10"] = (0.0, "ratio")
    out["engine.compute_s"] = (per_call("engine.compute"), "s")
    out["engine.compute_jobs"] = (jobs_per_call("engine.compute"), "count")
    out["streaming.dedup_ingest_s"] = (per_call("streaming.dedup_ingest"), "s")
    out["streaming.dedup_ingest_jobs"] = (jobs_per_call("streaming.dedup_ingest"), "count")
    out["streaming.dedup_ingest_driver_gap_s"] = (
        gap_per_call("streaming.dedup_ingest"), "s")
    out["streaming.dedup_accept_frac"] = (0.0, "ratio")
    out["streaming.upsert_s"] = (per_call("streaming.upsert"), "s")
    out["streaming.upsert_jobs"] = (jobs_per_call("streaming.upsert"), "count")
    out["streaming.snapshot_s"] = (per_call("streaming.snapshot"), "s")
    out["streaming.snapshot_versions"] = (0.0, "count")
    out["streaming.compact_s"] = (per_call("streaming.compact"), "s")
    out["streaming.state_bytes_per_input_byte"] = (0.0, "ratio")
    out.update(ctx.per_layer)
    self_times = tr.self_times()
    for layer in ("plans", "operators", "engine", "streaming", "bench"):
        out[f"self.{layer}_s"] = (self_times[layer] / ops, "s")
    out["trace.bookkeeping_s"] = (tr.bookkeeping_s, "s")
    out["trace.op_p50_s"] = (median(wl.op_latencies), "s")
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    _pin_environment(run_dir)
    try:
        import harness  # imports the engine's test helpers from the checkout
        from hdfs_mapreduce_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    import curate
    import interactive
    import stream
    from spans import Tracer

    proc_start = harness.process_start_epoch()
    module = {
        "interactive_mix": interactive,
        "curate_batch": curate,
        "stream_ingest": stream,
    }[args.workload]
    ctx = harness.Ctx(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        # stream_ingest has fixed batch sizes and no scale factor.
        sf=args.sf if args.sf is not None else getattr(module, "SF", None),
        tracer=Tracer(bool(args.trace)),
        work=run_dir,
        inputs=os.path.join(WORK, "inputs"),
    )
    wl = module.Workload(ctx)
    try:
        with ctx.tracer.span("session.start", "session"):
            ctx.spark = get_spark(f"perfbench-{args.workload}")
            ctx.spark.sparkContext.setLogLevel("ERROR")
        wl.setup()
        setup_s = time.time() - proc_start - ctx.gen_s
        if hasattr(wl, "settle"):
            wl.settle()
        ctx.tracer.phase = "measure"
        cpu0 = harness.tree_cpu_s()
        wl.measure()
        window_cpu_s = harness.tree_cpu_s() - cpu0
        # Read before the checks, so the oracles' memory is not counted.
        peak_rss_mb = harness.peak_rss_mb()
        ctx.tracer.phase = "check"
        wl.check()
        wl.metrics()
        ops = wl.op_latencies
        ctx.put("setup_s", setup_s, "s")
        ctx.put("op_p50_s", harness.median(ops), "s")
        ctx.put("ops_per_s", len(ops) / wl.window_s, "1/s")
        ctx.put("peak_rss_mb", peak_rss_mb, "MB")
        ctx.report["cpu_s_per_op"] = (window_cpu_s / max(1, len(ops)), "s")
        if args.trace:
            ctx.tracer.attach_jobs(ctx.spark)
            layers = _layer_metrics(ctx, wl)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(
                WORK, "traces", f"{args.workload}_seed{args.seed}.json"
            )
            ctx.tracer.write(trace_path)
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    sf = "" if ctx.sf is None else f" sf {ctx.sf:g}"
    print(f"workload {args.workload} seed {args.seed}{sf} "
          f"cores {os.environ['SPARK_GRAFT_CPUS']} window {args.seconds:g} s")
    print("input rows " + " ".join(f"{t}={n}" for t, n in ctx.input_rows.items())
          + f"; input bytes {ctx.input_bytes}")
    for line in ctx.notes:
        print(line)
    for name, (value, unit) in {**ctx.metrics, **ctx.report}.items():
        print(f"{name} {value:.6g} {unit}")
    attempted, failed = ctx.attempted, len(ctx.failures)
    print(f"failed_frac {failed / max(1, attempted):.6g} ratio")
    for f in ctx.failures[:20]:
        print(f"FAILED {f}")
    if args.trace:
        for name, (value, unit) in layers.items():
            print(f"{name} {value:.6g} {unit}")
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        metrics = layers
    else:
        metrics = ctx.metrics
    print(f"total run time {time.perf_counter() - t_start:.1f} s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
