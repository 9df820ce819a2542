"""Run one benchmark workload against the CDC engine.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints the per-run report (every metric
by name and unit, plus cores, heap and where the sinks live), then, as
the last line of stdout, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones listed in
BENCHMARK.json; with ``--trace 1`` the per-layer ones, from a run whose
engine calls are wrapped in spans (dumped next to the report under
``.perfbench_work/results``). Exits non-zero without a result when the
engine package is missing or set-up fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

END_TO_END = {
    "setup_s": "s",
    "events_per_cpu_s": "events/cpu_s",
    "table_bytes_per_live_byte": "ratio",
}
PER_LAYER_UNITS = {
    "streaming.replay.poll_s": "s",
    "streaming.replay.inflight_overlap": "ratio",
    "sources.readers.read_wal_s": "s",
    "sinks.snapshot.apply_batch.plan_s": "s",
    "sinks.snapshot.apply_batch.merge_write_job_s": "s",
    "sinks.snapshot.apply_batch.publish_s": "s",
    "sinks.snapshot.apply_batch.commit_s": "s",
    "sinks.snapshot.apply_batch.compacted_buckets": "count",
    "sinks.snapshot.apply_batch.appended_buckets": "count",
    "sinks.snapshot.apply_batch.bytes_written": "bytes",
    "sinks.snapshot.write_amp": "ratio",
    "sinks.snapshot.snapshot_json_bytes": "bytes",
    "sinks.snapshot.deltas_per_bucket_mean": "count",
    "sinks.snapshot.deltas_per_bucket_max": "count",
    "sinks.snapshot.lookup_s": "s",
    "sinks.snapshot.lookup_files_read": "count",
    "sinks.snapshot.read_changes_s": "s",
    "sinks.snapshot.read_changes_rows": "count",
    "operators.lww.dedup_ratio": "ratio",
    "session.cpu_utilization": "ratio",
    "session.jvm_gc_s": "s",
    "bench.generator_lag_p90_s": "s",
    "bench.tracing_overhead": "ratio",
    "bench.failed_frac": "ratio",
}


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_replay", "wal_tail", "serve_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _engine_importable() -> bool:
    try:
        import beehive_data_etl_spark.sinks.snapshot  # noqa: F401
        import beehive_data_etl_spark.streaming.replay  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        return False
    return True


def main(argv=None) -> int:
    args = _args(argv)
    if not _engine_importable():
        return 2
    from perfbench import harness, stats, workloads

    trace = bool(args.trace)
    cores, heap_mb = harness.host_cores(), harness.host_heap_mb()
    run_dir = harness.make_run_dir(args.workload, args.seed, trace)
    harness.isolate_env(run_dir, heap_mb)
    spark = harness.start_spark(run_dir, cores)
    jvm_ready_s = time.perf_counter() - T_START
    jvm = harness.JvmProbe(spark)
    jvm_ready_cpu_s = jvm.work_cpu_s()
    ctx = workloads.Ctx(spark=spark, cores=cores, seed=args.seed,
                        seconds=args.seconds, trace=trace, run_dir=run_dir,
                        jvm=jvm)
    try:
        if trace:
            with workloads.traced(ctx):
                e2e = workloads.WORKLOADS[args.workload](ctx)
        else:
            e2e = workloads.WORKLOADS[args.workload](ctx)
        layer = workloads.layer_metrics(ctx, args.workload) if trace else None
    finally:
        harness.stop_spark(ctx.spark)

    passes = e2e.pop("setup")
    # work CPU, not wall: see README.md, "Why CPU seconds"
    e2e["setup_s"] = jvm_ready_cpu_s + stats.median(passes["cpu"])
    ctx.note("setup_wall_s", jvm_ready_s + stats.median(passes["wall"]), "s")
    ctx.note("jvm_ready_s", jvm_ready_s, "s")
    ctx.note("jvm_ready_cpu_s", jvm_ready_cpu_s, "s")
    ctx.note("setup_pass_s", passes["wall"], "s")
    ctx.note("setup_pass_cpu_s", passes["cpu"], "s")
    ctx.note("cores", cores, "count")
    ctx.note("jvm_heap_mb", heap_mb, "MiB")
    # how much of the window other tenants of the host took: it explains
    # run-to-run spread, and is not a property of the engine
    ctx.note("host_steal_frac", ctx.window["steal"], "ratio")
    ctx.note("sink_dir", str(run_dir / "sinks"), "path")
    ctx.note("sink_fs", harness.fs_type(run_dir), "fs")
    ctx.note("run_wall_s", time.perf_counter() - T_START, "s")

    values, units = (layer, PER_LAYER_UNITS) if trace else (e2e, END_TO_END)
    metrics = {k: {"value": _finite(values[k]), "unit": u} for k, u in units.items()}
    out_dir = harness.WORK / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(out_dir / f"{stem}.json", "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "params": workloads.PARAMS[args.workload],
                   "why": workloads.WHY[args.workload], "report": ctx.report,
                   "metrics": metrics, "attempted": ctx.attempted,
                   "failed": ctx.failed}, fh, indent=1, default=str)
    if trace:
        ctx.tracer.dump(str(out_dir / f"{stem}.spans.jsonl"))
    for k, v in ctx.report.items():
        print(f"# {k} = {v['value']} {v['unit']}")
    for k, v in metrics.items():
        print(f"# metric {k} = {v['value']} {v['unit']}")
    correct = ctx.failed == 0 and all(
        math.isfinite(float(values[k])) for k in units
    )
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}), flush=True)
    return 0


def _finite(v) -> float:
    """JSON has no infinity: a latency made infinite by failed ops is
    reported as 1e12 s (``correct`` is false then anyway)."""
    v = float(v)
    return v if math.isfinite(v) else 1e12


if __name__ == "__main__":
    sys.exit(main())
