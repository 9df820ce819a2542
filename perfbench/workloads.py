"""The three workloads, their generator parameters, and the metrics
they report.

Every workload goes through the engine's public entry points only:
``replay_incremental`` (which calls ``read_wal`` and
``SnapshotSink.apply_batch``), ``SnapshotSink.lookup`` and
``SnapshotSink.read_changes``. Each returns the four end-to-end
metrics the benchmark gates on; everything else it measures goes to
``Ctx.report`` (printed and saved, never gated).
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import harness, stats
from perfbench.tracing import Tracer, by_name

# A WAL with Zipf(1.2) keys, 2% duplicate deliveries and 5% events
# displaced 1-3 files late, as the engine's production logs look
# (FIXTURES.md F2). Sizes are scaled so that set-up, the timed window
# and the gates of one run fit in about a minute on a 4-core host.
_SHAPE = dict(zipf_s=1.2, p_duplicate=0.02, p_out_of_order=0.05)

PARAMS: dict[str, dict] = {
    "bulk_replay": {
        "log": dict(n_docs=6700, n_events=80000, n_files=8,
                    evolution_split=40000, **_SHAPE),
        "warm_seed": 1_000_003,
        "files_per_batch": 4,
        "inflight": 2,
        "setup_passes": 3,
    },
    "wal_tail": {
        "log": dict(n_docs=8000, n_events=2000 * 45, n_files=45, **_SHAPE),
        "warm_files": 5,
        "interval_s": 1.75,
        "poll_s": 0.02,
        "drain_s": 30.0,
        "setup_passes": 3,
    },
    "serve_mixed": {
        "log": dict(n_docs=8000, n_events=1000 * 32, n_files=32, **_SHAPE),
        "prebuild_files": 20,
        "warm_batches": 2,
        "zipf_lookups": 3,
        "fresh_lookups": 2,
        "warm_lookups": 2,
        "setup_passes": 3,
    },
}

WHY: dict[str, dict] = {
    "bulk_replay": {
        "log": "80k events over 6.7k docs (12 events/doc, as the 600k/50k "
               "backfill it stands for), schema widened at the midpoint so "
               "in-flight evolution runs; a warm replay takes 2.2-3.4 s on 4 "
               "shared cores, so the window holds its minimum of 3 replays. "
               "Larger logs make one run too long for 22 runs of each "
               "workload to fit in an hour",
        "warm_seed": "set-up replays a log of the same shape under this fixed "
                     "seed (generated once per checkout), so set-up compiles "
                     "the plans the timed replays run",
        "files_per_batch": "2 batches of 40k events: large enough that the "
                           "merge job dominates (measured with --trace 1 on 4 "
                           "cores: merge_write_job 2.21 s of a 2.58 s batch, "
                           "86%; plan 0.23 s, publish 0.13 s, commit 0.01 s)",
        "inflight": "2 batches pipelined, the replayer's backfill setting",
        "setup_passes": "the executor threads' CPU per replay is flat to "
                        "within ~5% from a JVM's 3rd replay on (measured on "
                        "4 cores: 21.4, 10.1, 4.5, 4.2, 4.2, 4.3 s), so the "
                        "window starts there; the wall and the JIT's own CPU "
                        "keep falling for longer, and neither is gated",
    },
    "wal_tail": {
        "log": "2k-event files: per-batch fixed costs (planning, job "
               "scheduling, compaction, commit) dominate, the inverse of "
               "bulk_replay",
        "interval_s": "one file every 1.75 s: under half of the rate a warm "
                      "tailer sustains on 4 cores (~0.75 s per file, ~1.6 s "
                      "on every 4th, which compacts), so a slower host does "
                      "not turn into a growing backlog within the window",
        "warm_files": "5 files per set-up pass: the 5th compacts, so set-up "
                      "warms the append and the compaction path",
    },
    "serve_mixed": {
        "log": "20 files of 1k events prebuild the table (one file per "
               "bucket); each round then writes the next 1k-event file, so "
               "rounds 1-3 append a delta per bucket and round 4 compacts. "
               "The window is whole 4-round layout cycles (one cycle is "
               "about 25 s on 4 cores, longer than the window), so every run "
               "reads the same layouts; 12 files after the prebuild cover "
               "up to 3 cycles",
        "warm_batches": "the first (cold) set-up pass writes the first 2 "
                        "files one batch each to a throwaway table with "
                        "compact_threshold=1, so the 2nd batch runs the "
                        "inline compaction that round 4 runs, warming it "
                        "(3 batches fewer than the default threshold needs). "
                        "Later passes prebuild in one batch",
        "zipf_lookups": "point reads on Zipf-drawn live keys (hot keys are "
                        "the ones with the most delta versions)",
        "fresh_lookups": "reads of keys the round just wrote, so the "
                         "newest delta files are always on the read path; "
                         "5 lookups a round give 20 a cycle, so their p50 "
                         "has 10 samples beyond it",
    },
}


@dataclass
class Ctx:
    """One run: its session, counters, and what the traced run needs."""

    spark: object
    cores: int
    seed: int
    seconds: float
    trace: bool
    run_dir: Path
    jvm: harness.JvmProbe
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    report: dict = field(default_factory=dict)
    batches: list = field(default_factory=list)
    lookups: list = field(default_factory=list)
    changes: list = field(default_factory=list)
    gaps: list = field(default_factory=list)
    lat: dict = field(default_factory=dict)
    sink_logs: dict = field(default_factory=dict)
    window: dict = field(default_factory=dict)
    calls: dict = field(default_factory=dict)
    final_sink: object = None

    def call(self, name: str, fn, *args, **kwargs):
        """One attempted op: ``(ok, result, wall_s, cpu_s)``, ``cpu_s``
        the engine's work CPU (``JvmProbe.work_cpu_s``) over the call.
        An exception is a failed op (traceback to stderr). In a traced
        run every other op of each name is traced, so traced and untraced
        latencies sit side by side (``bench.tracing_overhead``). The even
        ones are: they include the compacting 4th write of a serve_mixed
        cycle."""
        self.attempted += 1
        self.calls[name] = self.calls.get(name, 0) + 1
        traced = self.trace and self.calls[name] % 2 == 0
        self.tracer.enabled = traced
        c0 = self.jvm.work_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.op(name):
                result = fn(*args, **kwargs)
            ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            ok, result = False, None
        wall = time.perf_counter() - t0
        cpu = self.jvm.work_cpu_s() - c0
        self.lat.setdefault((name, traced), []).append(wall)
        return ok, result, wall, cpu

    def check(self, ok: bool, what: str, detail=None) -> bool:
        """A correctness gate, counted as an attempted op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"GATE FAILED: {what}: {detail}", file=sys.stderr)
        return ok

    def note(self, name: str, value, unit: str) -> None:
        self.report[name] = {"value": value, "unit": unit}

    def begin_window(self) -> float:
        self.window = {"t0": time.perf_counter(), "cpu0": self.jvm.cpu_s(),
                       "gc0": self.jvm.gc_s(), "steal0": harness.cpu_steal()}
        return self.window["t0"]

    def end_window(self) -> None:
        (s0, n0), (s1, n1) = self.window["steal0"], harness.cpu_steal()
        self.window.update(t1=time.perf_counter(), cpu1=self.jvm.cpu_s(),
                           gc1=self.jvm.gc_s(), steal=(s1 - s0) / max(1, n1 - n0))


def _replay():
    # looked up at call time: a traced run swaps the module attribute
    from beehive_data_etl_spark.streaming import replay

    return replay.replay_incremental


def _sink(ctx: Ctx, path: Path, log_dir: str, **kwargs):
    from beehive_data_etl_spark.sinks.snapshot import SnapshotSink

    sink = SnapshotSink(ctx.spark, str(path), **kwargs)
    ctx.sink_logs[sink.root] = log_dir
    return sink


def _events(log_dir: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in harness.log_files(log_dir))


def _setup(ctx: Ctx, n: int, one_pass) -> dict:
    """``n`` set-up passes: their walls and their work CPU seconds (the
    median of the latter is the per-pass part of ``setup_s``)."""
    walls, cpus = [], []
    for i in range(n):
        c0 = ctx.jvm.work_cpu_s()
        t0 = time.perf_counter()
        one_pass(i)
        walls.append(time.perf_counter() - t0)
        cpus.append(ctx.jvm.work_cpu_s() - c0)
    return {"wall": walls, "cpu": cpus}


def _probe_reads(ctx: Ctx, sink, keys: list[str]) -> None:
    """Traced runs of the ingest workloads: a few point reads and two
    changelog reads (one of them traced) on the final table, so every
    layer metric exists on every workload. Outside the timed window."""
    v = sink.current_snapshot()["version"]
    for k in keys:
        _lookup(ctx, sink, k, v)
    for _ in range(2):
        _read_changes(ctx, sink, max(1, v - 1), v)


def _lookup(ctx: Ctx, sink, key: str, version: int):
    files: list[str] = []

    def run():
        df = sink.lookup([key])
        files.extend(df.inputFiles())
        return df.collect()

    ok, rows, wall, cpu = ctx.call("lookup", run)
    rec = {"version": version, "key": key, "ok": ok, "wall": wall, "cpu": cpu,
           "traced": ctx.tracer.enabled, "files": len(files),
           "deltas": harness.deltas_per_bucket(sink) if ctx.trace else None,
           "tokens": None}
    if ok and rows:
        rec["tokens"] = harness.token_bytes(rows[0]["tokens"])
    rec["found"] = bool(ok and rows)
    ctx.lookups.append(rec)
    return rec


def _read_changes(ctx: Ctx, sink, v_prev: int, v_now: int):
    ok, rows, wall, cpu = ctx.call(
        "read_changes", lambda: sink.read_changes(v_prev, v_now).collect()
    )
    rec = {"v_prev": v_prev, "v_now": v_now, "ok": ok, "wall": wall, "cpu": cpu,
           "traced": ctx.tracer.enabled, "rows": None}
    if ok:
        rec["rows"] = {
            r["doc_id"]: (r["change_type"], r["op_sequence"]) for r in rows
        }
    ctx.changes.append(rec)
    return rec


def _space_amp(sink, live_state: dict) -> float:
    return harness.table_bytes(sink) / max(1, harness.live_token_bytes(live_state))


# ------------------------------------------------------------ bulk_replay
def bulk_replay(ctx: Ctx) -> dict:
    """Closed loop, one client: back-to-back full replays of the WAL,
    each into a fresh table, for ``seconds``; then every replay's final
    state is checked against the DuckDB oracle. Throughput comes from
    the replay walls, latency from the walls of the pipelined batches."""
    from beehive_data_etl_spark.functions.transforms import cdc_bench_transform

    p = PARAMS["bulk_replay"]
    log, gen_a, hit_a = harness.event_log("bulk_replay", ctx.seed, p["log"])
    warm, gen_b, hit_b = harness.event_log("bulk_replay_warm", p["warm_seed"], p["log"])
    ctx.note("inputs_s", gen_a + gen_b, "s")
    ctx.note("inputs_cached", hit_a and hit_b, "bool")
    n_events = _events(log)
    sinks = ctx.run_dir / "sinks"
    kw = dict(files_per_batch=p["files_per_batch"], transform=cdc_bench_transform,
              inflight=p["inflight"])

    def warm_pass(i):
        sink = _sink(ctx, sinks / f"setup-{i}", warm)
        _replay()(ctx.spark, warm, sink, **kw)
        shutil.rmtree(sink.root)

    passes = _setup(ctx, p["setup_passes"], warm_pass)

    replays = []
    t_end = ctx.begin_window() + ctx.seconds
    last_end = None
    while time.perf_counter() < t_end or len(replays) < 3:
        if last_end is not None:
            ctx.gaps.append(time.perf_counter() - last_end)
        sink = _sink(ctx, sinks / f"replay-{len(replays)}", log)
        ok, ms, wall, cpu = ctx.call("bulk_replay.replay", _replay(), ctx.spark,
                                     log, sink, **kw)
        last_end = time.perf_counter()
        replays.append((sink, ok, wall, cpu, ms or []))
    ctx.end_window()

    oracle = harness.oracle_state(log)
    replay_walls, replay_cpus, batch_walls, amp = [], [], [], None
    n_batches = math.ceil(len(harness.log_files(log)) / p["files_per_batch"])
    for i, (sink, ok, wall, cpu, ms) in enumerate(replays):
        good = False
        if ok:
            same, report = harness.compare_states(harness.engine_state(sink), oracle)
            good = ctx.check(same, f"replay {i} final state", report)
        # a replay counts only if its final state verifies
        replay_walls.append(wall if good else stats.FAILED)
        replay_cpus.append(cpu if good else stats.FAILED)
        if good:
            batch_walls += [m["wall_s"] for m in ms if not m.get("skipped")]
            amp = _space_amp(sink, oracle)
        else:
            batch_walls += [stats.FAILED] * n_batches
        _collect_written(ctx, sink)
        if i < len(replays) - 1:
            shutil.rmtree(sink.root)
    ctx.final_sink = replays[-1][0]
    if ctx.trace:
        _probe_reads(ctx, ctx.final_sink, sorted(oracle)[:4])
        ctx.note("single_thread_events_per_s", _single_thread(ctx, log, kw), "events/s")

    b = stats.summarize(batch_walls)
    ctx.note("replay_events_per_s", n_events / stats.median(replay_walls), "events/s")
    ctx.note("replay_walls_s", [r[2] for r in replays], "s")
    ctx.note("replay_cpus_s", [r[3] for r in replays], "s")
    ctx.note("batch_commit_mean_s", stats.mean(batch_walls), "s")
    ctx.note("batch_commit_p50_s", b["p50"], "s")
    ctx.note("batch_commit_n", b["n"], "count")
    ctx.note("batch_commit_p50_supported", b["p50_supported"], "bool")
    ctx.note("table_bytes_per_live_byte", amp, "ratio")
    return {
        "setup": passes,
        "events_per_cpu_s": n_events / stats.median(replay_cpus),
        "table_bytes_per_live_byte": amp if amp is not None else math.inf,
    }


def _single_thread(ctx: Ctx, log: str, kw: dict) -> float:
    """One replay of ``log`` at ``local[1]``: the single-thread baseline
    of the traced run. Restarts the context on the same JVM."""
    from beehive_data_etl_spark.sinks.snapshot import SnapshotSink

    ctx.spark.stop()
    spark1 = harness.start_spark(ctx.run_dir, 1)
    try:
        sink = SnapshotSink(spark1, str(ctx.run_dir / "sinks" / "single-thread"))
        t0 = time.perf_counter()
        _replay()(spark1, log, sink, **kw)
        return _events(log) / (time.perf_counter() - t0)
    finally:
        ctx.spark = spark1


# --------------------------------------------------------------- wal_tail
def wal_tail(ctx: Ctx) -> dict:
    """Open loop: a generator thread hard-links one pre-generated WAL
    file into the tailed directory every ``interval_s`` seconds, on a
    schedule fixed in advance; the tailer polls ``replay_incremental``
    (one file per batch, no pipelining) into a fresh table, so file ``i``
    meets the same bucket layout in every run (the 5th compacts). A
    file's freshness is its batch's commit time minus its due time."""
    p = PARAMS["wal_tail"]
    log, gen_s, hit = harness.event_log("wal_tail", ctx.seed, p["log"])
    ctx.note("inputs_s", gen_s, "s")
    ctx.note("inputs_cached", hit, "bool")
    files = harness.log_files(log)
    warm, timed = files[: p["warm_files"]], files[p["warm_files"]:]
    sinks = ctx.run_dir / "sinks"
    kw = dict(files_per_batch=1, inflight=1)

    def warm_pass(i):
        d = sinks / f"setup-{i}"
        sink = _sink(ctx, d / "table", log)
        for f in warm:
            harness.link_files([f], d / "wal")
            _replay()(ctx.spark, str(d / "wal"), sink, **kw)
        shutil.rmtree(d)

    passes = _setup(ctx, p["setup_passes"], warm_pass)

    tail_dir = sinks / "tail" / "wal"
    tail_dir.mkdir(parents=True)
    sink = _sink(ctx, sinks / "tail" / "table", log)
    n = min(stats.n_due(ctx.seconds, p["interval_s"]), len(timed))
    index = {os.path.basename(f): i for i, f in enumerate(timed[:n])}
    released: list[float | None] = [None] * n
    committed: list[float | None] = [None] * n
    stop = threading.Event()
    t0_perf = ctx.begin_window()
    # wall-clock schedule: the engine stamps commits with time.time()
    due = stats.due_times(time.time() + 0.05, p["interval_s"], n)

    def generator():
        for i in range(n):
            delay = due[i] - time.time()
            if delay > 0 and stop.wait(delay):
                return
            harness.link_files([timed[i]], tail_dir)
            released[i] = time.time()

    gen = threading.Thread(target=generator, name="wal-generator")
    gen.start()
    rates = []
    polled = [0, 0.0]  # events committed, work CPU seconds of the polls
    deadline = t0_perf + ctx.seconds + p["drain_s"]
    try:
        while time.perf_counter() < deadline:
            done = sum(c is not None for c in committed)
            if done == n:
                break
            if sum(r is not None for r in released) <= done:
                time.sleep(p["poll_s"])
                continue
            ok, ms, wall, cpu = ctx.call("wal_tail.poll", _replay(), ctx.spark,
                                         str(tail_dir), sink, **kw)
            if not ok:
                continue
            # the workload's ops are files, counted below; only a
            # failed poll stays counted as an op of its own
            ctx.attempted -= 1
            events = 0
            for m in ms:
                if not m.get("skipped"):
                    committed[index[m["batch_id"].split("-", 2)[2]]] = m["commit_ts"]
                    events += m["lineage"]["events"]
            rates.append(events / wall)
            polled[0] += events
            polled[1] += cpu
    finally:
        stop.set()
        gen.join(timeout=30)
    ctx.end_window()

    fresh = stats.freshness(committed, due)
    ctx.attempted += n
    ctx.failed += sum(c is None for c in committed)
    ctx.gaps += stats.lags(*zip(*[(r, d) for r, d in zip(released, due) if r is not None]))
    oracle = harness.oracle_state(str(tail_dir))
    ok, report = harness.compare_states(harness.engine_state(sink), oracle)
    ctx.check(ok, "tail final state", report)
    amp = _space_amp(sink, oracle)
    _collect_written(ctx, sink)
    ctx.final_sink = sink
    if ctx.trace:
        _probe_reads(ctx, sink, sorted(oracle)[:4])

    f = stats.summarize(fresh)
    rate = stats.median(rates) if rates else 0.0
    ctx.note("files_due", n, "count")
    ctx.note("interval_s", p["interval_s"], "s")
    ctx.note("freshness_mean_s", stats.mean(fresh), "s")
    ctx.note("freshness_p50_s", f["p50"], "s")
    ctx.note("freshness_p50_supported", f["p50_supported"], "bool")
    ctx.note("freshness_p90_s", f["p90"], "s")
    ctx.note("freshness_p90_supported", f["p90_supported"], "bool")
    ctx.note("tail_events_per_poll_s", rate, "events/s")
    ctx.note("table_bytes_per_live_byte", amp, "ratio")
    return {
        "setup": passes,
        "events_per_cpu_s": polled[0] / polled[1] if polled[1] else 0.0,
        "table_bytes_per_live_byte": amp,
    }


# ------------------------------------------------------------ serve_mixed
def serve_mixed(ctx: Ctx) -> dict:
    """Closed loop, one client, over a table prebuilt in set-up. Each
    round: one ~1k-event write (the next WAL file, through
    ``replay_incremental``), point lookups on Zipf-drawn live keys and
    on keys the write just touched, and one ``read_changes`` over the
    round's version window."""
    from beehive_data_etl_spark.sources.eventlog import _zipf_probs

    p = PARAMS["serve_mixed"]
    log, gen_s, hit = harness.event_log("serve_mixed", ctx.seed, p["log"])
    ctx.note("inputs_s", gen_s, "s")
    ctx.note("inputs_cached", hit, "bool")
    files = harness.log_files(log)
    pre, writes = files[: p["prebuild_files"]], files[p["prebuild_files"]:]
    sinks = ctx.run_dir / "sinks"
    n_docs = p["log"]["n_docs"]
    width = max(8, len(str(n_docs - 1)))
    warm_keys = [f"doc-{i:0{width}d}" for i in range(p["warm_lookups"])]
    state: dict = {}

    def build(i):
        d = sinks / f"serve-{i}"
        if i == 0:
            # the cold pass: a throwaway table written one file per
            # batch, the last of which compacts every bucket, so the
            # window's compaction runs warm
            sink = _sink(ctx, d / "table", log, compact_threshold=1)
            n = p["warm_batches"]
            harness.link_files(pre[:n], d / "prebuild")
            _replay()(ctx.spark, str(d / "prebuild"), sink,
                      files_per_batch=1, batch_prefix="pre")
        else:
            # every bucket then holds one file: the window starts a
            # layout cycle
            sink = _sink(ctx, d / "table", log)
            harness.link_files(pre, d / "prebuild")
            _replay()(ctx.spark, str(d / "prebuild"), sink,
                      files_per_batch=len(pre), batch_prefix="pre")
        # the read path warms on its own keys, and a changelog read
        for k in warm_keys:
            sink.lookup([k]).collect()
        sink.read_changes(1, 1).collect()
        if "sink" in state:
            shutil.rmtree(state["dir"])
        state.update(sink=sink, dir=d)

    passes = _setup(ctx, p["setup_passes"], build)
    sink, d = state["sink"], state["dir"]
    cycle = sink.compact_threshold
    wal = d / "writes"
    wal.mkdir()
    last = _last_ops(pre)
    probs = _zipf_probs(n_docs, p["log"]["zipf_s"])
    rng = np.random.default_rng(ctx.seed)
    version_files: dict[int, list[str]] = {}
    applied = list(pre)
    write_walls, write_cpus, amp = [], [], None
    round_events = 0

    t0 = ctx.begin_window()
    t_end = t0 + ctx.seconds
    r = 0
    last_end = None
    # whole layout cycles: rounds 1..cycle-1 append a delta per bucket,
    # round ``cycle`` compacts, so every run reads the same layouts
    while r < len(writes) and (time.perf_counter() < t_end or r % cycle):
        if last_end is not None:
            ctx.gaps.append(time.perf_counter() - last_end)
        v_prev = sink.current_snapshot()["version"]
        harness.link_files([writes[r]], wal)
        ok, ms, wall, cpu = ctx.call("serve_mixed.write", _replay(), ctx.spark,
                                     str(wal), sink, files_per_batch=1, inflight=1,
                                     batch_prefix="serve")
        write_walls.append(wall if ok else stats.FAILED)
        write_cpus.append(cpu if ok else stats.FAILED)
        events = sum(m["lineage"]["events"] for m in ms or [] if not m.get("skipped"))
        applied.append(writes[r])
        round_events += events
        last.update(_last_ops([writes[r]], last))
        v_now = sink.current_snapshot()["version"]
        version_files[v_now] = list(applied)
        live = [k for k, (_, op) in last.items() if op != "D"]
        keys = _zipf_live(rng, probs, width, set(live), p["zipf_lookups"])
        just = pq.read_table(writes[r], columns=["doc_id"])["doc_id"].to_pylist()
        keys += list(rng.choice(sorted(set(just)), size=p["fresh_lookups"], replace=False))
        for k in keys:
            _lookup(ctx, sink, str(k), v_now)
        _read_changes(ctx, sink, v_prev, v_now)
        last_end = time.perf_counter()
        r += 1
        if r == cycle - 1:
            # the widest layout of the first cycle (cycle deltas per
            # bucket), which every run reaches
            amp = (harness.table_bytes(sink), v_now)
    ctx.end_window()

    _check_lookups(ctx, version_files)
    _check_changes(ctx, sink)
    live_bytes = harness.live_token_bytes(harness.oracle_over(
        version_files[amp[1]], ctx.run_dir / "oracle" / f"v{amp[1]}"
    ))
    amp = amp[0] / max(1, live_bytes)
    _collect_written(ctx, sink)
    ctx.final_sink = sink

    look = stats.summarize([x["wall"] if x["ok"] else stats.FAILED for x in ctx.lookups])
    chg = stats.summarize([x["wall"] if x["ok"] else stats.FAILED for x in ctx.changes])
    wr = stats.summarize(write_walls)
    # every engine call of the round counts: the ingest cost of a client
    # that also serves its reads (a failed op is +inf CPU)
    reads = [x["cpu"] if x["ok"] else stats.FAILED for x in ctx.lookups + ctx.changes]
    cpu = sum(write_cpus) + sum(reads)
    rate = round_events / (last_end - t0)
    ctx.note("rounds", r, "count")
    ctx.note("write_cpu_s", sum(write_cpus), "s")
    ctx.note("read_cpu_s", sum(reads), "s")
    ctx.note("lookup_cpu_p50_s", stats.median([x["cpu"] for x in ctx.lookups]), "s")
    ctx.note("lookup_p50_s", look["p50"], "s")
    ctx.note("lookup_p50_supported", look["p50_supported"], "bool")
    ctx.note("lookup_p90_s", look["p90"], "s")
    ctx.note("lookup_p90_supported", look["p90_supported"], "bool")
    ctx.note("lookup_n", look["n"], "count")
    ctx.note("changes_p50_s", chg["p50"], "s")
    ctx.note("write_commit_p50_s", wr["p50"], "s")
    ctx.note("write_walls_s", write_walls, "s")
    ctx.note("round_events_per_s", rate, "events/s")
    ctx.note("lookup_walls_s", [x["wall"] for x in ctx.lookups], "s")
    ctx.note("table_bytes_per_live_byte", amp, "ratio")
    return {
        "setup": passes,
        "events_per_cpu_s": round_events / cpu,
        "table_bytes_per_live_byte": amp,
    }


def _last_ops(files: list[str], prior: dict | None = None) -> dict:
    """{doc_id: (op_sequence, op)} of the newest event per doc."""
    out = dict(prior or {})
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "op_sequence", "op"]).to_pydict()
        for k, s, o in zip(t["doc_id"], t["op_sequence"], t["op"]):
            if k not in out or s > out[k][0]:
                out[k] = (s, o)
    return out


def _zipf_live(rng, probs, width: int, live: set, n: int) -> list[str]:
    """``n`` distinct live keys drawn by the generator's Zipf law."""
    keys: list[str] = []
    for _ in range(1000 * n):
        k = f"doc-{int(rng.choice(len(probs), p=probs)):0{width}d}"
        if k in live and k not in keys:
            keys.append(k)
            if len(keys) == n:
                break
    return keys


def _check_lookups(ctx: Ctx, version_files: dict) -> None:
    """Every lookup against the DuckDB oracle row at its version."""
    by_version: dict[int, list] = {}
    for rec in ctx.lookups:
        if rec["ok"]:
            by_version.setdefault(rec["version"], []).append(rec)
    for v, recs in by_version.items():
        oracle = harness.oracle_over(version_files[v], ctx.run_dir / "oracle" / f"v{v}")
        for rec in recs:
            want = oracle.get(rec["key"])
            good = (want is None and not rec["found"]) or (
                want is not None and rec["found"] and want[1] == rec["tokens"]
            )
            if not ctx.check(good, f"lookup {rec['key']}@v{v}"):
                rec["ok"] = False


def _check_changes(ctx: Ctx, sink) -> None:
    """The last changelog window against the diff of ``read_state`` at
    its two versions (one sample: two full-state reads per window)."""
    for rec in [c for c in ctx.changes if c["ok"]][-1:]:
        old = harness.engine_state(sink, rec["v_prev"], tokens=False)
        new = harness.engine_state(sink, rec["v_now"], tokens=False)
        want = harness.expected_changes(old, new)
        got = {k: (t, s if t != "D" else None) for k, (t, s) in rec["rows"].items()}
        if not ctx.check(got == want, f"read_changes v{rec['v_prev']}..v{rec['v_now']}",
                         f"{len(got)} rows vs {len(want)} expected"):
            rec["ok"] = False


def _collect_written(ctx: Ctx, sink) -> None:
    """Attach bytes written and WAL bytes read (sizes in the generated
    log the batch's files were linked from) to the traced batches of
    ``sink``, before its directory goes away."""
    if not ctx.trace:
        return
    written = harness.written_bytes(sink)
    log_dir = ctx.sink_logs.get(sink.root)
    for rec in ctx.batches:
        if rec["root"] != sink.root or "bytes" in rec:
            continue
        bid = rec["m"]["batch_id"]
        rec["bytes"] = sum(v for k, v in written.items()
                           if k == bid or k.startswith(bid + "-r"))
        rec["input_bytes"] = sum(
            os.path.getsize(os.path.join(log_dir, f))
            for f in rec["m"].get("lineage", {}).get("input_files", [])
        )


WORKLOADS = {
    "bulk_replay": bulk_replay,
    "wal_tail": wal_tail,
    "serve_mixed": serve_mixed,
}


# ------------------------------------------------------------- traced run
def traced(ctx: Ctx):
    """Context manager wrapping the engine's public functions in spans
    for the whole run: ``replay_incremental``, ``read_wal`` under the
    name the replayer calls it by, ``apply_batch`` (its returned phase
    timings become child spans), ``lookup`` and ``read_changes``."""
    from contextlib import ExitStack

    from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
    from beehive_data_etl_spark.streaming import replay

    def on_batch(span, m, args):
        if not isinstance(m, dict) or m.get("skipped"):
            return
        ph = m["phase_s"]
        commit = m["wall_s"] - ph["plan"] - ph["merge_write_job"] - ph["publish"]
        ctx.tracer.add_children(span, [
            ("sinks.snapshot.apply_batch.plan", ph["plan"]),
            ("sinks.snapshot.apply_batch.merge_write_job", ph["merge_write_job"]),
            ("sinks.snapshot.apply_batch.publish", ph["publish"]),
            ("sinks.snapshot.apply_batch.commit", commit),
        ])
        span.attrs.update(batch_id=m["batch_id"],
                          events=m.get("lineage", {}).get("events"),
                          rows=sum(m.get("bucket_rows", {}).values()))
        ctx.batches.append({"root": args[0].root, "m": m})

    stack = ExitStack()
    t = ctx.tracer
    stack.enter_context(t.patch(replay, "replay_incremental",
                                "streaming.replay.replay_incremental"))
    stack.enter_context(t.patch(replay, "read_wal", "sources.readers.read_wal"))
    stack.enter_context(t.patch(SnapshotSink, "apply_batch",
                                "sinks.snapshot.apply_batch", on_batch))
    stack.enter_context(t.patch(SnapshotSink, "lookup", "sinks.snapshot.lookup"))
    stack.enter_context(t.patch(SnapshotSink, "read_changes",
                                "sinks.snapshot.read_changes"))
    return stack


HEADLINE_OP = {
    "bulk_replay": "bulk_replay.replay",
    "wal_tail": "wal_tail.poll",
    "serve_mixed": "lookup",
}


def layer_metrics(ctx: Ctx, workload: str) -> dict:
    """The per-layer metrics of a traced run (see README.md)."""
    agg = by_name(ctx.tracer.spans)

    def per_call(name: str, key: str = "self_s") -> float:
        row = agg.get(name)
        return row[key] / row["calls"] if row else 0.0

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    ms = [b["m"] for b in ctx.batches]
    phase = lambda k: mean(m["phase_s"][k] for m in ms)  # noqa: E731
    events = sum(m.get("lineage", {}).get("events", 0) for m in ms)
    rows = sum(sum(m.get("bucket_rows", {}).values()) for m in ms)
    wrote = sum(b.get("bytes", 0) for b in ctx.batches)
    read = sum(b.get("input_bytes", 0) for b in ctx.batches)
    replay_wall = agg.get("streaming.replay.replay_incremental", {}).get("wall_s", 0.0)
    apply_wall = agg.get("sinks.snapshot.apply_batch", {}).get("wall_s", 0.0)
    looks = [x for x in ctx.lookups if x["traced"]]
    chgs = [x for x in ctx.changes if x["traced"]]
    deltas = [d for x in looks for d in (x["deltas"] or [])]
    w = ctx.window
    wall = w["t1"] - w["t0"]
    op = HEADLINE_OP[workload]
    on = stats.median(ctx.lat.get((op, True), []))
    off = stats.median(ctx.lat.get((op, False), []))
    lag = stats.percentile(ctx.gaps, 90) if ctx.gaps else 0.0
    return {
        "streaming.replay.poll_s": per_call("streaming.replay.replay_incremental"),
        "streaming.replay.inflight_overlap": apply_wall / replay_wall if replay_wall else 0.0,
        "sources.readers.read_wal_s": per_call("sources.readers.read_wal"),
        "sinks.snapshot.apply_batch.plan_s": phase("plan"),
        "sinks.snapshot.apply_batch.merge_write_job_s": phase("merge_write_job"),
        "sinks.snapshot.apply_batch.publish_s": phase("publish"),
        "sinks.snapshot.apply_batch.commit_s": mean(
            m["wall_s"] - sum(m["phase_s"].values()) for m in ms
        ),
        "sinks.snapshot.apply_batch.compacted_buckets": mean(
            len(m["compacted_buckets"]) for m in ms
        ),
        "sinks.snapshot.apply_batch.appended_buckets": mean(
            len(m["appended_buckets"]) for m in ms
        ),
        "sinks.snapshot.apply_batch.bytes_written": wrote / len(ms) if ms else 0.0,
        "sinks.snapshot.write_amp": wrote / read if read else 0.0,
        "sinks.snapshot.snapshot_json_bytes": harness.snapshot_json_bytes(ctx.final_sink),
        "sinks.snapshot.deltas_per_bucket_mean": mean(deltas),
        "sinks.snapshot.deltas_per_bucket_max": max(deltas, default=0),
        "sinks.snapshot.lookup_s": stats.median([x["wall"] for x in looks]) if looks else 0.0,
        "sinks.snapshot.lookup_files_read": mean(x["files"] for x in looks),
        "sinks.snapshot.read_changes_s": stats.median([x["wall"] for x in chgs]) if chgs else 0.0,
        "sinks.snapshot.read_changes_rows": mean(
            len(x["rows"] or {}) for x in chgs
        ),
        "operators.lww.dedup_ratio": rows / events if events else 0.0,
        "session.cpu_utilization": (w["cpu1"] - w["cpu0"]) / (wall * ctx.cores) if wall else 0.0,
        "session.jvm_gc_s": w["gc1"] - w["gc0"],
        "bench.generator_lag_p90_s": lag,
        "bench.tracing_overhead": (on - off) / off if off and not math.isnan(on) else 0.0,
        "bench.failed_frac": ctx.failed / max(1, ctx.attempted),
    }
