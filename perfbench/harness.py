"""Process set-up and correctness gates shared by the workloads.

Everything a run writes stays under ``<checkout>/.perfbench_work``:
generated inputs (cached by workload, seed and generator parameters),
one fresh directory per run for sinks, Spark local dirs and temp files,
the span dumps of traced runs and one JSON report per run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import tempfile
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


# ------------------------------------------------------------------ host
def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_mb() -> int:
    """JVM heap: a quarter of physical memory, between 1 and 2 GiB.
    The session pins ``-Xms`` to this and pre-touches it, so a heap
    larger than the host can back fails at JVM start, and every MiB
    is paid in start-up time."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    mb = min(2048, max(1024, total_kb // 1024 // 4))
    return mb - mb % 256


def fs_type(path: Path) -> str:
    """Filesystem type of the mount holding ``path`` (e.g. tmpfs)."""
    path = str(path.resolve())
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt.rstrip("/") + "/") or path == mnt:
                if len(mnt) > len(best):
                    best, kind = mnt, typ
    return kind


def cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks over all CPUs since boot, from
    /proc/stat: on a VM, steal is time the hypervisor gave this guest's
    CPUs to others while the guest had work, which every wall time
    measured meanwhile includes."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def make_run_dir(workload: str, seed: int, trace: bool) -> Path:
    """A fresh per-run directory; older run dirs are removed first so a
    checkout holds at most one run's sinks."""
    runs = WORK / "runs"
    if runs.exists():
        shutil.rmtree(runs)
    d = runs / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "warehouse", "sinks"):
        (d / sub).mkdir(parents=True)
    return d


def isolate_env(run_dir: Path, heap_mb: int) -> None:
    """Point every temp location of Python, the JVM and Spark into
    ``run_dir``; size the JVM heap. Must run before pyspark
    starts its JVM."""
    tmp = str(run_dir / "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    # UsePerfData off: hsperfdata always lands in /tmp otherwise. A fixed
    # set of JIT compiler threads: JvmProbe subtracts their CPU, which a
    # thread that exits would take with it.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )


def start_spark(run_dir: Path, cores: int):
    from beehive_data_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM itself, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class JvmProbe:
    """JVM CPU seconds (``bench._JvmCpu``: /proc for the JVM's pid),
    the part of them the JIT compiler threads spent, and cumulative GC
    seconds (GarbageCollectorMXBean over py4j)."""

    def __init__(self, spark) -> None:
        from bench import _JvmCpu

        probe = _JvmCpu(spark)
        self.cpu_s = probe.seconds
        self._pid, self._tck = probe.pid, probe.tck
        self._gcs = list(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0

    def jit_cpu_s(self) -> float:
        """CPU seconds of HotSpot's C1/C2 compiler threads (named
        "C<n> CompilerThre<ad#k>", cut to 15 characters by the kernel)."""
        ticks = 0
        for path in glob.glob(f"/proc/{self._pid}/task/*/stat"):
            try:
                with open(path) as fh:
                    text = fh.read()
            except OSError:  # the thread ended meanwhile
                continue
            name, rest = text.split(" (", 1)[1].rsplit(") ", 1)
            if "CompilerThre" in name:
                fields = rest.split()
                ticks += int(fields[11]) + int(fields[12])
        return ticks / self._tck

    def work_cpu_s(self) -> float:
        """CPU seconds of the engine's work so far: the JVM's threads
        except the JIT compilers, plus this Python process (the driver
        side of the engine). Steal time is not in it, so unlike wall
        time it does not move with the host's other guests; JIT work is
        left out because how much of it lands in a window depends on
        timing (Spark generates new classes for every query)."""
        return self.cpu_s() - self.jit_cpu_s() + time.process_time()


# ---------------------------------------------------------------- inputs
def event_log(name: str, seed: int, params: dict) -> tuple[str, float, bool]:
    """Generate (or reuse) an event log for ``params`` (keyword
    arguments of ``generate_event_log``). The directory is keyed by the
    name, seed and parameters, so any change of either regenerates.
    Returns (dir, seconds spent, cache hit)."""
    from beehive_data_etl_spark.sources.eventlog import generate_event_log

    key = hashlib.sha1(
        json.dumps({"seed": seed, **params}, sort_keys=True).encode()
    ).hexdigest()[:12]
    out = WORK / "inputs" / f"{name}-s{seed}-{key}"
    hit = (out / "_meta.json").exists()
    t0 = time.perf_counter()
    generate_event_log(str(out), seed=seed, **params)
    return str(out), time.perf_counter() - t0, hit


def log_files(log_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(log_dir, "part-*.parquet")))


def link_files(files: list[str], dest: Path) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    for f in files:
        os.link(f, dest / os.path.basename(f))


# ----------------------------------------------------------------- gates
def token_bytes(t) -> bytes | None:
    return None if t is None else np.asarray(t, dtype=np.int32).tobytes()


def oracle_state(log_dir: str) -> dict:
    """``verify.oracle_final_duckdb`` (an independent LWW in DuckDB) as
    {doc_id: (op_sequence, token bytes)}."""
    from beehive_data_etl_spark.verify import oracle_final_duckdb

    df = oracle_final_duckdb(log_dir)
    return {
        d: (int(s), token_bytes(t))
        for d, s, t in zip(df["doc_id"], df["op_sequence"], df["tokens"])
    }


def oracle_over(files: list[str], dest: Path) -> dict:
    """``oracle_state`` over exactly ``files`` (a prefix of a log: the
    table at an earlier version), hard-linked into ``dest`` unless an
    earlier call already did."""
    if not dest.exists():
        link_files(files, dest)
    return oracle_state(str(dest))


def engine_state(sink, version: int | None = None, tokens: bool = True) -> dict:
    """{doc_id: (op_sequence, token bytes or None)} of the live rows;
    ``tokens=False`` projects the payload away (changelog checks)."""
    cols = ["doc_id", "op_sequence"] + (["tokens"] if tokens else [])
    df = (
        sink.read_state(version=version, columns=["tokens" if tokens else "n_tok"])
        .filter("NOT deleted")
        .select(*cols)
        .toPandas()
    )
    toks = df["tokens"] if tokens else [None] * len(df)
    return {
        d: (int(s), token_bytes(t))
        for d, s, t in zip(df["doc_id"], df["op_sequence"], toks)
    }


def compare_states(got: dict, want: dict) -> tuple[bool, dict]:
    """Final-state gate: same doc set, equal op_sequence, byte-equal
    token arrays per doc_id. Returns (ok, mismatch counts)."""
    missing = sum(1 for k in want if k not in got)
    extra = sum(1 for k in got if k not in want)
    seq = tok = 0
    for k, (s, t) in want.items():
        if k in got:
            seq += got[k][0] != s
            tok += got[k][1] != t
    report = {
        "rows": len(want),
        "missing_in_engine": missing,
        "missing_in_oracle": extra,
        "seq_mismatches": seq,
        "token_mismatches": tok,
    }
    return missing == extra == seq == tok == 0, report


def expected_changes(old: dict, new: dict) -> dict[str, tuple[str, int | None]]:
    """The changelog two live states imply: {doc_id: (change_type,
    new op_sequence or None)} — I for newly live, U for a live row
    whose op_sequence advanced, D for a row no longer live."""
    out: dict[str, tuple[str, int | None]] = {}
    for k, (s, _) in new.items():
        if k not in old:
            out[k] = ("I", s)
        elif s > old[k][0]:
            out[k] = ("U", s)
    for k in old:
        if k not in new:
            out[k] = ("D", None)
    return out


def table_bytes(sink) -> int:
    """Bytes of the data files the head snapshot references."""
    snap = sink.current_snapshot()
    total = 0
    for entries in snap["buckets"].values():
        for e in entries:
            d = os.path.join(sink.root, e["path"])
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    return total


def live_token_bytes(state: dict) -> int:
    """4 bytes per token over live rows: the raw payload the table
    must hold (token count rather than ``n_tok``, which one evolved
    event sets past 2^31 on purpose)."""
    return sum(len(t) for _, t in state.values() if t is not None)


def written_bytes(sink) -> dict[str, int]:
    """{batch_id: bytes} of every data directory the table published
    (compaction keeps superseded files until vacuum, so all remain)."""
    out: dict[str, int] = {}
    data = os.path.join(sink.root, "data")
    for d in os.listdir(data):
        if not d.startswith("ingest="):
            continue
        n = 0
        for dirpath, _, files in os.walk(os.path.join(data, d)):
            n += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        out[d.split("=", 1)[1]] = n
    return out


def deltas_per_bucket(sink) -> list[int]:
    snap = sink.current_snapshot()
    return [len(snap["buckets"].get(str(b), [])) for b in range(snap["n_buckets"])]


def snapshot_json_bytes(sink) -> int:
    snap = sink.current_snapshot()
    name = f"v{snap['version']:06d}.json"
    return os.path.getsize(os.path.join(sink.root, "_snapshots", name))
