"""HadoopSnapshotSink — exactly-once, key-bucketed MERGE target
(SURVEY.md §2 A6/A7/A9/A10, §7.4).

Mirrors Iceberg's snapshot/manifest model with plain parquet files so
the full exactly-once protocol is testable in this sandbox (no Iceberg
jars available; the cluster adapter in ``sinks.iceberg`` maps the same
interface onto ``MERGE INTO`` + ``ALTER TABLE``):

- table state lives in bucket directories, bucketed by
  ``pmod(xxhash64(doc_id), n_buckets)`` — the merge only touches
  *touched* buckets (partition pruning, SURVEY.md §4),
- **merge-on-read ingest**: a batch normally APPENDS its deduped rows
  as a per-bucket delta file (no target read, no rewrite — ingest cost
  is proportional to batch size, the property that makes 10^10-event
  replays feasible); reads LWW-merge the deltas; a bucket reaching
  ``compact_threshold`` deltas is folded to one file inline on its next
  touch. ``compact_threshold=1`` degenerates to classic copy-on-write,
- a commit = per-``(batch_id, bucket)`` manifest files + one snapshot
  JSON + an atomic swap of the ``CURRENT`` pointer
  (BASELINE.json:6: "idempotent commit manifests keyed by
  (batch_id, partition_id)"),
- a crash at ANY point before the pointer swap leaves the previous
  snapshot live; replaying the batch reuses already-manifested bucket
  outputs and recomputes only the missing ones,
- re-delivery of a committed batch is a recorded no-op, and stale
  events inside a new batch lose the LWW reduction against the target
  rows (``op_sequence`` comparison), so re-application is idempotent.

Snapshot JSON format: a snapshot holds ``version``, ``parent``,
``n_buckets``, ``schema`` / ``schema_version``, ``buckets`` (bucket →
its commit entries), ``committed_batches``, ``tombstone_floor``,
``snapshot_floor``, ``rollback_epoch``, ``patch``, ``audit`` and the
commit's ``metrics`` (every commit stamps ``commit_ts``).
``SnapshotSink._commit_next`` is the one writer: it carries every field
forward from the head and changes only what the commit names. A bucket
entry (data path, schema, fold-or-delta flag, footer stats) is built by
``_entry`` alone; the per-``(batch_id, bucket)`` manifest is that entry
plus the crash-replay facts. Where snapshots live on disk — file names
per ref, the ``CURRENT``/branch pointers and their swap, tags, the
table lock — is ``sources/table_meta.py``'s alone.

Deletes are kept as tombstone rows (``deleted=true``) so a late stale
update can never resurrect a deleted doc (SURVEY.md §7.3). Tombstone GC
is a compaction concern, out of scope at test scale.

Scale notes (100 TB / 10^10 events): state is only ever read for
touched buckets; bucket count is the unit of merge parallelism — size
it so one bucket's state fits an executor's shuffle partition
(e.g. 4096 buckets for a 10 TB table). All driver-side collections in
this file are bounded by ``n_buckets``, never by data volume.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import shutil
import struct
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.pandas.types import (
    _check_arrow_table_timestamps_localize,
    to_arrow_schema,
)
from pyspark.sql.utils import get_active_spark_context

from beehive_data_etl_spark.operators.lww import lww_dedup
from beehive_data_etl_spark.operators.patch import (
    CELL,
    cell_lww_dedup,
    patch_events,
    widen_for_cells,
)
from beehive_data_etl_spark.operators.schema_evolution import (
    align_to_schema,
    evolve_schema,
)
from beehive_data_etl_spark.sources import table_meta
from beehive_data_etl_spark.sources.arrow_fold import (
    BucketWork,
    _align,
    _bucket_files,
    _range_may_contain,
    _take_rows,
    _versions,
    _winners,
    canonical_keys,
    decoded_bytes,
    opened_sources,
    read_changes_partition,
    read_state_partition,
    window_partitions,
)
from beehive_data_etl_spark.sources.readers import read_wal, schema_groups

KEY = "doc_id"
SEQ = "op_sequence"
# CELL (operators.patch) appears only on patch-mode tables; listing it
# unconditionally is harmless for row-LWW tables (they never carry it)
_INTERNAL = [SEQ, "deleted", CELL]
_ENVELOPE_META = ["op", "event_ts", "batch_hint"]
# patch-mode mask column (array<string> of columns a 'P' event sets) —
# envelope metadata, never payload, but NOT in _ENVELOPE_META because
# the batch dataflow must keep it until patch_events() consumes it
_PATCH_MASK = "patch_cols"
# parquet codec of every data write: token arrays are near-
# incompressible random ints, and zstd-1 costs little on them
_COMPRESSION = "zstd"


def arrow_file_options(schema: pa.Schema) -> dict:
    """pyarrow's parquet options for a data file written from Arrow
    (the driver ingest route, its inline compactions included, and the
    ``beehive`` Data Source writer): the sink's codec, and dictionary
    encoding on the flat columns only. pyarrow's default also
    dictionary-encodes token lists (``list<int>``), which made files
    ~40% larger than Spark's writer. A rule of the schema alone, so
    every file of a schema is encoded alike whatever rows come first:
    on the benchmark's tables it writes 0.7% more bytes than keeping
    the dictionary only on columns with at most one distinct value
    per two rows."""
    return {
        "compression": _COMPRESSION,
        "use_dictionary": [f.name for f in schema if not pa.types.is_nested(f.type)],
    }


def _bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col(KEY)), F.lit(n_buckets)).cast("int")


@functools.cache
def _sql_utils(jvm):
    """The JVM's ``PythonSQLUtils`` class, resolved once per gateway:
    each ``jvm.PythonSQLUtils`` lookup is a py4j round trip."""
    return jvm.PythonSQLUtils


@functools.lru_cache(maxsize=1024)
def _ddl_json(ddl: str) -> str:
    return _sql_utils(get_active_spark_context()._jvm).ddlToJson(ddl)


def parse_schema(ddl: str) -> T.StructType:
    """``StructType.fromDDL(ddl)`` with one JVM parse per distinct DDL
    string in the process: the parse is memoized as JSON, and each call
    builds a fresh StructType from it, so a caller may mutate what it
    gets. A snapshot's schema string changes only when its table's
    schema does, while every read and write of the table parses it.
    Like ``fromDDL``, ``timestamp`` parses per
    ``spark.sql.timestampType``, here as it stood at the first parse."""
    return T.StructType.fromJson(json.loads(_ddl_json(ddl)))


# ------------------------------------------- Python twin of _bucket_expr
# Planning a point read needs each probe key's bucket. Asking the JVM
# costs a Spark job per call; hashing on the driver costs microseconds,
# and is sound only while it equals F.xxhash64 bit for bit — parity is
# pinned per key type in tests/test_spark_datasource.py.
_PY_TYPES = {
    T.StringType: str,
    T.IntegerType: int,
    T.LongType: int,
    T.ShortType: int,
    T.DoubleType: float,
    T.FloatType: float,
    T.BooleanType: bool,
}
_INT_BITS = {T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 (public algorithm, xxhash.com spec) with Spark's seed 42,
    as a signed 64-bit int like Spark's Long."""
    n = len(data)
    i = 0
    if n >= 32:
        acc = [
            (seed + _XXH_P1 + _XXH_P2) & _M64,
            (seed + _XXH_P2) & _M64,
            seed & _M64,
            (seed - _XXH_P1) & _M64,
        ]
        while i <= n - 32:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (acc[j] + lane * _XXH_P2) & _M64
                acc[j] = (_rotl64(v, 31) * _XXH_P1) & _M64
            i += 32
        h = (
            _rotl64(acc[0], 1) + _rotl64(acc[1], 7)
            + _rotl64(acc[2], 12) + _rotl64(acc[3], 18)
        ) & _M64
        for v in acc:
            h ^= (_rotl64((v * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            h = ((h * _XXH_P1) + _XXH_P4) & _M64
    else:
        h = (seed + _XXH_P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        lane = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl64((lane * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
        h = ((_rotl64(h, 27) * _XXH_P1) + _XXH_P4) & _M64
        i += 8
    if i <= n - 4:
        lane = int.from_bytes(data[i : i + 4], "little")
        h ^= (lane * _XXH_P1) & _M64
        h = ((_rotl64(h, 23) * _XXH_P2) + _XXH_P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _M64
        h = (_rotl64(h, 11) * _XXH_P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def _hash_input(value, dtype: T.DataType) -> bytes:
    """The bytes Spark's xxhash64 feeds XXH64 for ``value`` of
    ``dtype``: UTF-8 for strings; 4 little-endian bytes for int, short
    and bool (Spark widens them to int); 8 for long; the IEEE bits of
    float/double, with -0.0 hashed as 0 and NaN as its canonical bits
    (Java's floatToIntBits / doubleToLongBits)."""
    if isinstance(dtype, T.StringType):
        return value.encode("utf-8")
    if isinstance(dtype, T.BooleanType):
        return (1 if value else 0).to_bytes(4, "little")
    if isinstance(dtype, (T.ShortType, T.IntegerType)):
        return value.to_bytes(4, "little", signed=True)
    if isinstance(dtype, T.LongType):
        return value.to_bytes(8, "little", signed=True)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        fmt, width = ("<f", 4) if isinstance(dtype, T.FloatType) else ("<d", 8)
        if value == 0:
            return bytes(width)
        if value != value:
            value = float("nan")  # canonical quiet NaN, like Java
        return struct.pack(fmt, value)
    raise TypeError(f"no Python twin of xxhash64 for {dtype.simpleString()} keys")


def bucket_of(value, n_buckets: int, dtype: T.DataType | None = None) -> int:
    """Python twin of ``_bucket_expr``: pmod(xxhash64(key), n) for a key
    of ``dtype`` (default: string). Python's ``%`` of a positive modulus
    is already non-negative, like pmod. A NULL key hashes to the seed,
    as in Spark, which skips null inputs."""
    if value is None:
        return 42 % n_buckets
    return _xxhash64(_hash_input(value, dtype or T.StringType())) % n_buckets


def _probe_keys(ids: list, key_field: T.StructField) -> list:
    """Probe ids as the key column holds them, gated on the driver: a
    probe id of the wrong Python type (or out of the key type's range)
    fails HERE with a clear error instead of an ANSI cast error inside
    the scan's IN filter. Float keys are rounded to float32, the value
    the column stores, so the IN filter and the hash both see it; -0.0
    is probed as 0.0, the key Spark's grouping stored it under (the
    parquet min/max statistics would otherwise skip its file)."""
    dtype = key_field.dataType
    want = _PY_TYPES.get(type(dtype))
    if want is None:
        return list(ids)
    out = []
    for i in ids:
        # bool is an int subclass — reject it for numeric keys
        if not isinstance(i, want) or (want is not bool and isinstance(i, bool)):
            raise TypeError(
                f"probe id {i!r} is {type(i).__name__}; key column "
                f"{key_field.name!r} is {dtype.simpleString()}"
            )
        bits = _INT_BITS.get(type(dtype))
        if bits is not None and not -(1 << (bits - 1)) <= i < 1 << (bits - 1):
            raise ValueError(
                f"probe id {i!r} is out of range for key column "
                f"{key_field.name!r} ({dtype.simpleString()})"
            )
        if want is float and i == 0:
            i = 0.0
        elif isinstance(dtype, T.FloatType) and i == i:
            try:
                i = struct.unpack("<f", struct.pack("<f", i))[0]
            except OverflowError:  # beyond float32: Java's cast gives ±inf
                i = float("inf") if i > 0 else float("-inf")
        out.append(i)
    return out


def _cell_fp(col):
    """Comparable fingerprint of a ``_cell_seq`` map: Spark forbids
    equality on map columns, so compare sorted entry arrays instead.
    Equal maps ⇒ identical per-cell state (every cell's setter seq is
    in the map, and a setter seq determines the value)."""
    return F.sort_array(F.map_entries(col))


def _bridge_cell_map(col, allowed: list[str], renames: dict[str, str]):
    """Bring a FROM-version ``_cell_seq`` map into the TO-version's
    cell namespace across a column-alter window: renamed columns' cells
    carry over under the NEW name, and cells of columns absent from
    the TO schema (dropped) are removed. Restriction to ``allowed`` is
    a no-op on healthy non-alter windows (write-time maps key only
    schema columns), so it is applied unconditionally in patch mode —
    without it the pruned reader's union fold would merge old-name
    cells alongside new-name cells and every row would read as
    changed."""
    m = col
    if renames:
        def _key(e):
            out = e["key"]
            for frm, to in renames.items():
                out = F.when(e["key"] == frm, F.lit(to)).otherwise(out)
            return out

        m = F.map_from_entries(
            F.transform(
                F.map_entries(m),
                lambda e: F.struct(
                    _key(e).alias("key"), e["value"].alias("value")
                ),
            )
        )
    return F.map_filter(m, lambda k, _v: k.isin(*allowed))


def _bridge_renames(bridge_sel) -> dict[str, str]:
    """FROM-name → TO-name pairs out of a _window_name_bridge select
    list (placeholders for minted-after-rename columns excluded)."""
    if not bridge_sel:
        return {}
    return {
        frm: to
        for frm, to in bridge_sel
        if frm != to and not frm.startswith("__bridge_absent_")
    }


class SnapshotSink:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 16,
        salt_partials: int = 0,
        lineage: bool = True,
        compact_threshold: int = 4,
        crash_hook=None,
        audit=None,
        patch: bool = False,
        target_file_rows: int | None = None,
        ref: str = "main",
    ) -> None:
        self.spark = spark
        self.root = root
        # which snapshot chain this handle commits to: "main" is the
        # table itself; any other name is a BRANCH (create_branch /
        # branch()) — a metadata-only fork sharing the data layout,
        # published back atomically by fast_forward(). Constructed via
        # sink.branch(name), not directly.
        if not re.fullmatch(r"[A-Za-z0-9_\-]{1,64}", ref):
            raise ValueError(f"invalid ref name {ref!r}")
        self.ref = ref
        self.n_buckets = n_buckets
        self.salt_partials = salt_partials
        self.lineage = lineage
        # per-cell LWW mode (operators.patch): change events may be
        # partial updates (op 'P' + a patch_cols mask); every fold in
        # the protocol — merge, compaction, rewrite, read — swaps to
        # cell_lww_dedup, which is associative/commutative like row
        # LWW, so the commit/crash/pipelining machinery is unchanged.
        # The choice is per-TABLE and recorded in every snapshot; a
        # reopen with the other mode is refused at apply time.
        self.patch = patch
        self._fold = cell_lww_dedup if patch else lww_dedup
        # write-audit-publish gate (operators.audit): called with the
        # STAGED batch output + metrics after the merge job writes and
        # before anything publishes; raising aborts the batch with the
        # table untouched
        self.audit = audit
        # merge-on-read dial: a bucket holding this many delta files is
        # folded to one on its next touch; 1 = classic copy-on-write
        self.compact_threshold = max(1, compact_threshold)
        # Iceberg's write.target-file-size analogue, in rows: every
        # data write caps files at this many records, so a compacted
        # bucket of a 100 TB table splits into operator-sized files
        # instead of one 25 GB monolith — and because rewrites are
        # key-sorted, the split files cover DISJOINT key ranges, which
        # the per-file stats then prune to ONE file per point probe.
        # None = Spark's default (no cap).
        self.target_file_rows = target_file_rows
        # test-only fault injection: called at named protocol points
        self.crash_hook = crash_hook or (lambda point: None)
        # pipelined replay (replay_incremental inflight>1): concurrent
        # batch JOBS are safe because merge-on-read appends are
        # independent and the LWW fold is order-insensitive; only the
        # snapshot COMMIT is a critical section (re-read head, merge
        # entries, swap pointer). _compacting prevents two in-flight
        # batches folding the same bucket concurrently.
        self._commit_lock = threading.Lock()
        self._compacting: set[int] = set()
        # rebucket() quiesce flag: while a rebucket is rewriting the
        # bucket space, new batches/rewrites through THIS object are
        # rejected at entry (their bucket numbers would be stale by
        # commit time). Cross-object writers are caught by the
        # n_buckets head-check inside their commit critical sections.
        self._rebucketing = False
        # batch ids with published-but-uncommitted files (data dirs and
        # manifests land BEFORE the pointer swap): vacuum() must not
        # treat them as orphans while the batch is in flight
        self._inflight: set[str] = set()
        for d in ("_snapshots", "_manifests", "_metrics", "data"):
            os.makedirs(os.path.join(root, d), exist_ok=True)
        snap = self.current_snapshot()
        if snap is not None and snap["n_buckets"] != n_buckets:
            raise ValueError(
                f"table bucketed with {snap['n_buckets']}, got n_buckets={n_buckets}"
            )

    @functools.cached_property
    def _sql_conf(self):
        """The session's live SQLConf: a setting read through it is one
        py4j call, where ``spark._jconf`` re-fetches the object (three)."""
        return self.spark._jsparkSession.sessionState().conf()

    @classmethod
    def open(cls, spark, root: str, **kwargs) -> "SnapshotSink":
        """Open an EXISTING table, reading the per-table layout facts
        its head snapshot records (bucket count, patch mode) instead of
        making every caller restate them — restating them wrong is
        refused anyway (n_buckets head-check / patch-mode apply check),
        so open() is the reopen path that cannot drift. ``spark`` may
        be ``None`` for metadata-only use (the Data Source write commit
        runs in a JVM-less worker and only touches the file protocol).
        Other constructor knobs (audit, compact_threshold, …) pass
        through ``kwargs``."""
        head = table_meta.current_snapshot(root)
        if head is None:
            raise ValueError(
                f"no table at {root} (no snapshot) — open() is for "
                "existing tables; construct SnapshotSink directly to "
                "create one"
            )
        for k in ("n_buckets", "patch"):
            if k in kwargs:
                raise ValueError(
                    f"{k} is recorded in the table's snapshot; open() "
                    "reads it — drop the argument"
                )
        return cls(
            spark,
            root,
            n_buckets=head["n_buckets"],
            patch=bool(head.get("patch", False)),
            **kwargs,
        )

    # ------------------------------------------------------------- snapshots
    def _is_main(self) -> bool:
        return self.ref == "main"

    def _require_main(self, op: str) -> None:
        if not self._is_main():
            raise RuntimeError(
                f"{op} is a table-level operation; this handle writes "
                f"branch {self.ref!r} — run it on the main ref"
            )

    def _phys_batch_id(self, batch_id: str) -> str:
        """Physical namespace for a batch id: data dirs and manifests
        of a BRANCH commit are prefixed so the same logical batch
        applied to two refs never collides on disk (fast_forward
        strips the prefix from the published committed set, so a WAL
        replay onto main after publish still dedupes)."""
        return (
            batch_id if self._is_main() else f"b.{self.ref}.{batch_id}"
        )

    def current_snapshot(self) -> dict | None:
        return table_meta.current_snapshot(self.root, self.ref)

    def _write_snapshot(self, snap: dict) -> None:
        table_meta.write_json(
            table_meta.snapshot_path(self.root, snap["version"], self.ref), snap
        )
        self.crash_hook("before_pointer_swap")
        table_meta.set_head(self.root, snap["version"], self.ref)  # THE commit point

    def _commit_next(
        self, head: dict | None, metrics: dict, t0: float | None = None,
        **changes,
    ) -> dict:
        """Build and publish the snapshot after ``head`` — the ONLY
        code that writes one, so the snapshot format lives here: every
        field carries forward from the head (or starts at the empty
        table's defaults) unless the commit names it in ``changes``.
        Stamps ``metrics.commit_ts`` (what ``commit_time`` reads) and,
        given the operation's start ``t0``, ``metrics.wall_s`` — into
        the caller's dict, which ingest also returns and logs. The
        batch's ``lineage`` (input file lists) stays out of the
        snapshot. Spark-free: the Data Source writer commits from a
        JVM-less worker. Caller holds the commit and table locks."""
        if head is None:
            snap = {
                "n_buckets": self.n_buckets,
                "schema_version": 0,
                "buckets": {},
                "committed_batches": [],
                "tombstone_floor": 0,
                "snapshot_floor": 1,
                "rollback_epoch": 0,
                "patch": self.patch,
                # table-level write contract (set_table_audit) — a
                # per-table property every commit carries forward
                "audit": None,
            }
        else:
            snap = dict(head)
        if t0 is not None:
            metrics["wall_s"] = round(time.time() - t0, 4)
        metrics["commit_ts"] = time.time()
        snap.update(
            version=1 if head is None else head["version"] + 1,
            parent=None if head is None else head["version"],
            metrics={k: v for k, v in metrics.items() if k != "lineage"},
            **changes,
        )
        self._write_snapshot(snap)
        return snap

    def _is_committed_in(self, snap: dict | None, phys_id: str) -> bool:
        """True when the batch is already reflected in ``snap`` — under
        its physical id, or (on a branch handle) under the bare logical
        id a pre-fork MAIN commit recorded: a staged replay resuming
        over history main already ingested must skip those chunks, not
        re-apply them onto the branch."""
        if snap is None:
            return False
        cb = snap["committed_batches"]
        if phys_id in cb:
            return True
        if not self._is_main():
            pref = f"b.{self.ref}."
            if phys_id.startswith(pref) and phys_id[len(pref):] in cb:
                return True
        return False

    def committed(self, batch_id: str) -> bool:
        return self._is_committed_in(
            self.current_snapshot(), self._phys_batch_id(str(batch_id))
        )

    # ------------------------------------------------------------- refs
    def tags(self) -> dict[str, int]:
        """Named refs (Iceberg tags): name → committed snapshot version.
        A tagged version's data files are RETAINED by ``vacuum()`` even
        once superseded — the retention mechanism that makes audit
        pins / reproducible-training snapshots ("the corpus as of the
        v3 run") survive routine maintenance."""
        return table_meta.load_tags(self.root)

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to a committed snapshot (default: CURRENT).
        Re-tagging the same version is an idempotent no-op; moving an
        existing tag is refused (drop it first) — silent moves are how
        audit pins get lost. A name that reads as a version number (a
        digit string) is refused too: ``resolve_ref`` would never reach
        the tag."""
        self._require_main("tag")
        table_meta.check_tag_name(name)
        with self._commit_lock, table_meta.table_lock(self.root):
            snap = self.current_snapshot()
            if snap is None:
                raise ValueError("no snapshot yet — nothing to tag")
            v = snap["version"] if version is None else int(version)
            self.snapshot(v)  # must exist (raises otherwise)
            tags = self.tags()
            if name in tags and tags[name] != v:
                raise ValueError(
                    f"tag {name!r} already pins v{tags[name]}; "
                    "drop_tag() it before re-pointing"
                )
            tags[name] = v
            table_meta.write_tags(self.root, tags)
        return v

    def move_tag(self, name: str, version: int | None = None) -> int:
        """Atomically re-point ``name`` (creating it if absent) — the
        explicit-move API for cursor-style tags (e.g. a replication
        cursor). One tags-file write, so no crash window where the pin
        is absent (a drop_tag + tag sequence would have one)."""
        self._require_main("move_tag")
        table_meta.check_tag_name(name)
        with self._commit_lock, table_meta.table_lock(self.root):
            snap = self.current_snapshot()
            if snap is None:
                raise ValueError("no snapshot yet — nothing to tag")
            v = snap["version"] if version is None else int(version)
            self.snapshot(v)  # must exist (raises otherwise)
            tags = self.tags()
            tags[name] = v
            table_meta.write_tags(self.root, tags)
        return v

    def drop_tag(self, name: str) -> int:
        self._require_main("drop_tag")
        with self._commit_lock, table_meta.table_lock(self.root):
            tags = self.tags()
            if name not in tags:
                raise KeyError(f"no tag {name!r}")
            v = tags.pop(name)
            table_meta.write_tags(self.root, tags)
        return v

    # ------------------------------------------------------------ branches
    def branches(self) -> dict[str, dict]:
        """Live branches: name → {"base": fork version, "head": head
        version}. Works from any handle (read-only)."""
        return table_meta.branches(self.root)

    def create_branch(self, name: str, at: int | str | None = None) -> dict:
        """Fork a BRANCH at a committed snapshot (default: head) —
        Iceberg's branch refs, the multi-commit write-audit-publish
        shape: stage any number of ordinary exactly-once batches on
        the branch (``sink.branch(name).apply_batch(...)``), audit /
        read / verify the branch head in isolation, then publish the
        whole run atomically with ``fast_forward(name)`` — or walk
        away with ``delete_branch(name)`` and the table never saw it.

        Metadata-only at any scale: the fork is one small JSON pointer;
        branch commits append ordinary delta files into the shared
        ``data/`` layout (namespaced per ref) and snapshot JSONs under
        the branch's own name — zero data copies at 10^10 rows. On a
        catalog deployment this maps to Iceberg's branch refs + commits
        against the branch; fast_forward is the catalog's
        fastForwardBranch CAS."""
        self._require_main("create_branch")
        if not re.fullmatch(r"[A-Za-z0-9_\-]{1,64}", name) or name == "main":
            raise ValueError(f"invalid branch name {name!r}")
        with self._commit_lock, table_meta.table_lock(self.root):
            head = self.current_snapshot()
            if head is None:
                raise ValueError("no snapshot yet — nothing to branch from")
            if table_meta.branch(self.root, name) is not None:
                raise ValueError(f"branch {name!r} already exists")
            base = head["version"] if at is None else self.resolve_ref(at)
            # the base snapshot must be readable (floor + file checks
            # mirror tag(): a branch from an expired version would
            # fork from nothing)
            self.snapshot(base)
            # clear husks of a dead same-named incarnation (crashed
            # cleanup) — they would shadow main's files in snapshot()
            table_meta.drop_snapshots(self.root, name)
            table_meta.write_json(
                table_meta.branch_path(self.root, name),
                {"head": table_meta.snapshot_name(base), "base": base},
            )
        return {"branch": name, "base": base}

    def branch(self, name: str) -> "SnapshotSink":
        """A writer handle for an existing branch: a full SnapshotSink
        whose commits land on the branch chain. Reads (read_state,
        lookup, read_changes, meta tables) and writes (apply_batch and
        everything built on it — merge_into, update_where — plus
        compact) all work; table-LEVEL operations (vacuum, rollback,
        rebucket, snapshot/tombstone GC, purge, column DDL, tags,
        audit contract) are refused — run those on main."""
        self._require_main("branch")
        if table_meta.branch(self.root, name) is None:
            raise ValueError(
                f"no branch {name!r} (known: {sorted(self.branches())})"
            )
        return SnapshotSink(
            self.spark,
            self.root,
            n_buckets=self.n_buckets,
            patch=self.patch,
            salt_partials=self.salt_partials,
            lineage=self.lineage,
            compact_threshold=self.compact_threshold,
            audit=self.audit,
            target_file_rows=self.target_file_rows,
            ref=name,
        )

    def delete_branch(self, name: str) -> dict:
        """Drop a branch: the pointer and the branch's own snapshot
        JSONs go now; its data files become unreferenced and the next
        age-gated ``vacuum`` reclaims them."""
        self._require_main("delete_branch")
        with self._commit_lock, table_meta.table_lock(self.root):
            if table_meta.branch(self.root, name) is None:
                raise ValueError(f"no branch {name!r}")
            dropped = table_meta.drop_branch(self.root, name)
        return {"branch": name, "snapshots_dropped": dropped}

    def fast_forward(self, name: str) -> dict:
        """Publish a branch: if main has NOT moved since the fork, the
        branch's snapshots become main's — an atomic pointer swap after
        O(branch commits) metadata copies, zero data movement. Each
        copied snapshot keeps its full self-contained state (buckets,
        schema, committed set), so time travel and changelog windows
        across the published span work exactly as if the batches had
        been committed on main — derived views, replicas, and the
        changelog Data Source resume seamlessly over it. Branch batch
        ids are un-namespaced on the way in, so a WAL replay onto main
        after publish dedupes against them.

        If main HAS moved the publish is refused (this is git's
        fast-forward rule): re-apply the branch's batches onto main —
        exactly-once makes re-application safe — or delete the branch.
        Crash-safe: snapshot copies land before the pointer swap; a
        crash leaves inert above-head JSONs that a re-run overwrites."""
        self._require_main("fast_forward")
        with self._commit_lock, table_meta.table_lock(self.root):
            br = table_meta.branch(self.root, name)
            if br is None:
                raise ValueError(f"no branch {name!r}")
            head = self.current_snapshot()
            if head is None:
                raise ValueError("no snapshot yet")
            base, b_head = br["base"], br["head"]
            if b_head == base:
                table_meta.drop_branch(self.root, name)
                return {"branch": name, "fast_forwarded": 0,
                        "version": head["version"]}
            prefix = f"b.{name}."

            def published(v: int) -> dict:
                # branch snapshot v as main holds it: batch ids un-namespaced
                s = table_meta.read_snapshot(self.root, v, name)
                s["committed_batches"] = [
                    b[len(prefix):] if b.startswith(prefix) else b
                    for b in s["committed_batches"]
                ]
                return s

            if head["version"] != base:
                # already published? (a prior fast_forward crashed
                # between the pointer swap and the branch cleanup).
                # Exact content compare of the BRANCH head against
                # main's same-numbered snapshot — not a batch-id
                # heuristic, which misses batch-less (compact-only)
                # branches and could false-positive on replays
                b_snap = published(b_head)
                m_snap = table_meta.read_json(
                    table_meta.snapshot_path(self.root, b_head)
                )
                if (
                    head["version"] >= b_head
                    and m_snap is not None
                    and m_snap["buckets"] == b_snap["buckets"]
                    and m_snap["committed_batches"]
                    == b_snap["committed_batches"]
                ):
                    # finish the crashed cleanup
                    table_meta.drop_branch(self.root, name)
                    return {"branch": name, "fast_forwarded": 0,
                            "already_published": True,
                            "version": head["version"]}
                raise RuntimeError(
                    f"cannot fast-forward {name!r}: main moved "
                    f"(v{base} -> v{head['version']}) since the fork — "
                    "re-apply the branch's batches to main (exactly-once "
                    "dedupes any overlap) or delete_branch()"
                )
            for v in range(base + 1, b_head + 1):
                table_meta.write_json(
                    table_meta.snapshot_path(self.root, v), published(v)
                )
            self.crash_hook("before_pointer_swap")
            table_meta.set_head(self.root, b_head)  # THE publish point
            # consume the branch (best-effort; inert leftovers if we
            # crash here — a re-run's already-published check and
            # create_branch's husk sweep both finish the cleanup)
            table_meta.drop_branch(self.root, name)
        return {
            "branch": name,
            "fast_forwarded": b_head - base,
            "version": b_head,
        }

    def resolve_ref(self, ref: int | str) -> int:
        """A version number (an int or a digit string) passes through;
        any other string resolves via the tag table. Every time-travel
        entry point (``read_state``, ``lookup``, ``read_changes*``)
        accepts either."""
        return table_meta.resolve_ref(self.root, ref)

    def commit_time(self, v: int) -> float:
        """A committed version's wall-clock time: the recorded
        ``metrics.commit_ts`` (every commit stamps it, see
        _commit_next). Shared by ``as_of_version`` and the metadata
        tables (sinks/meta.py). A snapshot without it raises."""
        ct = self.snapshot(v).get("metrics", {}).get("commit_ts")
        if ct is None:
            raise ValueError(f"snapshot v{v} records no commit_ts")
        return float(ct)

    def as_of_version(self, ts: float | str) -> int:
        """Timestamp time travel (Iceberg's ``as-of-timestamp``): the
        LATEST committed version whose commit time <= ``ts``. Pass the
        result to any time-travel entry point (``read_state``,
        ``lookup``, ``read_changes*``, ``scan_where``).

        ``ts``: epoch seconds, or an ISO-8601 string (a naive string is
        taken as UTC — commit times are wall-clock UTC epochs).

        O(log versions) binary search over the contiguous version
        range, reading one snapshot JSON per probe — never a directory
        scan (a 10^10-event replay has millions of snapshots). Commit
        timestamps are assumed non-decreasing across versions (same
        assumption Iceberg's history table makes); a clock regression
        between commits can off-by-one the boundary within the skewed
        interval, never outside it. Each version's time is its recorded
        ``metrics.commit_ts`` (``commit_time``).

        Raises if ``ts`` predates the oldest readable version —
        including when the true answer was retired by
        ``expire_snapshots`` (the floor is named)."""
        if isinstance(ts, str):
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            ts = dt.timestamp()
        head = self.current_snapshot()
        if head is None:
            raise ValueError("no snapshot yet")
        floor = head.get("snapshot_floor", 1)

        ctime = self.commit_time
        lo, hi = floor, head["version"]
        if ts < ctime(lo):
            raise ValueError(
                f"no committed version at or before ts={ts}: the oldest "
                f"readable snapshot is v{lo} "
                f"(snapshot_floor={floor}; earlier history may have been "
                "retired by expire_snapshots)"
            )
        while lo < hi:  # invariant: ctime(lo) <= ts
            mid = (lo + hi + 1) // 2
            if ctime(mid) <= ts:
                lo = mid
            else:
                hi = mid - 1
        return lo

    def rollback_to(self, version: int | str) -> dict:
        """Reset the table to an earlier committed snapshot — Iceberg's
        ``rollback_to_snapshot``. Published as a NEW commit (the version
        counter stays monotone; history is preserved for time travel),
        whose buckets / schema / bucket count / committed-batch set are
        copied from the target snapshot.

        Semantics that matter for CDC exactly-once:

        - batches committed AFTER the target are **de-committed**: a
          replayer resuming against the rolled-back table re-applies
          them (that is the point of rolling back — undo, then replay a
          corrected log). Their commit MANIFESTS are deleted *before*
          the pointer swap: a crashed-or-rolled-back attempt's manifest
          can reference a compacted file that folded OTHER de-committed
          batches' rows, and reusing it on re-apply would silently
          resurrect exactly the rows the rollback removed (regression-
          tested). Deleting first is crash-safe — if we die before the
          swap, those batches are still committed and manifests of
          committed batches are never consulted.
        - ``tombstone_floor`` keeps the HEAD's value (monotone): the
          retention promise "no event below the floor can still arrive"
          is about the source, and does not un-happen on rollback.
        - rolling back across a ``rebucket()`` restores the old bucket
          count; cross-object writers straddling the rollback are
          refused by the existing n_buckets head-check at their commit.
        - refused if ``vacuum()`` already reaped any of the target's
          data files (tag a version to protect it), or if this sink has
          in-flight work (quiesce first, like rebucket)."""
        self._require_main("rollback_to")
        t0 = time.time()
        target_v = self.resolve_ref(version)
        target = self.snapshot(target_v)

        def _missing() -> list[str]:
            return [
                e["path"]
                for entries in target["buckets"].values()
                for e in entries
                if not os.path.isdir(os.path.join(self.root, e["path"]))
            ]

        missing = _missing()  # fast-fail before taking the locks
        if missing:
            raise ValueError(
                f"cannot roll back to v{target_v}: {len(missing)} data "
                f"dir(s) already vacuumed (first: {missing[0]}); tag "
                "versions you may need to restore"
            )
        with self._commit_lock, table_meta.table_lock(self.root):
            # quiesce check INSIDE the commit critical section — a
            # separate check-then-lock had a window where apply_batch
            # could register in-flight between the two acquisitions
            if self._inflight or self._compacting or self._rebucketing:
                raise RuntimeError(
                    "rollback needs a quiesced sink: in-flight batches/"
                    f"rewrites present ({sorted(self._inflight)})"
                )
            head = self.current_snapshot()
            if head["version"] == target_v and head.get("buckets") == target["buckets"]:
                return {"rolled_back": False, "version": target_v}
            # re-verify UNDER the locks (vacuum takes the same locks):
            # a vacuum between the fast-fail check and here could have
            # reaped the target's files — publishing would point
            # CURRENT at deleted dirs (review-found TOCTOU)
            missing = _missing()
            if missing:
                raise ValueError(
                    f"cannot roll back to v{target_v}: {len(missing)} "
                    f"data dir(s) vacuumed since the pre-check "
                    f"(first: {missing[0]})"
                )
            target_committed = set(target["committed_batches"])
            decommitted = [
                b for b in head["committed_batches"] if b not in target_committed
            ]
            for bid in decommitted:
                shutil.rmtree(
                    os.path.join(self.root, "_manifests", bid), ignore_errors=True
                )
            # the data layout comes from the target; everything else
            # (patch mode, write contract, snapshot floor) carries
            # forward from the head — the rollback restores DATA, not
            # per-table properties or governance
            new_snap = self._commit_next(
                head,
                {"rollback_to": target_v, "decommitted_batches": decommitted},
                t0,
                n_buckets=target["n_buckets"],
                schema=target["schema"],
                schema_version=target.get("schema_version", 0),
                buckets=target["buckets"],
                committed_batches=list(target["committed_batches"]),
                tombstone_floor=max(
                    head.get("tombstone_floor", 0),
                    target.get("tombstone_floor", 0),
                ),
                # monotone: any writer/rewrite that PLANNED against a
                # pre-rollback head is refused at its commit (and its
                # crash manifests at replay) by an epoch mismatch —
                # cross-object/process writers are invisible to the
                # quiesce check above, and their compacted folds could
                # otherwise re-publish de-committed rows
                rollback_epoch=head.get("rollback_epoch", 0) + 1,
            )
            self.n_buckets = target["n_buckets"]
        return {
            "rolled_back": True,
            "version": new_snap["version"],
            "restored": target_v,
            "decommitted_batches": decommitted,
        }

    # ------------------------------------------------------------- manifests
    def _manifest_path(self, batch_id: str, bucket: int) -> str:
        return os.path.join(self.root, "_manifests", str(batch_id), f"{bucket:05d}.json")

    def manifest_contains(self, batch_id: str, bucket: int) -> bool:
        return os.path.exists(self._manifest_path(batch_id, bucket))

    def _branch_heads(self) -> list[dict]:
        """Head snapshots of every live branch — data they reference
        must survive main-side GC exactly like tagged versions."""
        heads = []
        for name in self.branches():
            try:
                head = table_meta.current_snapshot(self.root, name)
            except RuntimeError:
                continue  # deleted concurrently
            if head is not None:
                heads.append(head)
        return heads

    def _referenced_paths(self, snap: dict | None) -> set[str]:
        """Every data path referenced by the head snapshot, any tagged
        snapshot, or any branch head — the set that must never be
        destroyed or relinked as if it were a fresh attempt's output."""
        retained = (
            ([] if snap is None else [snap])
            + [self.snapshot(v) for v in self.tags().values()]
            + self._branch_heads()
        )
        return {
            e["path"]
            for s in retained
            for ents in s["buckets"].values()
            for e in ents
        }

    def _manifested_buckets(self, batch_id: str, snap: dict | None = None) -> set[int]:
        d = os.path.join(self.root, "_manifests", str(batch_id))
        if not os.path.isdir(d):
            return set()
        rollback_epoch = 0 if snap is None else snap.get("rollback_epoch", 0)
        referenced = None
        found = {
            int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json")
        }
        # a manifest is only reusable for CRASH-REPLAY — an attempt that
        # published files but never committed. Conditions: (1) its data
        # directory still exists: vacuum() after a crash removes
        # uncommitted bucket dirs, and trusting the stale manifest would
        # commit pointers to deleted paths — silent data loss (ADVICE
        # round 1); (2) it was written in the CURRENT bucket space: a
        # crashed attempt straddling a rebucket() left files numbered in
        # the dead space; (3) the CURRENT rollback epoch (a pre-rollback
        # fold may embed de-committed rows); and (4) the data dir is NOT
        # referenced by the head or any tagged snapshot — a referenced
        # dir means this batch COMMITTED long ago and was trimmed from
        # the dedup window: its manifest describes a stale fold whose
        # `folded` list would delist CURRENT entries at the same
        # deterministic paths (review-reproduced state regression).
        # Re-delivery of a trimmed batch must REPLAN; LWW makes the
        # re-application idempotent.
        reusable = set()
        for b in found:
            with open(self._manifest_path(batch_id, b)) as fh:
                m = json.load(fh)
            rel = m.get(
                "path",
                os.path.join("data", f"ingest={batch_id}", f"bucket={b}"),
            )
            if not os.path.isdir(os.path.join(self.root, rel)):
                continue
            if (
                m.get("n_buckets") != self.n_buckets
                or m.get("rollback_epoch", 0) != rollback_epoch
            ):
                continue
            if referenced is None:
                # reads every tagged snapshot and lists _snapshots/:
                # paid by a crash-replay only, once
                referenced = self._referenced_paths(snap)
            if rel not in referenced:
                reusable.add(b)
        return reusable

    def _file_options(self, writer):
        """The sink's per-file parquet options for Spark's data writes
        (ingest staging, compaction/cluster rewrite, rebucket):
        compression and the target-file-size row cap. The driver's
        Arrow write (``_stage_buckets``) applies the same two, so a
        layout knob can never apply to some write paths and not
        others."""
        return writer.option("compression", _COMPRESSION).option(
            # 0 = Spark default (no cap); see target_file_rows
            "maxRecordsPerFile",
            self.target_file_rows or 0,
        )

    def _write_manifest(self, batch_id: str, bucket: int, body: dict) -> None:
        path = self._manifest_path(batch_id, bucket)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        table_meta.write_json(path, body)

    # ------------------------------------------------------------- reads
    def _read_buckets(
        self,
        snap: dict,
        buckets: list[int],
        target: T.StructType | None = None,
        range_pred=None,
    ) -> DataFrame | None:
        """Union of every delta file of the given buckets (raw — may
        hold multiple versions per key; callers LWW-reduce), aligned to
        ``target`` (default: snapshot schema). Deltas written under
        older schema versions are read with their stored schema and
        widened declaratively (casts fold into the scan).

        ``range_pred(key_range) -> bool``: stats-based scan planning —
        applied to each entry's recorded KEY [min, max] and, when the
        entry carries per-file ranges (a sorted rewrite split into
        target-sized files), to each file's range, selecting individual
        files out of the entry dir. Anything skipped contributes NO
        rows to the result, so the predicate must only reject ranges
        PROVABLY irrelevant to the caller and must return True for a
        missing range (``None`` — legacy entries / stats-less footers);
        LWW folding the surviving rows stays exact because a skipped
        file holds no version of any surviving key."""
        target = target or parse_schema(snap["schema"])
        by_schema: dict[str, list[str]] = {}
        for b in buckets:
            for ent in snap["buckets"].get(str(b), []):
                if range_pred is not None and not range_pred(
                    ent.get("key_range")
                ):
                    continue
                file_ranges = ent.get("file_ranges")
                if range_pred is not None and file_ranges:
                    paths = [
                        os.path.join(self.root, ent["path"], name)
                        for name, rng in sorted(file_ranges.items())
                        if range_pred(rng)
                    ]
                    if not paths:
                        continue
                else:
                    paths = [os.path.join(self.root, ent["path"])]
                by_schema.setdefault(ent["schema"], []).extend(paths)
        parts = []
        for ddl, paths in by_schema.items():
            df = self.spark.read.schema(parse_schema(ddl)).parquet(*paths)
            parts.append(align_to_schema(df, target))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def snapshot(self, version: int | str) -> dict:
        """Load a specific committed snapshot for time travel — by
        version number or tag name. Raises if it was never written;
        vacuum() trades old snapshots' DATA for space (TAGGED versions
        excepted), so a time-travel read after vacuum may reference
        removed files; ``expire_snapshots`` additionally retires the
        JSON metadata below a recorded floor (tagged versions kept) —
        reads below it fail here with the floor named."""
        return table_meta.load_snapshot(self.root, self.resolve_ref(version), self.ref)

    def _projection_target(
        self, snap: dict, columns: list[str] | None, extra: set[str] = frozenset()
    ) -> T.StructType:
        """Projection pushed BELOW the merge-on-read fold: the narrowed
        read schema for a caller that wants only some payload columns.

        Sound for both folds because each treats payload columns
        independently — row-LWW packs whatever columns are present into
        the per-key max-struct, and the per-cell fold runs one
        ``max_by`` per present column off its own ``_cell_seq`` entry —
        so folding a column subset yields exactly the full fold's values
        for those columns. What can never be pruned: the key, the
        sequence, the ``deleted`` existence marker (live-row filter),
        and in patch mode the ``_cell_seq`` map. At 10^10 rows this is
        the difference between scanning 2 columns and scanning 50 —
        the narrowed target reaches the parquet scan's ReadSchema via
        ``align_to_schema``'s select (plan-tested).

        ``extra``: internal-use columns that must survive the fold but
        are NOT part of the caller's requested output (e.g. scan_where
        predicate columns)."""
        full = parse_schema(snap["schema"])
        if columns is None:
            return full
        names = {f.name for f in full.fields}
        internal = set(_INTERNAL) | {KEY}
        bad = [c for c in columns if c not in names or c in internal - {KEY}]
        if bad:
            payload = sorted(names - internal)
            raise ValueError(
                f"no such payload column(s) {bad!r}; available: {payload}"
            )
        keep = set(columns) | extra | {KEY, SEQ, "deleted"}
        if any(f.name == CELL for f in full.fields):
            keep.add(CELL)
        return T.StructType([f for f in full.fields if f.name in keep])

    def read_state(
        self,
        buckets: list[int] | None = None,
        version: int | str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """State at CURRENT (default) or a time-travel ``version``, one
        row per key (payload + op_sequence + deleted tombstones):
        LWW-merges any un-compacted deltas at read time — the
        merge-on-read contract.

        ``columns``: optional payload-column projection, pushed below
        the fold into the parquet scan (see _projection_target)."""
        snap = self.current_snapshot() if version is None else self.snapshot(version)
        if snap is None:
            raise ValueError("no snapshot yet")
        target = self._projection_target(snap, columns)
        # the SNAPSHOT's bucket count, not the sink's: a time-travel
        # read of a pre-rebucket version must iterate that version's
        # bucket space
        buckets = buckets if buckets is not None else list(range(snap["n_buckets"]))
        df = self._read_buckets(snap, buckets, target=target)
        if df is None:
            return self.spark.createDataFrame([], target)
        return self._fold(df, KEY, SEQ)

    def _window_name_bridge(
        self, from_version: int, to_version: int, target: T.StructType
    ):
        """Rename-awareness for the changelog readers: a
        ``rename_column`` inside the window means the FROM-version
        state stores the column under its OLD name, and a naive
        align-to-TO-schema would read it as NULL — silently corrupting
        every pre-image. Walk the window's recorded rename maps
        (composing chains), and return ``(read_target,
        forward_renames)``: read the old state with ``read_target``
        (TO fields mapped back to their FROM-version names), then apply
        the forward renames so both sides carry TO names with the old
        VALUES intact."""
        # fast path: rename_column always bumps schema_version, so equal
        # endpoint versions prove no rename in the window — skip the
        # O(window) metrics walk entirely (the common case)
        sv_old = self.snapshot(from_version).get("schema_version", 0)
        sv_new = self.snapshot(to_version).get("schema_version", 0)
        if sv_old == sv_new:
            return target, None
        cur_to_from: dict[str, str] = {}
        for v in range(from_version + 1, to_version + 1):
            rm = self.snapshot(v).get("metrics", {}).get("rename_map")
            if rm:
                cur_to_from[rm["new"]] = cur_to_from.pop(rm["old"], rm["old"])
        if not cur_to_from:
            return target, None
        # collision-safe mapping (review-found): a window can RE-USE a
        # name (rename a->b then a batch re-adds 'a', or a swap via a
        # temp name). Mapped TO fields claim their FROM names first; an
        # unmapped TO field whose name is claimed had NO value at the
        # FROM version (it was minted after the rename freed the name)
        # and reads as a typed NULL via a placeholder absent from every
        # old file. The forward step is ONE positional select (atomic
        # renames), never sequential withColumnRenamed — which renames
        # every matching attribute and corrupts swaps.
        claimed = {frm for frm in cur_to_from.values()}
        fields, sel = [], []
        for i, f in enumerate(target.fields):
            if f.name in cur_to_from:
                frm = cur_to_from[f.name]
            elif f.name in claimed:
                frm = f"__bridge_absent_{i}"
            else:
                frm = f.name
            fields.append(T.StructField(frm, f.dataType, f.nullable))
            sel.append((frm, f.name))
        return T.StructType(fields), sel

    def read_changes(
        self,
        from_version: int,
        to_version: int,
        include_cells: bool = False,
        include_old: bool = False,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Row-level changelog between two committed snapshots — the
        incremental read a downstream consumer tails instead of
        re-scanning the table: one row per doc whose LIVE state differs,
        tagged ``change_type`` I (absent/deleted → live), U (live →
        live with changed state), or D (live → deleted/absent).

        Cost: O(the window's delta files + the old state of the buckets
        they touch), never O(table) — the diff is computed from the
        DELTA FILES committed in the window, and a bucket with no new
        file in it is pruned entirely, which is what makes tailing a
        10^10-row table's changelog feasible. Planning is driver-side
        JSON: the two endpoint snapshots plus a walk of the window's
        commit metadata (O(window) JSON reads, the same walk the
        replicator does). A key untouched by every fresh file cannot
        have changed (state mutates only via committed delta/rewrite
        files); a compaction or tombstone-GC that landed in the window
        re-surfaces OLD rows in the fresh files, but those carry an
        unchanged ``op_sequence`` and are dropped by the strict ``seq >
        old_seq`` predicate — correct, at the cost of scanning the
        rewritten bucket. A ``rebucket`` in the window renumbers the
        bucket space, so the old side reads every old bucket.

        Three commit kinds break the fresh-files argument; a window
        holding one (or running backwards, ``to_version <
        from_version``) is diffed over the buckets whose entries changed
        in EITHER direction: their whole TO state, full-outer joined on
        the key to their FROM state, so the cost is O(the changed
        buckets' state):

        - ``purge_keys`` REMOVES live keys without writing any fresh
          row for them: the purged keys surface as ``D`` rows with NULL
          new-side payload and op_sequence (a purge removes the row at
          its existing clock, there is no forward event);
        - ``rollback_to`` regresses state to LOWER op_sequences
          (``read_changes_pruned`` refuses such windows);
        - a ``tombstone_floor`` advance (``expire_tombstones``): a
          delete whose tombstone was written AND folded away inside the
          window leaves no fresh row behind.

        Where the fresh files suffice, a window of a row-LWW table is
        answered on the driver, with no Spark job, by the Arrow diff
        the ``beehive_changes`` source runs (``sources/arrow_fold.py``)
        when it also: asks no pre-images (``include_old=False``); holds
        none of the windows the changelog stream refuses (the
        ``STREAM`` column of ``table_meta.WINDOW_POLICY``: a rebucket,
        as the diff is per bucket; a backfill or a column alter, whose
        renamed FROM-state columns the Arrow diff does not bridge); and
        its added files fit, by their Arrow size from the footers
        (``decoded_bytes``),
        under ``spark.sql.execution.arrow.localRelationThreshold``, the
        size Spark hands over as a local relation. Other windows run
        the Spark diff above: patch tables need the cell fold, and
        the rest would otherwise bring the rows onto the driver.

        Change detection: row-LWW compares op_sequence (state changed ⇔
        row seq advanced). Per-cell mode ALSO compares the _cell_seq
        fingerprints — a late out-of-order patch (seq below the row's
        current max) changes state WITHOUT advancing the row seq
        (review-found: the seq-only predicate silently dropped those
        rows from every replica). In per-cell mode a fresh PATCH delta
        alone is not the new row image, so the touched buckets' old
        state is folded in to emit FULL images.
        ``include_cells=True`` (patch tables only) keeps the internal
        _cell_seq column on emitted rows for cell-exact replication
        into another patch table. ``include_old=True`` adds the
        pre-image payload as ``_old_<col>`` columns (NULL for inserts)
        — what incremental aggregate maintenance (``sinks.aggregates``)
        subtracts; both sides are aligned to the TO-version schema so
        evolved columns compare. Like time travel, reads of
        ``from_version`` state may fail if ``vacuum()`` already reaped
        that version's files — refresh consumers inside the vacuum
        horizon.

        ``columns``: payload projection pushed into every scan (see
        _projection_target) — what the derived views pass so a
        per-batch refresh reads only the columns it maintains.
        Row-LWW tables emit the SAME ROWS as an unprojected read
        (detection is op_sequence-based, and the seq always rides) with
        narrower columns. On per-cell PATCH tables projection also
        SCOPES DETECTION: the narrowed fold rebuilds the cell map from
        the projected columns only, so emitted rows are those whose row
        clock advanced, liveness flipped, or a PROJECTED cell changed —
        a late out-of-order patch confined to unprojected columns is
        (by design) not emitted. That is exactly what a column-scoped
        view wants; a consumer that must see EVERY changed row of a
        patch table (full-row replication, shard dirtiness) must read
        unprojected (``columns=None``)."""
        load = functools.cache(self.snapshot)
        old_snap = load(from_version)
        new_snap = load(to_version)
        floor_moved = old_snap.get("tombstone_floor", 0) != new_snap.get(
            "tombstone_floor", 0
        )
        window = [
            load(v).get("metrics", {})
            for v in range(from_version + 1, to_version + 1)
        ]
        full = (
            to_version < from_version
            or floor_moved
            or any("purge" in m or "rollback_to" in m for m in window)
        )
        if (
            not full
            and not self.patch
            and not include_old
            and table_meta.classify_window(
                table_meta.STREAM, from_version, new_snap, load
            ).action != table_meta.REFUSE
        ):
            parts = window_partitions(self.root, old_snap, new_snap)
            added = [f for p in parts for f in p.added_files]
            # the rows out are at most the added files' rows: they must
            # fit the local relation _local_frame builds
            limit = self._sql_conf.arrowLocalRelationThreshold()
            if decoded_bytes(added) <= limit:
                return self._driver_changes(parts, new_snap, columns)
        return self._delta_diff(
            from_version,
            to_version,
            old_snap,
            new_snap,
            include_cells=include_cells,
            include_old=include_old,
            columns=columns,
            full=full,
        )

    def _local_frame(self, table: pa.Table, schema: T.StructType) -> DataFrame:
        """An Arrow table as a DataFrame of ``schema``, with no Spark
        job: under spark.sql.execution.arrow.localRelationThreshold the
        JVM builds a LocalRelation that the driver answers alone.

        The hand-over is the tail of pyspark's
        ``createDataFrame(arrow_table, schema)`` and nothing else:
        timestamps localized to the session time zone, the cast to
        ``to_arrow_schema(schema)``, the batches streamed to the JVM
        (``_serialize_to_jvm``: a temp file, or a socket when I/O
        encryption is on) and ``PythonSQLUtils.toDataFrame``. That is
        three py4j calls: the stream read, ``toDataFrame`` and the read
        of ``spark.sql.execution.arrow.useLargeVarTypes``, by which the
        JVM reads the batches (a string column cast the other way
        crashes it). ``createDataFrame`` also re-fetches the session's
        conf per setting and sets the active session on every call
        (~20 more round trips). The time zone is read only for a
        schema that holds a ``timestamp`` at some depth. The table is
        localized as at least one (possibly empty) chunk: pyspark 4.1
        cannot walk a nested column of zero chunks."""
        batches = table.to_batches() or [
            pa.RecordBatch.from_pylist([], schema=table.schema)
        ]
        table = pa.Table.from_batches(batches, table.schema)
        zoned = T._has_type(schema, T.TimestampType)
        tz = self._sql_conf.sessionLocalTimeZone() if zoned else None
        table = _check_arrow_table_timestamps_localize(table, schema, True, tz).cast(
            to_arrow_schema(
                schema,
                error_on_duplicated_field_names_in_struct=True,
                prefers_large_types=self._sql_conf.arrowUseLargeVarTypes(),
            )
        )
        sc = self.spark.sparkContext
        utils = _sql_utils(sc._jvm)
        jiter = sc._serialize_to_jvm(
            table.to_batches(),
            ArrowStreamSerializer(),
            utils.readArrowStreamFromFile,
            lambda: sc._jvm.ArrowIteratorServer(),
        )
        df = DataFrame(
            utils.toDataFrame(jiter, schema.json(), self.spark._jsparkSession),
            self.spark,
        )
        df._schema = schema
        return df

    def _driver_changes(
        self, parts: list[BucketWork], new_snap: dict, columns: list[str] | None
    ) -> DataFrame:
        """``_delta_diff``'s rows from the Arrow fold on the driver: the
        FROM and TO winners of the keys the window's added files hold,
        diffed by ``read_changes_partition`` in ONE call over every
        touched bucket (keys never straddle buckets of one bucket
        count, so the union of the buckets folds like each alone)."""
        target = self._projection_target(new_snap, columns)
        _, keep = self._changes_schema(target, False, False)
        schema = self._changes_struct(target, keep)
        arrow_schema = to_arrow_schema(schema)
        work = BucketWork(
            bucket=-1,
            new_files=[f for p in parts for f in p.new_files],
            old_files=[f for p in parts for f in p.old_files],
            added_files=[f for p in parts for f in p.added_files],
        )
        batches = list(read_changes_partition(work, arrow_schema))
        return self._local_frame(
            pa.Table.from_batches(batches, arrow_schema), schema
        )

    @staticmethod
    def _changes_struct(target: T.StructType, keep: list[str]) -> T.StructType:
        """The changelog's output schema for ``_changes_schema``'s
        column lists: target types, ``change_type`` a string, and each
        ``_old_<col>`` typed like its column."""
        by_name = {f.name: f for f in target.fields}

        def field(c: str) -> T.StructField:
            if c == "change_type":
                return T.StructField(c, T.StringType())
            if c in by_name:
                return by_name[c]
            return T.StructField(c, by_name[c.removeprefix("_old_")].dataType)

        return T.StructType([field(c) for c in keep])

    def _changes_schema(
        self, target: T.StructType, include_old: bool, include_cells: bool
    ) -> tuple[list[str], list[str]]:
        """The changelog's payload column list (SEQ first, then the
        remaining payload in schema order — lww_dedup's order) and its
        output column list, shared by both diffs so they interchange."""
        payload = [
            f.name for f in target.fields if f.name not in (KEY, SEQ, CELL)
        ]
        payload = [SEQ] + payload
        keep_cell = self.patch and include_cells and CELL in target.fieldNames()
        keep = (
            [KEY, *payload]
            + ([CELL] if keep_cell else [])
            + ["change_type"]
            + ([f"_old_{c}" for c in payload] if include_old else [])
        )
        return payload, keep

    def _bridged_old(
        self,
        old_snap: dict,
        buckets: list[int],
        target: T.StructType,
        from_version: int,
        to_version: int,
    ) -> DataFrame | None:
        """Raw FROM-version rows of ``buckets`` under the TO-version
        column names: renames inside the window are bridged (see
        _window_name_bridge) and, in patch mode, the cell map is
        brought into the TO namespace BEFORE any fold — the delta
        diff's union fold merges old-state maps with fresh-file maps,
        and old-name (or dropped-column) cells surviving the merge
        would both corrupt the winner map and storm the fingerprint
        compare."""
        read_target, bridge_sel = self._window_name_bridge(
            from_version, to_version, target
        )
        o = self._read_buckets(old_snap, buckets, target=read_target)
        if o is not None and bridge_sel is not None:
            o = o.select(*[F.col(frm).alias(to) for frm, to in bridge_sel])
        if o is not None and self.patch:
            allowed = [
                f.name for f in target.fields if f.name not in (KEY, SEQ, CELL)
            ]
            o = o.withColumn(
                CELL,
                _bridge_cell_map(
                    F.col(CELL), allowed, _bridge_renames(bridge_sel)
                ),
            )
        return o

    def _delta_diff(
        self,
        from_version: int,
        to_version: int,
        old_snap: dict,
        new_snap: dict,
        include_cells: bool,
        include_old: bool,
        columns: list[str] | None,
        full: bool = False,
    ) -> DataFrame:
        """read_changes from the window's fresh delta files joined to
        the old state of the buckets they touch (see read_changes).
        ``full``: the window may remove or regress rows, so a bucket
        whose entries changed in EITHER direction is touched, its whole
        TO state is the new side, and the join is full-outer — a key
        gone from the TO state surfaces as ``D``."""
        target = self._projection_target(new_snap, columns)
        payload, keep = self._changes_schema(target, include_old, include_cells)
        rebucketed = old_snap["n_buckets"] != new_snap["n_buckets"]

        def fresh(snap: dict, other: dict) -> dict[str, list[dict]]:
            """Per bucket of ``snap``, the entries ``other`` lacks —
            every entry across a rebucket, which renumbers the space."""
            have = {e["path"] for ents in other["buckets"].values() for e in ents}
            out = {
                b: [e for e in ents if rebucketed or e["path"] not in have]
                for b, ents in snap["buckets"].items()
            }
            return {b: ents for b, ents in out.items() if ents}

        added = fresh(new_snap, old_snap)
        touched = sorted(
            int(b) for b in {*added, *(fresh(old_snap, new_snap) if full else ())}
        )
        if not touched:
            return self.spark.createDataFrame(
                [], self._changes_struct(target, keep)
            )
        # old images by OLD bucket numbering — identical to `touched`
        # unless a rebucket renumbered the space (then: all old buckets,
        # since any old bucket may hold a touched key's pre-image)
        old_touched = (
            [int(b) for b in old_snap["buckets"]] if rebucketed else touched
        )
        # row-LWW without pre-images needs only each old key's clock and
        # liveness: fold just (key, seq, deleted) — the fold's max-struct
        # cannot be narrowed by the optimizer after the fact, so without
        # this every old payload byte (token arrays) would be scanned
        # and shuffled only to be dropped. Same winners: rows of one key
        # with equal seq are identical within a snapshot.
        if include_old or self.patch:
            old_cols = payload
            o = self._bridged_old(
                old_snap, old_touched, target, from_version, to_version
            )
        else:
            old_cols = [SEQ, "deleted"]
            o = self._read_buckets(
                old_snap,
                old_touched,
                target=T.StructType(
                    [f for f in target.fields if f.name in (KEY, *old_cols)]
                ),
            )
        old_state = None if o is None else self._fold(o, KEY, SEQ)
        new_raw = self._read_buckets(
            new_snap if full else {"schema": new_snap["schema"], "buckets": added},
            touched,
            target=target,
        )
        if new_raw is None:  # a full window may empty every touched bucket
            new_raw = self.spark.createDataFrame([], target)
        if self.patch and old_state is not None and not full:
            # per-cell mode: a fresh PATCH delta alone is NOT the new
            # row image — its unmasked cells are unset. Fold the old
            # state in (folded rows re-enter the fold losslessly), so
            # emitted changes carry FULL images. The old-state fold
            # feeds TWO plan branches here (this union and the
            # old-image join below) — persist it so the dominant cost
            # of the changelog is paid once, not twice; the block is
            # dropped when the consumer's DataFrame is GC'd
            # (review-found double scan).
            old_state = old_state.persist()
            d = self._fold(new_raw.unionByName(old_state), KEY, SEQ)
        else:
            # row-LWW: the fold of just the fresh files IS the new state
            # image for every key it wins (full state fold is
            # max(old row, fresh rows)); a full window reads the whole
            # TO state of its buckets
            d = self._fold(new_raw, KEY, SEQ)
        if old_state is None:
            types = {f.name: f.dataType for f in target.fields}
            j = d.select(
                KEY,
                *payload,
                *([CELL] if self.patch else []),
                *[F.lit(None).cast(types[c]).alias(f"_old_{c}") for c in old_cols],
                *(
                    [F.lit(None).cast("array<struct<key:string,value:bigint>>").alias("_old_fp")]
                    if self.patch
                    else []
                ),
            )
        else:
            old_img = old_state.select(
                F.col(KEY),
                *[F.col(c).alias(f"_old_{c}") for c in old_cols],
                *([_cell_fp(F.col(CELL)).alias("_old_fp")] if self.patch else []),
            )
            j = d.join(old_img, KEY, "full_outer" if full else "left_outer")
        old_live = F.col("_old_deleted").isNotNull() & ~F.col("_old_deleted")
        new_live = F.col("deleted").isNotNull() & ~F.col("deleted")
        changed = F.col(f"_old_{SEQ}").isNull() | (
            F.col(SEQ) > F.col(f"_old_{SEQ}")
        )
        if full:
            # a liveness flip is a change too: a purged key has no new
            # row, so its NULL seq compares to nothing. Only here: off
            # full windows the new side is the fresh rows alone, and a
            # stale one may differ in liveness from the row that wins
            changed = changed | (new_live != old_live)
        if self.patch:
            # a late out-of-order patch (seq below the row's max)
            # changes state WITHOUT advancing the row seq — the seq
            # predicate alone silently dropped it from every replica
            # (review-found); the cell fingerprints catch it
            changed = changed | (_cell_fp(F.col(CELL)) != F.col("_old_fp"))
        change = (
            F.when(new_live & ~old_live, F.lit("I"))
            .when(new_live & old_live, F.lit("U"))
            .when(~new_live & old_live, F.lit("D"))
        )
        out = (
            j.filter(changed)
            .withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
        )
        return out.select(*keep)

    def read_changes_pruned(
        self,
        from_version: int,
        to_version: int,
        include_old: bool = False,
        include_cells: bool = False,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """``read_changes`` for incremental consumers (derived views,
        replicas, outboxes), which apply each window as forward
        changes: same rows, same cost, but a window holding a
        ``rollback_to`` is REFUSED loudly. A rollback regresses state to
        LOWER op_sequences, which no forward change event can express
        (the ``seq > old_seq`` predicate is the correctness of
        everything downstream) — a diff would silently miss the
        reverted rows; rebuild the consumer from the restored state.
        (The accumulating-view row of ``table_meta.WINDOW_POLICY``, with
        no maintained columns: an expired window raises in
        ``read_changes`` itself.)"""
        w = table_meta.classify_window(
            table_meta.ACCUMULATING_VIEW,
            from_version,
            self.snapshot(to_version),
            self.snapshot,
        )
        if w.marker == "rollback_to":
            raise RuntimeError(
                f"rollback at v{w.version} inside changelog window "
                f"({from_version}, {to_version}]: state regressed to "
                "lower op_sequences, which no forward change event can "
                "express — a pruned or full diff would silently miss "
                "the reverted rows. Rebuild this consumer from the "
                "rolled-back state (or resume from a version at/after "
                "the rollback)."
            )
        return self.read_changes(
            from_version,
            to_version,
            include_cells=include_cells,
            include_old=include_old,
            columns=columns,
        )

    def read_final(self, columns: list[str] | None = None) -> DataFrame:
        """The user-facing table: live rows only, internal columns
        dropped. ``columns`` selects a payload subset, pruned all the
        way into the parquet scan (narrow reads of a wide table cost
        bytes ∝ the columns asked for, not the table width)."""
        return self._live_rows(self.read_state(columns=columns), None, columns)

    def _live_rows(
        self,
        state: DataFrame | None,
        target: T.StructType | None,
        columns: list[str] | None,
        pred=None,
    ) -> DataFrame:
        """The user-facing tail of every read of current rows: the live
        rows of a folded ``state`` (``None`` = nothing to read, a typed
        empty frame of ``target``), ``pred`` applied to the post-fold
        values, internal columns dropped, and the key first followed by
        ``columns`` (default: every payload column)."""
        if state is None:
            state = self.spark.createDataFrame([], target)
        live = state.filter(~F.col("deleted"))
        if pred is not None:
            live = live.filter(pred)
        return live.select(*_live_columns(live.columns, columns))

    def lookup(
        self,
        ids: list,
        version: int | str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Point read: current live rows for the given keys, touching
        the minimum of the table.

        Serving path for CDC consumers ("what are doc X's tokens right
        now?") — at 10^10 rows a full-state scan per probe is absurd, so
        four prunes stack:

        1. **bucket pruning** — each key's bucket is computed on the
           driver by ``bucket_of``, the Python twin of the sink's bucket
           expression (parity with ``F.xxhash64`` pinned per key type;
           no Spark job, cost O(|ids|)), and only those buckets' delta
           files are read;
        2. **entry-level stats pruning** — every commit entry records
           its files' KEY [min, max] (harvested from the staged parquet
           footers at publish, Iceberg-manifest style), so delta files
           whose range can't contain a probe key are dropped at PLAN
           time, driver-side, before any Spark job;
        3. **scan pushdown** — the ``IN (ids)`` filter is applied to
           the RAW deltas before the LWW fold, so it reaches the
           parquet scan as a pushed filter (plan-tested);
        4. **row-group skipping** — compact() writes bucket files
           key-sorted, so the pushed filter prunes row groups via
           parquet min/max stats on a compacted table.

        LWW then folds only the surviving rows. A probe that touches
        ONE bucket of a row-LWW table (every single-key point read) is
        answered on the driver, with no Spark job: the Arrow fold
        (``sources/arrow_fold.py``) reads the files the key ranges
        keep, in the row groups whose key statistics admit a probe,
        keeps the probed keys' live winners, and hands them over as a
        local relation (``_local_frame``). A probe spanning many
        buckets (MERGE's target lookup, purge counts) and every probe
        of a per-cell patch table keep the parallel Spark fold, with
        the ``IN (ids)`` filter pushed into the parquet scan. Tombstoned
        keys return no row (a delete is the absence of the doc, as in
        read_final)."""
        if not ids:
            raise ValueError("lookup() needs at least one key")
        snap = self.current_snapshot() if version is None else self.snapshot(version)
        if snap is None:
            raise ValueError("no snapshot yet")
        target = self._projection_target(snap, columns)  # always keeps KEY
        key_field = target[KEY]
        keys = _probe_keys(ids, key_field)
        n = snap["n_buckets"]
        buckets = sorted({bucket_of(k, n, key_field.dataType) for k in keys})
        if len(buckets) == 1 and not self.patch:
            return self._driver_lookup(snap, buckets[0], keys, target, columns)
        keys_sorted = sorted(keys)
        df = self._read_buckets(
            snap,
            buckets,
            target=target,
            # 4th prune: key_range stats (the Iceberg manifest-
            # column-stats analogue) drop whole delta entries — and,
            # on a target-file-sized sorted rewrite, single files
            # within an entry — whose recorded [min, max] can't
            # contain any probe key: a point read on a compacted
            # table touches ONE file regardless of table size
            range_pred=lambda rng: _range_may_contain(rng, keys_sorted),
        )
        if df is None:
            return self._live_rows(None, target, columns)
        df = df.filter(F.col(KEY).isin(keys))
        return self._live_rows(self._fold(df, KEY, SEQ), target, columns)

    def _driver_lookup(
        self,
        snap: dict,
        bucket: int,
        keys: list,
        target: T.StructType,
        columns: list[str] | None,
    ) -> DataFrame:
        """``lookup`` of one bucket's keys by the Arrow fold on the
        driver: the same prunes (key ranges per entry and per file, row
        groups by key statistics), the same live rows and columns."""
        work = BucketWork(
            bucket=bucket,
            new_files=_bucket_files(self.root, snap, bucket, keys),
            key_values=keys,
        )
        schema = to_arrow_schema(target)
        live = pa.Table.from_batches(
            list(read_state_partition(work, schema, internal=False)), schema
        )
        # the surviving row groups also hold unprobed keys, whose
        # winners may be stale: keep exactly the probe
        live = live.filter(
            pc.is_in(live[KEY], value_set=pa.array(keys, schema.field(KEY).type))
        )
        names = _live_columns(target.fieldNames(), columns)
        return self._local_frame(
            live.select(names), T.StructType([target[c] for c in names])
        )

    def scan_range(
        self,
        lo: str | None = None,
        hi: str | None = None,
        version: int | str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Live rows with ``lo <= doc_id <= hi`` (either bound may be
        None = unbounded). Keys hash across ALL buckets, so bucket
        pruning can't help a range — what prunes instead is the
        entry-level ``key_range`` stats: only delta files whose
        recorded [min, max] intersects the interval are read, then the
        BETWEEN predicate is pushed into those files' scans (row-group
        skipping on compacted, key-sorted files).

        Correctness under LWW: every version of an in-range key —
        including its delete tombstones — carries the key itself, so it
        lives in files whose range intersects the interval; folding the
        surviving files therefore sees the key's full history. At
        10^10 rows this is the "export one corpus slice" path: cost is
        O(files overlapping the range), not O(table)."""
        if lo is not None and hi is not None and lo > hi:
            raise ValueError(f"empty range: lo={lo!r} > hi={hi!r}")
        snap = self.current_snapshot() if version is None else self.snapshot(version)
        if snap is None:
            raise ValueError("no snapshot yet")
        target = self._projection_target(snap, columns)
        df = self._read_buckets(
            snap,
            list(range(snap["n_buckets"])),
            target=target,
            range_pred=lambda rng: _range_intersects(rng, lo, hi),
        )
        if df is None:
            return self._live_rows(None, target, columns)
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(KEY) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(KEY) <= F.lit(hi))
        return self._live_rows(
            self._fold(df.filter(pred), KEY, SEQ), target, columns
        )

    def plan_scan_where(
        self, predicates: list[tuple], version: int | str | None = None
    ) -> dict:
        """Scan planning for :meth:`scan_where`: which buckets the
        predicate conjunction can possibly match, decided driver-side
        from the per-column [min, max] stats every commit entry records
        (harvested from the staged parquet footers at publish — the
        Iceberg manifest-column-stats analogue generalized beyond the
        key column).

        Pruning granularity is the BUCKET, never the entry or file,
        and that is a correctness requirement, not a shortcut: under
        merge-on-read LWW a pruned entry may hold the NEWER,
        non-matching version of a key whose stale version matches in a
        kept entry — skipping it would emit the stale winner. All
        versions of a key live in one bucket, so folding a whole
        bucket (or skipping a whole bucket no latest row of which can
        match) is exact. Contrast lookup()/scan_range(): KEY
        predicates prune at file level because every version of an
        in-range key — tombstones included — carries the key itself.

        Bucket admission rules (both proven in tests):

        - row-LWW table: a bucket may match iff SOME single entry
          admits ALL conjuncts — the latest row lives wholly inside
          one entry, whose recorded ranges cover all its values;
        - per-cell (patch) table: a bucket may match iff EVERY
          conjunct is admitted by SOME entry — the latest row is
          ASSEMBLED from cells written by different entries, so
          requiring one entry to admit the whole conjunction would
          wrongly prune a row stitched from two patches.

        Returns ``{"buckets_read", "buckets_pruned", "buckets_empty",
        "n_buckets"}``; legacy entries without recorded stats are
        never pruned."""
        preds = self._check_scan_predicates(predicates)
        snap = self.current_snapshot() if version is None else self.snapshot(version)
        if snap is None:
            raise ValueError("no snapshot yet")
        names = {f.name for f in parse_schema(snap["schema"]).fields}
        for col, _, _ in preds:
            if col not in names or col in _INTERNAL or col == "_bucket":
                raise ValueError(f"scan_where: no such payload column {col!r}")
        patch_mode = bool(snap.get("patch", self.patch))
        read: list[int] = []
        pruned: list[int] = []
        empty: list[int] = []
        for b in range(snap["n_buckets"]):
            entries = snap["buckets"].get(str(b), [])
            if not entries:
                empty.append(b)
                continue
            if patch_mode:
                keep = all(
                    any(_entry_admits(e, c, op, v) for e in entries)
                    for (c, op, v) in preds
                )
            else:
                keep = any(
                    all(_entry_admits(e, c, op, v) for (c, op, v) in preds)
                    for e in entries
                )
            (read if keep else pruned).append(b)
        return {
            "buckets_read": read,
            "buckets_pruned": pruned,
            "buckets_empty": empty,
            "n_buckets": snap["n_buckets"],
            "version": snap["version"],
        }

    def scan_where(
        self,
        predicates: list[tuple],
        version: int | str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Live rows whose CURRENT (post-LWW) values satisfy every
        conjunct — ``predicates`` is a conjunctive list of
        ``(column, op, value)`` with op in ``= < <= > >= between in``
        (``between`` takes a ``(lo, hi)`` pair, either bound None;
        ``in`` a value list).

        The 10^10-row story: selective predicates on payload columns
        ("this tenant's docs", "sequences over 100k tokens") skip
        every bucket whose recorded column stats prove no match —
        driver-side, before any Spark job (see plan_scan_where for the
        granularity argument). Surviving buckets are read WHOLE and
        LWW-folded, and only then filtered: pushing the predicate
        below the fold would drop a key's newest non-matching version
        while keeping an older matching one, resurrecting the stale
        row — the filter therefore applies to final values only, by
        construction. Residual parquet-level pushdown still applies to
        the fold's scan via the engine's pushed key filters, and
        cluster_by compaction (compact(cluster_by=[...])) tightens
        row-group stats on the predicate columns for the surviving
        buckets' scans."""
        preds = self._check_scan_predicates(predicates)
        plan = self.plan_scan_where(preds, version)
        # read the EXACT snapshot the plan was made against — a second
        # pointer fetch here could see a concurrent commit and apply
        # vN pruning decisions to vN+1 data (review-found TOCTOU)
        snap = self.snapshot(plan["version"])
        # predicate columns must survive the fold even when the caller
        # didn't ask for them back — the filter applies to POST-fold
        # values (see the stale-winner argument above), so they ride in
        # the read target and drop only at the final select
        target = self._projection_target(
            snap, columns, extra={c for c, _, _ in preds}
        )
        df = (
            self._read_buckets(snap, plan["buckets_read"], target=target)
            if plan["buckets_read"]
            else None
        )
        if df is None:
            return self._live_rows(None, target, columns)
        pred = F.lit(True)
        for c, op, v in preds:
            pred = pred & _conjunct_expr(c, op, v)
        return self._live_rows(self._fold(df, KEY, SEQ), target, columns, pred)

    @staticmethod
    def _check_scan_predicates(predicates) -> list[tuple]:
        if not predicates:
            raise ValueError("scan_where needs at least one (col, op, value)")
        out = []
        for p in predicates:
            if len(p) != 3:
                raise ValueError(f"predicate must be (col, op, value): {p!r}")
            col, op, val = p
            if op not in _SCAN_OPS:
                raise ValueError(
                    f"unknown op {op!r}; one of {sorted(_SCAN_OPS)}"
                )
            if op == "between" and (
                not isinstance(val, (tuple, list)) or len(val) != 2
            ):
                raise ValueError("between takes a (lo, hi) pair")
            if op == "between" and val[0] is None and val[1] is None:
                # an unbounded between is not null-rejecting, which
                # breaks the pruning contract (the all-NULL marker
                # assumes comparisons reject NULLs) — and it filters
                # nothing anyway
                raise ValueError("between needs at least one bound")
            if op == "in" and (
                not isinstance(val, (tuple, list, set)) or not val
            ):
                raise ValueError("in takes a non-empty value list")
            out.append((col, op, list(val) if op == "in" else val))
        return out

    # ------------------------------------------------------------- merge
    def apply_batch(self, batch_df: DataFrame, batch_id: str | int) -> dict:
        """Key-partitioned MERGE of one micro-batch of change events.

        ``batch_df`` carries the CDC envelope (op, op_sequence, doc_id,
        payload…). Returns commit metrics. Safe to call repeatedly with
        the same ``batch_id`` (exactly-once via manifests + snapshot
        pointer; SURVEY.md §3.3 state machine).

        Two routes per table kind, chosen by the size of the merge
        input (the batch plus any inline-compacted buckets: Spark's
        own estimate, or the Arrow size of the files it reads if that
        is larger) against
        ``spark.sql.execution.arrow.localRelationThreshold``, the one
        size rule of every driver route, reads and ingest alike:

        - within it, a row-LWW batch is collected to the driver with
          ``toArrow()`` (one Spark job) and folded and written there by
          the Arrow fold (``sources/arrow_fold.py``), together with the
          files of the buckets it compacts; a patch table's batch that
          also fits ``spark.sql.autoBroadcastJoinThreshold`` folds and
          writes in ONE Spark task (``coalesce(1)``: the cell fold has
          no Arrow twin, and one core is slower than the parallel plan
          past that size);
        - anything else, including an input of unknown size and a
          threshold of 0, runs the parallel Spark plan.

        ``metrics["merge_plan"]`` records which ran and why: ``route``
        (``arrow`` / ``one_task`` / ``parallel``), ``input``
        (``dataframe``), ``est_bytes`` (the size the rule compared) and
        ``threshold_bytes``; on the ``arrow`` route also
        ``arrow_bytes``, the collected table's real size.
        """
        return self._ingest(batch_df, batch_id)

    def apply_wal(self, paths: list[str], batch_id: str | int) -> dict:
        """``apply_batch(read_wal(spark, paths), batch_id)`` without
        Spark when the batch is small: for an unaudited row-LWW table
        whose WAL files plus the files of the buckets it compacts
        inline fit under
        ``spark.sql.execution.arrow.localRelationThreshold`` (the size
        rule of every driver route) by their Arrow size from the
        footers (``decoded_bytes``), the files are read with pyarrow
        (``read_wal``'s footer-schema grouping and widening), bucketed
        by ``bucket_of``, folded by the Arrow fold and written on the
        driver — no Spark job. A batch over the threshold runs the
        parallel plan on ``read_wal``'s DataFrame: one size rule per
        batch, so Spark's estimate never sends it to the driver after
        all. A patch-mode or audited table, or a key type with no
        Python hash twin, hands ``read_wal``'s DataFrame to
        ``apply_batch``'s routes. Same commit protocol, manifests, crash
        points and metrics either way; ``merge_plan`` says ``input:
        "wal"`` and ``est_bytes`` is the footer size whenever the
        footer rule decided."""
        return self._ingest(list(paths), batch_id)

    def _ingest(self, batch, batch_id: str | int) -> dict:
        """The exactly-once prologue both ingest entry points share;
        ``batch`` is a DataFrame or a list of WAL file paths."""
        t0 = time.time()
        batch_id = self._phys_batch_id(str(batch_id))
        snap = self.current_snapshot()
        if snap is not None and bool(snap.get("patch", False)) != self.patch:
            # the fold mode is a per-table property: folding per-cell
            # deltas with row LWW (or vice versa) silently corrupts
            # state, so a mode-mismatched reopen is refused outright
            raise RuntimeError(
                f"table at {self.root} was written with patch="
                f"{snap.get('patch', False)}; this sink was constructed "
                f"with patch={self.patch}"
            )
        if self._is_committed_in(snap, batch_id):
            return {"batch_id": batch_id, "skipped": True, "reason": "already committed"}
        # register in-flight BEFORE planning: _manifested_buckets below
        # decides to reuse a crashed attempt's files, and a vacuum that
        # fires in between would reap exactly those files as orphans.
        # The head is RE-READ under the same lock: a rollback_to()
        # commits while holding it, so planning from the pre-lock read
        # could fold just-de-committed deltas into a compacted file and
        # resurrect exactly the rows the rollback removed (rollback's
        # quiesce check only covers batches registered BEFORE it ran)
        with self._commit_lock:
            if self._rebucketing:
                raise RuntimeError(
                    "rebucket in progress; re-apply the batch after it completes"
                )
            snap = self.current_snapshot()
            self._inflight.add(batch_id)
        if self._is_committed_in(snap, batch_id):
            with self._commit_lock:
                self._inflight.discard(batch_id)
            return {"batch_id": batch_id, "skipped": True, "reason": "already committed"}
        compact_candidates: list[int] = []
        try:
            return self._run_and_publish(
                batch, batch_id, snap, compact_candidates, t0
            )
        finally:
            with self._commit_lock:
                self._compacting -= set(compact_candidates)
                self._inflight.discard(batch_id)

    def _run_and_publish(
        self, batch, batch_id: str, snap: dict | None,
        compact_candidates: list[int], t0: float,
    ) -> dict:
        wal = None if isinstance(batch, DataFrame) else batch
        batch_schema = schema_groups(wal)[0] if wal is not None else batch.schema
        payload_fields = [
            f for f in batch_schema.fields
            if f.name not in _ENVELOPE_META
            and f.name not in _INTERNAL
            # the mask column is envelope metadata only in patch mode; a
            # row-LWW table may legitimately carry a payload column of
            # that name
            and not (self.patch and f.name == _PATCH_MASK)
        ]
        batch_payload_schema = T.StructType(payload_fields)

        # -- schema evolution (A9): widen/extend BEFORE touching data.
        # This is the PLANNING schema (head as visible now); the commit
        # re-evolves against the then-current head under the commit
        # lock — safe because every delta records its own schema and is
        # aligned at read time.
        table_schema = self._evolved_schema(snap, batch_payload_schema)[0]

        # crash-replay bookkeeping, all driver-side file metadata — no
        # Spark job: buckets already manifested for this batch_id are
        # excluded from recomputation and their outputs reused
        manifested = self._manifested_buckets(batch_id, snap)
        # merge-on-read planning (also metadata-only): buckets at the
        # delta threshold are COMPACTED on touch (fold all deltas +
        # batch into one file); everything else APPENDS its delta —
        # ingest cost ∝ batch size, not table size.
        # compact_threshold=1 degenerates to classic copy-on-write.
        # consumed_paths records exactly which delta files a compaction
        # folds, so the commit replaces ONLY those and keeps any delta a
        # concurrent pipelined batch appended meanwhile (the LWW fold is
        # idempotent, so even an overlap would only cost read
        # amplification, never correctness).
        with self._commit_lock:
            prev_buckets = {} if snap is None else dict(snap["buckets"])
            # mutate the caller-owned list so its finally releases the
            # claims even if anything below raises
            compact_candidates.extend(
                b
                for b in range(self.n_buckets)
                if len(prev_buckets.get(str(b), [])) >= self.compact_threshold
                and b not in manifested
                and b not in self._compacting
            )
            self._compacting |= set(compact_candidates)
        consumed_paths: dict[str, set[str]] = {
            str(b): {e["path"] for e in prev_buckets.get(str(b), [])}
            for b in compact_candidates
        }
        # Reused (crash-replayed) compacted buckets: what they folded is
        # read from THEIR manifest (recorded at the crashed attempt's
        # plan time) inside _publish_and_commit — recomputing it from
        # the replay-time head would also swallow deltas other batches
        # committed after the crash and silently drop them (found by
        # review repro). Manifests without the field (append deltas,
        # legacy) fold nothing: keeping extra entries only duplicates
        # rows, which the LWW read fold de-duplicates.

        # The merge runs in one of three shapes (see apply_batch):
        #   arrow: the batch as an Arrow table on the driver — read from
        #     the WAL files by pyarrow (no Spark job) or collected with
        #     toArrow (one job) — folded with the compacted buckets'
        #     files by the Arrow fold and written by pyarrow;
        #   one_task (patch tables): scan batch → union with (delta files
        #     of compactable buckets, semi-joined to the batch's touched
        #     buckets) → coalesce(1) → cell fold → write, one task, no
        #     Exchange — one merge job;
        #   parallel: the same union → fold shuffle on the key (hot keys
        #     salted per A8) → repartition by bucket → write; AQE runs
        #     each shuffle-map stage as its own job, so 3 merge jobs, and
        #     an inline compaction adds two (the touched-bucket set's
        #     shuffle and its broadcast).
        # A DataFrame read by read_wal runs one schema-inference job
        # before any of them.
        # A WAL batch the footer-byte rule refused keeps that answer:
        # its plan (route parallel) rides into _frame_rows.
        rows = plan = None
        if wal is not None:
            rows, plan = self._wal_rows(
                wal, snap, table_schema, manifested, compact_candidates
            )
            if rows is None:
                batch = read_wal(self.spark, wal)
        if rows is None:
            rows, plan, obs = self._frame_rows(
                batch, batch_id, snap, table_schema, manifested,
                compact_candidates, plan,
            )
        t_plan = time.time()
        if isinstance(rows, pa.Table):
            observed_events = rows.num_rows
            merged = self._arrow_fold(rows, snap, table_schema, compact_candidates)
        else:
            merged = rows
        staging, stats, t_job = self._stage_buckets(
            merged, after_write=lambda: self.crash_hook("after_data_write"),
        )
        # touched buckets = the partition dirs the job actually wrote
        written = sorted(stats)
        metrics: dict = {
            "batch_id": batch_id,
            "skipped": False,
            "touched_buckets": sorted(set(written) | manifested),
            "compacted_buckets": [b for b in written if b in compact_candidates],
            "appended_buckets": [b for b in written if b not in compact_candidates],
            "reused_buckets": sorted(manifested),
            "merge_plan": plan,
        }
        # write-audit-publish: the gate runs on the STAGED files — the
        # real post-dedup, schema-aligned bytes about to be committed —
        # before any manifest or pointer moves. A violation aborts
        # crash-equivalently (staging cleaned, table untouched).
        # Manifested buckets bypass: their manifests exist only because
        # a prior attempt passed this same gate.
        if self.audit is not None and written:
            try:
                self.audit(
                    self.spark.read.parquet(staging), {"batch_id": batch_id}
                )
            except Exception:
                shutil.rmtree(staging, ignore_errors=True)
                raise

        if self.lineage:
            if not isinstance(rows, pa.Table):
                # obs.get raises a JVM assertion when the CollectMetrics
                # node was optimized away — AQE's empty-relation
                # propagation does exactly that for an all-filtered
                # batch (e.g. a rewrite-only replication window). Zero
                # rows observed IS the right answer then. Read it BEFORE
                # the commit critical section — the job already ran,
                # this only fetches its metrics.
                try:
                    observed_events = obs.get["events"]
                except Exception:
                    observed_events = 0
            metrics["lineage"] = {
                "events": observed_events,
                "input_files": sorted(
                    os.path.basename(f) for f in wal or batch.inputFiles()
                ),
            }
        return self._publish_and_commit(
            staging, batch_id, snap, stats, metrics,
            entry_ddl=_ddl(table_schema),
            phases=(t0, t_plan, t_job),
            batch_payload_schema=batch_payload_schema,
            manifested=manifested,
            folded=consumed_paths,
        )

    def _wal_rows(
        self, wal: list[str], snap: dict | None, table_schema: T.StructType,
        manifested: set[int], compact_candidates: list[int],
    ) -> tuple[pa.Table | None, dict | None]:
        """``apply_wal``'s driver route: the batch's stored rows (each
        file aligned to the table schema, so widened like ``read_wal``;
        ``deleted`` set, ``_bucket`` by ``bucket_of``, manifested
        buckets dropped) read from the WAL files by pyarrow, and the
        route record. Two size checks by Arrow size from the footers
        (``decoded_bytes``) against
        ``spark.sql.execution.arrow.localRelationThreshold``, the size
        every driver route uses: first the WAL files alone; then,
        after each file is read once, with the files of the buckets the
        batch compacts (a batch refused there wasted its read). A batch
        over the threshold returns ``(None, plan)`` with route
        ``parallel``; a patch-mode or audited table, or a key with no
        hash twin, ``(None, None)``: ``apply_batch``'s rule decides."""
        key_type = table_schema[KEY].dataType
        if (
            self.patch
            or self.audit is not None
            or self._table_audit_fn(snap) is not None
            or type(key_type) not in _PY_TYPES
        ):
            return None, None
        plan = {"route": "arrow", "input": "wal", "est_bytes": decoded_bytes(wal),
                "threshold_bytes": self._sql_conf.arrowLocalRelationThreshold()}
        if plan["est_bytes"] > plan["threshold_bytes"]:
            return None, {**plan, "route": "parallel"}
        target = to_arrow_schema(table_schema)
        parts = []
        for p in wal:
            t = pq.ParquetFile(p).read()
            deleted = pc.equal(t["op"], "D")
            t = t.drop_columns([c for c in ("deleted",) if c in t.column_names])
            parts.append(_align(t.append_column("deleted", deleted), target))
        rows = pa.concat_tables(parts)
        buckets = np.array(
            [bucket_of(k, self.n_buckets, key_type) for k in rows[KEY].to_pylist()],
            np.int32,
        )
        keep = ~np.isin(buckets, sorted(manifested))
        folds = set(buckets[keep].tolist()) & set(compact_candidates)
        plan["est_bytes"] += decoded_bytes(
            [f for b in sorted(folds) for f in _bucket_files(self.root, snap, b)]
        )
        if plan["est_bytes"] > plan["threshold_bytes"]:
            return None, {**plan, "route": "parallel"}
        rows = rows.append_column("_bucket", pa.array(buckets))
        return rows.filter(pa.array(keep)), plan

    def _frame_rows(
        self, batch_df: DataFrame, batch_id: str, snap: dict | None,
        table_schema: T.StructType, manifested: set[int],
        compact_candidates: list[int], plan: dict | None = None,
    ):
        """``apply_batch``'s Spark side: the batch's stored rows, and the
        route ``_merge_plan`` picks for them, unless ``plan`` already
        holds one. Returns ``(rows, plan, obs)``: on the ``arrow`` route
        ``rows`` is the batch collected as an Arrow table (with
        ``_bucket``); on the others, the folded DataFrame
        ``_stage_buckets`` writes, with the lineage Observation riding
        its job."""
        events = batch_df.drop(*[c for c in _ENVELOPE_META if c in batch_df.columns and c != "op"])
        if self.patch and CELL in events.columns:
            # pre-built cell events (replication from another patch
            # table): trust the incoming per-cell seqs verbatim — the
            # source fold already stamped every cell, and rebuilding
            # from op would collapse them all onto the row seq
            cell_rows = events.withColumn(
                "deleted", F.col("op") == F.lit("D")
            ).drop("op")
        elif self.patch:
            # per-cell mode: build the _cell_seq map from op + mask
            # (full events set every cell, 'P' events their masked
            # cells) before alignment; patch_events drops op/mask.
            # widen_for_cells projects onto the TABLE's payload columns
            # (typed nulls for columns this batch lacks): a full/delete
            # event must stamp EVERY table column — review-found, a
            # delete arriving in a batch narrower than the evolved
            # table left the missing columns' cells alive, and a later
            # revive resurrected the deleted values
            table_payload = [
                f
                for f in table_schema.fields
                if f.name not in _INTERNAL and f.name != KEY
            ]
            widened, cell_payload = widen_for_cells(
                events, table_payload, key=KEY, seq=SEQ,
                op_col="op", mask_col=_PATCH_MASK,
            )
            cell_rows = patch_events(
                widened,
                key=KEY,
                seq=SEQ,
                op_col="op",
                mask_col=_PATCH_MASK,
                payload_cols=cell_payload,
            )
        else:
            cell_rows = events.withColumn(
                "deleted", F.col("op") == F.lit("D")
            ).drop("op")
        aligned = align_to_schema(cell_rows, table_schema)
        table_audit = self._table_audit_fn(snap)
        if table_audit is not None:
            # the TABLE's recorded write contract (set_table_audit) is
            # BATCH-scoped: it judges this batch's aligned rows —
            # every event, pre-fold, matching the DS writer's twin —
            # and never the folded OLD rows an inline compaction drags
            # into staging (re-judging old data against a since-
            # tightened contract would wedge ingestion on every
            # compaction touch, and min_rows/max_rows would measure
            # table state instead of the batch — review-found). Runs
            # BEFORE anything stages (one extra O(batch) aggregation;
            # an empty batch correctly fails a min_rows contract here
            # instead of being skipped by the written-dirs guard).
            # Constructor-level audits keep their documented
            # staged-bytes semantics below.
            table_audit(aligned, {"batch_id": batch_id})
        state_rows = aligned.withColumn(
            "_bucket", _bucket_expr(self.n_buckets)
        )
        if manifested:
            state_rows = state_rows.filter(~F.col("_bucket").isin(sorted(manifested)))
        tgt = None
        if compact_candidates:
            tgt = self._read_buckets(snap, compact_candidates, target=table_schema)
            if tgt is not None:
                tgt = tgt.withColumn("_bucket", _bucket_expr(self.n_buckets))
                # compact only buckets this batch actually touches: a
                # broadcast semi-join against the batch's bucket set
                # (≤ n_buckets rows) — stays inside the same job
                batch_buckets = state_rows.select("_bucket").distinct()
                tgt = tgt.join(F.broadcast(batch_buckets), "_bucket", "left_semi")
        plan = plan or self._merge_plan(
            state_rows if tgt is None else state_rows.unionByName(tgt)
        )
        if plan["route"] == "arrow":
            rows = state_rows.toArrow()
            return rows, {**plan, "arrow_bytes": rows.nbytes}, None
        obs = None
        if self.lineage:
            # lineage rides the merge job itself (A12 with ZERO extra
            # scans — round 1 re-read the whole batch + collect()ed):
            # event count via an in-plan Observation, input files from
            # plan metadata (inputFiles(), no job), per-bucket rows from
            # the written parquet footers (bucket_rows below).
            from pyspark.sql import Observation

            obs = Observation(f"lineage-{batch_id}-{uuid.uuid4().hex[:8]}")
            state_rows = state_rows.observe(
                obs, F.count(F.lit(1)).alias("events")
            )
        merge_in = state_rows if tgt is None else state_rows.unionByName(tgt)
        if plan["route"] == "one_task":
            merge_in = merge_in.coalesce(1)
        merged = self._fold(
            merge_in.drop("_bucket"), KEY, SEQ, salt_partials=self.salt_partials
        ).withColumn("_bucket", _bucket_expr(self.n_buckets))
        ff = self._floor_filter(snap)
        if ff is not None and tgt is not None:
            # GC stickiness: a compacted bucket's fold drops tombstones
            # below the table's retention floor AFTER folding, as
            # compact() does — dropping them before would let an older
            # version they shadow win. Appended buckets keep theirs: an
            # older version may sit in a delta this batch does not fold.
            merged = merged.filter(ff | ~F.col("_bucket").isin(compact_candidates))
        if plan["route"] == "parallel":
            merged = merged.repartition(self.n_buckets, "_bucket")
        return merged, plan, obs

    def _arrow_fold(
        self, rows: pa.Table, snap: dict | None, table_schema: T.StructType,
        compact_candidates: list[int],
    ) -> pa.Table:
        """The ``arrow`` route's merge: ``rows`` (stored rows with
        ``_bucket``) folded in one Arrow fold with every file of the
        compaction candidates they touch; in those compacted buckets
        ``_floor_filter``'s rule then drops expired tombstone winners.
        Returns the winners, key-sorted, with ``_bucket`` — what
        ``_stage_buckets`` writes."""
        rows = canonical_keys(rows)
        buckets = rows["_bucket"].to_numpy()
        files = [
            (b, f)
            for b in sorted(set(buckets.tolist()) & set(compact_candidates))
            for f in _bucket_files(self.root, snap, b)
        ]
        target = to_arrow_schema(table_schema).append(pa.field("_bucket", pa.int32()))
        with opened_sources([rows] + [f for _, f in files]) as sources:
            win = _winners(_versions(sources))
            f, r = win["f"].to_numpy(), win["r"].to_numpy()
            file_bucket = np.array([-1] + [b for b, _ in files], np.int32)
            in_batch = f == 0
            win_bucket = np.where(
                in_batch, buckets[np.where(in_batch, r, 0)], file_bucket[f]
            ).astype(np.int32)
            win = win.append_column("_bucket", pa.array(win_bucket))
            ff = self._floor_filter(snap, pc.field)
            if ff is not None and files:
                # the rule of the Spark route: see _frame_rows
                win = win.filter(ff | ~pc.field("_bucket").isin(compact_candidates))
            return _take_rows(sources, win, target)

    def _merge_plan(self, merge_in: DataFrame) -> dict:
        """Route a DataFrame ingest merge: ``arrow`` (row-LWW) when the
        size of ``merge_in`` is at most
        ``spark.sql.execution.arrow.localRelationThreshold`` — the
        Arrow data Spark itself keeps on the driver, and the limit of
        every other driver route (the driver changelog, ``apply_wal``);
        ``one_task`` (patch) when it is also at most
        ``spark.sql.autoBroadcastJoinThreshold``. The fixed cost of
        each stage and job, not the data, bounds such a batch. The
        size is the larger of Spark's own estimate and the Arrow size
        of the local files the plan reads, from their footers
        (``decoded_bytes``): Spark counts an ``array<int>`` at a
        default size, so it reads a 40 MB batch of token lists as
        16-18 MB. A threshold of 0 (for an input that holds a row) and
        an input of unknown size (a foreachBatch ``LogicalRDD`` reports
        ``spark.sql.defaultSizeInBytes``) keep the ``parallel`` plan.
        Driver-side planning only, no Spark job."""
        est = merge_in._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        files = [urlparse(u) for u in merge_in.inputFiles()]
        if est >= 0 and all(u.scheme in ("", "file") for u in files):
            est = max(est, decoded_bytes([unquote(u.path) for u in files]))
        threshold = self._sql_conf.arrowLocalRelationThreshold()
        if self.patch:
            # one core folds the whole batch: past the broadcast
            # threshold (the size Spark hands whole to one task) it is
            # slower than the parallel plan. On 4 cores a 40k-event
            # patch batch Spark estimates at 12.5 MB took 1.38-1.60 s
            # in one task against 1.10-1.54 s, an 80k-event one
            # (25.5 MB) 1.78-1.84 s against 1.15-1.43 s.
            threshold = min(threshold, self._sql_conf.autoBroadcastJoinThreshold())
        small = 0 <= est <= threshold
        return {
            "route": ("one_task" if self.patch else "arrow") if small else "parallel",
            "input": "dataframe",
            "est_bytes": est,
            "threshold_bytes": threshold,
        }

    def _stage_buckets(self, rows, after_write=None):
        """The staged write every data rewrite shares (ingest, compaction
        / rewrite, rebucket): ``rows`` — a DataFrame already partitioned
        (and sorted) by its ``_bucket`` column, or in one partition; or
        an Arrow table with ``_bucket``, written by pyarrow — lands as
        ``_bucket=N/`` dirs under a fresh ``data/_stage-*`` dir with the
        sink's file options, then every written bucket's footer stats
        are read in parallel.
        Reading them on the STAGED dirs is safe (basenames survive the
        directory move) and keeps the slowest publish step outside the
        commit critical section. ``after_write`` runs right after the
        write job (ingest's crash point). Returns ``(staging, {bucket:
        _parquet_stats}, write-job end time)``."""
        staging = os.path.join(self.root, "data", f"_stage-{uuid.uuid4().hex}")
        if isinstance(rows, pa.Table):
            self._write_arrow(rows, staging)
        else:
            self._file_options(
                rows.write.mode("overwrite").partitionBy("_bucket")
            ).parquet(staging)
        t_written = time.time()
        if after_write is not None:
            after_write()
        written = [
            int(d.split("=", 1)[1])
            for d in os.listdir(staging)
            if d.startswith("_bucket=")
        ]
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(written)))) as ex:
            stats = dict(zip(written, ex.map(
                lambda b: _parquet_stats(os.path.join(staging, f"_bucket={b}")),
                written,
            )))
        return staging, stats, t_written

    def _write_arrow(self, rows: pa.Table, staging: str) -> None:
        """pyarrow's half of ``_stage_buckets``: each bucket's rows, in
        their order, as files of at most ``target_file_rows`` rows,
        like Spark's ``maxRecordsPerFile``, written with
        ``arrow_file_options``."""
        os.makedirs(staging)
        buckets = rows["_bucket"].to_numpy()
        order = np.argsort(buckets, kind="stable")
        buckets = buckets[order]
        data = rows.drop_columns(["_bucket"]).take(pa.array(order))
        cuts = [0, *(np.flatnonzero(np.diff(buckets)) + 1), len(buckets)]
        files = []
        for lo, hi in zip(cuts, cuts[1:]):
            if hi == lo:
                continue
            d = os.path.join(staging, f"_bucket={buckets[lo]}")
            os.makedirs(d)
            step = self.target_file_rows or hi - lo
            for j, start in enumerate(range(lo, hi, step)):
                name = f"part-{j:05d}-{uuid.uuid4().hex}.{_COMPRESSION}.parquet"
                files.append(
                    (data.slice(start, min(step, hi - start)), os.path.join(d, name))
                )
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as ex:
            list(ex.map(
                lambda a: pq.write_table(a[0], a[1], **arrow_file_options(a[0].schema)), files
            ))

    def _move_staged(self, staging: str, buckets, tag: str) -> dict[int, str]:
        """Publish a rewrite's staged ``_bucket=N`` dirs as
        ``data/ingest=<tag>/bucket=N`` (rewrite tags are unique per
        call, so a pre-existing dest is a crashed attempt's leftover)
        and drop the staging dir. Returns bucket → table-relative path.
        Ingest moves its own: its dest paths are deterministic per batch
        id and may be referenced by the head or a tag."""
        dest_root = os.path.join(self.root, "data", f"ingest={tag}")
        os.makedirs(dest_root, exist_ok=True)
        os.utime(dest_root)  # same vacuum-rmdir race guard as publish
        paths = {}
        for b in buckets:
            dest = os.path.join(dest_root, f"bucket={b}")
            if os.path.isdir(dest):
                shutil.rmtree(dest)
            os.replace(os.path.join(staging, f"_bucket={b}"), dest)
            paths[b] = os.path.relpath(dest, self.root)
        shutil.rmtree(staging, ignore_errors=True)
        return paths

    def _publish_and_commit(
        self, staging: str, batch_id: str, snap: dict | None, stats: dict,
        metrics: dict, *, entry_ddl: str, phases: tuple,
        batch_payload_schema: T.StructType | None = None,
        manifested: set[int] = frozenset(),
        folded: dict[str, set[str]] | None = None,
        bootstrap_schema_ddl: str | None = None,
        head_check=None,
    ) -> dict:
        """PUBLISH + COMMIT as one critical section (commit lock for
        this object's threads, flock for other objects/processes).
        The committed-recheck must precede the move loop: the dest
        paths are deterministic per batch id, so a duplicate writer
        publishing AFTER another writer committed the same id would
        rmtree the winner's LIVE committed files and replace them
        with content planned from a different head (review-found:
        the winner may have folded deltas this loser's append
        doesn't carry — silent row loss).

        Durability: a commit survives process death — every manifest
        and the pointer land by ``os.replace`` — but not power loss:
        nothing calls ``fsync``, so a commit the OS had not flushed can
        vanish with the machine.

        Spark-FREE by construction (file moves, footer-derived stats
        passed in, JSON metadata): the Python Data Source write path
        (sources/spark_datasource.py) calls it from a worker process
        with no JVM, passing ``batch_payload_schema=None`` (schema
        kept verbatim — see _commit_locked) — the commit protocol is
        SHARED with the sink, not twinned.

        ``staging`` holds the batch laid out as ``_bucket=N/`` subdirs;
        ``stats`` maps each written bucket to its _parquet_stats tuple;
        ``metrics`` is the commit's metrics dict (returned, completed);
        ``entry_ddl`` is the schema the staged files were written with;
        ``phases`` = (start, plan end, write-job end) times. Inline
        compaction / crash replay only (the DS writer leaves them
        empty): ``manifested`` = buckets reused from a crashed attempt's
        manifests, ``folded`` = compacted bucket → the delta paths its
        fold consumed (a bucket listed here is a compaction)."""
        folded = dict(folded or {})
        t0, t_plan, t_job = phases
        new_entries: dict[str, dict] = {}
        bucket_rows: dict[int, int] = {}
        dest_root = os.path.join(self.root, "data", f"ingest={batch_id}")
        with self._commit_lock, table_meta.table_lock(self.root):
            head = self.current_snapshot()
            if self._is_committed_in(head, batch_id):
                shutil.rmtree(staging, ignore_errors=True)
                metrics["skipped"] = True
                metrics["reason"] = "committed concurrently by another writer"
                return metrics
            if head is not None and head["n_buckets"] != self.n_buckets:
                # another process rebucketed while this batch planned:
                # its per-bucket files are numbered in a dead bucket
                # space — committing them would corrupt pruning. The
                # batch is uncommitted and idempotent; reopen + retry.
                shutil.rmtree(staging, ignore_errors=True)
                raise RuntimeError(
                    f"table was rebucketed to {head['n_buckets']} buckets "
                    f"(this sink planned with {self.n_buckets}); reopen the "
                    f"sink and re-apply batch {batch_id}"
                )
            plan_epoch = 0 if snap is None else snap.get("rollback_epoch", 0)
            head_epoch = 0 if head is None else head.get("rollback_epoch", 0)
            if head_epoch != plan_epoch:
                # a rollback_to() landed while this batch planned (only
                # possible from ANOTHER sink object/process — same-
                # object batches block rollback via the in-flight
                # quiesce): a compacted fold planned pre-rollback
                # embeds de-committed rows and must not publish
                shutil.rmtree(staging, ignore_errors=True)
                raise RuntimeError(
                    f"table rolled back while batch {batch_id} planned "
                    f"(epoch {plan_epoch} -> {head_epoch}); re-apply it"
                )
            if (None if snap is None else snap.get("audit")) != (
                None if head is None else head.get("audit")
            ):
                # the table's write contract changed while this batch
                # ran: its rows were judged (or not judged) under the
                # plan-time contract — refuse and re-apply so the
                # current contract is enforced. Same shape as the
                # rollback-epoch guard: the batch is uncommitted and
                # idempotent.
                shutil.rmtree(staging, ignore_errors=True)
                raise RuntimeError(
                    f"table write contract (set_table_audit) changed "
                    f"while batch {batch_id} ran — re-apply it so the "
                    "current contract is enforced"
                )
            if head_check is not None:
                # caller-supplied validation that must see the LOCKED
                # head (the Data Source writer's stale-schema and
                # patch-mode guards: an unlocked pre-check races a
                # concurrent drop/rename/mode change — review-found
                # TOCTOU); raising aborts crash-equivalently
                try:
                    head_check(head)
                except Exception:
                    shutil.rmtree(staging, ignore_errors=True)
                    raise
            os.makedirs(dest_root, exist_ok=True)
            # bump the mtime explicitly: makedirs(exist_ok=True) does
            # NOT touch a pre-existing dir (a crashed attempt's
            # leftover), and the vacuum's rmdir-empty guard keys off
            # the dir's own mtime
            os.utime(dest_root)
            # REFERENCED dest dirs are live table data, not a crashed
            # attempt's leftover — this batch_id was committed before
            # and later trimmed from the dedup window
            # (trim_committed_batches). Never rmtree them (an inline-
            # compacted fold can be the ONLY copy of older batches'
            # rows — review-found data-loss path):
            # - referenced by the HEAD → the bucket's rows are already
            #   current state: skip (no replace, no new entry);
            # - referenced only by a TAG/time-travel snapshot → the
            #   staged fold IS new current state but must not overwrite
            #   the pinned history: publish under an alternate ingest
            #   dir (manifests record the actual path).
            head_live = (
                set()
                if head is None
                else {
                    e["path"]
                    for ents in head["buckets"].values()
                    for e in ents
                }
            )
            # only a dest dir already on disk can be retained data, so
            # a first attempt never reads the retained set
            referenced = None
            skipped_live: set[int] = set()
            dests: dict[int, str] = {}
            alt_root = None
            for b in sorted(stats):
                src_dir = os.path.join(staging, f"_bucket={b}")
                dest = os.path.join(dest_root, f"bucket={b}")
                if os.path.relpath(dest, self.root) in head_live:
                    skipped_live.add(b)
                    shutil.rmtree(src_dir, ignore_errors=True)
                    continue
                if os.path.isdir(dest) and referenced is None:
                    referenced = self._referenced_paths(head)
                if referenced and os.path.relpath(dest, self.root) in referenced:
                    if alt_root is None:
                        alt_root = os.path.join(
                            self.root,
                            "data",
                            f"ingest={batch_id}-r{uuid.uuid4().hex[:8]}",
                        )
                        os.makedirs(alt_root, exist_ok=True)
                        os.utime(alt_root)
                    dest = os.path.join(alt_root, f"bucket={b}")
                if os.path.isdir(dest):
                    shutil.rmtree(dest)  # crashed, un-manifested attempt
                os.replace(src_dir, dest)
                dests[b] = os.path.relpath(dest, self.root)
            for b in sorted(set(stats) - skipped_live):
                # the ACTUAL published dir (may be an alternate root
                # when the deterministic path was pinned by a tag) —
                # crash-replay relinks the manifest's copy
                entry = _entry(dests[b], entry_ddl, stats[b], str(b) in folded)
                bucket_rows[b] = stats[b][0]
                # the manifest is the entry plus what crash-replay reuse
                # needs (see _manifested_buckets)
                self._write_manifest(
                    batch_id,
                    b,
                    {
                        "batch_id": batch_id,
                        "bucket": b,
                        "rows": stats[b][0],
                        "files": stats[b][1],
                        **entry,
                        # the bucket space this file was numbered in — a
                        # rebucket invalidates it for crash-replay reuse
                        "n_buckets": self.n_buckets,
                        # the rollback epoch it was planned under — a
                        # rollback invalidates it likewise (the folded
                        # file may embed de-committed rows)
                        "rollback_epoch": plan_epoch,
                        # exactly the delta files this compaction folded
                        # — a crash-replay reusing this manifest must
                        # replace ONLY these at commit, never the
                        # then-current list
                        "folded": sorted(folded.get(str(b), set())),
                        "ts": time.time(),
                    },
                )
                self.crash_hook("after_manifest")
                new_entries[str(b)] = entry
            shutil.rmtree(staging, ignore_errors=True)
            for b in sorted(manifested):
                with open(self._manifest_path(batch_id, b)) as fh:
                    m = json.load(fh)
                bucket_rows[b] = m["rows"]
                new_entries[str(b)] = _entry(
                    m.get(
                        "path",
                        os.path.join("data", f"ingest={batch_id}", f"bucket={b}"),
                    ),
                    m["schema"],
                    (m["rows"], m.get("files"), m.get("key_range"),
                     m.get("file_ranges"), m.get("col_ranges")),
                    m.get("compacted", False),
                )
                # consume exactly what the crashed attempt recorded it
                # folded (may be absent in legacy manifests → fold
                # nothing, duplicates are LWW-idempotent)
                folded[str(b)] = set(m.get("folded", []))

            metrics["phase_s"] = {
                "plan": round(t_plan - t0, 3),
                "merge_write_job": round(t_job - t_plan, 3),
                "publish": round(time.time() - t_job, 3),
            }
            metrics["bucket_rows"] = bucket_rows
            self._commit_locked(
                head, batch_id, batch_payload_schema, new_entries,
                folded, metrics, t0,
                bootstrap_schema_ddl=bootstrap_schema_ddl,
            )
        return metrics

    def _evolved_schema(
        self, snap: dict | None, batch_payload_schema: T.StructType
    ) -> tuple[T.StructType, list[str], int]:
        """(table schema incl. internal cols, DDL log, schema version)
        after merging the batch's payload schema into ``snap``'s."""
        if snap is None:
            internal = [
                T.StructField(SEQ, T.LongType(), False),
                T.StructField("deleted", T.BooleanType(), False),
            ]
            if self.patch:
                internal.append(
                    T.StructField(
                        CELL, T.MapType(T.StringType(), T.LongType()), True
                    )
                )
            return (
                T.StructType(list(batch_payload_schema.fields) + internal),
                [],
                0,
            )
        table_schema = parse_schema(snap["schema"])
        payload_only = T.StructType(
            [f for f in table_schema.fields if f.name not in _INTERNAL]
        )
        evolved, ddl_log = evolve_schema(payload_only, batch_payload_schema)
        return (
            T.StructType(
                list(evolved.fields)
                + [f for f in table_schema.fields if f.name in _INTERNAL]
            ),
            ddl_log,
            snap["schema_version"] + (1 if ddl_log else 0),
        )

    def _commit_locked(
        self, head, batch_id, batch_payload_schema, new_entries,
        consumed_paths, metrics, t0,
        bootstrap_schema_ddl: str | None = None,
    ) -> None:
        """The commit merge (caller holds ``_commit_lock`` AND the
        cross-process ``_table_lock``, and has already re-read ``head``
        and done the duplicate/rebucket rechecks): re-evolve the table
        schema against the head — concurrent batches may have committed
        since this batch planned — merge this batch's bucket entries (a
        compacted bucket replaces exactly the delta files it folded and
        keeps any newer concurrent appends), and swap the pointer.

        ``batch_payload_schema=None`` is the JVM-less fast path (the
        Data Source write commit runs in a Python worker, with no JVM
        to parse a schema): NO schema evolution — the
        head's schema string is kept verbatim (the DS writer already
        refused non-subset batches at plan time), or
        ``bootstrap_schema_ddl`` seeds an empty table."""
        if batch_payload_schema is None:
            if head is not None:
                schema_str = head["schema"]
                schema_version = head.get("schema_version", 0)
            else:
                if bootstrap_schema_ddl is None:
                    raise ValueError(
                        "empty table needs bootstrap_schema_ddl when "
                        "committing without a batch schema"
                    )
                schema_str = bootstrap_schema_ddl
                schema_version = 0
            ddl_log: list[str] = []
        else:
            table_schema, ddl_log, schema_version = self._evolved_schema(
                head, batch_payload_schema
            )
            schema_str = _ddl(table_schema)
        buckets = {} if head is None else dict(head["buckets"])
        committed = [] if head is None else list(head["committed_batches"])
        for key_b, entry in new_entries.items():
            cur = list(buckets.get(key_b, []))
            if entry["compacted"]:
                folded = consumed_paths.get(key_b, set())
                # a concurrent rewrite may have already delisted some
                # of the deltas this fold consumed — keep everything
                # it didn't consume (duplicate rows across our fold
                # and the concurrent one are LWW-idempotent), and a
                # stale fold that re-includes tombstones a concurrent
                # expire_tombstones dropped is re-dropped by the next
                # fold via the snapshot's tombstone_floor (GC is
                # monotone-sticky, never abort-and-retry)
                buckets[key_b] = [entry] + [
                    e for e in cur if e["path"] not in folded
                ]
            else:
                buckets[key_b] = cur + [entry]
        metrics["schema_ddl"] = ddl_log
        metrics["schema_version"] = schema_version
        self._commit_next(
            head,
            metrics,
            t0,
            schema=schema_str,
            schema_version=schema_version,
            buckets=buckets,
            committed_batches=committed + [batch_id],
        )
        with open(os.path.join(self.root, "_metrics", "commits.jsonl"), "a") as fh:
            fh.write(json.dumps(metrics) + "\n")

    # ------------------------------------------------------- maintenance
    def compact(
        self,
        buckets: list[int] | None = None,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
    ) -> dict:
        """Fold every delta of the given buckets (default: all buckets
        holding >1 delta) into a single file each. Idempotent and
        crash-safe: the fold writes to a staging dir and only the
        snapshot-pointer swap publishes it — a crash leaves the old
        snapshot live. The background-compaction analog of the inline
        threshold compaction in apply_batch.

        ``cluster_by``: payload columns to sort FIRST within each
        bucket file (key stays as the tie-breaker). Clustering
        tightens parquet row-group min/max on those columns, so
        scan_where()'s residual predicate skips row groups inside the
        buckets its stats pruning had to keep — the Z-order-lite
        layout choice for tables served by payload predicates. The
        trade-off is explicit: files are no longer primarily
        key-sorted, so lookup()'s row-group skipping (and the per-file
        key ranges) widen; pick the sort to match the table's read
        pattern.

        ``zorder=True`` (needs 2-4 cluster_by columns) sorts by the
        interleaved Morton code instead of lexicographically
        (operators.zorder): a linear sort gives tight row-group stats
        on the FIRST column and full-span stats on the rest, the Z
        curve bounds EVERY clustered column's span per row group —
        Delta's OPTIMIZE ZORDER BY analogue for tables served by
        predicates on more than one column. Quantization ranges come
        from the snapshot's recorded col_ranges (zero I/O) with a
        one-job min/max fallback; the sort key is pure JVM expressions
        computed inside the rewrite's existing per-bucket sort and
        dropped before write."""
        if zorder and not cluster_by:
            raise ValueError("zorder=True needs cluster_by columns")
        if cluster_by:
            snap = self.current_snapshot()
            if snap is None:
                return {"compacted": []}
            names = {f.name for f in parse_schema(snap["schema"]).fields}
            for c in cluster_by:
                if c in _INTERNAL or c == "_bucket" or c == KEY:
                    raise ValueError(f"cluster_by: invalid column {c!r}")
                if c not in names:
                    # fail HERE, not as an AnalysisException after the
                    # fold job inside a cron'd maintenance run
                    raise ValueError(f"cluster_by: no such column {c!r}")
            # idempotence for the cron'd path (MAINTAIN_CLUSTER_BY):
            # a single-entry bucket already clustered with the same
            # columns needs no rewrite — without this skip every
            # maintenance cycle re-sorts the ENTIRE table
            todo = [
                b
                for b in (buckets if buckets is not None
                          else range(self.n_buckets))
                if (ents := snap["buckets"].get(str(b), []))
                and not (
                    len(ents) == 1
                    and ents[0].get("clustered") == list(cluster_by)
                    # a linear re-sort of a z-ordered bucket (and vice
                    # versa) is a REAL layout change, not a no-op
                    and bool(ents[0].get("zorder")) == bool(zorder)
                )
            ]
            zexpr = (
                self._zorder_sort_key(snap, list(cluster_by))
                if zorder
                else None
            )
            return self._rewrite_buckets(
                todo, min_deltas=1, row_filter=None, cluster_by=cluster_by,
                zorder_col=zexpr,
            )
        return self._rewrite_buckets(buckets, min_deltas=2, row_filter=None)

    def _zorder_sort_key(self, snap: dict, cluster_by: list[str]):
        """The Morton sort key for compact(zorder=True): quantization
        [min, max] per numeric column from the commit entries' recorded
        col_ranges (every entry of every bucket — the curve should be
        table-global so successive partial compactions agree), falling
        back to ONE small min/max job for columns with no usable
        recorded stats. An all-NULL column quantizes as constant 0."""
        from ..operators.zorder import zorder_expr

        schema = parse_schema(snap["schema"])
        fields = {f.name: f.dataType for f in schema.fields}
        need = [
            c for c in cluster_by
            if not isinstance(fields.get(c), T.StringType)
        ]
        ranges: dict[str, list] = {}
        missing: list[str] = []
        for c in need:
            lo = hi = None
            ok = True
            for ents in snap["buckets"].values():
                for e in ents:
                    cr = (e.get("col_ranges") or {}).get(c)
                    if cr is None:
                        ok = False
                        break
                    if not cr:  # [] = provably all-NULL entry
                        continue
                    lo = cr[0] if lo is None or cr[0] < lo else lo
                    hi = cr[1] if hi is None or cr[1] > hi else hi
                if not ok:
                    break
            if ok:
                ranges[c] = [lo, hi] if lo is not None else [0, 0]
            else:
                missing.append(c)
        if missing:
            # narrow the fallback scan to the missing columns (plus
            # the fold internals) — min/max over 2 columns must not
            # pay a 50-column read (review-found)
            raw = self._read_buckets(
                snap,
                [int(b) for b in snap["buckets"]],
                target=self._projection_target(snap, missing),
            )
            row = None
            if raw is not None:
                aggs = []
                for c in missing:
                    aggs.append(F.min(c).alias(f"lo_{c}"))
                    aggs.append(F.max(c).alias(f"hi_{c}"))
                row = raw.agg(*aggs).collect()[0]
            import datetime as _dt

            def _num(v):
                if isinstance(v, _dt.date) and not isinstance(
                    v, _dt.datetime
                ):
                    return (v - _dt.date(1970, 1, 1)).days
                return v

            for c in missing:
                lo = None if row is None else _num(row[f"lo_{c}"])
                hi = None if row is None else _num(row[f"hi_{c}"])
                ranges[c] = [lo, hi] if lo is not None else [0, 0]
        return zorder_expr(schema, cluster_by, ranges)

    def expire_tombstones(
        self, min_op_sequence: int, buckets: list[int] | None = None
    ) -> dict:
        """Tombstone GC: drop delete tombstones with ``op_sequence <
        min_op_sequence`` while folding the given buckets (default:
        all). A tombstone exists to stop a LATE stale update from
        resurrecting a deleted doc; once the source guarantees no event
        below the floor can still arrive (a retention watermark, e.g.
        the binlog retention horizon), tombstones below it are dead
        weight in every read and compaction. Caller owns the floor —
        expiring below an event that later arrives WOULD resurrect.
        Same staged-snapshot publish as compact(): crash-safe,
        idempotent.

        A floor at or below the table's recorded ``tombstone_floor`` is
        a NO-OP instead of a rewrite: tombstones under the recorded
        floor are already dropped at every fold (``_floor_filter``), so
        re-running with a static floor — the steady-state of a cron'd
        maintain_job — must not cost an O(table) full rewrite per run
        (review-found)."""
        self._require_main("expire_tombstones")
        snap = self.current_snapshot()
        if snap is not None and min_op_sequence <= snap.get("tombstone_floor", 0):
            return {
                "compacted": [],
                "skipped": f"floor {min_op_sequence} <= recorded "
                f"{snap.get('tombstone_floor', 0)}",
            }
        drop = F.col("deleted") & (F.col(SEQ) < F.lit(min_op_sequence))
        return self._rewrite_buckets(
            buckets, min_deltas=1, row_filter=~drop, floor=min_op_sequence
        )

    @staticmethod
    def _floor_filter(snap: dict | None, col=F.col):
        """Predicate dropping tombstones below the table's recorded
        retention floor, or None when no floor was ever declared: a
        Spark Column, or with ``col=pc.field`` the same rule as a
        pyarrow expression (the Arrow fold's).
        Applied at EVERY fold (inline compaction, compact(), rebucket)
        so tombstone GC is monotone-sticky: a stale fold that
        re-includes an expired tombstone (a crash-replayed manifest, a
        concurrent writer's fold planned pre-GC) is re-dropped by the
        next fold instead of surviving forever — resurrection is
        benign for visible data (the floor promises no event below it
        can still arrive) but would otherwise defeat the GC."""
        floor = 0 if snap is None else snap.get("tombstone_floor", 0)
        if not floor:
            return None
        return ~(col("deleted") & (col(SEQ) < floor))

    def rebucket(self, new_n_buckets: int) -> dict:
        """Online partition evolution: rewrite the table into a new
        bucket count and atomically switch the table's bucket space.

        The scale story: bucket count is the unit of merge parallelism
        and must track table growth — a table bootstrapped at 64 buckets
        that grows 100× needs resharding or every bucket's state stops
        fitting an executor partition. This is Iceberg's partition-spec
        evolution; since this sink's reads prune by bucket NUMBER, old
        and new spec cannot coexist file-by-file, so rebucket() is a
        full rewrite (one shuffle, key-sorted output — the same job
        shape as a whole-table compact) published as one snapshot.

        Correctness properties, all tested (tests/test_rebucket.py):
        - committed_batches carry over — replay resume/exactly-once
          survive the rebucket;
        - time travel: pre-rebucket snapshots read under THEIR bucket
          count (read_state/lookup take it from the snapshot);
        - the changelog across the boundary reports only genuine
          changes (rewritten rows keep their op_sequence and are
          dropped by the seq > old_seq predicate);
        - concurrent writers: same-object batches are rejected while
          the rebucket runs; cross-object/process batches are refused
          at THEIR commit point by the n_buckets head-check. A commit
          that slips in between this rebucket's pin and publish aborts
          the rebucket (retry later), never the committed batch.

        Old files stay on disk for time travel until vacuum()."""
        self._require_main("rebucket")
        t0 = time.time()
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError("no snapshot yet — set n_buckets at creation instead")
        if snap["n_buckets"] == new_n_buckets:
            return {"rebucketed": False, "n_buckets": new_n_buckets}
        tag = f"rebucket-v{snap['version'] + 1}-{uuid.uuid4().hex[:8]}"
        with self._commit_lock:
            if self._inflight or self._compacting:
                raise RuntimeError(
                    "rebucket needs a quiesced sink: in-flight batches/"
                    f"rewrites present ({sorted(self._inflight)}, "
                    f"{sorted(self._compacting)})"
                )
            self._rebucketing = True
            self._inflight.add(tag)  # shields staging/ingest dirs from vacuum
        try:
            table_schema = parse_schema(snap["schema"])
            old_buckets = [int(b) for b in snap["buckets"]]
            raw = self._read_buckets(snap, old_buckets, target=table_schema)
            moved: dict[str, list] = {}
            if raw is not None:
                folded = self._fold(raw, KEY, SEQ)
                ff = self._floor_filter(snap)
                if ff is not None:
                    folded = folded.filter(ff)  # GC stickiness at every fold
                folded = folded.withColumn("_bucket", _bucket_expr(new_n_buckets))
                staging, stats, _ = self._stage_buckets(
                    folded.repartition(new_n_buckets, "_bucket")
                    .sortWithinPartitions("_bucket", KEY)
                )
                ddl = _ddl(table_schema)
                for b, path in self._move_staged(staging, sorted(stats), tag).items():
                    moved[str(b)] = [_entry(path, ddl, stats[b], True)]
            with self._commit_lock, table_meta.table_lock(self.root):
                head = self.current_snapshot()
                if head["version"] != snap["version"]:
                    # a cross-object batch committed mid-rebucket: its
                    # rows are NOT in the rewrite — publishing would lose
                    # them. Abort; the moved files are unreferenced
                    # orphans for vacuum. (Same-object writers were
                    # rejected at entry.)
                    raise RuntimeError(
                        f"concurrent commit v{head['version']} during rebucket "
                        f"of v{snap['version']}; quiesce writers and retry"
                    )
                self._commit_next(
                    head,
                    {"rebucket": {"from": snap["n_buckets"], "to": new_n_buckets}},
                    t0,
                    n_buckets=new_n_buckets,
                    buckets=moved,
                )
                self.n_buckets = new_n_buckets
        finally:
            with self._commit_lock:
                self._rebucketing = False
                self._inflight.discard(tag)
        return {
            "rebucketed": True,
            "from": snap["n_buckets"],
            "to": new_n_buckets,
            "wall_s": round(time.time() - t0, 3),
        }

    def set_table_audit(
        self,
        *,
        max_violations: int = 0,
        min_rows: int = 0,
        max_rows: int | None = None,
        max_n_tok: int = 1_000_000,
    ) -> dict:
        """Record the STANDARD token audit (operators.audit.
        standard_token_audit) as TABLE metadata — a write contract
        every writer enforces, not a per-writer opt-in.

        ``SnapshotSink(audit=...)`` gates only the sink object it was
        passed to; a second sink, a maintenance job, or a Data Source
        write (``df.write.format("beehive")``) sails past it. Recording
        the contract in the snapshot closes that: every batch commit
        audits its staged output against it (in ADDITION to any
        constructor audit), and the DS write path enforces a
        pyarrow twin of the same rules executor-side (parity-pinned by
        test), refusing at commit if the contract changed since it
        planned. Only the named standard audit is recordable — it is
        the one rule set both engines (Catalyst and Arrow) implement;
        arbitrary callables stay constructor-level.

        The contract is BATCH-scoped: it judges each batch's own
        (aligned, pre-fold) rows — min_rows/max_rows measure the batch,
        and folded old rows an inline compaction rewrites are never
        re-judged, so tightening a contract cannot wedge ingestion on
        historical data. A batch IN FLIGHT when the contract changes is
        refused at its commit (re-apply it) — both writers enforce the
        same rule."""
        self._require_main("set_table_audit")
        if max_violations < 0 or min_rows < 0:
            raise ValueError("thresholds must be non-negative")
        if max_rows is not None and max_rows < 0:
            raise ValueError("max_rows must be non-negative")
        if max_n_tok <= 0:
            raise ValueError("max_n_tok must be positive")
        with self._commit_lock, table_meta.table_lock(self.root):
            head = self.current_snapshot()
            if head is None:
                raise ValueError("no snapshot yet")
            from beehive_data_etl_spark.sources.table_meta import _split_top

            names = {
                f.split(" ", 1)[0] for f in _split_top(head["schema"])
            }
            missing = sorted({"tokens", "n_tok"} - names)
            if missing:
                raise ValueError(
                    f"standard token audit needs column(s) {missing} "
                    "the table does not have"
                )
            cfg = {
                "standard": {
                    "max_violations": max_violations,
                    "min_rows": min_rows,
                    "max_rows": max_rows,
                    "max_n_tok": max_n_tok,
                }
            }
            new_snap = self._commit_next(
                head, {"set_table_audit": cfg["standard"]}, audit=cfg
            )
        return {"version": new_snap["version"], "audit": cfg}

    def drop_table_audit(self) -> dict:
        """Remove the table-level write contract (one metadata-only
        commit)."""
        self._require_main("drop_table_audit")
        with self._commit_lock, table_meta.table_lock(self.root):
            head = self.current_snapshot()
            if head is None:
                raise ValueError("no snapshot yet")
            if not head.get("audit"):
                return {"version": head["version"], "audit": None}
            new_snap = self._commit_next(
                head, {"drop_table_audit": True}, audit=None
            )
        return {"version": new_snap["version"], "audit": None}

    def _table_audit_fn(self, snap: dict | None):
        """The callable for a snapshot's recorded write contract, or
        None."""
        cfg = (snap or {}).get("audit") or {}
        p = cfg.get("standard")
        if not p:
            return None
        from beehive_data_etl_spark.operators.audit import standard_token_audit

        return standard_token_audit(
            max_violations=p.get("max_violations", 0),
            min_rows=p.get("min_rows", 0),
            max_rows=p.get("max_rows"),
            max_n_tok=p.get("max_n_tok", 1_000_000),
            patch=self.patch,
        )

    def trim_committed_batches(self, retain_last: int) -> dict:
        """Metadata GC: bound the exactly-once dedup window.

        ``committed_batches`` is append-ordered, grows O(stream length),
        and is copied into EVERY snapshot JSON — at 10^10 events /
        millions of batches that is tens of MB rewritten per commit,
        violating the "driver state bounded by n_buckets" rule for the
        metadata layer. This trims it to the ``retain_last`` most
        recent ids as one metadata-only commit (Iceberg analog:
        expire_snapshots bounding the summary-scan window).

        Safety: dropping an id only forfeits the skip-on-redelivery
        fast path for batches OLDER than the window — re-application is
        LWW-idempotent by design (module docstring: duplicate rows at
        their original op_sequence fold away), so final state is
        untouched even if an ancient batch is somehow re-delivered.
        Size ``retain_last`` to the source's re-delivery horizon (the
        stream checkpoint / binlog retention window — the same horizon
        ``expire_tombstones`` keys off), and keep it ABOVE the
        replication sync cadence so ``Replicator.cursor()`` still sees
        its latest window id.

        Trimmed ids' MANIFEST dirs are deleted (before the swap —
        crash-safe by the rollback argument: if we die first, the ids
        are still committed and committed ids' manifests are never
        consulted). They could not be reused anyway: manifest reuse is
        restricted to crash-replay of UNCOMMITTED attempts — a trimmed
        batch's manifest describes a long-committed fold whose
        ``folded`` list would delist CURRENT entries at the same
        deterministic paths (review-reproduced). Re-delivery replans;
        the publish path refuses to replace head- or tag-referenced
        dirs, so live data survives regardless."""
        self._require_main("trim_committed_batches")
        if retain_last < 0:
            raise ValueError(f"retain_last must be >= 0, got {retain_last}")
        with self._commit_lock, table_meta.table_lock(self.root):
            head = self.current_snapshot()
            if head is None:
                raise ValueError("no snapshot yet")
            batches = head["committed_batches"]
            dropped = batches[: max(0, len(batches) - retain_last)]
            if not dropped:
                return {"trimmed": 0}
            for bid in dropped:
                shutil.rmtree(
                    os.path.join(self.root, "_manifests", bid), ignore_errors=True
                )
            new_snap = self._commit_next(
                head,
                {"trim_committed": len(dropped), "retained": retain_last},
                committed_batches=batches[len(dropped):],
            )
        return {"trimmed": len(dropped), "version": new_snap["version"]}

    def expire_snapshots(self, keep_last: int) -> dict:
        """Metadata GC for the snapshot CHAIN — the Iceberg
        ``expire_snapshots`` analogue for the JSON layer.

        Every commit writes one ``_snapshots/vNNNNNN.json``; a
        10^10-event replay is millions of micro-batches, i.e. millions
        of metadata files that nothing else bounds (``vacuum`` reaps
        DATA, ``trim_committed_batches`` bounds the dedup window INSIDE
        each snapshot — this bounds the chain itself). Retires every
        version below ``head - keep_last + 1`` with three protections:

        - **tagged versions keep their JSON** (audit pins, replication
          cursors) AND clamp the floor to ``min(tags) + 1``: a
          changelog window FROM a tagged cursor walks every interior
          version above it (rename bridges, unreplicable-window
          refusals), so the suffix above the oldest tag must stay
          intact — an unclamped floor would strand the slowest
          replica;
        - **floor-first publish**: the new floor commits as a
          metadata-only snapshot BEFORE any JSON is deleted, so a
          crash mid-delete leaves extra files (re-reaped next run),
          never a hole below an unrecorded floor (which fsck would
          misread as corruption);
        - **reads below the floor fail loudly** (``snapshot()`` names
          the floor), and ``backfill_status``'s lineage walk stops at
          it — a pre-floor backfill is forgotten and re-runs
          idempotently rather than crashing the walk.

        Time travel below the floor is deliberately given up — that is
        the storage being reclaimed. Size ``keep_last`` to the deepest
        changelog window any consumer tails (replicas already pin
        their cursors with tags, so the clamp makes lagging consumers
        safe by construction)."""
        self._require_main("expire_snapshots")
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        with self._commit_lock, table_meta.table_lock(self.root):
            head = self.current_snapshot()
            if head is None:
                raise ValueError("no snapshot yet")
            cur_floor = head.get("snapshot_floor", 1)
            cand = head["version"] - keep_last + 1
            tags = self.tags()
            if tags:
                cand = min(cand, min(tags.values()) + 1)
            # live branches clamp like tags: a branch handle reads
            # main-chain files for versions <= its fork point (shared
            # history), and fast_forward's published span diffs from
            # the base — keep the base and everything above it
            branches = self.branches()
            if branches:
                cand = min(cand, min(b["base"] for b in branches.values()) + 1)
            # fork points keep their JSONs like tagged versions do
            pinned = set(tags.values()) | {b["base"] for b in branches.values()}
            floor = max(cur_floor, cand)

            def _sweep(below: int) -> int:
                return table_meta.drop_snapshots(
                    self.root, keep=lambda v: v >= below or v in pinned
                )

            if floor == cur_floor:
                # unchanged floor still sweeps: a tag dropped since the
                # last expiry may have released versions below it
                return {"expired": _sweep(cur_floor), "snapshot_floor": cur_floor}
            new_snap = self._commit_next(
                head,
                {"expire_snapshots": True, "snapshot_floor": floor},
                snapshot_floor=floor,
            )
            # sweep the DIRECTORY, not the [old floor, new floor)
            # range: a version kept below the old floor only because a
            # tag pinned it (since dropped) would otherwise leak
            # forever, as would leftovers of a crashed delete pass
            expired = _sweep(floor)
        return {
            "expired": expired,
            "snapshot_floor": floor,
            "version": new_snap["version"],
        }

    def backfill(
        self,
        columns: dict,
        buckets: list[int] | None = None,
        name: str | None = None,
    ) -> dict:
        """Retro-compute derived payload columns over the LIVE table —
        the "we shipped a new quality score / tokenizer stat; now apply
        it to 10^10 existing rows" operation. ``columns`` maps column
        name → a pyspark Column expression over the row's existing
        payload (built-ins or a vectorized pandas UDF — the usual
        no-per-row-Python rule applies). Applied to live rows only;
        tombstones keep (or NULL-get) the column. New columns evolve the
        table schema at publish through the same add/widen rules as
        ingest-time evolution.

        Shape and scale: each call is ONE rewrite commit over the given
        buckets (default all) — the same one-shuffle key-sorted job as
        compact(), so cost is O(rewritten buckets' state). For a big
        table, run it CHUNKED: ``backfill(cols, buckets=range(0,64),
        name="q2")`` per chunk, one commit each; ``backfill_status(
        "q2")`` reports which buckets a named backfill already rewrote
        (recorded in snapshot metadata), so a crashed driver resumes by
        re-running — completed chunks are skipped, the interrupted one
        is re-rewritten idempotently.

        Two caveats, deliberate and documented rather than hidden:

        - **The changelog is silent about backfills** (rewritten rows
          keep their op_sequence, exactly like compaction — the LWW
          clock belongs to the SOURCE and must not be forged), and the
          commit records no column list. Derived views that can
          recompute rebuild across a backfill window; replicas, outboxes
          and the changelog stream refuse it with instructions instead
          of silently diverging; NearDupView, which cannot rebuild,
          does not see it (``table_meta.WINDOW_POLICY``).
        - **Rows ingested concurrently are not transformed.** Deploy
          the forward path (the ingest transform stage emitting the new
          column) FIRST, then backfill history — the standard two-step;
          then concurrent arrivals already carry the column.
        """
        self._require_main("backfill")
        if not columns:
            raise ValueError("backfill needs at least one column expression")
        reserved = {KEY, SEQ, "deleted", "_bucket"}
        bad = reserved & set(columns)
        if bad:
            raise ValueError(f"backfill cannot target internal columns: {sorted(bad)}")
        return self._rewrite_buckets(
            buckets, min_deltas=1, row_filter=None, transform=dict(columns),
            op_label="backfill", backfill_name=name,
        )

    def backfill_status(self, name: str) -> set[int]:
        """Buckets a named backfill has already rewritten, recovered
        from committed snapshot metadata (parent-chain walk — driver-
        side JSON reads, O(versions), the same order as Iceberg's
        snapshot log). Resume = re-run the chunk loop skipping these."""
        done: set[int] = set()
        snap = self.current_snapshot()
        floor = 1 if snap is None else snap.get("snapshot_floor", 1)
        while snap is not None:
            m = snap.get("metrics", {})
            if m.get("backfill_name") == name:
                done.update(m.get("backfill", []))
            if "rollback_to" in m:
                # follow the RESTORED lineage, not the raw parent: a
                # rollback reverted every commit between its target and
                # its parent — a backfill in that span was undone with
                # them, and counting it "done" would make a resume skip
                # buckets whose rewritten files no longer exist
                nxt = m["rollback_to"]
            else:
                nxt = snap.get("parent")
            # the lineage below the snapshot floor is expired: stop
            # cleanly — a pre-floor backfill is forgotten and re-runs
            # idempotently, which beats crashing the walk
            snap = None if nxt is None or nxt < floor else self.snapshot(nxt)
        return done

    def drop_column(self, name: str) -> dict:
        """Schema evolution beyond add/widen: REMOVE a payload column.

        In a name-based parquet store a metadata-only drop is a trap:
        old files still carry the column, so re-adding the same name
        later would RESURRECT years-old values on read (the classic
        evolution bug Iceberg's field ids exist to prevent — on the
        cluster path `IcebergSink` drops by field id, metadata-only).
        This sink therefore drops PHYSICALLY: one filtering-free
        column-projection rewrite of every non-empty bucket through the
        crash-safe staged protocol, then the superseded bytes die with
        the next vacuum. After it, a fresh column of the same name
        starts from NULLs everywhere (pinned by test).

        Operational contract (mirrors purge_keys):
        - quiesce ingest: a batch committing concurrently with the OLD
          schema re-adds the column via normal evolution — deploy the
          writer change first, then alter;
        - a bucket claimed by a concurrent rewrite makes this RAISE
          (listing the buckets) rather than return with old-schema
          bytes retained;
        - time travel still shows the column at pre-drop versions
          (their entries carry their own schema) until vacuum reaps
          them; tags pin as usual;
        - the CHANGELOG is clean across the window: rewritten rows keep
          their op_sequence (silent under the seq predicate) and both
          states align to the TO schema; on per-cell (patch) tables the
          readers additionally bridge the old state's cell namespace
          (dropped cells removed, renamed cells carried) before folding
          and fingerprinting. Consumers that USED the column fail
          loudly (missing column), never silently. Replication refuses
          the window — no forward event drops a replica's column; run
          the same drop_column downstream, then mark_synced.
        - on patch tables the rewrite also rewrites every _cell_seq
          map (drop: the cell dies with the column, so a re-add starts
          never-set; rename: the setter clock carries over so late
          out-of-order patches still resolve against the right seq).
          NOTE the Iceberg twin's metadata-only alter does NOT migrate
          name-keyed cell maps — see drop_column_sql."""
        self._require_main("drop_column")
        return self._alter_column(drop=name)

    def rename_column(self, old: str, new: str) -> dict:
        """Schema evolution beyond add/widen: RENAME a payload column,
        values preserved. Physical rewrite for the same
        name-resurrection reason as drop_column (Iceberg renames by
        field id, metadata-only — the cluster twin). The changelog
        readers are rename-AWARE: the window's recorded rename map
        bridges the FROM-version state to the TO-version names, so
        pre-images carry the old values under the NEW name and
        downstream diffs stay exact. Replication still refuses the
        window (a replica's column can't be renamed by forward events);
        run the same rename downstream, then mark_synced. Same
        quiesce/concurrency/time-travel contract as drop_column."""
        self._require_main("rename_column")
        return self._alter_column(rename=(old, new))

    def _alter_column(
        self, drop: str | None = None, rename: tuple[str, str] | None = None
    ) -> dict:
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError("no snapshot yet")
        schema = parse_schema(snap["schema"])
        names = {f.name for f in schema.fields}
        # _bucket is the rewrite's own partitioning column (renaming a
        # payload column onto it would be silently OVERWRITTEN by bucket
        # numbers — total data loss, review-found); change_type/_old_*
        # are the changelog readers' reserved output names
        protected = {KEY, SEQ, "deleted", CELL, "_bucket", "change_type"}
        patch = self.patch
        if drop is not None:
            if drop in protected:
                raise ValueError(f"cannot drop internal/key column {drop!r}")
            if drop not in names:
                raise ValueError(f"no such column {drop!r}")

            def project(df, _c=drop):
                out = df.drop(_c)
                if patch:
                    # the column's cells die with it: a re-add of the
                    # name must start from never-set everywhere
                    out = out.withColumn(
                        CELL,
                        F.map_filter(F.col(CELL), lambda k, _v: k != _c),
                    )
                return out

            final = T.StructType([f for f in schema.fields if f.name != drop])
            label, extra = "drop_column", {"dropped": drop}
        else:
            old, new = rename
            if old in protected or new in protected or new.startswith("_old_"):
                raise ValueError(f"cannot rename internal/key column ({old!r} -> {new!r})")
            if old not in names:
                raise ValueError(f"no such column {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")

            def project(df, _o=old, _n=new):
                out = df.withColumnRenamed(_o, _n)
                if patch:
                    # cells key by NAME: carry the setter clock over so
                    # a late out-of-order patch on the renamed column
                    # still loses/wins against the right sequence
                    out = out.withColumn(
                        CELL,
                        F.map_from_entries(
                            F.transform(
                                F.map_entries(F.col(CELL)),
                                lambda e: F.struct(
                                    F.when(e["key"] == _o, F.lit(_n))
                                    .otherwise(e["key"])
                                    .alias("key"),
                                    e["value"].alias("value"),
                                ),
                            )
                        ),
                    )
                return out

            final = T.StructType(
                [
                    T.StructField(new, f.dataType, f.nullable)
                    if f.name == old
                    else f
                    for f in schema.fields
                ]
            )
            label, extra = "rename_column", {"rename_map": {"old": old, "new": new}}
        if not any(ents for ents in snap["buckets"].values()):
            # no data files: the alter is a metadata-only schema commit
            with self._commit_lock, table_meta.table_lock(self.root):
                head = self.current_snapshot()
                if head["version"] != snap["version"]:
                    raise RuntimeError(
                        f"table advanced from v{snap['version']} to "
                        f"v{head['version']} during the {label} — re-run "
                        "the alter against the new head"
                    )
                self._commit_next(
                    head,
                    {label: [], **extra},
                    schema=_ddl(final),
                    schema_version=head.get("schema_version", 0) + 1,
                )
            return {"compacted": [], "op": label, **extra}
        # row_filter=lit(True) is a no-op filter whose presence makes a
        # bucket that folds to ZERO rows (all tombstones under the GC
        # floor) clear its entries instead of silently keeping the
        # old-schema files (the resurrection this rewrite exists to
        # prevent)
        res = self._rewrite_buckets(
            None, min_deltas=1, row_filter=F.lit(True), op_label=label,
            project=project, final_schema=final, extra_metrics=extra,
            require_all=True,
        )
        return {**res, "op": label, **extra}

    def purge_keys(
        self,
        keys: list,
        *,
        ignore_tags: bool = False,
        skip_vacuum: bool = False,
        vacuum_older_than_s: float = 0.0,
    ) -> dict:
        """Takedown / right-to-be-forgotten: physically remove every
        retained byte of the given keys — live rows AND their
        tombstones, current state AND time travel. Composes the
        existing machinery; nothing here has its own crash protocol:

        1. the keys' buckets are computed on the driver by
           ``bucket_of``, the Python twin of the sink's bucket
           expression (O(|keys|), no Spark job, as lookup());
        2. ONE filtering rewrite commit (the same crash-safe staged
           protocol as compact()) re-folds exactly those buckets and
           drops the keys' rows ENTIRELY — not a tombstone: a tombstone
           retains the key and would shadow a future legitimate
           re-insert at a lower op_sequence, whereas after a purge the
           key's LWW clock restarts from nothing (Iceberg's
           DELETE-then-expire_snapshots has the same net semantics);
        3. ``vacuum()`` removes the superseded delta files — that is
           what actually destroys the bytes. ``skip_vacuum=True``
           defers it when changelog consumers (TokenIndex,
           AggregateView, replicas) still need the window's old files:
           refresh/reconcile them, then run ``vacuum()`` yourself.

        Operational contract (each point pinned by a test):

        - **Tags pin bytes.** A tag references pre-purge files that
          vacuum keeps, so by default the purge REFUSES while tags
          exist; ``ignore_tags=True`` proceeds and the tagged bytes
          survive until the tags drop and a later vacuum runs.
        - **The changelog stays correct**: the changelog readers
          detect the purge commit and diff that window over the whole
          state of the buckets it rewrote, where purged live keys
          surface as ``D`` rows — index/aggregate refreshes stay exact. REPLICATION
          refuses the window instead (no forward delete event exists
          at a truthful op_sequence): purge each replica directly,
          then ``mark_synced`` past it.
        - **Concurrent rewrites don't silently skip**: a bucket claimed
          by an in-flight compaction makes the purge RAISE (listing the
          buckets) rather than return with the key retained.
        - **In-flight ingest can resurrect**: a crashed-but-manifested
          batch replayed AFTER the purge re-inserts the key at its
          original op_sequence. Purge with ingest quiesced or re-run it
          after recovery; ``purge_audit`` is the checkable invariant.
        - Artifacts upstream of this table (quarantine dirs, txn
          spill, signature stores) have their own retention — run
          their takedown paths separately.

        Scale: cost is O(state of the keys' buckets) — the rewrite —
        plus the vacuum listing; the ``IN (keys)`` filter is a
        broadcast-friendly literal list, fine for takedown-request
        volumes (thousands); chunk calls for larger lists."""
        self._require_main("purge_keys")
        if self.branches():
            # takedown must cover EVERY ref — a branch head keeps
            # referencing the pre-purge files (vacuum retains them for
            # it), so the purged rows would survive on the branch
            raise RuntimeError(
                "purge_keys with live branches would leave the purged "
                f"rows reachable on {sorted(self.branches())} — "
                "fast_forward or delete_branch them first"
            )
        if not keys:
            raise ValueError("purge_keys() needs at least one key")
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError("no snapshot yet")
        tags = self.tags()
        if tags and not ignore_tags:
            raise RuntimeError(
                f"tags pin pre-purge data files: {sorted(tags)} — vacuum "
                "would retain the purged bytes under them. Drop or move "
                "the tags first (replica retention tags: sync the replica, "
                "purge it too, then mark_synced past the purge), or pass "
                "ignore_tags=True to purge the untagged history only."
            )
        table_schema = parse_schema(snap["schema"])
        key_field = next(f for f in table_schema.fields if f.name == KEY)
        keys = _probe_keys(keys, key_field)
        targets = sorted(
            {bucket_of(k, self.n_buckets, key_field.dataType) for k in keys}
        )
        live_before = self.lookup(keys).count()
        res = self._rewrite_buckets(
            targets,
            min_deltas=1,
            row_filter=~F.col(KEY).isin(keys),
            op_label="purge",
        )
        done = set(res.get("compacted", []))
        wanted = {b for b in targets if snap["buckets"].get(str(b))}
        missed = sorted(wanted - done)
        if missed:
            raise RuntimeError(
                f"buckets {missed} were claimed by a concurrent rewrite and "
                "were NOT purged — the keys may still be retained there; "
                "re-run purge_keys once that rewrite completes"
            )
        out = {
            "buckets": sorted(done),
            "purged_live_rows": live_before,
            "version": self.current_snapshot()["version"],
        }
        if not skip_vacuum:
            out["vacuum_removed"] = self.vacuum(vacuum_older_than_s)["removed"]
        return out

    def purge_audit(self, keys: list) -> dict:
        """Audit-grade invariant check for ``purge_keys``: count
        surviving occurrences of the keys in EVERY parquet file under
        the table's data root — committed, superseded, tagged, orphaned
        — regardless of snapshot reachability. One Spark job projecting
        the key column only (columnar scan reads one column), but a
        full file listing: the expensive run-rarely counterpart of
        lookup(). ``hits == 0`` ⇔ the bytes are gone."""
        if not keys:
            raise ValueError("purge_audit() needs at least one key")
        snap = self.current_snapshot()
        if snap is None:
            return {"hits": 0, "files_scanned": 0}
        table_schema = parse_schema(snap["schema"])
        key_field = next(f for f in table_schema.fields if f.name == KEY)
        files = glob.glob(
            os.path.join(self.root, "data", "**", "*.parquet"), recursive=True
        )
        if not files:
            return {"hits": 0, "files_scanned": 0}
        # explicit single-column schema: no footer merging across the
        # table's schema versions, no partition-column discovery (the
        # paths are FILES, picked up across bucket=N layouts alike)
        df = self.spark.read.schema(T.StructType([key_field])).parquet(*files)
        hits = df.filter(F.col(KEY).isin(keys)).count()
        return {"hits": hits, "files_scanned": len(files)}

    def _rewrite_buckets(
        self, buckets: list[int] | None, min_deltas: int, row_filter,
        floor: int | None = None, transform: dict | None = None,
        op_label: str = "compaction", backfill_name: str | None = None,
        project=None, final_schema: T.StructType | None = None,
        extra_metrics: dict | None = None, require_all: bool = False,
        cluster_by: list[str] | None = None, zorder_col=None,
    ) -> dict:
        t0 = time.time()
        snap = self.current_snapshot()
        if snap is None:
            return {"compacted": []}
        # claim the buckets in the shared _compacting guard: without it
        # a pipelined apply_batch's INLINE compaction of the same bucket
        # folds the same plan-time deltas concurrently — harmless for
        # compact() (duplicate rows, LWW-idempotent) but it would
        # RESURRECT tombstones expire_tombstones just dropped (the
        # concurrent fold re-includes them at their original seq)
        with self._commit_lock:
            if self._rebucketing:
                raise RuntimeError(
                    "rebucket in progress; re-run the rewrite after it completes"
                )
            eligible = [
                b
                for b in (buckets if buckets is not None else range(self.n_buckets))
                if len(snap["buckets"].get(str(b), [])) >= min_deltas
            ]
            blocked = [b for b in eligible if b in self._compacting]
            if require_all and blocked:
                # all-or-nothing claim (column alters): a partial
                # rewrite that still committed the new schema could
                # never be completed by a re-run (the old column no
                # longer exists to project away) — abort with NOTHING
                # claimed or written
                raise RuntimeError(
                    f"buckets {blocked} are claimed by a concurrent "
                    f"rewrite; re-run the {op_label} once it completes "
                    "(nothing was changed)"
                )
            todo = [b for b in eligible if b not in self._compacting]
            self._compacting |= set(todo)
        if not todo:
            return {"compacted": []}
        # register the rewrite's tag in _inflight BEFORE any file work:
        # a concurrent vacuum() must neither reap the _stage-* dir
        # mid-write nor the moved-but-unpublished ingest=<tag> dirs.
        # Discarded in finally — a crashed rewrite must not disable
        # staging cleanup for the rest of the process lifetime.
        tag = f"compact-v{snap['version'] + 1}-{uuid.uuid4().hex[:8]}"
        with self._commit_lock:
            self._inflight.add(tag)
        try:
            table_schema = parse_schema(snap["schema"])
            folded = self._fold(
                self._read_buckets(snap, todo, target=table_schema), KEY, SEQ
            )
            if row_filter is not None:
                folded = folded.filter(row_filter)
            ff = self._floor_filter(snap)
            if ff is not None:
                folded = folded.filter(ff)  # GC stickiness at every fold
            if transform:
                for cname, expr in transform.items():
                    # dtype probe so a tombstone's NULL (or the column's
                    # prior value) lands with the expression's exact type
                    dtype = folded.withColumn(cname, expr).schema[cname].dataType
                    keep = (
                        F.col(cname).cast(dtype)
                        if cname in folded.columns
                        else F.lit(None).cast(dtype)
                    )
                    folded = folded.withColumn(
                        cname, F.when(~F.col("deleted"), expr).otherwise(keep)
                    )
                if self.patch:
                    # per-cell mode: stamp every transformed column's
                    # cell with the row's current op_sequence as setter —
                    # without a _cell_seq entry the next fold would treat
                    # the cell as never-set and null it. A later
                    # patch/upsert (higher seq) overrides the backfilled
                    # value, which is the backfill contract
                    # (changelog-silent derived columns).
                    names = list(transform)
                    upd = F.map_from_arrays(
                        F.array(*[F.lit(c) for c in names]),
                        F.array_repeat(F.col(SEQ).cast("long"), len(names)),
                    )
                    empty = F.map_from_arrays(
                        F.array().cast("array<string>"),
                        F.array().cast("array<bigint>"),
                    )
                    folded = folded.withColumn(
                        CELL,
                        F.map_concat(
                            F.map_filter(
                                F.coalesce(F.col(CELL), empty),
                                lambda k, _v: ~k.isin(*names),
                            ),
                            upd,
                        ),
                    )
            if project is not None:
                # column-set rewrite (drop/rename): the callable reshapes
                # payload columns; internals (KEY/SEQ/deleted) must survive
                folded = project(folded)
            folded = folded.withColumn("_bucket", _bucket_expr(self.n_buckets))
            # key-sorted within each bucket file: parquet row-group
            # min/max stats on the key then let point lookups (lookup())
            # skip row groups — the standard sorted-compaction layout;
            # the sort rides the rewrite's existing shuffle. cluster_by
            # columns (compact()) sort FIRST so row-group stats tighten
            # on the payload columns scan_where() filters on; with
            # zorder_col the Morton key replaces the lexicographic
            # cluster sort (computed on the fly, dropped before write —
            # the projection after the sort preserves partition order)
            to_write = folded.repartition(self.n_buckets, "_bucket")
            if zorder_col is not None:
                to_write = (
                    to_write.withColumn("_zval", zorder_col)
                    .sortWithinPartitions("_bucket", "_zval", KEY)
                    .drop("_zval")
                )
            else:
                to_write = to_write.sortWithinPartitions(
                    "_bucket", *(cluster_by or []), KEY
                )
            staging, stats, _ = self._stage_buckets(to_write)
            # entries record the schema the FILES were written with — for
            # a transforming rewrite (backfill) that includes the
            # new/replaced columns; untouched buckets keep their old
            # entries and are aligned at read time like any schema
            # evolution. Parquet reads match columns BY NAME, but the
            # recorded DDL string keys the read-side schema grouping —
            # non-transform rewrites keep the table-schema string so
            # compacted and appended entries stay in ONE scan group
            written_schema = (
                T.StructType(
                    [f for f in folded.schema.fields if f.name != "_bucket"]
                )
                if transform or project is not None
                else table_schema
            )
            ddl = _ddl(written_schema)
            # the sort this entry's files carry — compact()'s cron
            # idempotence skip keys on it (and on the zorder flag:
            # linear vs Morton are different sorts)
            sort_keys = (
                {"clustered": list(cluster_by),
                 **({"zorder": True} if zorder_col is not None else {})}
                if cluster_by else {}
            )
            paths = self._move_staged(staging, sorted(stats), tag)
            moved: dict[str, list] = {}
            for b in todo:
                if b in paths:
                    moved[str(b)] = [
                        _entry(paths[b], ddl, stats[b], True, **sort_keys)
                    ]
                elif row_filter is not None:
                    # every row of the bucket was dropped (e.g. all
                    # expired tombstones): the rewrite leaves it EMPTY —
                    # but only a filtering rewrite may conclude that;
                    # plain compaction of a bucket never loses rows
                    moved[str(b)] = []
            # publish under the commit lock (pipelined ingest may be
            # appending concurrently): re-read the head and replace only
            # the delta lists this rewrite actually folded — appends that
            # landed since planning stay listed (duplicate rows across a
            # fold and a kept delta are harmless: the LWW read fold is
            # idempotent)
            folded_paths = {
                str(b): {e["path"] for e in snap["buckets"].get(str(b), [])}
                for b in todo
            }
            with self._commit_lock, table_meta.table_lock(self.root):
                head = self.current_snapshot()
                if head["n_buckets"] != self.n_buckets:
                    raise RuntimeError(
                        f"table was rebucketed to {head['n_buckets']} buckets "
                        f"mid-rewrite (planned with {self.n_buckets}); reopen "
                        "the sink and re-run the rewrite"
                    )
                if head.get("rollback_epoch", 0) != snap.get("rollback_epoch", 0):
                    # a cross-object rollback landed mid-rewrite: this
                    # fold was planned from the pre-rollback head and
                    # would re-publish de-committed rows
                    raise RuntimeError(
                        "table rolled back mid-rewrite; re-run it against "
                        "the restored head"
                    )
                if final_schema is not None and head["version"] != snap["version"]:
                    # column alters ENFORCE the quiesce contract: any
                    # commit that landed mid-alter (a batch evolving the
                    # schema, a concurrent rewrite) would have its kept
                    # deltas read under the alter's stale final_schema —
                    # an evolved column erased table-wide, or old-name
                    # bytes retained under entries the schema no longer
                    # covers (resurrection). Nothing was committed; re-run.
                    raise RuntimeError(
                        f"table advanced from v{snap['version']} to "
                        f"v{head['version']} during the {op_label} — column "
                        "alters require quiesced writers; re-run the alter"
                    )
                new_buckets = dict(head["buckets"])
                for key_b, entries in moved.items():
                    kept = [
                        e
                        for e in new_buckets.get(key_b, [])
                        if e["path"] not in folded_paths.get(key_b, set())
                    ]
                    new_buckets[key_b] = entries + kept
                metrics = {op_label: todo}
                if backfill_name is not None:
                    metrics["backfill_name"] = backfill_name
                if extra_metrics:
                    metrics.update(extra_metrics)
                changes = {
                    "buckets": new_buckets,
                    # monotone retention floor: every later fold
                    # re-drops tombstones below it (GC stickiness)
                    "tombstone_floor": max(
                        head.get("tombstone_floor", 0), floor or 0
                    ),
                }
                if transform:
                    # a transforming rewrite can ADD columns: evolve the
                    # snapshot schema against the head exactly like an
                    # ingest batch would (add/widen only; incompatible
                    # changes raise here, before the pointer swap)
                    payload_schema = T.StructType(
                        [f for f in written_schema.fields if f.name not in _INTERNAL]
                    )
                    evolved, _, changes["schema_version"] = self._evolved_schema(
                        head, payload_schema
                    )
                    changes["schema"] = _ddl(evolved)
                if final_schema is not None:
                    # column-set alter (drop/rename): the new schema is
                    # the operation's OUTPUT, not an add/widen evolution
                    # — set it directly and bump the schema epoch
                    changes["schema"] = _ddl(final_schema)
                    changes["schema_version"] = head.get("schema_version", 0) + 1
                self._commit_next(head, metrics, t0, **changes)
        finally:
            # published files are referenced by CURRENT from here on, so
            # vacuum keeps them without the tag
            with self._commit_lock:
                self._compacting -= set(todo)
                self._inflight.discard(tag)
        return {"compacted": todo, "wall_s": round(time.time() - t0, 3)}

    def vacuum(self, older_than_s: float = 0.0) -> dict:
        """Delete data directories not referenced by the CURRENT
        snapshot: superseded deltas and orphans from crashed attempts.
        Time-travel to earlier snapshots is given up for the vacuumed
        files (their JSON metadata is kept). Mirrors Iceberg's
        expire_snapshots + remove_orphan_files.

        Safe alongside pipelined ingest THROUGH THIS SINK OBJECT: the
        whole scan runs under the commit lock, so its view of CURRENT +
        the in-flight set is consistent — every writer registers in
        ``_inflight`` (under the lock) BEFORE touching any file, and
        commits also serialize on the lock, so a batch is always either
        not-yet-started (no files), in-flight (skipped), or committed
        (referenced by CURRENT). A one-shot snapshot of that state
        outside the lock had a TOCTOU hole: a batch registering and
        publishing between the read and the directory scan got reaped.

        A vacuum from a DIFFERENT process cannot see this process's
        in-flight set — ``older_than_s`` is the mitigation (Iceberg's
        remove_orphan_files takes the same ``older_than``, defaulting
        to 3 days): candidate dirs whose newest file is younger than
        the cutoff are skipped, so another process's in-flight batch —
        whose files are by definition fresh — survives. Set it
        comfortably above the longest batch wall time; 0 (the default)
        keeps the same-process behavior, where the in-flight set makes
        the age guard redundant. On a MULTI-WRITER root (two sink
        objects/processes — the pattern the flock table lock supports
        for commits), ``older_than_s > 0`` is REQUIRED: another
        writer's published-but-uncommitted files are invisible to this
        object's in-flight set, and only their freshness protects
        them. Data Source writes (``df.write.format("beehive")``) are
        always cross-process writers — their ``_stage-ds-*`` staging
        dirs register in no in-flight set, so a table that accepts DS
        writes must vacuum with a nonzero horizon. BRANCH handles
        (``branch()``) are separate sink objects too: committed branch
        state is retained via the branch heads, but a branch batch
        mid-publish has only its freshness — vacuum with a horizon
        while branch writers run. The table lock below makes the CURRENT-read + reap
        atomic against concurrent commits; it cannot cover publishes
        that haven't reached their critical section."""
        self._require_main("vacuum")
        with self._commit_lock, table_meta.table_lock(self.root):
            return self._vacuum_locked(older_than_s)

    def _vacuum_locked(self, older_than_s: float = 0.0) -> dict:
        cutoff = time.time() - older_than_s

        def _too_young(path: str) -> bool:
            """Newest mtime under ``path`` ≥ cutoff ⇒ possibly another
            process's in-flight work — leave it. The dir's own mtime is
            not enough: files land inside it after mkdir."""
            if older_than_s <= 0:
                return False
            try:
                newest = max(
                    os.path.getmtime(p)
                    for p in [path, *glob.glob(os.path.join(path, "**"), recursive=True)]
                )
            except OSError:
                return True  # changing underfoot ⇒ in-flight
            return newest >= cutoff

        snap = self.current_snapshot()
        if snap is None:
            return {"removed": 0}
        inflight = set(self._inflight)
        # retention refs: files referenced by CURRENT or by any TAGGED
        # snapshot survive (Iceberg: expire_snapshots keeps refs). A
        # tag created after a file was superseded can't resurrect it —
        # tag() only pins committed snapshots, whose files a prior
        # vacuum under this rule never removed while the tag existed.
        retained = (
            [snap]
            + [self.snapshot(v) for v in self.tags().values()]
            # branch heads: a branch's delta files are invisible to
            # main's snapshot but very much live
            + self._branch_heads()
        )
        live = {
            os.path.normpath(os.path.join(self.root, e["path"]))
            for s in retained
            for entries in s["buckets"].values()
            for e in entries
        }
        removed = 0
        data_root = os.path.join(self.root, "data")
        for ingest in os.listdir(data_root):
            ing_dir = os.path.join(data_root, ingest)
            if not os.path.isdir(ing_dir):
                continue
            if ingest.startswith("ingest=") and ingest[len("ingest="):] in inflight:
                continue  # in-flight batch's published files
            if ingest.startswith("_stage-"):
                if inflight or _too_young(ing_dir):
                    continue  # staging may belong to an in-flight job
                shutil.rmtree(ing_dir, ignore_errors=True)
                removed += 1
                continue
            for bucket_dir in os.listdir(ing_dir):
                full = os.path.normpath(os.path.join(ing_dir, bucket_dir))
                if full not in live and not _too_young(full):
                    shutil.rmtree(full, ignore_errors=True)
                    removed += 1
            # rmdir-empty guard: the dir's OWN mtime suffices here —
            # writers explicitly os.utime() the ingest dir right after
            # makedirs (makedirs(exist_ok=True) does NOT bump a
            # pre-existing dir from a crashed attempt), so a dir inside
            # the horizon always has a recent mtime; files landing later
            # can race only into a dir rmdir would then fail on (OSError
            # swallowed below). A recursive _too_young walk over the
            # whole ingest subtree doubled the vacuum's stat pass for
            # nothing (round-3 review). Note our own rmtrees above bump
            # the mtime, so with older_than_s > 0 a just-emptied dir
            # survives until a later vacuum — conservative, not a leak.
            try:
                if not os.listdir(ing_dir) and (
                    older_than_s <= 0 or os.path.getmtime(ing_dir) < cutoff
                ):
                    os.rmdir(ing_dir)
            except OSError:
                pass  # concurrent writer repopulated it — leave it
        # remove manifests of batches that never committed: their data
        # dirs were just deleted above (unreferenced by CURRENT), so a
        # surviving manifest would make a later replay of that batch_id
        # reuse buckets whose files are gone (ADVICE round 1 — the
        # crash→vacuum→restart sequence). Committed and in-flight
        # batches keep theirs.
        committed = set(snap["committed_batches"])
        # branch-committed batches' manifests (ref-namespaced ids) are
        # as committed as main's
        for bh in self._branch_heads():
            committed |= set(bh["committed_batches"])
        man_root = os.path.join(self.root, "_manifests")
        orphan_manifests = 0
        for batch_dir in os.listdir(man_root):
            if (
                batch_dir not in committed
                and batch_dir not in inflight
                and not _too_young(os.path.join(man_root, batch_dir))
            ):
                shutil.rmtree(os.path.join(man_root, batch_dir), ignore_errors=True)
                orphan_manifests += 1
        return {"removed": removed, "orphan_manifests": orphan_manifests}

    def read_metrics(self) -> list[dict]:
        path = os.path.join(self.root, "_metrics", "commits.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as fh:
            return [json.loads(line) for line in fh if line.strip()]


def _live_columns(names: list[str], columns: list[str] | None) -> list[str]:
    """A live read's output columns: the key first, then ``columns``
    (default: every non-internal column of ``names``, in order)."""
    payload = (
        dict.fromkeys(columns)
        if columns is not None
        else [c for c in names if c not in _INTERNAL]
    )
    return [KEY, *[c for c in payload if c != KEY]]


def _ddl(schema: T.StructType) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


def _entry(path: str, ddl: str, stats: tuple, compacted: bool, **extra) -> dict:
    """A snapshot's per-bucket commit entry — the one place its format
    lives: the data dir (table-relative), the schema its files were
    written with, whether it replaces the bucket's earlier entries (a
    fold) or appends a delta, and the footer stats of ``stats`` (a
    _parquet_stats tuple): the KEY [min, max] lets scan planning
    (lookup / scan_range) skip the entry when a probe can't be inside
    it, the per-file key ranges single files within it, the per-column
    ranges whole buckets (scan_where). ``extra``: layout facts of a
    rewrite (compact's ``clustered`` / ``zorder``)."""
    _, _, key_range, file_ranges, col_ranges = stats
    return {
        "path": path,
        "schema": ddl,
        "compacted": compacted,
        "key_range": key_range,
        "file_ranges": file_ranges,
        "col_ranges": col_ranges,
        **extra,
    }


def _json_stat(v):
    """A footer min/max value as a JSON-serializable comparable, or
    None when the type can't be recorded losslessly (timestamps,
    decimals, …) — an unrecordable stat simply drops that column from
    ``col_ranges``, it never blocks the KEY range."""
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (int, float, str)) and not isinstance(v, bool):
        return v
    return None


def _parquet_stats(
    directory: str,
) -> tuple[int, list[str], list[str] | None, dict | None, dict | None]:
    """Row count, file basenames, the KEY column's [min, max] over
    every parquet file in ``directory``, the per-FILE key ranges
    (basename → [min, max]), and the generic per-COLUMN ranges over
    the whole directory (column → [min, max] for every top-level leaf
    column with usable, JSON-recordable stats) — all from footers, no
    data read. The ranges are the Iceberg-manifest-column-stats
    analogue: recorded in the commit entry, the KEY ranges let scan
    planning skip whole delta files (entry level) and, when a sorted
    rewrite split a bucket into several target-sized files, individual
    files within the entry (file level) whose key range cannot contain
    a probe (lookup) or an interval (scan_range); the per-column
    ranges let scan_where() skip whole BUCKETS whose files provably
    hold no row matching a predicate. Returns ``None`` key ranges when
    any footer lacks usable key stats (a row group without min/max ⇒
    the true range is unknown ⇒ never skip); a non-key column with
    unusable stats is silently absent from ``col_ranges`` (absent =
    never pruned on). A column whose every row group is all-NULL is
    recorded as the empty list ``[]`` — "provably no non-null value",
    which null-rejecting comparison predicates may prune on (a
    tombstone-only delta's payload columns hit this). Parquet writers
    may TRUNCATE long binary stats, but truncation keeps min a lower
    bound and max an upper bound, so recorded ranges stay
    conservative."""
    import pyarrow.parquet as pq

    rows, files = 0, []
    lo: str | None = None
    hi: str | None = None
    per_file: dict[str, list] = {}
    stats_ok = True
    col_lo: dict = {}
    col_hi: dict = {}
    col_ok: dict | None = None  # None until the first file fixes the set
    for f in sorted(glob.glob(os.path.join(directory, "*.parquet"))):
        md = pq.read_metadata(f)
        rows += md.num_rows
        name = os.path.basename(f)
        files.append(name)
        # top-level leaf columns of THIS file (nested paths carry dots)
        cols = {
            md.schema.column(i).path: i
            for i in range(len(md.schema))
            if "." not in md.schema.column(i).path
        }
        if col_ok is None:
            col_ok = {c: True for c in cols if c != KEY}
        else:
            for c in col_ok:  # a column a later file lacks is unknowable
                if c not in cols:
                    col_ok[c] = False
        for c, ok in col_ok.items():
            if not ok:
                continue
            f_clo = f_chi = None
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                st = rgm.column(cols[c]).statistics
                if st is None:
                    col_ok[c] = False
                    break
                if not st.has_min_max:
                    # all-NULL row groups legitimately carry no min/max
                    # and contribute no non-null value; anything else
                    # is unknowable
                    if st.has_null_count and st.null_count == rgm.num_rows:
                        continue
                    col_ok[c] = False
                    break
                try:
                    mn, mx = _json_stat(st.min), _json_stat(st.max)
                except pa.ArrowNotImplementedError:
                    # pyarrow cannot decode some stats at all (Spark
                    # stores a decimal of precision <= 18 as INT32/INT64)
                    mn = mx = None
                if mn is None or mx is None:
                    col_ok[c] = False
                    break
                f_clo = mn if f_clo is None or mn < f_clo else f_clo
                f_chi = mx if f_chi is None or mx > f_chi else f_chi
            if col_ok[c] and f_clo is not None:
                cur = col_lo.get(c)
                col_lo[c] = f_clo if cur is None or f_clo < cur else cur
                cur = col_hi.get(c)
                col_hi[c] = f_chi if cur is None or f_chi > cur else cur
        if not stats_ok:
            continue
        key_idx = cols.get(KEY)
        if key_idx is None:
            stats_ok = False
            continue
        f_lo: str | None = None
        f_hi: str | None = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(key_idx).statistics
            if st is None or not st.has_min_max:
                stats_ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn = mn.decode("utf-8", "replace")
            if isinstance(mx, bytes):
                mx = mx.decode("utf-8", "replace")
            f_lo = mn if f_lo is None or mn < f_lo else f_lo
            f_hi = mx if f_hi is None or mx > f_hi else f_hi
        if stats_ok and f_lo is not None:
            per_file[name] = [f_lo, f_hi]
            lo = f_lo if lo is None or f_lo < lo else lo
            hi = f_hi if hi is None or f_hi > hi else hi
    rng = [lo, hi] if stats_ok and lo is not None else None
    col_ranges = None
    if files and col_ok:
        col_ranges = {
            c: ([col_lo[c], col_hi[c]] if c in col_lo else [])
            for c, ok in sorted(col_ok.items())
            if ok
        }
        col_ranges = col_ranges or None
    return (
        rows,
        files,
        rng,
        (per_file if stats_ok and per_file else None),
        col_ranges,
    )


def _range_intersects(key_range, lo, hi) -> bool:
    """True unless the entry's recorded [min, max] proves the interval
    [lo, hi] is disjoint from every key in the file."""
    if not key_range or key_range[0] is None:
        return True
    if lo is not None and key_range[1] < lo:
        return False
    if hi is not None and key_range[0] > hi:
        return False
    return True


_SCAN_OPS = {"=", "<", "<=", ">", ">=", "between", "in"}


def _col_range_admits(rng, op: str, val) -> bool:
    """True unless the recorded range PROVES no row in the entry's
    files can satisfy ``col op val``. ``None``/missing evidence always
    admits; the all-NULL marker ``[]`` admits nothing (comparison
    predicates are null-rejecting, so a file with no non-null value
    holds no match); incomparable evidence (recorded str vs probe int)
    admits — Spark, not the stats, decides the actual match."""
    if rng is None:
        return True
    if len(rng) == 0:
        return False
    lo, hi = rng
    try:
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "between":
            vlo, vhi = val
            return (vhi is None or lo <= vhi) and (vlo is None or hi >= vlo)
        if op == "in":
            return any(lo <= v <= hi for v in val)
    except TypeError:
        return True
    raise ValueError(f"unknown scan_where op {op!r}")


def _entry_admits(entry: dict, col: str, op: str, val) -> bool:
    """One conjunct against one commit entry's recorded stats. KEY
    conjuncts use the dedicated key_range (recorded since the stats
    feature landed; col_ranges deliberately exclude the key); payload
    conjuncts use col_ranges. A column absent from the recorded stats
    admits — it may merely have been unrecordable."""
    if col == KEY:
        kr = entry.get("key_range")
        return _col_range_admits(
            kr if (kr and kr[0] is not None) else None, op, val
        )
    cr = entry.get("col_ranges") or {}
    return _col_range_admits(cr.get(col), op, val)


def _conjunct_expr(col: str, op: str, val):
    """The real Spark predicate for one conjunct (applied AFTER the
    LWW fold — never pushed below it, see scan_where)."""
    c = F.col(col)
    if op == "=":
        return c == F.lit(val)
    if op == "<":
        return c < F.lit(val)
    if op == "<=":
        return c <= F.lit(val)
    if op == ">":
        return c > F.lit(val)
    if op == ">=":
        return c >= F.lit(val)
    if op == "between":
        vlo, vhi = val
        e = F.lit(True)
        if vlo is not None:
            e = e & (c >= F.lit(vlo))
        if vhi is not None:
            e = e & (c <= F.lit(vhi))
        return e
    if op == "in":
        return c.isin(list(val))
    raise ValueError(f"unknown scan_where op {op!r}")
