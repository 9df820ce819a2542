"""Spark Python Data Sources over SnapshotSink tables (Spark 4 API).

The interop surface: any Spark job — not just code importing this
package — can read AND write an engine table with plain ``spark.read``
/ ``spark.readStream`` / ``df.write`` / ``df.writeStream`` once the
sources are registered:

    from beehive_data_etl_spark.sources.spark_datasource import register
    register(spark)

    # batch state (read_final parity), with time travel
    df = spark.read.format("beehive").option("version", "audit-v3") \
             .load("/lake/tokens")

    # the table AS A STREAM: changelog micro-batches, offsets = table
    # versions, resumable exactly-once via Spark's own offset log
    st = spark.readStream.format("beehive_changes") \
             .option("pin", "train").load("/lake/tokens")

    # exactly-once envelope-batch APPEND (op, op_sequence, doc_id,
    # payload…) through the sink's own publish+commit protocol
    events.write.format("beehive").option("batchId", run_id) \
          .mode("append").save("/lake/tokens")

    # continuous appends: one table commit per micro-batch — composed
    # with the changelog source this is zero-package-code replication
    events.writeStream.format("beehive").option("streamId", "rep1") \
          .option("checkpointLocation", ckpt).start("/lake/tokens")

Why this design is Spark-first rather than a wrapper API:

- **Offsets are table versions.** The streaming reader's offset json is
  ``{"version": N}``; Spark's checkpoint offset log — not any state of
  ours — is the resume cursor, and ``partitions(start, end)`` is a pure
  deterministic function of two committed snapshots, so a crashed batch
  replans bit-identically: exactly-once by deterministic replay, the
  same argument as ``sinks/snapshot.py``'s manifest protocol.
- **Planning is metadata-only.** ``DataSource.schema()`` and
  ``partitions()`` run in Python workers with no JVM; everything they
  touch is the table's ``_snapshots/*.json`` via ``table_meta`` — no
  Spark job, O(entries) driver-side work, same as the sink's own
  ``plan_scan_where``.
- **Parallelism is the table's bucket layout.** One input partition per
  bucket holding window work (streaming prunes buckets with no new
  entries — rewrite-only buckets contribute zero partitions), so a
  1000-executor cluster reading a 4096-bucket table gets full fan-out
  with zero shuffle: the merge-on-read LWW fold happens inside each
  partition, exactly where the sink's bucketing already co-located
  every version of a key.
- **The executor path is Arrow.** ``read()`` yields
  ``pyarrow.RecordBatch`` from the Arrow merge-on-read fold in
  ``sources/arrow_fold.py`` (a vectorized two-pass: pass 1 reads only
  (key, seq, deleted) columns and picks per-key winners, pass 2
  ``take``s exactly the winning rows), so loser versions never
  materialize their token arrays.  That module is Spark-free and is
  the one Arrow fold: ``SnapshotSink`` runs the same functions on the
  driver to answer one-bucket point reads and small changelog windows,
  and to fold and write small ingest batches, without a Spark job.

Semantics parity (pinned by tests/test_spark_datasource.py):

- ``beehive`` batch read  == ``SnapshotSink.read_final()`` at the
  requested version (live rows, internal columns dropped), or
  ``read_state`` with ``option("internal", "true")``.
- ``beehive_changes`` == ``SnapshotSink.read_changes(from, to)`` —
  streaming consumes successive windows of it; a batch read with
  ``fromVersion``/``toVersion`` runs one window.  ``startingVersion=0``
  (default) bootstraps: the first micro-batch is the full live state as
  ``I`` rows (read_changes against an empty FROM state).
- Windows spanning rollback / backfill / purge / column alters are
  REFUSED with recovery guidance (``table_meta.refuse_unstreamable_
  window`` — the Replicator's argument, sinks/replicate.py), as are
  rebucket-crossing windows and per-cell patch tables (the flat
  changelog row cannot carry cell clocks; use a patch-mode Replicator).
- ``option("pin", name)`` makes ``commit(end)`` advance retention tag
  ``stream-<name>`` — the vacuum/expire_snapshots pin that keeps each
  next window's FROM-state files alive, crash-safe because the pin
  only moves AFTER Spark commits the batch.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    In,
    InputPartition,
    WriterCommitMessage,
)

from beehive_data_etl_spark.sinks.snapshot import (
    _PY_TYPES,
    _probe_keys,
    arrow_file_options,
    bucket_of,
)

from . import arrow_fold
from . import table_meta as tm
from .arrow_fold import (
    CHANGE,
    BucketWork,
    _bucket_files,
    _refuse_patch,
    read_changes_partition,
    read_state_partition,
)

KEY, SEQ, DELETED, CELL = tm.KEY, tm.SEQ, tm.DELETED, tm.CELL


def register(spark) -> None:
    """Register the sources (and write paths) on a session.  Also
    registers this module, arrow_fold (the fold the executors run),
    table_meta and sinks.snapshot (whose ``bucket_of`` the planner
    calls) for cloudpickle by-value serialization, so Spark's Python
    planner/executor workers never need the package importable on
    their own sys.path — the classes travel inside the pickle."""
    try:  # best-effort: falls back to by-reference (import) pickling
        from pyspark import cloudpickle

        import beehive_data_etl_spark.sinks.snapshot as _snapshot
        import beehive_data_etl_spark.sources.spark_datasource as _self
        import beehive_data_etl_spark.sources.table_meta as _meta

        cloudpickle.register_pickle_by_value(_self)
        cloudpickle.register_pickle_by_value(arrow_fold)
        cloudpickle.register_pickle_by_value(_meta)
        cloudpickle.register_pickle_by_value(_snapshot)
    except Exception:
        pass
    # required for pushFilters (bucket pruning); plain SQL conf,
    # runtime-settable
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BeehiveTableDataSource)
    spark.dataSource.register(BeehiveChangesDataSource)


# ----------------------------------------------------------------- planning
def _schema_fields(snap: dict) -> list[str]:
    """The stored table schema as '<name> <type>' items."""
    return tm._split_top(snap["schema"])


def _subset_ddl(snap: dict, columns: list[str] | None, internal: bool) -> str:
    """Project the snapshot schema DDL down to the batch-read surface:
    doc_id + payload (read_final contract), or + op_sequence/deleted
    when ``internal``.  Raises on unknown/internal column requests with
    the sink's own wording style."""
    items = {f.split(" ", 1)[0]: f for f in _schema_fields(snap)}
    payload = [n for n in items if n not in (KEY, SEQ, DELETED, CELL)]
    if columns is None:
        names = payload
    else:
        bad = [c for c in columns if c not in payload]
        if bad:
            raise ValueError(
                f"no such payload column(s) {bad!r}; available: {payload}"
            )
        names = list(dict.fromkeys(columns))
    head = [items[KEY]] + ([items[SEQ], items[DELETED]] if internal else [])
    return ", ".join(head + [items[n] for n in names])


def _changes_ddl(snap: dict) -> str:
    """read_changes column contract: key, op_sequence, payload (which
    includes the ``deleted`` liveness flag), change_type — same order
    as ``SnapshotSink.read_changes`` emits."""
    items = {f.split(" ", 1)[0]: f for f in _schema_fields(snap)}
    payload = [n for n in items if n not in (KEY, SEQ, CELL)]
    return ", ".join(
        [items[KEY], items[SEQ]]
        + [items[n] for n in payload]
        + [f"{CHANGE} string"]
    )


def _resolve_version(root: str, ref) -> int:
    """Option value (version number / tag / None=head) → version."""
    if ref is not None:
        return tm.resolve_ref(root, ref)
    head = tm.current_snapshot(root)
    if head is None:
        raise ValueError(f"no snapshot yet at {root} — is this a table root?")
    return head["version"]


@dataclass
class BucketPartition(BucketWork, InputPartition):
    """A ``BucketWork`` as a Spark input partition."""


def plan_state_partitions(
    root: str, snap: dict, filters: list | None = None
) -> list[BucketPartition]:
    """One partition per non-empty bucket.  ``filters`` (Spark pushed
    filters on the KEY column) prune buckets: an EqualTo/In on doc_id
    maps each key to its bucket via ``snapshot.bucket_of``, the Python
    twin of the sink's ``_bucket_expr`` (parity pinned in tests) — a
    point lookup through the data source then scans ONE bucket, and
    only the entries and files whose recorded key ranges can hold a
    probed key.  Payload predicates never prune: entry skipping on
    them would hit the stale-winner trap the sink's scan_where
    documents."""
    key_field = _key_field(snap)
    keys = _key_values_for_filters(filters, key_field)
    n = snap["n_buckets"]
    wanted = None
    if keys is not None:
        wanted = {bucket_of(k, n, key_field.dataType) for k in keys}
    parts = []
    for b in range(n):
        if wanted is not None and b not in wanted:
            continue
        files = _bucket_files(root, snap, b, keys)
        if files:
            parts.append(
                BucketPartition(bucket=b, new_files=files, key_values=keys)
            )
    return parts


def plan_window_partitions(root: str, frm: int, to: int) -> list[BucketPartition]:
    """``arrow_fold.plan_window_partitions`` as Spark input partitions."""
    return [
        BucketPartition(**vars(w))
        for w in arrow_fold.plan_window_partitions(root, frm, to)
    ]


# ------------------------------------------------------- key-hash pruning
def _key_field(snap: dict) -> T.StructField | None:
    """The key column as a StructField, parsed from the snapshot DDL
    without a JVM (planner workers have none); None for a key type
    with no hash twin."""
    items = dict(f.split(" ", 1) for f in _schema_fields(snap))
    dtype = {t().simpleString(): t() for t in _PY_TYPES}.get(items[KEY])
    return None if dtype is None else T.StructField(KEY, dtype)


def _key_values_for_filters(
    filters: list | None, key_field: T.StructField | None
) -> list | None:
    """Values of the first key-equality conjunct, normalised to the key
    column's type by ``_probe_keys`` (the sink's lookup rule), or None.
    Restricting the scan to ONE conjunct's value set is sound for a
    conjunction (it keeps every row satisfying all of them); Spark
    re-applies the full predicate anyway.  A conjunct whose values do
    not fit the key type prunes nothing."""
    if key_field is None:
        return None
    for f in filters or ():
        if getattr(f, "attribute", None) != (KEY,):
            continue
        if isinstance(f, EqualTo):
            values = [f.value]
        elif isinstance(f, In):
            values = list(f.value)
        else:
            continue
        try:
            return _probe_keys(values, key_field)
        except (TypeError, ValueError):
            continue
    return None


def _to_arrow_schema(schema) -> pa.Schema:
    """Spark StructType → arrow schema, JVM-free (pyspark's own pandas
    type mapping, the same one Arrow batch exchange uses)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


# ------------------------------------------------------------- batch source
class BeehiveTableReader(DataSourceReader):
    def __init__(self, schema, options):
        self.root = options["path"]
        self.internal = options.get("internal", "false").lower() == "true"
        # _pinned_version: stamped by BeehiveTableDataSource.schema() so
        # planner and reader agree on ONE snapshot even if a concurrent
        # commit moves the head (or a tag moves) between the two calls
        version = options.get("_pinned_version") or _resolve_version(
            self.root, options.get("version")
        )
        self.snap = tm.load_snapshot(self.root, int(version))
        _refuse_patch(self.snap, self.root)
        self.target = _to_arrow_schema(schema)
        self.filters: list = []

    def pushFilters(self, filters):
        """Record key filters for bucket pruning; report every filter
        as unsupported so Spark re-applies all of them — pruning can
        only skip provably irrelevant buckets, never relax a
        predicate."""
        self.filters = list(filters)
        yield from filters

    def partitions(self):
        return plan_state_partitions(self.root, self.snap, self.filters)

    def read(self, partition: BucketPartition):
        yield from read_state_partition(partition, self.target, self.internal)


class BeehiveTableDataSource(DataSource):
    """``spark.read.format("beehive").load(root)`` — batch state reads
    with time travel (``version`` = number or tag) and payload
    projection (``columns`` = comma list)."""

    @classmethod
    def name(cls) -> str:
        return "beehive"

    def schema(self) -> str:
        root = self.options["path"]
        version = _resolve_version(root, self.options.get("version"))
        # pin the resolved version for reader(): head/tag may move
        # between the planner's schema() call and reader construction,
        # and a read must be of ONE snapshot throughout
        self.options["_pinned_version"] = str(version)
        snap = tm.load_snapshot(root, version)
        cols = self.options.get("columns")
        cols = [c.strip() for c in cols.split(",")] if cols else None
        internal = self.options.get("internal", "false").lower() == "true"
        return _subset_ddl(snap, cols, internal)

    def reader(self, schema) -> BeehiveTableReader:
        return BeehiveTableReader(schema, self.options)

    def writer(self, schema, overwrite: bool) -> "BeehiveBatchWriter":
        """``df.write.format("beehive").option("batchId", ...)`` —
        exactly-once envelope-batch appends through the sink's shared
        publish+commit protocol (see BeehiveBatchWriter)."""
        return BeehiveBatchWriter(
            self.options["path"], schema, self.options, overwrite
        )

    def streamWriter(self, schema, overwrite: bool) -> "BeehiveStreamWriter":
        """``df.writeStream.format("beehive").option("streamId", ...)``
        — per-epoch exactly-once appends (see BeehiveStreamWriter)."""
        return BeehiveStreamWriter(
            self.options["path"], schema, self.options, overwrite
        )


# --------------------------------------------------------- changelog source
class BeehiveChangesBatchReader(DataSourceReader):
    """One changelog window as a batch read: ``fromVersion`` (required)
    to ``toVersion`` (default head) — read_changes parity."""

    def __init__(self, schema, options):
        self.root = options["path"]
        if "fromVersion" not in options:
            raise ValueError(
                "beehive_changes batch read requires fromVersion "
                "(0 = full-state bootstrap); use readStream for "
                "continuous consumption"
            )
        self.frm = tm.resolve_ref(self.root, options["fromVersion"])
        self.to = int(
            options.get("_pinned_version")
            or _resolve_version(self.root, options.get("toVersion"))
        )
        self.target = _to_arrow_schema(schema)

    def partitions(self):
        return plan_window_partitions(self.root, self.frm, self.to)

    def read(self, partition: BucketPartition):
        yield from read_changes_partition(partition, self.target)


class BeehiveChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.root = options["path"]
        # resolve_ref, not int(): the batch reader's fromVersion
        # accepts tags/timestamps through the same resolver, and the
        # two entry points must not diverge (review r04 — a tag here
        # crashed with a bare int() ValueError)
        self.start = tm.resolve_ref(
            self.root, options.get("startingVersion", "0")
        )
        self.max_versions = int(options.get("maxVersionsPerBatch", "0"))
        self.pin = options.get("pin")
        self.target = _to_arrow_schema(schema)
        # last end this reader planned — only used to rate-limit
        # latestOffset; correctness never depends on it (Spark's offset
        # log is the real cursor)
        self._cursor: int | None = None

    def initialOffset(self) -> dict:
        # also seeds the rate-limit cursor, so a FRESH stream's first
        # batch honors maxVersionsPerBatch. On a checkpoint restart
        # Spark skips initialOffset and the cursor stays None until
        # partitions() runs — the catch-up batch is then unbounded
        # (Spark's offset log fixes its end before we could clamp;
        # shrinking partitions() there would silently skip data). Big
        # catch-up batches are correct, just heavy — documented.
        self._cursor = self.start
        return {"version": self.start}

    def latestOffset(self) -> dict:
        head = tm.current_snapshot(self.root)
        if head is None:
            return {"version": self.start}
        v = head["version"]
        if self.max_versions and self._cursor is not None:
            v = min(v, self._cursor + self.max_versions)
        return {"version": max(v, self.start)}

    def partitions(self, start: dict, end: dict):
        s, e = start["version"], end["version"]
        self._cursor = e
        if self.pin and e > 0:
            # eager pin BEFORE executors read: commit() lags a batch,
            # so without this there is a gap (first batch, or the
            # plan→lazy-commit window) where no tag clamps
            # vacuum/expire and the files this very batch reads could
            # be reaped. Pin the FROM version (its files feed the
            # diff's old side) — except the bootstrap (s == 0, no FROM
            # state), which pins its TO version so the full-state
            # copy's files survive the longest batch of all
            # (review-found: the old s > 0 guard excluded exactly the
            # batch the comment claimed to protect). Monotonic: a
            # replanned old window after restart never unpins.
            tm.pin_tag(
                self.root,
                f"stream-{self.pin}",
                s if s > 0 else e,
                monotonic=True,
            )
        parts = plan_window_partitions(self.root, s, e)
        if not parts:
            # metadata-only window (tags, trims): one empty sentinel —
            # the engine still records the batch and advances offsets
            parts = [BucketPartition(bucket=-1)]
        return parts

    def read(self, partition: BucketPartition):
        yield from read_changes_partition(partition, self.target)

    def commit(self, end: dict) -> None:
        # retention pin: once Spark has committed a batch, move the tag
        # to its end version so vacuum/expire_snapshots keep every file
        # the NEXT window's FROM-state needs. Spark delivers commit()
        # lazily — typically when the next batch is constructed, and
        # the final batch's commit only after a restart — so the pin
        # LAGS the stream by one batch. Lagging is safe (it pins at or
        # below every version a replayed window still reads, so
        # retention keeps slightly more than strictly needed, never
        # less). Version 0 is the bootstrap sentinel, not a snapshot —
        # nothing to pin yet.
        if self.pin and end["version"] > 0:
            try:
                tm.pin_tag(
                    self.root,
                    f"stream-{self.pin}",
                    end["version"],
                    monotonic=True,
                )
            except ValueError:
                # end's snapshot JSON already expired (lazy commit lost
                # the race against expire_snapshots before any pin
                # existed): leave the tag as-is — the NEXT window's
                # partitions() raises the actionable floor-named error;
                # failing here would mask it with a pin stack trace
                pass

    def stop(self) -> None:
        pass


# ------------------------------------------------------------- write path
@dataclass
class BucketFilesMessage(WriterCommitMessage):
    """One task's staged output: [(bucket, file basename, rows)] plus
    the task's write-contract violation counts (None when the table
    records no contract) and the contract SPEC those counts were
    computed under — the commit side refuses counts from a different
    spec (review r04: a stream's write tasks keep their query-start
    pickle, so a contract whose PARAMETERS changed mid-stream would
    otherwise be enforced against counts computed under the old
    parameters and violations sail through silently)."""

    files: list
    audit_counts: dict | None = None
    audit_spec: dict | None = None


def _arrow_audit_counts(out: pa.Table, max_n_tok: int) -> dict:
    """Pyarrow twin of ``operators.audit.standard_token_audit``'s rule
    set (row tables), evaluated on STORED-form rows (deleted flag, D
    payload nulled). Counts follow Spark's when(cond,1) semantics: a
    NULL condition counts as no violation (Kleene logic + null-skipping
    sum), so e.g. ``n_tok != size(tokens)`` with NULL tokens resolves
    identically in both engines — parity is pinned by test. Columns a
    subset batch lacks read as all-NULL, exactly how the table will
    read the committed file."""
    import pyarrow.compute as pc

    n = out.num_rows
    names = set(out.column_names)

    def col(name, fallback_type):
        if name in names:
            return out.column(name)
        return pa.chunked_array([pa.nulls(n, fallback_type)])

    doc = out.column(KEY)
    live = pc.invert(out.column(DELETED))
    tokens = col("tokens", pa.list_(pa.int32()))
    ntok = pc.cast(col("n_tok", pa.int64()), pa.int64())
    tlen = pc.cast(pc.list_value_length(tokens), pa.int64())
    bad_ntok = pc.or_kleene(
        pc.or_kleene(pc.is_null(ntok), pc.less_equal(ntok, 0)),
        pc.or_kleene(pc.greater(ntok, max_n_tok), pc.not_equal(ntok, tlen)),
    )
    rules = {
        "null_doc_id": pc.or_kleene(pc.is_null(doc), pc.equal(doc, "")),
        "nonpositive_op_sequence": pc.less_equal(out.column(SEQ), 0),
        "live_empty_tokens": pc.and_kleene(
            live, pc.or_kleene(pc.is_null(tokens), pc.equal(tlen, 0))
        ),
        "live_bad_n_tok": pc.and_kleene(live, bad_ntok),
    }
    counts = {}
    for name, cond in rules.items():
        s = pc.sum(cond)  # true=1, nulls skipped — Spark's otherwise(0)
        counts[name] = int(s.as_py() or 0)
    return counts


def _require_batch_id(options) -> str:
    bid = options.get("batchId") or options.get("batchid")
    if not bid:
        raise ValueError(
            "beehive writes require option('batchId', ...): the id is "
            "the exactly-once token — re-running a job with the same id "
            "skips at the table instead of double-applying. Derive it "
            "from your job's own idempotence key (run id, source offset "
            "range)."
        )
    return str(bid)


class BeehiveBatchWriter(DataSourceArrowWriter):
    """``df.write.format("beehive")`` — envelope batches (op,
    op_sequence, doc_id, payload…) appended to a SnapshotSink table
    through the SAME publish+commit protocol as the sink
    (``SnapshotSink._publish_and_commit`` — shared, not twinned).

    Division of labour (the write mirror of the read design):

    - executors stage the batch in the table's bucket layout — stored
      form (deleted flag, D rows' payload nulled), one parquet file per
      (task, bucket) under a staging dir, written with pyarrow;
    - ``commit()`` runs in a JVM-less Python worker: it keeps exactly
      the files the WINNING task attempts reported (speculative /
      retried attempts' files are deleted), computes footer stats, and
      publishes through the sink's own critical section — committed-id
      recheck (exactly-once), rebucket/rollback-epoch aborts, manifest
      + snapshot-pointer swap. No schema evolution on this path: the
      batch's payload must be a (subset of the) table payload with
      exactly matching types — evolve through the sink first.

    The commit call is ``_publish_and_commit(staging, batch_id,
    plan_snap, stats, metrics, entry_ddl=..., phases=(t0, t0, now),
    bootstrap_schema_ddl=..., head_check=...)``: the staged
    ``_bucket=N/`` dirs, footer stats per bucket, the commit metrics,
    the schema the files were written with and the plan/write/publish
    timing (no plan phase here). ``batch_payload_schema`` stays None
    (the head's schema is kept verbatim, no JVM to parse DDL), and the
    inline-compaction / crash-replay arguments (``manifested``,
    ``folded``) stay empty: a DS write only appends deltas.

    Costs stated honestly: per-row Python key hashing unless the
    DataFrame carries a JVM-computed ``_bucket`` column
    (``pmod(xxhash64(doc_id), n_buckets)`` — recommended for bulk:
    it also lets ``df.repartition(n, "_bucket")`` give one file per
    bucket per task). The sink's in-batch LWW
    pre-fold is skipped too — the delta carries every event version
    and the merge-on-read fold dedups at read; heavy producers should
    prefer ``SnapshotSink.apply_batch``. Unlike the read path, commit
    IMPORTS the sink module, so the package must be importable in the
    Python workers (``--py-files`` the package zip, as the deployment
    scripts do). A DS write is a CROSS-PROCESS writer from the table's
    point of view: its staging registers in no sink's in-flight set,
    so tables accepting DS writes must ``vacuum(older_than_s > 0)``
    (the documented multi-writer rule)."""

    def __init__(self, root: str, schema, options, overwrite: bool):
        if overwrite:
            raise ValueError(
                "mode('overwrite') is not a CDC shape — to converge the "
                "table to a full dataset image use "
                "operators.refetch.refetch_apply (dump-diff: emits the "
                "MINIMAL change batch); mode('append') writes envelope "
                "batches"
            )
        self.root = root
        self.batch_id = _require_batch_id(options)
        names = [f.name for f in schema.fields]
        for col, typ in ((("op"), "string"), (SEQ, "bigint"), (KEY, "string")):
            if col not in names:
                raise ValueError(f"envelope column {col!r} missing from the DataFrame")
            got = schema[col].dataType.simpleString()
            if got != typ:
                raise ValueError(
                    f"envelope column {col!r} must be {typ}, got {got} — cast it"
                )
        self.has_bucket = "_bucket" in names
        if self.has_bucket and schema["_bucket"].dataType.simpleString() not in ("int", "bigint"):
            raise ValueError("_bucket must be int/bigint: pmod(xxhash64(doc_id), nBuckets)")
        payload_fields = [
            f for f in schema.fields if f.name not in ("op", KEY, SEQ, "_bucket")
        ]
        reserved = sorted(
            {f.name for f in payload_fields} & {DELETED, CELL, "patch_cols", CHANGE}
        )
        if reserved:
            raise ValueError(f"reserved column(s) {reserved!r} in the DataFrame")
        batch_types = {f.name: f.dataType.simpleString() for f in payload_fields}

        head = tm.current_snapshot(root)
        self.plan_snap = head
        # the table's recorded write contract (set_table_audit): the
        # executors count violations with the pyarrow twin, commit()
        # enforces the thresholds — a DS write cannot sail past the
        # gate a table owner recorded (constructor-level audits remain
        # per-writer, as on the sink)
        self.audit_cfg = (head or {}).get("audit")
        if head is not None:
            _refuse_patch(head, root)
            self.n_buckets = head["n_buckets"]
            items = [(f.split(" ", 1)[0], f.split(" ", 1)[1]) for f in _schema_fields(head)]
            table_types = dict(items)
            for name, typ in batch_types.items():
                if name not in table_types:
                    raise ValueError(
                        f"column {name!r} is not in the table schema — the "
                        "data-source write path does no schema evolution; "
                        "add it via SnapshotSink.apply_batch first"
                    )
                if table_types[name] != typ:
                    raise ValueError(
                        f"column {name!r} is {table_types[name]} in the table "
                        f"but {typ} in the DataFrame — cast it (no widening "
                        "on this path)"
                    )
            # entry schema = head schema projected to this batch's
            # columns, in HEAD order: equal column sets reproduce the
            # head string exactly, so full-width writes share the
            # read-side scan group with normal ingest
            keep = set(batch_types) | {KEY, SEQ, DELETED}
            self.entry_ddl = ", ".join(
                f"{n} {t}" for n, t in items if n in keep
            )
            self.bootstrap_ddl = None
        else:
            self.n_buckets = int(options.get("nBuckets") or options.get("nbuckets") or 16)
            if self.n_buckets <= 0:
                raise ValueError("nBuckets must be positive")
            self.entry_ddl = ", ".join(
                [f"{KEY} string"]
                + [f"{f.name} {batch_types[f.name]}" for f in payload_fields]
                + [f"{SEQ} bigint", f"{DELETED} boolean"]
            )
            self.bootstrap_ddl = self.entry_ddl
        # file column order == entry DDL order
        self.file_cols = [f.split(" ", 1)[0] for f in tm._split_top(self.entry_ddl)]
        self.staging = os.path.join(
            root, "data", f"_stage-ds-{uuid.uuid4().hex}"
        )
        self.t0 = time.time()

    # ---- executors
    def write(self, iterator):
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # one STREAMING parquet writer per bucket this task sees: row
        # groups flush as record batches arrive, so peak memory is one
        # Arrow batch, not the whole task partition (review-found: the
        # buffer-then-concat version OOM'd on exactly the bulk loads
        # the _bucket fast path is recommended for). With the
        # recommended repartition(n, "_bucket") each task holds ~one
        # open writer; worst case is n_buckets handles per task.
        writers: dict[int, tuple] = {}  # bucket -> (writer, name, rows)
        audit_counts: dict | None = (
            {} if self.audit_cfg and self.audit_cfg.get("standard") else None
        )
        max_n_tok = (
            self.audit_cfg["standard"].get("max_n_tok", 1_000_000)
            if audit_counts is not None
            else 0
        )
        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            if tbl.num_rows == 0:
                continue
            op = tbl.column("op")
            ok = pc.fill_null(
                pc.is_in(op, value_set=pa.array(["I", "U", "D"])), False
            )
            if not pc.all(ok).as_py():
                bad = pc.unique(op.filter(pc.invert(ok))).to_pylist()
                raise ValueError(
                    f"op values {bad!r} are not I/U/D — the write path "
                    "takes VALIDATED envelopes (patch 'P' events need the "
                    "patch-mode sink); run operators.validate upstream"
                )
            if tbl.column(KEY).null_count or tbl.column(SEQ).null_count:
                raise ValueError(
                    f"NULL {KEY}/{SEQ} rows — validate/quarantine upstream"
                )
            deleted = pc.equal(op, "D")
            cols = {KEY: tbl.column(KEY), SEQ: tbl.column(SEQ),
                    DELETED: deleted}
            for name in self.file_cols:
                if name in cols:
                    continue
                c = tbl.column(name)
                # a D row's payload is NULL no matter what the wire
                # carried (the envelope contract, as in patch_events)
                cols[name] = pc.if_else(deleted, pa.nulls(len(tbl), c.type), c)
            if self.has_bucket:
                b = tbl.column("_bucket")
                if b.null_count:
                    raise ValueError("_bucket has NULLs")
                buckets = b.to_numpy(zero_copy_only=False).astype("int64")
                if buckets.size and (
                    buckets.min() < 0 or buckets.max() >= self.n_buckets
                ):
                    raise ValueError(
                        f"_bucket out of range for {self.n_buckets} buckets "
                        "— compute it as pmod(xxhash64(doc_id), nBuckets)"
                    )
            else:
                buckets = np.fromiter(
                    (
                        bucket_of(k, self.n_buckets)
                        for k in tbl.column(KEY).to_pylist()
                    ),
                    dtype="int64",
                    count=tbl.num_rows,
                )
            out = pa.table({n: cols[n] for n in self.file_cols})
            if audit_counts is not None:
                for k, v in _arrow_audit_counts(out, max_n_tok).items():
                    audit_counts[k] = audit_counts.get(k, 0) + v
            for bval in np.unique(buckets):
                b = int(bval)
                part = out.filter(pa.array(buckets == bval))
                if b not in writers:
                    d = os.path.join(self.staging, f"_bucket={b}")
                    os.makedirs(d, exist_ok=True)
                    name = f"part-{uuid.uuid4().hex}.parquet"
                    writers[b] = (
                        pq.ParquetWriter(
                            os.path.join(d, name),
                            part.schema,
                            **arrow_file_options(part.schema),
                        ),
                        name,
                        0,
                    )
                w, name, rows = writers[b]
                w.write_table(part)
                writers[b] = (w, name, rows + part.num_rows)
        files = []
        for b, (w, name, rows) in sorted(writers.items()):
            w.close()
            files.append((b, name, rows))
        return BucketFilesMessage(
            files=files,
            audit_counts=audit_counts,
            audit_spec=(
                self.audit_cfg["standard"] if audit_counts is not None else None
            ),
        )

    # ---- driver-side worker (no JVM): the shared commit protocol
    def commit(self, messages):
        import shutil

        try:
            from beehive_data_etl_spark.sinks.snapshot import (
                SnapshotSink,
                _parquet_stats,
            )
        except ImportError as e:
            raise ImportError(
                "the beehive WRITE path runs the table's commit protocol "
                "in a Python worker, so the beehive_data_etl_spark "
                "package must be importable there — ship it with "
                "--py-files (see scripts/submit_replay.sh)"
            ) from e
        # exactly-once FIRST: a re-delivered committed batchId is the
        # documented idempotent skip, and must stay one even when a
        # since-tightened contract would now flag its rows
        # (review-found: the audit ran first and failed the retry
        # forever). The authoritative recheck still runs under the
        # lock in _publish_and_commit.
        head0 = tm.current_snapshot(self.root)
        if head0 is not None and self.batch_id in head0.get(
            "committed_batches", []
        ):
            shutil.rmtree(self.staging, ignore_errors=True)
            return
        valid: dict[int, set] = {}
        total = 0
        folded_counts: dict[str, int] = {}
        missing_counts = False
        stale_spec = False
        want_spec = (self.audit_cfg or {}).get("standard")
        for m in messages:
            if m is None:
                continue
            for b, name, rows in m.files:
                valid.setdefault(int(b), set()).add(name)
                total += rows
            counts = getattr(m, "audit_counts", None)
            if counts is None and m.files:
                missing_counts = True
            elif (
                m.files
                and want_spec is not None
                and getattr(m, "audit_spec", None) != want_spec
            ):
                # counts exist but were computed under a DIFFERENT
                # contract spec (parameters changed mid-stream): a
                # live_bad_n_tok counted under max_n_tok=1M says
                # nothing about a tightened max_n_tok=1000
                stale_spec = True
            for k, v in (counts or {}).items():
                folded_counts[k] = folded_counts.get(k, 0) + v
        if want_spec:
            if missing_counts or stale_spec:
                # stream writers are re-instantiated per side: a
                # commit-side instance that sees the (current)
                # contract while write tasks still ran a query-start
                # pickle would otherwise enforce thresholds on EMPTY
                # counts — or on counts computed under the contract's
                # OLD parameters (review r04)
                shutil.rmtree(self.staging, ignore_errors=True)
                raise RuntimeError(
                    "write tasks staged data "
                    + (
                        "without contract violation counts"
                        if missing_counts
                        else "with counts computed under a different "
                        "contract spec"
                    )
                    + " (the table contract landed or changed "
                    "mid-write) — re-run the write/stream so the "
                    "current contract is enforced"
                )
            # the table's write contract, enforced on the WINNING
            # attempts' counts before anything publishes. Stricter
            # than the sink's post-fold audit by design: the DS stages
            # raw envelope rows, so every event is judged, including
            # ones an in-batch fold would discard.
            p = self.audit_cfg["standard"]
            violations = {
                k: v
                for k, v in folded_counts.items()
                if v > p.get("max_violations", 0)
            }
            if total < p.get("min_rows", 0):
                violations["min_rows"] = total
            if p.get("max_rows") is not None and total > p["max_rows"]:
                violations["max_rows"] = total
            if violations:
                from beehive_data_etl_spark.operators.audit import AuditError

                shutil.rmtree(self.staging, ignore_errors=True)
                raise AuditError(self.batch_id, violations)
        # keep only winning attempts' files (task retries/speculation
        # stage under the same dirs with unique names)
        if os.path.isdir(self.staging):
            for d in os.listdir(self.staging):
                if not d.startswith("_bucket="):
                    continue
                bdir = os.path.join(self.staging, d)
                keep = valid.get(int(d.split("=", 1)[1]), set())
                for f in os.listdir(bdir):
                    if f not in keep:
                        os.remove(os.path.join(bdir, f))
                if not os.listdir(bdir):
                    os.rmdir(bdir)
        written = sorted(valid)
        if not written:  # empty batch: no empty commits, like the sink
            shutil.rmtree(self.staging, ignore_errors=True)
            return
        sink = SnapshotSink(None, self.root, n_buckets=self.n_buckets)

        def _head_check(head):
            """Runs INSIDE the publish critical section on the LOCKED
            head (an unlocked pre-check would race a concurrent
            drop/rename or mode change — review-found TOCTOU)."""
            if head is None:
                return
            if head.get("patch"):
                raise RuntimeError(
                    "table became patch-mode since planning — row "
                    "envelopes cannot be committed into a per-cell table"
                )
            # (the write-contract-change refusal lives in
            # _publish_and_commit's locked section — plan snap vs
            # locked head, shared by BOTH writers)
            # a drop/rename column alter may have landed since this
            # write planned: committing entries that still carry the
            # old column would re-introduce physically-removed bytes
            # under a name a later re-add would then resurrect (the
            # exact trap drop_column's physical rewrite exists to
            # close). Types must still match too (no widening landed).
            head_types = dict(
                f.split(" ", 1) for f in tm._split_top(head["schema"])
            )
            stale = [
                f
                for f in tm._split_top(self.entry_ddl)
                if head_types.get(f.split(" ", 1)[0]) != f.split(" ", 1)[1]
            ]
            if stale:
                raise RuntimeError(
                    f"table schema changed while this write ran (stale "
                    f"column(s) {stale!r}): re-plan the write (batch) or "
                    "restart the stream against the current schema"
                )
        stats = {
            b: _parquet_stats(os.path.join(self.staging, f"_bucket={b}"))
            for b in written
        }
        metrics = {
            "batch_id": self.batch_id,
            "skipped": False,
            "touched_buckets": written,
            "compacted_buckets": [],
            "appended_buckets": written,
            "reused_buckets": [],
            "rows_staged": total,
            "writer": "python-datasource",
        }
        sink._publish_and_commit(
            self.staging, self.batch_id, self.plan_snap, stats, metrics,
            entry_ddl=self.entry_ddl,
            phases=(self.t0, self.t0, time.time()),
            bootstrap_schema_ddl=self.bootstrap_ddl,
            head_check=_head_check,
        )

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class BeehiveStreamWriter(BeehiveBatchWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("beehive").option("streamId", ...)`` —
    continuous envelope appends, one exactly-once table commit per
    micro-batch (batch id = ``stream-<streamId>-<epoch>``, deduped by
    the sink's committed-batch set like any re-delivered batch).

    The epoch counter is Spark's, scoped to the CHECKPOINT LINEAGE: a
    fresh checkpoint restarts epochs at 0 with DIFFERENT data windows,
    so reusing a streamId across checkpoints would silently skip every
    replayed batch as a re-delivery (the subscriber-job id-collision
    lesson, scripts/subscribe_job.py). The writer records the highest
    committed epoch per streamId under ``_streams/`` and REFUSES an
    epoch rewind loudly — pick a new streamId when you drop the
    checkpoint. An equal epoch is a legitimate crash-retry and dedupes
    at the sink."""

    def __init__(self, root: str, schema, options, overwrite: bool):
        opts = dict(options)
        opts.setdefault("batchId", "__per-epoch__")  # derived in commit()
        super().__init__(root, schema, opts, overwrite)
        self.stream_id = options.get("streamId") or options.get("streamid")
        if not self.stream_id:
            raise ValueError(
                "beehive stream writes require option('streamId', ...): "
                "it namespaces the per-epoch exactly-once batch ids — "
                "unique per checkpoint lineage"
            )
        # Spark re-instantiates the stream writer for the commit-side
        # worker (unlike batch, where ONE pickled instance serves both
        # sides), so an instance-random staging path would diverge
        # between the write tasks and commit. Deterministic per
        # streamId is safe: epochs are serial within a query, and the
        # commit prunes any stale leftover file a crashed epoch left
        # (only files named in the winning commit messages survive).
        self.staging = os.path.join(
            root, "data", f"_stage-ds-stream-{self.stream_id}"
        )

    def _epoch_path(self) -> str:
        return os.path.join(self.root, "_streams", f"{self.stream_id}.json")

    def commit(self, messages, batchId: int):
        saved = tm.read_json(self._epoch_path())
        last = -1 if saved is None else saved["last_epoch"]
        if batchId < last:
            import shutil

            shutil.rmtree(self.staging, ignore_errors=True)
            raise RuntimeError(
                f"epoch {batchId} is below streamId {self.stream_id!r}'s "
                f"recorded high-water {last}: this checkpoint lineage is "
                "NEW (epochs restarted) but the streamId is reused, so "
                "every replayed batch would silently dedupe against the "
                "old lineage's commits — restart with a fresh streamId"
            )
        self.batch_id = f"stream-{self.stream_id}-{batchId}"
        super().commit(messages)
        os.makedirs(os.path.dirname(self._epoch_path()), exist_ok=True)
        tm.write_json(self._epoch_path(), {"last_epoch": batchId})

    def abort(self, messages, batchId: int):
        super().abort(messages)


class BeehiveChangesDataSource(DataSource):
    """``spark.readStream.format("beehive_changes").load(root)`` — the
    table as a stream of read_changes windows; batch mode reads one
    explicit window."""

    @classmethod
    def name(cls) -> str:
        return "beehive_changes"

    def schema(self) -> str:
        """Changelog schema is the TO-version's (read_changes aligns
        both window sides to it): the explicit toVersion for batch
        window reads — a window on a later-evolved table must emit THAT
        window's columns — or the head for streams (a stream's schema
        is fixed at start; alter windows are refused downstream)."""
        root = self.options["path"]
        version = _resolve_version(root, self.options.get("toVersion"))
        self.options["_pinned_version"] = str(version)
        snap = tm.load_snapshot(root, version)
        _refuse_patch(snap, root)
        return _changes_ddl(snap)

    def reader(self, schema) -> BeehiveChangesBatchReader:
        return BeehiveChangesBatchReader(schema, self.options)

    def streamReader(self, schema) -> BeehiveChangesStreamReader:
        return BeehiveChangesStreamReader(schema, self.options)
