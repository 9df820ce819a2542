"""Binlog/WAL-tail replayers (SURVEY.md §2 A1/A4/A11, §3.2 E1).

Two entry points over the same ``SnapshotSink.apply_batch`` merge:

- ``replay_stream`` — Structured Streaming file-tail with a checkpoint
  directory and ``foreachBatch`` (BASELINE.json:6: "consumed in
  checkpointed micro-batches via Structured Streaming"). Spark manages
  offsets; the sink's manifests make re-delivered epochs idempotent, so
  restart-from-checkpoint is exactly-once end-to-end. The source schema
  is fixed for the lifetime of a run (a Spark streaming-source
  constraint), so a schema-evolving log is read with its final
  superset schema here.
- ``replay_incremental`` — an ordered-file micro-batcher that reads
  each batch with its *own* merged schema, so added/widened columns hit
  the sink mid-replay and trigger real in-flight schema evolution
  (SURVEY.md §2 A9). This is how lakehouse streaming sources plan file
  batches internally; offsets are recovered from the sink's committed
  batch ids (no separate checkpoint state to lose).

Both paths tolerate duplicate delivery, out-of-order files, and crash/
restart at any point — see tests/test_exactly_once.py.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from beehive_data_etl_spark.sources.readers import read_wal

Transform = Callable[[DataFrame], DataFrame]

# Both replayers drive the shared sink contract (committed / apply_batch)
# and work against SnapshotSink (sandbox) or IcebergSink (cluster) alike.
from typing import Protocol


class CdcSink(Protocol):
    """What the replayers need of a sink; ``apply_wal(paths,
    batch_id)`` is optional (see ``replay_incremental``)."""

    def committed(self, batch_id: str) -> bool: ...

    def apply_batch(self, batch_df: DataFrame, batch_id): ...


def _log_files(log_dir: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(log_dir, "part-*.parquet")))
    if not files:
        raise FileNotFoundError(f"no part-*.parquet under {log_dir}")
    return files


def _chunks_by_events(files: list[str], target_events: int) -> list[list[str]]:
    """Greedy event-based chunking: consecutive files accumulate into
    a chunk until its footer row count reaches ``target_events`` —
    "500k events per micro-batch regardless of how the producer
    happened to roll files". Driver-side metadata only.

    Determinism is the load-bearing property: batch ids are functions
    of the chunking, so a resume must re-derive the SAME boundaries.
    Greedy prefix accumulation gives it structurally: a chunk's
    boundary depends only on the row counts of the files BEFORE it,
    and a WAL dir is append-only (existing files never change), so
    growth at the tail can never move an earlier boundary — unlike any
    global files-per-batch derivation, which would shift every
    boundary when a resume re-samples a grown log (review-found). The
    one residual: the final, below-target chunk of a run can merge
    with newly-appended files on the next run and re-apply under a new
    batch id — bounded to one chunk, and LWW makes the re-application
    idempotent."""
    import pyarrow.parquet as pq

    if target_events < 1:
        raise ValueError(f"target_events_per_batch must be >= 1, got {target_events}")
    chunks: list[list[str]] = []
    cur: list[str] = []
    acc = 0
    for f in files:
        cur.append(f)
        acc += pq.read_metadata(f).num_rows
        if acc >= target_events:
            chunks.append(cur)
            cur, acc = [], 0
    if cur:
        chunks.append(cur)
    return chunks


def wal_max_seq(path: str, seq_col: str = "op_sequence") -> int | None:
    """Max ``op_sequence`` in a WAL file, from parquet footer statistics
    only (driver-side metadata, no data scan). ``None`` when any row
    group lacks stats — callers must treat that as "unknown, cannot
    prune". On a cluster the same number comes from the source's offset
    metadata (e.g. a binlog file's end-LSN); footer stats are the
    file-log equivalent."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    top = None
    for rg_idx in range(md.num_row_groups):
        rg = md.row_group(rg_idx)
        stat = None
        for c_idx in range(rg.num_columns):
            col = rg.column(c_idx)
            if col.path_in_schema == seq_col:
                stat = col.statistics
                break
        if stat is None or not stat.has_min_max:
            return None
        top = stat.max if top is None else max(top, stat.max)
    return top


def bootstrap(state_df: DataFrame, sink: CdcSink, as_of_seq: int,
              batch_id: str | None = None, assume_empty: bool = False) -> dict:
    """Seed an EMPTY sink from a consistent snapshot export, then tail
    the WAL with ``replay_incremental(start_after_seq=as_of_seq)`` —
    the Debezium-style "initial snapshot + binlog tail" bootstrap that
    makes standing up a new replica/re-shard of a 10^10-row table
    O(state), not O(history).

    ``state_df`` must be the LWW state of the source table as of
    ``as_of_seq`` **including delete tombstones** (rows with op='D' and
    the delete's op_sequence), exactly what ``SnapshotSink.read_state``
    exports. Tombstones are load-bearing when the WAL delivers events
    out of order: a pre-cutoff stale update displaced into a post-cutoff
    file must lose the LWW comparison against the delete it precedes —
    without the tombstone it would resurrect the doc. A snapshot source
    that cannot export tombstones is only safe when the tail is strictly
    seq-ordered (then no pre-cutoff event ever arrives post-cutoff).

    The bootstrap batch flows through ``sink.apply_batch`` — same
    manifests, same exactly-once, so a crashed bootstrap resumes like
    any batch. Returns the commit metrics."""
    bid = batch_id or f"bootstrap-{as_of_seq}"
    if sink.committed(bid):
        return {"batch_id": bid, "skipped": True}
    # the empty-table guard is load-bearing (bootstrapping over existing
    # state can resurrect docs whose tombstones the target already
    # expired) — a sink that cannot report emptiness is REFUSED unless
    # the caller explicitly vouches with assume_empty=True (e.g. an
    # IcebergSink over a just-created table, checked via its catalog)
    snap_fn = getattr(sink, "current_snapshot", None)
    if snap_fn is not None:
        snap = snap_fn()
        if snap is not None:
            raise ValueError(
                "bootstrap target must be an empty table (found snapshot "
                f"v{snap['version']}); tail an existing table with "
                "replay_incremental instead"
            )
    elif not assume_empty:
        raise ValueError(
            "sink cannot report emptiness (no current_snapshot); pass "
            "assume_empty=True only if the table is verifiably empty"
        )
    cols = set(state_df.columns)
    if "op" not in cols:
        # read_state export shape: tombstones as deleted=true rows.
        # Map to the envelope the merge consumes ('U' vs 'D' — a
        # bootstrap row is never an insert event, it IS state).
        if "deleted" not in cols:
            raise ValueError(
                "bootstrap state needs 'op' or 'deleted' to carry tombstones"
            )
        from pyspark.sql import functions as F

        state_df = state_df.withColumn(
            "op", F.when(F.col("deleted"), F.lit("D")).otherwise(F.lit("U"))
        ).drop("deleted")
    return sink.apply_batch(state_df, bid)


def replay_incremental(
    spark: SparkSession,
    log_dir: str,
    sink: CdcSink,
    files_per_batch: int | str = 1,
    transform: Transform | None = None,
    max_batches: int | None = None,
    inflight: int = 1,
    start_after_seq: int | None = None,
    batch_prefix: str = "wal",
    target_events_per_batch: int = 500_000,
) -> list[dict]:
    """Replay an ordered WAL directory through the sink, one schema-aware
    micro-batch per ``files_per_batch`` files. Resumable: batch ids are
    deterministic functions of the file list, and committed ids are
    skipped inside the sink. Returns per-batch commit metrics. With no
    ``transform``, a sink offering ``apply_wal`` (``SnapshotSink``) gets
    the chunk's file paths instead of ``read_wal``'s DataFrame, so a
    small chunk is read, folded and written on the driver with no Spark
    job; a ``transform`` needs the DataFrame, so ``apply_batch`` runs.

    ``inflight > 1`` PIPELINES micro-batches: up to that many batch
    jobs run concurrently (driver threads submitting to the shared
    scheduler — exactly what a cluster's queued micro-batches do).
    Correct because the sink is merge-on-read with an order-insensitive
    idempotent LWW fold: concurrent batches append independent delta
    files and the snapshot commit is the sink's serialized critical
    section. Batches may COMMIT out of log order; exactly-once per
    batch_id and final-state correctness are unaffected (a crash leaves
    some later batch committed and an earlier one not — the resume
    replays exactly the uncommitted ids). Use inflight=1 (default) when
    strict commit order matters, e.g. a downstream consumer tailing the
    snapshot log.

    ``start_after_seq`` (bootstrap tail, see ``bootstrap``): a chunk is
    SKIPPED entirely when every file's footer-stat max op_sequence is
    <= the cutoff — those events are already reflected in the
    bootstrapped state. Pruning is all-or-nothing per chunk (a chunk is
    never sub-set) so a chunk that does run reads exactly the same
    files, and therefore produces exactly the same batch content, as in
    a full replay — batch ids, crash manifests, and committed-id resume
    stay interchangeable between bootstrapped and full runs. Straddling
    chunks re-deliver some pre-cutoff events; the sink's LWW fold
    no-ops them against the bootstrap rows (which carry >= seq per
    key). A file without footer stats is unprunable and keeps its
    chunk."""
    files = _log_files(log_dir)
    if files_per_batch == "auto":
        chunks = _chunks_by_events(files, target_events_per_batch)
    elif not isinstance(files_per_batch, int):
        raise ValueError(
            f"files_per_batch must be an int or 'auto', got {files_per_batch!r}"
        )
    elif files_per_batch < 1:
        raise ValueError(
            f"files_per_batch must be >= 1, got {files_per_batch}"
        )
    else:
        chunks = [
            files[i : i + files_per_batch]
            for i in range(0, len(files), files_per_batch)
        ]
    if max_batches is not None:
        chunks = chunks[:max_batches]

    def _prunable(chunk: list[str]) -> bool:
        if start_after_seq is None:
            return False
        for f in chunk:
            top = wal_max_seq(f)
            if top is None or top > start_after_seq:
                return False
        return True

    def _one(i: int, chunk: list[str]) -> dict:
        # batch_prefix namespaces ids when SEVERAL logs feed one sink
        # (multi-source fan-in) — same-named files in different dirs
        # must not collide in the committed-id space
        batch_id = f"{batch_prefix}-{i:06d}-{os.path.basename(chunk[0])}"
        # committed check first: on resume, already-committed chunks
        # skip without footer I/O — keeps the pruning pass itself
        # O(uncommitted), not O(history), over a long-lived log dir
        if sink.committed(batch_id):
            return {"batch_id": batch_id, "skipped": True}
        if _prunable(chunk):
            return {"batch_id": batch_id, "skipped": True, "pruned": True}
        if transform is None and hasattr(sink, "apply_wal"):
            return sink.apply_wal(chunk, batch_id)
        df = read_wal(spark, chunk)
        if transform is not None:
            df = transform(df)
        return sink.apply_batch(df, batch_id)

    if inflight <= 1:
        return [_one(i, chunk) for i, chunk in enumerate(chunks)]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=inflight) as ex:
        return list(ex.map(_one, range(len(chunks)), chunks))


def replay_stream(
    spark: SparkSession,
    log_dir: str,
    sink: CdcSink,
    checkpoint_dir: str,
    schema_ddl: str,
    max_files_per_trigger: int = 1,
    transform: Transform | None = None,
    watermark: tuple[str, str] | None = None,
    on_batch_commit: Callable[[int], None] | None = None,
) -> None:
    """Structured Streaming replay with ``Trigger.AvailableNow``:
    processes everything currently in ``log_dir`` in checkpointed
    micro-batches, then stops. Restarting with the same checkpoint
    resumes from the recorded offsets; an epoch that was delivered but
    not committed is re-applied idempotently by the sink manifests.

    ``watermark=(col, delay)`` installs an event-time watermark
    (SURVEY.md §2 A4) — with LWW merge semantics late events are
    *correct* regardless (they lose the op_sequence comparison), the
    watermark only bounds any stateful operators added upstream.

    ``on_batch_commit(epoch_id)`` runs inside foreachBatch AFTER the
    sink commit — the hook downstream incremental consumers (aggregate
    views, token index, incremental near-dup) refresh from, at the
    exact cadence their O(changed rows) cost model assumes. foreachBatch
    epochs are serial, so refreshes here never race. A hook failure
    fails the epoch BEFORE the checkpoint advances; the sink commit is
    already durable, so the restart skips the re-delivered batch id and
    re-runs only the refresh (views are idempotent at a version)."""
    from beehive_data_etl_spark.metrics import ProgressJsonlListener, observe_envelope

    reader = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(log_dir)
    )
    if watermark is not None:
        reader = reader.withWatermark(*watermark)
    if transform is not None:
        reader = transform(reader)
    reader = observe_envelope(reader)  # in-plan counters (A12), free

    def _apply(df: DataFrame, epoch_id: int) -> None:
        sink.apply_batch(df, f"stream-{epoch_id:06d}")
        if on_batch_commit is not None:
            on_batch_commit(epoch_id)

    query = (
        reader.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # progress capture from the query's own buffer — synchronous and
    # complete, unlike listener callbacks (async delivery). The
    # ProgressJsonlListener in metrics.py serves long-running jobs whose
    # progress outgrows the buffer. Only filesystem sinks have a root to
    # write under; IcebergSink (cluster) has none — skip rather than
    # crash the deployment entry point after a successful run.
    sink_root = getattr(sink, "root", None)
    if sink_root is not None:
        ProgressJsonlListener.append_progresses(
            os.path.join(sink_root, "_metrics", "stream_progress.jsonl"),
            query.recentProgress,
        )
