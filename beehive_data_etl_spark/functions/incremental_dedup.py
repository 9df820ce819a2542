"""Incremental near-duplicate detection on CDC ingest.

A training-data pipeline that upserts documents continuously cannot
re-run corpus×corpus dedup per micro-batch — at 10^10 events that is a
quadratic re-pairing of a corpus that barely changed. This module keeps
a **banded MinHash signature store** beside the document table and, per
batch, checks ONLY the new/updated docs against the accumulated corpus:

- signatures are the shared ``banded_signatures`` projection
  (functions.dedup): ``bands`` rows × ~40 bytes per doc — O(corpus)
  but tiny beside it, and ONE scan of the batch to compute;
- the candidate join is a single equi-join on (band, band_hash) with
  the batch side **broadcast** (a micro-batch is always the small
  side), so the corpus DOCUMENTS are never rescanned or re-paired; the
  store itself (O(live corpus) tiny rows) is LWW-grouped per batch and
  periodically **compacted** so that read stays O(live corpus), not
  O(stream length);
- the store is merge-on-read, same idea as the snapshot sink: appended
  per batch, read-side LWW by ``op_sequence`` per (id, band), so doc
  UPDATES supersede their stale signatures and DELETES tombstone them
  without rewriting files. Retries are idempotent when the caller
  passes a ``batch_id`` (deterministic file set, discarded before the
  corpus snapshot on re-attempt). At cluster scale the store is an
  Iceberg table partitioned by ``bucket(band_hash)``; here it is a
  parquet directory with the identical layout;
- ``max_bucket`` caps degenerate hot buckets as ``minhash_lsh_pairs``
  does (here: CORPUS-side members per bucket), and the cap is
  evaluated only over buckets the batch actually touches (broadcast
  semi-join), never the whole store.

``incremental_candidates_static`` is the one-shot split variant
(incoming docs vs corpus docs inside one DataFrame) used by the
``q_dedup_incremental`` driver query, with a DuckDB-exact oracle.

Concurrency: run with SERIAL micro-batches (replay ``inflight=1`` /
Structured Streaming's serial ``foreachBatch``). Under pipelined
replay, a batch pins its corpus snapshot before concurrent siblings
append — appends are still safe (unique files, LWW read), but a pair
whose two docs ride concurrent batches can be missed for that window
(bounded staleness, self-healing on the docs' next update), AND
``compact_older_than_s`` must then be set beyond the max batch
duration: a compaction SUPERSEDES its inputs (hidden from new
listings, kept on disk) and only GCs them once they have been
unlisted for the horizon — so a concurrent batch's pinned snapshot
never loses a file mid-job (which would be a FileNotFoundException,
not staleness). Exactness over throughput here: near-dup candidates
feed curation, so a missed pair is a quality leak, not a correctness
bug in the table itself.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from beehive_data_etl_spark.functions.dedup import (
    DEFAULT_MAX_BUCKET,
    banded_signatures,
    bucket_pairs,
    spread_if_narrow,
    token_shingles,
)
from beehive_data_etl_spark.sources import table_meta as tm

_STORE_SCHEMA = (
    "id string, band int, band_hash string, op_sequence long, deleted boolean"
)


def _pair_counts(
    new_banded: DataFrame, corpus_banded: DataFrame, max_bucket: int
) -> DataFrame:
    """(id_new, id_corpus, n_shared_bands): ONE scan of the corpus
    store — semi-join down to the buckets the batch touches, group the
    survivors' ids per bucket (cap applied to the grouped size), then a
    broadcast equi-join with the batch side and a streamed explode.
    The batch side is referenced twice (touched + the join), which is
    free: a micro-batch projection is broadcast-sized. The corpus side
    is referenced ONCE — re-referencing a DataFrame re-executes its
    subtree (no cross-subtree exchange reuse, the engine's measured
    lesson), and here that subtree is a store scan."""
    touched = new_banded.select("band", "band_hash").distinct()
    corpus_groups = (
        corpus_banded.join(F.broadcast(touched), ["band", "band_hash"], "left_semi")
        .groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("corpus_ids"))
        .filter(F.size("corpus_ids") <= max_bucket)
    )
    return (
        corpus_groups.join(
            F.broadcast(new_banded.withColumnRenamed("id", "id_new")),
            ["band", "band_hash"],
        )
        .select("id_new", F.explode("corpus_ids").alias("id_corpus"))
        .filter(F.col("id_new") != F.col("id_corpus"))
        .groupBy("id_new", "id_corpus")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def incremental_candidates_static(
    docs: DataFrame,
    is_new: Column,
    shingles: Column,
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """One-shot split variant: candidates between the ``is_new`` slice
    and the rest of ``docs`` (never corpus×corpus). The expensive
    signature pipeline runs in ONE corpus scan: both sides are grouped
    per (band, band_hash) into one membership row — filtering the
    banded frame per side would re-execute the k×md5 subtree per
    reference — and pairs stream out of a nested explode, new members
    × corpus members, row memory O(bucket)."""
    flags = docs.select(F.col(id_col).alias("id"), is_new.alias("_new"))
    # spread the RAW docs, then shingle: putting the repartition above
    # the shingle projection would compute every shingle array in the
    # single under-partitioned input task and shuffle the (bigger)
    # arrays — measured 1.5× on this query
    banded = banded_signatures(
        spread_if_narrow(docs).select(F.col(id_col).alias("id"), shingles.alias("sh")),
        F.col("sh"),
        id_col="id",
        k=k,
        bands=bands,
    ).join(F.broadcast(flags), "id")
    grouped = (
        banded.groupBy("band", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("id"), F.col("_new")))
            ).alias("mem")
        )
        .select(
            F.filter("mem", lambda m: m["_new"]).alias("news"),
            F.filter("mem", lambda m: ~m["_new"]).alias("corp"),
        )
        .filter(
            (F.size("news") >= 1)
            & (F.size("corp") >= 1)
            & (F.size("corp") <= max_bucket)
        )
    )
    return (
        grouped.select(F.explode("news").alias("n"), "corp")
        .select(F.col("n.id").alias("id_new"), F.explode("corp").alias("c"))
        .select("id_new", F.col("c.id").alias("id_corpus"))
        .filter(F.col("id_new") != F.col("id_corpus"))
        .groupBy("id_new", "id_corpus")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


class SignatureStore:
    """Merge-on-read banded-signature store: parquet appends per batch,
    read-side LWW by ``op_sequence`` per (id, band) with tombstoned
    deletes — the dedup twin of the snapshot sink's document table.
    Single writer (serial micro-batches); ``compact`` folds the
    accumulated history so per-batch reads stay O(live corpus), not
    O(stream length)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        compact_threshold: int = 16,
        compact_older_than_s: float = 0.0,
    ) -> None:
        self.spark = spark
        self.root = root
        self.compact_threshold = compact_threshold
        # Iceberg-style two-phase expiry horizon. 0 (single-writer
        # default): a compaction's inputs are physically deleted
        # immediately. A pipelined or multi-process deployment MUST set
        # a horizon longer than its max batch duration: a compaction
        # first SUPERSEDES its inputs (a persisted marker hides them
        # from all later read()/append() file listings), and only a
        # later GC physically deletes a set once it has been UNLISTED
        # for >= the horizon — so any reader that pinned the files
        # while they were still listed has long finished. Keying the
        # delay off unlisting time (not file write time) is what makes
        # this safe: files can be pinned at any moment while listed.
        self.compact_older_than_s = compact_older_than_s
        os.makedirs(root, exist_ok=True)

    def _all_parquet(self) -> list[str]:
        return sorted(
            os.path.join(self.root, f)
            for f in os.listdir(self.root)
            if f.endswith(".parquet")
        )

    def _markers(self) -> list[str]:
        return sorted(
            os.path.join(self.root, f)
            for f in os.listdir(self.root)
            if f.startswith("superseded-") and f.endswith(".json")
        )

    def _superseded(self) -> set[str]:
        import json

        out: set[str] = set()
        for m in self._markers():
            try:
                with open(m) as fh:
                    out.update(json.load(fh)["files"])
            except (OSError, ValueError):
                pass  # marker mid-write by a concurrent compaction
        return out

    def _files(self) -> list[str]:
        """LIVE file sets: everything a compaction has superseded is
        hidden (its rows live on in the fold output), though it may
        still sit on disk inside the GC horizon for pinned readers."""
        hidden = self._superseded()
        return [p for p in self._all_parquet() if p not in hidden]

    def _latest(self, files: list[str]) -> DataFrame:
        raw = self.spark.read.schema(_STORE_SCHEMA).parquet(*files)
        return (
            raw.groupBy("id", "band")
            .agg(F.max(F.struct("op_sequence", "deleted", "band_hash")).alias("s"))
            .select(
                "id",
                "band",
                F.col("s.band_hash").alias("band_hash"),
                F.col("s.op_sequence").alias("op_sequence"),
                F.col("s.deleted").alias("deleted"),
            )
        )

    def read(self) -> DataFrame | None:
        """Current live signatures (id, band, band_hash): latest
        op_sequence per (id, band), deletes dropped. The file list is
        pinned HERE, so a later ``append`` cannot leak into a plan that
        was built from this snapshot (lazy-evaluation safety)."""
        files = self._files()
        if not files:
            return None
        return self._latest(files).filter(~F.col("deleted")).select(
            "id", "band", "band_hash"
        )

    def append(self, rows: DataFrame, batch_id: str | None = None) -> None:
        """Write one batch's signature rows (``_STORE_SCHEMA``) as a
        new file set. With ``batch_id`` the file set is DETERMINISTIC
        (``batch-<id>.parquet``) and a retry overwrites its own failed
        attempt instead of double-appending — call ``discard(batch_id)``
        before reading the corpus to make the whole retry idempotent."""
        name = f"batch-{batch_id}.parquet" if batch_id else f"batch-{uuid.uuid4().hex}.parquet"
        rows.write.mode("overwrite").parquet(os.path.join(self.root, name))

    def discard(self, batch_id: str) -> None:
        """Drop a batch's (possibly partial) prior attempt, if any."""
        import shutil

        shutil.rmtree(
            os.path.join(self.root, f"batch-{batch_id}.parquet"), ignore_errors=True
        )

    def gc_superseded(self, older_than_s: float | None = None) -> int:
        """Physically delete superseded file sets whose marker is older
        than the horizon (default: the store's). Crash-safe: deletes
        run before the marker is removed, so a re-run re-deletes
        already-gone paths as no-ops. Returns the number of file sets
        reaped."""
        import json
        import shutil
        import time as _time

        if older_than_s is None:
            older_than_s = self.compact_older_than_s
        cutoff = _time.time() - older_than_s
        reaped = 0
        for m in self._markers():
            try:
                with open(m) as fh:
                    body = json.load(fh)
            except (OSError, ValueError):
                continue
            if body["ts"] <= cutoff:
                for f in body["files"]:
                    shutil.rmtree(f, ignore_errors=True)
                    reaped += 1
                try:
                    os.remove(m)
                except OSError:
                    pass  # concurrent GC beat us to it
        return reaped

    def compact(self, older_than_s: float | None = None) -> None:
        """Fold the LIVE history into one file set of latest rows per
        (id, band), then SUPERSEDE the inputs (marker write — they
        vanish from listings but stay on disk for pinned readers) and
        GC any sets unlisted for >= the horizon. Tombstones are KEPT —
        dropping them would let a late out-of-order signature (lower
        op_sequence) resurrect a deleted doc; they are few and the
        snapshot sink's watermark-GC pattern can reap them if ever
        needed. Crash between the fold write and the marker leaves
        inputs + fold coexisting and both listed, which the LWW read
        folds to the same answer. Skips when <= 1 live set (already
        folded) — under a nonzero horizon the steady state is ONE live
        file plus aging superseded sets, so the compact threshold
        cannot re-trigger a full refold every batch."""
        import time as _time

        self.gc_superseded(older_than_s)
        files = self._files()
        if len(files) <= 1:
            return
        out = os.path.join(self.root, f"compact-{uuid.uuid4().hex}.parquet")
        self._latest(files).write.mode("overwrite").parquet(out)
        marker = os.path.join(self.root, f"superseded-{uuid.uuid4().hex}.json")
        tm.write_json(marker, {"ts": _time.time(), "files": files})
        self.gc_superseded(older_than_s)

    def maybe_compact(self) -> None:
        self.gc_superseded()
        if len(self._files()) >= self.compact_threshold:
            self.compact()


class IncrementalNearDup:
    """Per-batch near-dup detection against the accumulated corpus.

    ``process_batch`` takes a CDC micro-batch of (id, op_sequence,
    tokens, deleted) rows, returns candidate pairs = (intra-batch
    pairs) ∪ (batch vs corpus pairs), and appends the batch's
    signatures to the store. Designed to run inside the replay
    ``transform`` stage or a ``foreachBatch`` — it never scans the
    document table, only the batch and the signature store."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        k: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        max_bucket: int = DEFAULT_MAX_BUCKET,
        compact_older_than_s: float = 0.0,
    ) -> None:
        # compact_older_than_s reaches the store here — the production
        # entry point must be able to set the pipelined-deployment GC
        # horizon the module docstring mandates
        self.spark = spark
        self.store = SignatureStore(
            spark, store_root, compact_older_than_s=compact_older_than_s
        )
        self.k, self.bands = k, bands
        self.shingle_n = shingle_n
        self.max_bucket = max_bucket

    def process_batch(
        self,
        batch: DataFrame,
        id_col: str = "doc_id",
        seq_col: str = "op_sequence",
        tokens_col: str = "tokens",
        deleted_col: str = "deleted",
        batch_id: str | None = None,
    ) -> DataFrame:
        """Returns (id_new, id_corpus, n_shared_bands); ``id_new`` is
        always from this batch, intra-batch pairs carry the smaller id
        as ``id_new``. The batch is LWW-collapsed per id first — only
        its final state gets signatures — and the corpus side excludes
        EVERY id present in the batch (stale signatures of updated or
        deleted docs must not pair; intra-batch pairing covers fresh
        content, so no pair can also arrive orientation-flipped from
        the corpus join). With ``batch_id`` a crashed-and-retried batch
        is idempotent: the prior attempt's store file is discarded
        before the corpus snapshot is taken, and the append overwrites
        deterministically."""
        if batch_id is not None:
            self.store.discard(batch_id)
        self.store.maybe_compact()
        last = (
            batch.groupBy(F.col(id_col).alias("id"))
            .agg(
                F.max(
                    F.struct(
                        F.col(seq_col).alias("op_sequence"),
                        F.col(deleted_col).alias("deleted"),
                        F.col(tokens_col).alias("tokens"),
                    )
                ).alias("s")
            )
            .select("id", "s.op_sequence", "s.deleted", "s.tokens")
        )
        live = last.filter(~F.col("deleted"))
        banded = banded_signatures(
            live.select("id", token_shingles("tokens", self.shingle_n).alias("sh")),
            F.col("sh"),
            id_col="id",
            k=self.k,
            bands=self.bands,
        ).cache()  # feeds intra-pairing, the corpus join, and the store append
        try:
            intra = bucket_pairs(
                banded, self.max_bucket, out_a="id_new", out_b="id_corpus"
            )
            corpus = self.store.read()  # pins the pre-batch file list
            if corpus is None:
                out = intra
            else:
                corpus_only = corpus.join(
                    F.broadcast(last.select("id")), "id", "left_anti"
                )
                out = (
                    intra.unionByName(
                        _pair_counts(banded, corpus_only, self.max_bucket)
                    )
                    .groupBy("id_new", "id_corpus")
                    .agg(F.max("n_shared_bands").alias("n_shared_bands"))
                )
            sig_rows = banded.join(
                last.select("id", "op_sequence", "deleted"), "id"
            ).select("id", "band", "band_hash", "op_sequence", "deleted")
            band_ids = self.spark.range(self.bands).select(
                F.col("id").cast("int").alias("band")
            )
            tombstones = (
                last.filter(F.col("deleted"))
                .select("id", "op_sequence")
                .crossJoin(F.broadcast(band_ids))
                .select(
                    "id",
                    "band",
                    F.lit(None).cast("string").alias("band_hash"),
                    "op_sequence",
                    F.lit(True).alias("deleted"),
                )
            )
            # materialize the candidates BEFORE the append (they must
            # reflect the pre-batch corpus even under lazy evaluation),
            # cutting lineage so the per-batch cache can be dropped
            out = out.localCheckpoint(eager=True)
            self.store.append(sig_rows.unionByName(tombstones), batch_id=batch_id)
        finally:
            # a failed append/pair job must not leak one cached
            # projection per retried batch in a long-running stream
            banded.unpersist()
        return out


class NearDupView:
    """Changelog-driven near-dup — the third derived consumer of the
    CDC snapshot, with the same ``refresh()`` contract as
    ``AggregateView`` and ``TokenIndex``: advance to the sink's CURRENT
    version by feeding the pre-image-free changelog window through
    ``IncrementalNearDup.process_batch``.

    The changelog's new-image rows are exactly a process_batch batch —
    one LWW-final row per changed key carrying (doc_id, op_sequence,
    tokens, deleted) — so updates re-signature, deletes tombstone, and
    only changed docs pair against the corpus.

    Crash contract (review-hardened): a retry may run at a LATER sink
    version than the crashed attempt (the changelog window widens), so
    nothing crash-time-versioned can be trusted at retry time. Every
    refresh therefore starts by reaping ALL store batch files and
    pairs dirs ABOVE the committed pointer — artifacts only a crashed
    attempt can leave (nothing above the pointer is ever listed) —
    BEFORE pinning the corpus, so a ghost signature of a doc the wider
    window no longer mentions can never pair. ``pairs()`` reads
    exactly the dirs the pointer RECORDS (never a half-written crash
    dir), and when the recorded list grows past ``pairs_fold_at`` the
    refresh folds it into one dir; unlisted superseded dirs are
    age-reaped (pinned readers hold the old list for the horizon)."""

    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        pairs_fold_at: int = 16,
        reap_older_than_s: float = 3600.0,
        **nd_kwargs,
    ) -> None:
        import threading

        self.spark = spark
        self.sink = sink
        self.root = root
        self.pairs_fold_at = pairs_fold_at
        self.reap_older_than_s = reap_older_than_s
        self.nd = IncrementalNearDup(
            spark, os.path.join(root, "store"), **nd_kwargs
        )
        self._write_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        self._ptr = tm.Pointer(os.path.join(root, "CURRENT"))

    def current(self) -> dict | None:
        return self._ptr.read()

    def _reap_crash_artifacts(self, committed: int) -> None:
        """Delete every store batch file / pairs dir whose version is
        ABOVE the committed pointer: only a crashed attempt can have
        left them (a successful refresh swaps the pointer past its own
        version), and a retry may now be processing a WIDER changelog
        window under a different batch_id — crash-time-versioned ids
        cannot be trusted, so reap by version range, immediately (no
        reader can list above-pointer artifacts)."""
        import re
        import shutil as _sh

        for d in os.listdir(self.nd.store.root):
            m = re.fullmatch(r"batch-cdc-v(\d+)\.parquet", d)
            if m and int(m.group(1)) > committed:
                _sh.rmtree(os.path.join(self.nd.store.root, d), ignore_errors=True)
        for d in os.listdir(self.root):
            m = re.fullmatch(r"pairs-v(\d+)", d)
            if m and int(m.group(1)) > committed:
                _sh.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def refresh(self) -> dict:
        with self._write_lock:
            return self._refresh_locked()

    def _refresh_locked(self) -> dict:
        snap = self.sink.current_snapshot()
        if snap is None:
            return {"mode": "noop", "reason": "sink has no snapshot"}
        v_new = snap["version"]
        cur = self.current()
        w = tm.classify_window(
            tm.ACCUMULATING_VIEW,
            cur and cur["version"],
            snap,
            self.sink.snapshot,
            ["tokens"],
        )
        if w.action == tm.NOOP:
            return {"mode": "noop", "version": v_new}
        if w.marker == "snapshot_floor":
            # the incremental window was expired (expire_snapshots) and
            # — unlike the views that rebuild — this view ACCUMULATES
            # pair history that a silent full re-process would drop or
            # double-count against the signature store: refuse with the
            # recovery spelled out
            raise ValueError(
                f"near-dup view at v{cur['version']} lags the source's "
                f"snapshot_floor {w.version}: the incremental window was "
                "expired. Delete the view directory and rebuild, or size "
                "MAINTAIN_SNAPSHOT_KEEP above the view's refresh lag"
            )
        if w.marker == "rollback_to":
            raise RuntimeError(
                f"rollback at v{w.version} inside the refresh window: state "
                "regressed to lower op_sequences and the accumulated pairs "
                "cannot follow — delete the view directory and rebuild"
            )
        if w.action == tm.REFUSE:
            raise tm.altered_columns_error(w)
        committed = cur["version"] if cur is not None else -1
        self._reap_crash_artifacts(committed)
        if cur is None:
            batch = self.sink.read_state(version=v_new, columns=["tokens"])
            mode = "full"
        else:
            # process_batch reads (doc_id, op_sequence, tokens,
            # deleted) — project the changelog scan down to tokens
            batch = self.sink.read_changes_pruned(
                cur["version"], v_new, columns=["tokens"]
            ).drop("change_type")
            mode = "incremental"
        pairs = self.nd.process_batch(batch, batch_id=f"cdc-v{v_new:06d}")
        name = f"pairs-v{v_new:06d}"
        pairs.write.mode("overwrite").parquet(os.path.join(self.root, name))
        listed = (cur.get("pairs_dirs", []) if cur else []) + [name]
        if len(listed) >= self.pairs_fold_at:
            folded = self._read_dirs(listed).groupBy("id_new", "id_corpus").agg(
                F.max("n_shared_bands").alias("n_shared_bands")
            )
            fold_name = f"pairs-fold-v{v_new:06d}-{uuid.uuid4().hex}"
            folded.write.mode("overwrite").parquet(
                os.path.join(self.root, fold_name)
            )
            listed = [fold_name]
        self._ptr.commit({"version": v_new, "pairs_dirs": listed})
        # superseded (post-fold) pairs dirs: unlisted, at or below the
        # pointer — invisible to NEW readers but possibly pinned by a
        # reader holding the previous list, so reaped past the horizon
        self._ptr.reap("pairs-", listed, self.reap_older_than_s)
        return {"mode": mode, "version": v_new, "pairs_dirs": len(listed)}

    def _read_dirs(self, names: list[str]) -> DataFrame:
        parts = [
            self.spark.read.parquet(os.path.join(self.root, d)) for d in names
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def pairs(self) -> DataFrame:
        """All candidate pairs found up to the reflected version —
        exactly the dirs the pointer records (a crashed attempt's dir
        is never listed, so never read)."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        return self._read_dirs(cur["pairs_dirs"])
