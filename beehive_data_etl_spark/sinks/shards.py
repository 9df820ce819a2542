"""Incrementally-maintained training-shard export over the CDC snapshot.

The end product of a tokenized-sequence CDC table is usually a SHARD
LAYOUT: a fixed number of files a training loader streams, with stable
membership (doc → shard) and a deterministic, engine-reproducible row
order. ``functions.curation.write_shards`` materializes that layout
once; this module keeps it CURRENT as the table mutates — rewriting a
full 10^10-row layout after every micro-batch is O(table) work for an
O(batch) change, exactly the recompute-vs-maintain gap the aggregate
view (``sinks/aggregates.py``) closes for GROUP BYs.

The scale design decision is the shard-assignment function. The
one-shot writer shards on an independent portable hash, but an
INCREMENTALLY maintained layout wants shards **aligned to the table's
own bucket space**: shard(key) = bucket(key) * k // n_buckets, i.e.
each shard owns a contiguous range of the sink's hash buckets
(requires k <= n_buckets). Two properties fall out:

- a doc's shard never changes (pure function of its key), so a change
  row touches exactly ONE shard — the set of shards a micro-batch
  dirties is computed from the changelog keys alone;
- rebuilding a dirty shard reads ONLY its own bucket range via the
  sink's bucket-pruned reader — O(shard), never O(table). With an
  unaligned hash every shard rebuild would re-scan the whole state,
  which is the difference between "works at sf0.01" and "works at
  10^10 rows".

Within a shard, rows are ordered by a salted portable hash of the key
(ties by key) — the same deterministic pseudo-shuffle contract as
``write_shards``: re-exports reproduce the identical row order from
any input partitioning, unlike ``ORDER BY rand()``.

Refresh walks the sink's pre-image-free changelog
(``read_changes_pruned``) — insert/update/delete all dirty the key's
one shard; purge windows are honest ``D`` rows (the pruned reader
degrades those windows itself); pure-rewrite windows (compact,
tombstone GC) emit no change rows and advance the pointer with zero
shard rewrites. The windows a whole-row view cannot consume that way
(the whole-row column of ``table_meta.WINDOW_POLICY``) force a FULL
re-export: a rebucket (n_buckets changed ⇒ the alignment function
changed for every key), any schema change (shard files must all carry
the evolved schema — training loaders read one schema), a rollback or
backfill (rows changed at op_sequences the changelog cannot see) and
an ``expire_snapshots``-retired window.

Commit protocol mirrors the other derived views: rewritten shards land
in a fresh generation directory, the ``CURRENT`` pointer (an atomic
``os.replace``) maps shard → directory and records the reflected
snapshot version + n_buckets + schema; untouched shards keep their old
directories (referenced, never copied). A crash before the swap leaves
the previous pointer live and the next refresh recomputes the same
window; generations no longer referenced by the current or previous
pointer are reaped one refresh later (a reader holding the old pointer
may still be scanning it).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot import _INTERNAL, KEY, _bucket_expr
from ..functions.hashing import portable_hash32
from ..sources import table_meta as tm

SHARD = "shard"


def shard_expr(k: int, n_buckets: int):
    """shard id of a key: its sink bucket mapped onto k contiguous
    bucket ranges. Pure function of (key, k, n_buckets)."""
    return (_bucket_expr(n_buckets) * k / n_buckets).cast("int")


def shard_buckets(s: int, k: int, n_buckets: int) -> list[int]:
    """The bucket range shard ``s`` owns: every b with b*k//n == s."""
    return [b for b in range(n_buckets) if b * k // n_buckets == s]


class ShardExport:
    def __init__(self, spark: SparkSession, sink, root: str, k: int) -> None:
        self.spark = spark
        self.sink = sink
        self.root = root
        self.k = int(k)
        if self.k < 1:
            raise ValueError("k must be >= 1")
        os.makedirs(root, exist_ok=True)
        self._ptr = tm.Pointer(
            os.path.join(root, "CURRENT"), refs=self._generations
        )

    # ------------------------------------------------------------ pointer
    def current(self) -> dict | None:
        return self._ptr.read()

    def _generations(self, ptr: dict) -> set[str]:
        # shard dirs live inside generation dirs
        return {
            os.path.relpath(d, self.root).split(os.sep)[0]
            for d in ptr["shards"].values()
        }

    # ------------------------------------------------------------ write
    def _payload_cols(self, df: DataFrame) -> list[str]:
        return [KEY] + [c for c in df.columns if c not in _INTERNAL and c != KEY]

    def _write_generation(self, live: DataFrame, n_buckets: int) -> dict[str, str]:
        """One job: assign shards, ONE shuffle on the shard key, in-task
        deterministic sort, partitioned write. Returns shard → dir for
        the shards that produced rows (an all-deleted shard writes
        nothing — the caller records it as empty)."""
        gen = os.path.join(self.root, f"gen-{uuid.uuid4().hex}")
        h = portable_hash32(F.col(KEY).cast("string"), salt="shard-order:")
        (
            live.select(*self._payload_cols(live))
            .withColumn(SHARD, shard_expr(self.k, n_buckets))
            .withColumn("__h", h)
            .repartition(self.k, SHARD)
            .sortWithinPartitions(SHARD, "__h", KEY)
            .drop("__h")
            .write.mode("overwrite")
            .partitionBy(SHARD)
            .parquet(gen)
        )
        out = {}
        for d in os.listdir(gen):
            if d.startswith(f"{SHARD}="):
                out[d.split("=", 1)[1]] = os.path.join(gen, d)
        return out

    def _commit(self, snap: dict, shards: dict[str, str]) -> None:
        self._ptr.commit(
            {
                "version": snap["version"],
                "k": self.k,
                "n_buckets": snap["n_buckets"],
                "schema": snap["schema"],
                "shards": shards,
            },
            reap="gen-",
        )

    # ------------------------------------------------------------ refresh
    def refresh(self) -> dict:
        """Advance the layout to the sink's CURRENT snapshot. Full
        export on first call, rebucket, or schema change; otherwise
        rewrites only the shards the window's change rows touch."""
        snap = self.sink.current_snapshot()
        if snap is None:
            return {"mode": "noop", "reason": "sink has no snapshot"}
        if self.k > snap["n_buckets"]:
            raise ValueError(
                f"k={self.k} shards need k <= n_buckets={snap['n_buckets']} "
                "(shards are contiguous bucket ranges)"
            )
        v_new = snap["version"]
        cur = self.current()
        w = tm.classify_window(
            tm.WHOLE_ROW_VIEW, cur and cur["version"], snap, self.sink.snapshot
        )
        if w.action == tm.NOOP:
            return {"mode": "noop", "version": v_new}
        if w.action == tm.FULL:
            live = self.sink.read_state(version=v_new).filter(~F.col("deleted"))
            shards = self._write_generation(live, snap["n_buckets"])
            self._commit(snap, shards)
            return {"mode": "full", "version": v_new, "rewritten": len(shards)}
        # dirty shards derive from the KEY alone (shard = bucket range
        # of doc_id) — project every payload column out of the scan.
        # NOT on patch tables: there projection also scopes change
        # DETECTION to the projected cells, and a shard is dirtied by
        # a change to ANY column (a late out-of-order patch confined
        # to one column must still re-export its shard)
        changes = self.sink.read_changes_pruned(
            cur["version"],
            v_new,
            columns=None if getattr(self.sink, "patch", False) else [],
        )
        dirty = sorted(
            r[0]
            for r in changes.select(
                shard_expr(self.k, snap["n_buckets"]).alias(SHARD)
            )
            .distinct()
            .collect()
        )
        shards = dict(cur["shards"])
        if dirty:
            buckets = [
                b
                for s in dirty
                for b in shard_buckets(s, self.k, snap["n_buckets"])
            ]
            live = self.sink.read_state(buckets=buckets, version=v_new).filter(
                ~F.col("deleted")
            )
            written = self._write_generation(live, snap["n_buckets"])
            for s in dirty:
                if str(s) in written:
                    shards[str(s)] = written[str(s)]
                else:
                    shards.pop(str(s), None)  # shard emptied out
        self._commit(snap, shards)
        return {
            "mode": "incremental",
            "version": v_new,
            "from_version": cur["version"],
            "rewritten": len(dirty),
        }

    # ------------------------------------------------------------ read
    def read(self, shard: int | None = None) -> DataFrame:
        """The exported layout (optionally one shard), with its shard
        column restored. Reads only pointer-referenced directories —
        never a listing — so crashed half-written generations are
        invisible."""
        cur = self.current()
        if cur is None:
            raise ValueError("export never refreshed")
        items = (
            [(str(shard), cur["shards"].get(str(shard)))]
            if shard is not None
            else sorted(cur["shards"].items(), key=lambda kv: int(kv[0]))
        )
        dfs = [
            self.spark.read.parquet(path).withColumn(SHARD, F.lit(int(s)))
            for s, path in items
            if path is not None
        ]
        if not dfs:
            schema = self.sink.read_final().schema
            return (
                self.spark.createDataFrame([], schema)
                .withColumn(SHARD, F.lit(0).cast("int"))
            )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def verify(self) -> dict:
        """Exact compare vs a full recompute at the reflected version —
        membership AND within-shard row order (the determinism
        contract), via a positional zip per shard."""
        cur = self.current()
        if cur is None:
            raise ValueError("export never refreshed")
        live = self.sink.read_state(version=cur["version"]).filter(
            ~F.col("deleted")
        )
        h = portable_hash32(F.col(KEY).cast("string"), salt="shard-order:")
        want = (
            live.select(*self._payload_cols(live))
            .withColumn(SHARD, shard_expr(self.k, cur["n_buckets"]))
            .withColumn("__h", h)
        )
        from pyspark.sql import Window

        w = Window.partitionBy(SHARD).orderBy("__h", KEY)
        want = want.withColumn("__pos", F.row_number().over(w)).drop("__h")
        got = self.read()
        wg = Window.partitionBy(SHARD).orderBy(F.monotonically_increasing_id())
        # per-shard file order == read order (one sorted file per shard)
        got = got.withColumn("__pos", F.row_number().over(wg))
        extra = got.exceptAll(want.select(*got.columns)).count()
        missing = want.select(*got.columns).exceptAll(got).count()
        return {"ok": extra == 0 and missing == 0, "extra": extra, "missing": missing}
