"""Incrementally-maintained SCD2 history view over the CDC snapshot —
the classic "Debezium feed → audit table" consumer.

The sink's own time travel is PHYSICAL and therefore bounded:
``vacuum()`` reaps superseded delta files and ``expire_snapshots``
retires old version JSONs, so "what did doc X look like in March" stops
being answerable once routine maintenance runs. ``HistoryView``
maintains the LOGICAL history instead: one stored row per (key, table
version at which that key's visible state changed), appended from the
row-level changelog — O(changed rows) per refresh, O(total changes)
storage, retained past any vacuum/expiry horizon.

Semantics — history of TABLE STATES, at commit resolution:

- per-key LWW collapses intra-batch churn before a batch commits, so
  versions that never became table state (two updates in one
  micro-batch; a late event that lost LWW at apply time) do NOT appear
  — exactly the states a reader of the table could ever have observed;
- ``scd2()`` derives Type-2 validity: ``valid_from`` = the commit
  version that installed the image, ``valid_to`` = the version that
  replaced it (NULL while current) — one window function over the
  stored rows, deletes close the prior image and are then dropped;
- ``as_of(v)`` reconstructs the live state at any walked version —
  equal to ``sink.read_state(v)``'s live rows (the ground-truth
  equivalence ``verify()`` checks) — and keeps working after the sink
  has vacuumed/expired that version;
- the refresh cursor pins retention tags on the source
  (``hist-<name>`` / ``hist-<name>-next``, the Replicator discipline)
  so ``vacuum``/``expire_snapshots`` can never strand the view's next
  incremental window.

Windows the changelog cannot express are handled explicitly, mirroring
the Replicator's contracts:

- **rollback**: refused (state regressed to lower op_sequences — no
  forward event expresses it; the underlying reader refuses too);
- **backfill**: handled NATIVELY. Backfills are changelog-silent by
  design (rewritten rows keep their op_sequence), which makes every
  seq-based reader blind to them — so for a backfill commit the view
  diffs the touched buckets' states PAYLOAD-wise instead (the commit
  records its bucket list; cost is O(those buckets' state), the same
  as the backfill itself) and appends the changed rows as ``U``
  versions. History therefore shows the backfill happening at its true
  commit version, and ``verify()`` stays exact through it — the one
  consumer in the engine that can say that;
- **purge** (right-to-be-forgotten): requires ``purged_keys=[...]`` —
  the purged keys' PENDING window rows are dropped AND their entire
  stored history is physically rewritten away, then the superseded
  files are deleted. Takedown trumps audit: ``as_of`` of pre-purge
  versions no longer shows the key, deliberately;
- **column drop/rename**: the store is physically rewritten with the
  same projection the sink applied (rename keeps historical VALUES
  under the new name — the sink's changelog bridging semantics; drop
  destroys the column's history, consistent with the sink's
  resurrection-trap rationale). Add/widen evolution needs no rewrite:
  files record their write-time DDL and reads align (typed NULLs for
  pre-add versions, casts for widened).

Commit protocol: append dirs + ONE atomic ``CURRENT`` pointer swap per
refresh; a crash mid-refresh leaves the old pointer live and the next
refresh reaps unreferenced dirs and re-walks the window (idempotent —
per-version diffs are deterministic). Store dirs superseded by
alter rewrites are reaped one generation later (readers holding the old
pointer may still scan them); dirs superseded by a PURGE rewrite are
deleted as soon as the swap lands — byte destruction is the point.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from beehive_data_etl_spark.operators.schema_evolution import align_to_schema
from beehive_data_etl_spark.sinks.snapshot import CELL, KEY, SEQ, parse_schema
from beehive_data_etl_spark.sources import table_meta as tm

VFROM = "_v_from"
CHANGE = "change_type"
# flush pending per-version frames at least this often so a long
# catch-up window doesn't grow one unbounded union plan
_FLUSH_EVERY = 64


def _ddl(schema: T.StructType) -> str:
    return ", ".join(f.toDDL() for f in schema.fields)


class HistoryView:
    """A named, incrementally-maintained SCD2 history table over a
    ``SnapshotSink`` (module docstring for semantics/scale). Works for
    row-LWW and per-cell patch tables alike: the changelog emits full
    row images either way, and a late out-of-order patch surfaces as a
    ``U`` row in the window it COMMITTED (cell-fingerprint change
    detection), which is precisely when the table's visible state
    changed."""

    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        name: str = "history",
        bootstrap: str = "walk",
    ) -> None:
        if bootstrap not in ("walk", "state"):
            raise ValueError("bootstrap must be 'walk' or 'state'")
        self.spark = spark
        self.sink = sink
        self.root = root
        self.name = name
        # "walk": first refresh starts at the earliest still-readable
        # version and walks forward — full history when the view is
        # created before maintenance ever ran. "state": baseline at the
        # CURRENT head (the bootstrap for a table whose early versions
        # are already vacuumed); history before the baseline is
        # unavailable and as_of() refuses versions below it.
        self.bootstrap = bootstrap
        os.makedirs(root, exist_ok=True)
        self._ptr = tm.Pointer(os.path.join(root, "CURRENT"))

    # ------------------------------------------------------------ pointer
    def current(self) -> dict | None:
        return self._ptr.read()

    # ------------------------------------------------------------ store IO
    def _row_schema(self, table_ddl: str) -> T.StructType:
        """Stored-row schema for a window written under ``table_ddl``:
        key + op_sequence + payload (incl. ``deleted``) + change_type +
        commit version. The internal ``_cell_seq`` column of patch
        tables is never stored — history rows are full images."""
        table = parse_schema(table_ddl)
        fields = [f for f in table.fields if f.name != CELL]
        fields.append(T.StructField(CHANGE, T.StringType()))
        fields.append(T.StructField(VFROM, T.LongType()))
        return T.StructType(fields)

    def _write_dir(self, df: DataFrame, ddl: str) -> dict:
        out = os.path.join(self.root, f"hv-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(out)
        return {"path": out, "ddl": ddl}

    def _read_files(self, files: list[dict], target: T.StructType) -> DataFrame:
        """Union the store aligned to ``target``: dirs group by their
        write-time DDL, added columns read as typed NULLs, widened
        columns cast — the sink's own scan-group pattern."""
        groups: dict[str, list[str]] = {}
        for f in files:
            groups.setdefault(f["ddl"], []).append(f["path"])
        out = None
        for ddl, paths in groups.items():
            df = align_to_schema(
                self.spark.read.schema(self._row_schema(ddl)).parquet(*paths),
                target,
            )
            out = df if out is None else out.unionByName(df)
        if out is None:
            return self.spark.createDataFrame([], target)
        return out

    # ------------------------------------------------------------ refresh
    def refresh(self, purged_keys: list | None = None) -> dict:
        """Advance the view to the sink's CURRENT snapshot, walking the
        window one COMMIT at a time (the resolution the history is
        defined at). Versions with no data commit are skipped
        driver-side without a job; all appended frames in a flush span
        execute as ONE Spark write."""
        snap = self.sink.current_snapshot()
        if snap is None:
            return {"mode": "noop", "reason": "sink has no snapshot"}
        head = snap["version"]
        cur = self.current()
        if cur is not None and cur["version"] == head:
            return {"mode": "noop", "version": head}
        # crash hygiene: delete store dirs no pointer references —
        # leftovers of a refresh that died before its commit, or dirs an
        # alter rewrite superseded last refresh (kept one generation for
        # readers holding the old pointer)
        self._ptr.reap(
            "hv-",
            {os.path.basename(f["path"]) for f in cur["files"]} if cur else (),
        )
        # pin the window end BEFORE any read (Replicator discipline):
        # at every crash point at least one tag covers each version the
        # walk (or its retry) still needs
        self.sink.move_tag(f"hist-{self.name}-next", head)
        files: list[dict]
        if cur is None:
            floor = snap.get("snapshot_floor", 1)
            v0 = head if self.bootstrap == "state" else floor
            base_snap = self.sink.snapshot(v0)
            base_ddl = base_snap["schema"]
            target = self._row_schema(base_ddl)
            base = self.sink.read_state(version=v0)
            if CELL in base.columns:
                base = base.drop(CELL)
            base = base.withColumn(
                CHANGE, F.when(F.col("deleted"), F.lit("D")).otherwise(F.lit("I"))
            ).withColumn(VFROM, F.lit(v0).cast("long"))
            files = [self._write_dir(base.select(*target.names), base_ddl)]
            start, mode = v0, "full"
        else:
            files = list(cur["files"])
            start, mode = cur["version"], "incremental"
        baseline = v0 if cur is None else cur["baseline"]

        pending: list[DataFrame] = []
        pending_ddl: str | None = None
        purge_doomed: list[str] = []  # pre-purge dirs to destroy post-swap
        purged = list(purged_keys or [])
        appended = 0

        def _flush() -> None:
            nonlocal pending, pending_ddl, appended
            if not pending:
                return
            df = pending[0]
            for p in pending[1:]:
                df = df.unionByName(p)
            files.append(self._write_dir(df, pending_ddl))
            appended += len(pending)
            pending, pending_ddl = [], None

        for v in range(start + 1, head + 1):
            vsnap = self.sink.snapshot(v)
            m = vsnap.get("metrics", {})
            if "rollback_to" in m:
                raise RuntimeError(
                    f"rollback at v{v} inside history window ({start}, "
                    f"{head}]: state regressed to lower op_sequences, "
                    "which no forward change row can express — delete "
                    "the view directory and re-bootstrap it from the "
                    "rolled-back state (bootstrap='state')."
                )
            if "backfill" in m:
                # changelog-silent by design (unchanged op_sequence) —
                # diff the touched buckets payload-wise instead
                _flush()
                ch = self._backfill_diff(v, m["backfill"])
                if purged:
                    ch = ch.filter(~F.col(KEY).isin(purged))
                pending_ddl = vsnap["schema"]
                self._append(ch, v, vsnap["schema"], pending)
                _flush()
                continue
            if "drop_column" in m or "rename_column" in m:
                _flush()
                files = self._apply_alter(files, vsnap)
                continue
            if "purge" in m:
                if not purged:
                    raise RuntimeError(
                        f"purge at v{v} inside history window ({start}, "
                        f"{head}]: a takedown must remove the keys' "
                        "HISTORY too — re-run refresh(purged_keys=[...]) "
                        "with the purged keys (purge_audit() on the sink "
                        "verifies the same list)."
                    )
                # drop the keys from every not-yet-flushed frame (their
                # pre-purge changes in this same window must not land),
                # flush, then destroy their stored history
                pending = [
                    p.filter(~F.col(KEY).isin(purged)) for p in pending
                ]
                _flush()
                ch = self.sink.read_changes(v - 1, v).filter(
                    ~F.col(KEY).isin(purged)
                )
                pending_ddl = vsnap["schema"]
                self._append(ch, v, vsnap["schema"], pending)
                _flush()
                files, doomed = self._purge_store(files, purged)
                purge_doomed += doomed
                continue
            if "batch_id" not in m:
                continue  # compaction/vacuum/trim/expire/rebucket/...
            ch = self.sink.read_changes_pruned(v - 1, v)
            if purged:
                # a caller passing purged_keys wants them gone from the
                # whole window, including data commits after the purge
                ch = ch.filter(~F.col(KEY).isin(purged))
            if pending_ddl is not None and pending_ddl != vsnap["schema"]:
                _flush()  # add/widen boundary: new frames, new DDL
            pending_ddl = vsnap["schema"]
            self._append(ch, v, vsnap["schema"], pending)
            if len(pending) >= _FLUSH_EVERY:
                _flush()

        _flush()
        self._ptr.commit({"version": head, "baseline": baseline, "files": files})
        for d in purge_doomed:  # byte destruction — after the swap lands
            shutil.rmtree(d, ignore_errors=True)
        self.sink.move_tag(f"hist-{self.name}", head)
        try:
            self.sink.drop_tag(f"hist-{self.name}-next")
        except KeyError:
            pass
        return {
            "mode": mode,
            "version": head,
            "from_version": start,
            "frames": appended,
        }

    def _append(
        self, changes: DataFrame, v: int, ddl: str, pending: list
    ) -> None:
        target = self._row_schema(ddl)
        row = changes.withColumn(VFROM, F.lit(v).cast("long"))
        # purge-degraded windows emit D rows with a NULL new side —
        # normalize so `deleted` is authoritative on every stored row
        row = row.withColumn(
            "deleted",
            F.when(F.col(CHANGE) == "D", F.lit(True)).otherwise(
                F.coalesce(F.col("deleted"), F.lit(False))
            ),
        )
        pending.append(row.select(*target.names))

    def _backfill_diff(self, v: int, buckets: list[int]) -> DataFrame:
        """Change rows for a backfill commit, which the seq-based
        changelog cannot see: payload-fingerprint diff of the touched
        buckets' states at v-1 vs v (live rows only — backfills never
        touch tombstones' existence). O(touched buckets' state), the
        same cost class as the backfill itself."""
        new = self.sink.read_state(buckets=buckets, version=v)
        if CELL in new.columns:
            new = new.drop(CELL)
        old = self.sink.read_state(buckets=buckets, version=v - 1)
        if CELL in old.columns:
            old = old.drop(CELL)
        # a backfill may ADD a column at publish: old aligns with typed
        # NULLs, so rows gaining a value diff as changed — correct
        old = align_to_schema(old, new.schema)
        payload = [c for c in new.columns if c != KEY]
        n, o = new.alias("n"), old.alias("o")
        changed = None
        for c in payload:
            e = ~F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}"))
            changed = e if changed is None else (changed | e)
        j = n.join(o, F.col(f"n.{KEY}") == F.col(f"o.{KEY}"), "inner")
        return (
            j.filter(changed & ~F.col("n.deleted"))
            .select(
                F.col(f"n.{KEY}").alias(KEY),
                *[F.col(f"n.{c}").alias(c) for c in payload],
            )
            .withColumn(CHANGE, F.lit("U"))
        )

    # ------------------------------------------------------ store rewrites
    def _apply_alter(self, files: list[dict], vsnap: dict) -> list[dict]:
        """Physically re-project the whole store through the sink's own
        alter (rename keeps historical values under the new name; drop
        destroys the column's history). Superseded dirs stay on disk one
        generation (reaped by the NEXT refresh's hygiene pass)."""
        m = vsnap["metrics"]
        new_ddl = vsnap["schema"]
        target = self._row_schema(new_ddl)
        if "rename_map" in m:
            rm = m["rename_map"]
            read_target = T.StructType(
                [
                    T.StructField(
                        rm["old"] if f.name == rm["new"] else f.name,
                        f.dataType,
                        f.nullable,
                    )
                    for f in target.fields
                ]
            )
            df = self._read_files(files, read_target)
            df = df.select(
                *[
                    F.col(rf.name).alias(tf.name)
                    for rf, tf in zip(read_target.fields, target.fields)
                ]
            )
        else:
            # drop: alignment to the new schema simply omits the column
            df = self._read_files(files, target)
        return [self._write_dir(df, new_ddl)]

    def _purge_store(
        self, files: list[dict], purged: list
    ) -> tuple[list[dict], list[str]]:
        cur_ddl = files[-1]["ddl"]
        target = self._row_schema(cur_ddl)
        df = self._read_files(files, target).filter(~F.col(KEY).isin(purged))
        new = [self._write_dir(df, cur_ddl)]
        return new, [f["path"] for f in files]

    def compact(self) -> dict:
        """Fold the store's append dirs into one (superseded dirs reaped
        next refresh). Pure concatenation — no fold semantics needed."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        if len(cur["files"]) <= 1:
            return {"skipped": True, "files": len(cur["files"])}
        ddl = cur["files"][-1]["ddl"]
        target = self._row_schema(ddl)
        df = self._read_files(cur["files"], target)
        merged = self._write_dir(df, ddl)
        self._ptr.commit({**cur, "files": [merged]})
        return {"compacted": len(cur["files"]), "version": cur["version"]}

    # ------------------------------------------------------------ reads
    def _store(self) -> tuple[DataFrame, dict]:
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        ddl = cur["files"][-1]["ddl"]
        return self._read_files(cur["files"], self._row_schema(ddl)), cur

    def history(self, doc_id=None) -> DataFrame:
        """Raw version rows: one per (key, commit that changed it)."""
        df, _ = self._store()
        return df if doc_id is None else df.filter(F.col(KEY) == doc_id)

    def scd2(self) -> DataFrame:
        """Type-2 shape: every live image with its validity window —
        ``valid_from`` (commit version that installed it, inclusive) and
        ``valid_to`` (commit that replaced it; NULL while current).
        Deletes close the prior image's window and are dropped."""
        df, _ = self._store()
        w = Window.partitionBy(KEY).orderBy(VFROM)
        out = df.withColumn("valid_to", F.lead(VFROM).over(w))
        return (
            out.filter(~F.col("deleted"))
            .withColumnRenamed(VFROM, "valid_from")
            .drop("deleted", CHANGE)
        )

    def as_of(self, version: int) -> DataFrame:
        """Live state at any walked commit version — the view's own
        time travel, retained past the sink's vacuum/expiry horizon.
        Same columns as ``read_state`` minus the patch-internal cell
        map. Purged keys are absent at EVERY version (takedown trumps
        audit)."""
        df, cur = self._store()
        if version < cur["baseline"] or version > cur["version"]:
            raise ValueError(
                f"version {version} outside walked history "
                f"[{cur['baseline']}, {cur['version']}]"
            )
        h = df.filter(F.col(VFROM) <= version)
        latest = (
            h.groupBy(KEY)
            .agg(
                F.max_by(
                    F.struct(*[c for c in h.columns if c != KEY]),
                    F.col(VFROM),
                ).alias("s")
            )
            .select(KEY, "s.*")
        )
        return latest.filter(~F.col("deleted")).drop(CHANGE, VFROM)

    def verify(self) -> dict:
        """Ground truth: ``as_of`` at the view's reflected version must
        equal the sink's own live state there (two O(state) exceptAll
        jobs — a test/ops check, not a hot path)."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        got = self.as_of(cur["version"])
        want = self.sink.read_state(version=cur["version"]).filter(
            ~F.col("deleted")
        )
        if CELL in want.columns:
            want = want.drop(CELL)
        want = want.select(*got.columns)
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        return {
            "ok": extra == 0 and missing == 0,
            "extra": extra,
            "missing": missing,
            "version": cur["version"],
        }
