"""Table-to-table CDC replication: the engine as its own source.

``Replicator`` tails an upstream ``SnapshotSink``'s row-level changelog
(``read_changes_pruned`` — O(changed rows), never O(table)) and applies
each version window to a downstream ``CdcSink`` as an ordinary change
batch. This is the fan-out pattern a 10^10-row training-corpus table
needs — region replicas, a dev mirror, a downstream table with extra
derived columns — without re-reading the upstream WAL or re-scanning
the table.

Design points (each tested in tests/test_replicate.py):

- **Exactly-once with no side-channel state.** The replication cursor
  IS the downstream table's committed-batch set: batch ids encode the
  half-open version window (``<name>-v<from>-v<to>``), windows always
  start at the cursor, and the downstream sink's manifests/pointer give
  the same crash/idempotency guarantees as any ingest batch. A crashed
  sync retries with a possibly wider window under a new batch id; the
  crashed attempt's files are unreferenced orphans for vacuum.
- **The cursor pins upstream retention, crash-safely.** Two source
  tags: ``repl-<name>`` tracks the cursor (the next diff's from-version
  old images), and ``repl-<name>-next`` pins the window's TO version
  BEFORE the downstream apply — without it, a crash between the
  downstream commit and the main-tag move would advance the cursor to
  ``to`` while only ``frm`` stayed pinned, letting a routine
  compact+vacuum reap exactly the files the next window's old-image
  read needs (review-found). At every crash point at least one tag
  covers each version the next sync will read; ``-next`` is dropped
  once the main tag catches up.
- **Initial sync = state copy, tombstones included.** The first window
  replicates ``read_state(version=to)`` whole — delete tombstones carry
  over so a late out-of-order event delivered to the REPLICA loses LWW
  exactly as it would upstream (same invariant as
  ``streaming.replay.bootstrap``).
- **Rewrite windows are silent.** Compaction / tombstone GC / rebucket
  bump versions without changing rows; the strict ``seq > old_seq``
  predicate inside the changelog yields an empty batch, which still
  commits (advancing the cursor past the rewrite).
- **Upstream rollback is refused, loudly.** A window spanning a
  ``rollback_to`` commit cannot be expressed as forward change events
  with trustworthy LWW sequence numbers (a doc can vanish with no
  tombstone to carry the delete's op_sequence). The operator must make
  the downstream consistent explicitly: roll the downstream back to a
  tag taken at/below the cursor, or re-bootstrap it. Detection walks
  the window's snapshot metadata — O(window), driver-side.

Limits, documented not hidden: deletes whose tombstones were expired
(``expire_tombstones``) BELOW the replication cursor are fine; expiring
tombstones for versions the replica has not consumed yet would drop
those deletes from the diff — keep the retention floor behind the
slowest replica's cursor, which the auto-tag makes visible.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import (
    KEY,
    SEQ,
    SnapshotSink,
    _conjunct_expr,
)
from beehive_data_etl_spark.sources import table_meta as tm


def predicate_expr(where: list[tuple] | None, prefix: str = "") -> "F.Column":
    """The conjunction over current (``prefix=''``) or pre-image
    (``prefix='_old_'``) columns; F.lit(True) when unfiltered. Shared
    by filtered replication and the filtered outbox."""
    e = F.lit(True)
    for c, op, v in where or []:
        e = e & _conjunct_expr(prefix + c, op, v)
    return e


def filtered_window_env(src, where: list[tuple], frm: int, to: int):
    """One changelog window's change batch scoped to a predicate. The
    changelog diffs state-at-frm vs state-at-to (one net row per doc),
    so membership transitions are exact:

    - I, new matches             -> I (arrives in the subset)
    - U, new matches             -> U (stays / moves in)
    - U, new misses, old matched -> D at the EVICTING row's seq
      (truthful clock: the change that removed the doc from the
      subset; a consumer's prior row has a lower seq and loses)
    - D, old matched             -> D (genuine delete, tombstone seq)
    - everything else            -> skipped (never was, still isn't)

    Eviction/delete rows null every payload column — tombstones carry
    no values, exactly like source D events. NULL predicate values
    count as non-matching (three-valued-logic trap, review-found): an
    update that sets a predicate column to NULL must EVICT, not ship a
    live all-NULL row."""
    ch = src.read_changes_pruned(frm, to, include_old=True)
    ct = F.col("change_type")
    new_m = predicate_expr(where)
    old_m = predicate_expr(where, "_old_")
    keep = (
        ((ct == "I") & new_m)
        | ((ct == "U") & (new_m | old_m))
        | ((ct == "D") & old_m)
    )
    is_del = (ct == "D") | ((ct == "U") & ~F.coalesce(new_m, F.lit(False)))
    payload = [
        c
        for c in ch.columns
        if c not in (KEY, SEQ, "change_type") and not c.startswith("_old_")
    ]
    return ch.filter(keep).select(
        F.col(KEY),
        F.col(SEQ),
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        # when() without otherwise = typed NULL on the delete arm
        *[F.when(~is_del, F.col(c)).alias(c) for c in payload],
    )


def _unreplicable(w: tm.Window, frm: int, to: int) -> str:
    """Why a replica refuses the window (frm, to] (the replica column of
    ``table_meta.WINDOW_POLICY``), with the recovery runbook."""
    v, window = w.version, f"replication window ({frm}, {to}]"
    if w.marker == "rollback_to":
        return (
            f"upstream rolled back at v{v} inside {window}: forward change "
            "events cannot express it (no tombstone carries the removal's "
            "op_sequence). Roll the downstream back to a tag at or below "
            f"v{frm}, or re-bootstrap it, then mark_synced(to) to resume."
        )
    if w.marker == "backfill":
        return (
            f"upstream backfill at v{v} inside {window}: backfilled rows "
            "keep their op_sequence (the changelog is silent about them), "
            "so syncing would silently diverge the replica. Run the same "
            "backfill on the downstream table, then mark_synced(to) past it."
        )
    if w.marker == "purge":
        return (
            f"upstream purge at v{v} inside {window}: a purge removes rows "
            "WITHOUT a tombstone, so no forward delete event exists at a "
            "truthful op_sequence (forging one would shadow a legitimate "
            "later re-insert). Run the same purge_keys on the downstream "
            "table, then mark_synced(to) past it — takedown completeness "
            "requires purging every replica anyway."
        )
    if w.marker == "snapshot_floor":
        return (
            f"{window} starts below the snapshot_floor v{v}: "
            "expire_snapshots retired it (a cursor tag pins the floor; was "
            "it dropped?). Re-bootstrap the downstream, or reconcile it out "
            "of band and mark_synced(to, force=True)."
        )
    return (
        f"upstream {w.marker} at v{v} inside {window}: rewritten rows keep "
        "their op_sequence (silent in the changelog) and no forward event "
        "can drop or rename a replica's column. Recover IN ORDER: "
        f"sync({v - 1}) first (replicating the genuine changes before the "
        f"alter), run the same {w.marker} on the downstream table, then "
        f"mark_synced({v}) past it and resume."
    )


class Replicator:
    def __init__(
        self,
        src: SnapshotSink,
        dst,
        name: str = "repl",
        where: list[tuple] | None = None,
    ) -> None:
        """``name`` must be unique per (source, destination) pair when a
        table receives multiple replication streams — it namespaces both
        the batch ids (the cursor) and the upstream retention tag.

        ``where``: conjunctive ``(col, op, value)`` predicates (the
        scan_where grammar) making this a FILTERED replication — the
        downstream holds exactly the matching subset of the source's
        live rows (a tenant mirror, a language slice, a "sequences
        over N tokens" training cut). The non-obvious correctness
        piece is MEMBERSHIP TRANSITIONS: an update that moves a row
        OUT of the predicate becomes a genuine delete downstream,
        carried at the evicting row's own op_sequence (a truthful
        clock — it is the change that evicted the doc), so a replayed
        or out-of-order window can never resurrect the evicted row;
        a row moving IN arrives as an ordinary upsert. The window
        diff is state-at-frm vs state-at-to (one net row per doc), so
        in-window oscillation collapses to its net transition.
        Predicates are null-rejecting, matching scan_where. Patch-mode
        sources are refused: a patch can flip membership WITHOUT
        advancing the row clock, leaving the eviction delete with no
        sequence to win by."""
        if not re.fullmatch(r"[A-Za-z0-9_.]+", name):
            raise ValueError(f"replicator name must be [A-Za-z0-9_.]+, got {name!r}")
        if getattr(dst, "current_snapshot", None) is None:
            # without a readable committed-batch set there is no cursor:
            # every sync would silently degrade to a full O(table) state
            # copy under a fresh batch id (review-found). IcebergSink
            # callers: derive a cursor from the snapshot summaries
            # before wiring it here.
            raise TypeError(
                "Replicator needs a destination exposing current_snapshot()"
                " (the committed-batch set IS the cursor); got "
                f"{type(dst).__name__}"
            )
        if getattr(src, "patch", False) and not getattr(dst, "patch", False):
            # a per-cell source can change state WITHOUT advancing the
            # row op_sequence (a late out-of-order patch), so a row-LWW
            # replica has no clock to order such an image against the
            # one it already holds — same-seq different-payload rows
            # tie-break arbitrarily and the replica diverges silently.
            # A patch-mode replica folds the carried cell seqs exactly.
            raise TypeError(
                "a patch-mode source replicates only into a patch-mode "
                "destination (row-LWW replicas cannot order same-seq "
                "cell changes); construct the destination with patch=True"
            )
        self.where = None
        if where is not None:
            if getattr(src, "patch", False):
                raise TypeError(
                    "filtered replication is not supported from a "
                    "patch-mode source: a patch can change predicate "
                    "membership without advancing the row op_sequence, "
                    "so the eviction delete has no clock to win by"
                )
            self.where = SnapshotSink._check_scan_predicates(where)
        self.src = src
        self.dst = dst
        self.name = name
        self._id_pat = re.compile(rf"^{re.escape(name)}-v(\d+)-v(\d+)$")

    def _pred(self, prefix: str = "") -> "F.Column":
        return predicate_expr(self.where, prefix)

    # ------------------------------------------------------------- cursor
    def _batch_id(self, frm: int, to: int) -> str:
        return f"{self.name}-v{frm:06d}-v{to:06d}"

    def cursor(self) -> int:
        """Highest upstream version the downstream has durably applied —
        read from the downstream's committed batches, so it survives
        crashes/restarts with zero extra state."""
        snap = self.dst.current_snapshot()
        if snap is None:
            return 0
        best = 0
        for bid in snap["committed_batches"]:
            m = self._id_pat.match(bid)
            if m:
                best = max(best, int(m.group(2)))
        return best

    # --------------------------------------------------------------- sync
    def sync(self, to_version: int | str | None = None) -> dict:
        """Replicate one window: (cursor, to_version] — default head.
        Returns the downstream commit metrics, or a skip record when
        there is nothing new."""
        src_head = self.src.current_snapshot()
        if src_head is None:
            return {"skipped": True, "reason": "source has no snapshot"}
        to = (
            src_head["version"]
            if to_version is None
            else self.src.resolve_ref(to_version)
        )
        frm = self.cursor()
        if to <= frm:
            return {"skipped": True, "from": frm, "to": to}
        bid = self._batch_id(frm, to)
        if self.dst.committed(bid):
            return {"skipped": True, "batch_id": bid, "reason": "already committed"}

        w = tm.classify_window(
            tm.REPLICA, frm, self.src.snapshot(to), self.src.snapshot
        )
        if w.action == tm.REFUSE:
            raise RuntimeError(_unreplicable(w, frm, to))
        if frm == 0:
            # initial sync: full state INCLUDING tombstones (see module
            # docstring); op_sequence carries over so replica-side LWW
            # matches the source clock. Exempt from the window refusal
            # above (classify_window's first build) — a state copy
            # carries rewritten values by construction, only the
            # changelog is blind to them.
            #
            # REFUSED onto a non-empty downstream: a state copy is only
            # reconciling when the source still carries every relevant
            # tombstone — if the source GC'd a delete, the copy has no
            # row for that doc and the replica's stale copy would
            # silently survive. frm == 0 with existing downstream state
            # means the replica took unrelated writes or its cursor ids
            # were trimmed past the window (see
            # SnapshotSink.trim_committed_batches sizing guidance);
            # recover with mark_synced(..., force=True) after manual
            # reconciliation, or re-bootstrap a fresh table.
            if self.dst.current_snapshot() is not None:
                raise RuntimeError(
                    "no replication cursor but the downstream already "
                    "has state: refusing the initial full copy (it can "
                    "resurrect deletes whose tombstones the source "
                    "expired). Re-bootstrap a fresh table, or reconcile "
                    "manually and mark_synced(to, force=True)."
                )
            state = self.src.read_state(version=to)
            if self.where is not None:
                # filtered bootstrap: matching live rows only, but ALL
                # tombstones carry over — they cost O(deletes) and keep
                # replica-side LWW able to reject any late stale event
                state = state.filter(F.col("deleted") | self._pred())
            env = state.withColumn(
                "op", F.when(F.col("deleted"), F.lit("D")).otherwise(F.lit("U"))
            ).drop("deleted")
        elif self.where is not None:
            env = self._filtered_window_env(frm, to)
        else:
            # patch-mode source: carry the per-cell seqs so the (patch-
            # mode) destination folds cells exactly — full images alone
            # cannot order a late out-of-order patch's state change
            changes = self.src.read_changes_pruned(
                frm, to, include_cells=getattr(self.src, "patch", False)
            )
            env = changes.withColumn(
                "op",
                F.when(F.col("change_type") == "D", F.lit("D")).otherwise(
                    F.lit("U")
                ),
            ).drop("change_type", "deleted")

        # pin TO before applying (module docstring: crash between the
        # downstream commit and the main-tag move must not leave the
        # new cursor version unpinned against vacuum)
        self.src.move_tag(f"repl-{self.name}-next", to)
        out = self.dst.apply_batch(env, bid)
        self._advance_retention_tag(to)
        return out

    def _filtered_window_env(self, frm: int, to: int):
        # shared with the filtered Outbox — see filtered_window_env
        return filtered_window_env(self.src, self.where, frm, to)

    def mark_synced(self, to_version: int | str, force: bool = False) -> dict:
        """Advance the cursor WITHOUT replicating rows — the operator
        override after reconciling out of band (ran the same backfill
        downstream, or rolled the downstream back to match an upstream
        rollback). Commits an empty batch under the window's batch id,
        so the advance is exactly-once and crash-safe like any sync.

        ``force=True`` is the recovery path when the cursor itself was
        lost (all repl-* ids trimmed past the retention window): the
        caller asserts the replica's state is in fact consistent with
        the source at ``to_version`` — nothing here can check that."""
        to = self.src.resolve_ref(to_version)
        frm = self.cursor()
        if to <= frm:
            return {"skipped": True, "from": frm, "to": to}
        if frm == 0 and not force:
            # a never-synced replica has no baseline to reconcile FROM —
            # skipping the initial state copy would permanently miss
            # every row older than `to` (later windows carry changes
            # only). sync() the bootstrap first; force=True only for
            # trimmed-cursor recovery (docstring).
            raise RuntimeError(
                "mark_synced with no replication cursor would skip the "
                "initial state copy; run sync() first (or pass "
                "force=True if recovering a trimmed cursor on a replica "
                "you have verified consistent)"
            )
        empty = self.src.read_state(version=to).limit(0)
        env = empty.withColumn("op", F.lit("U")).drop("deleted")
        out = self.dst.apply_batch(env, self._batch_id(frm, to))
        self._advance_retention_tag(to)
        return out

    def _advance_retention_tag(self, to: int) -> None:
        # atomic move — no crash window where the pin is absent
        self.src.move_tag(f"repl-{self.name}", to)
        try:
            self.src.drop_tag(f"repl-{self.name}-next")
        except KeyError:
            pass  # mark_synced paths never pinned one
