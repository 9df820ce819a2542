"""Predicate-scoped soft deletes: TTL / retention sweeps as ORDINARY
change events.

``purge_keys`` is the takedown hammer — it physically removes bytes,
restarts the keys' LWW clocks, and REFUSES replication (no forward
event can express it). Most retention policies want the opposite
trade: "tombstone every row older than N days / below quality q" as a
normal ``D`` batch that

- flows through the exactly-once sink protocol (crash-replayable,
  batch-id deduped),
- is VISIBLE to every changelog consumer at a truthful op_sequence —
  aggregate views subtract, token indexes unpost, shard exports
  rewrite, replicas and outbox feeds ship the deletes like any other
  change (vs purge's refuse-and-reconcile),
- retains time travel until compaction + vacuum age the bytes out on
  the table's normal horizon.

``delete_where(sink, predicates)`` finds matching LIVE rows via the
stats-pruned ``scan_where`` (key-only projection — the sweep reads one
column, not the table width), stamps them all at ONE freshly allocated
op_sequence (the sweep is a single logical observation, exactly
``dump_to_events``' clock argument), and applies them as a normal
envelope batch.

Semantics under concurrency — plain LWW, stated rather than hidden:
the sweep deletes the rows that matched at its planned snapshot; a
writer that lands a HIGHER-seq image of a matched key after the plan
simply wins (the delete raced a newer write and lost — correct for a
retention sweep, which the next scheduled run re-evaluates anyway).
Idempotence falls out of minimality: re-running the same sweep after
it applied matches zero rows and commits nothing.

Scale: O(matching buckets' state) for the scan (stats-pruned,
key-only), O(matched rows) for the event batch — never O(table
width), never a driver-side collect."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sinks.snapshot import CELL, KEY, SEQ, parse_schema
from .refetch import next_op_sequence


def delete_where(
    sink,
    predicates: list[tuple],
    batch_id: str | None = None,
    dry_run: bool = False,
) -> dict:
    """Tombstone every live row matching the conjunctive
    ``predicates`` (``scan_where``'s grammar: ``[(col, op, value),
    ...]``) at one freshly allocated op_sequence. Returns
    ``{"deleted", "op_sequence", "batch_id", "version"}``;
    ``dry_run=True`` reports the match count without applying."""
    snap = sink.current_snapshot()
    if snap is None:
        raise ValueError("no snapshot yet")
    # key-only projection: the sweep pays one column of scan bytes.
    # scan_where validates the predicate grammar and prunes buckets
    # whose stats prove no current row can match.
    matching = sink.scan_where(predicates, columns=[]).localCheckpoint()
    n = matching.count()
    if dry_run or n == 0:
        return {
            "deleted": n,
            "op_sequence": None,
            "batch_id": None,
            "version": snap["version"],
            "dry_run": dry_run,
        }
    # one clock tick for the whole sweep; recomputes identically on a
    # crash-retry (nothing committed yet — same snapshot, same raw
    # max), so the deterministic batch_id below re-enters the sink's
    # crash-replay path. The batch id carries the PLANNED VERSION, not
    # just the sequence: after a tombstone GC physically removes a
    # prior sweep's rows, the raw max regresses and a later sweep can
    # re-allocate the same seq — a seq-only id would collide with the
    # committed earlier batch and be skipped as a re-delivery forever
    # (review-found). The version always advanced past the earlier
    # sweep's commit, so (version, seq) is unique per logical sweep
    # while staying stable across crash-retries.
    seq = next_op_sequence(sink)
    schema = parse_schema(snap["schema"])
    payload = [
        f
        for f in schema.fields
        if f.name not in (KEY, SEQ, "deleted", CELL)
    ]
    events = matching.select(
        F.lit("D").alias("op"),
        F.lit(seq).cast("long").alias(SEQ),
        F.col(KEY),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload],
    )
    bid = batch_id or f"delete-where-v{snap['version']}-{seq}"
    metrics = sink.apply_batch(events, bid)
    if metrics.get("skipped"):
        # a committed batch already carries this id. With the default
        # (version, seq) id that means THIS sweep already applied (a
        # crash-retry after commit) — report honestly instead of
        # claiming a fresh delete; with a caller-supplied id it means
        # the caller reused one, which must not pass silently either.
        return {
            "deleted": 0,
            "op_sequence": seq,
            "batch_id": bid,
            "version": sink.current_snapshot()["version"],
            "dry_run": False,
            "skipped": metrics.get("reason", "batch id already committed"),
        }
    return {
        "deleted": n,
        "op_sequence": seq,
        "batch_id": bid,
        "version": sink.current_snapshot()["version"],
        "dry_run": False,
    }


def update_where(
    sink,
    predicates: list[tuple],
    set_exprs: dict,
    batch_id: str | None = None,
    dry_run: bool = False,
    reads: list[str] | None = None,
) -> dict:
    """SQL ``UPDATE … SET … WHERE`` as an ORDINARY change batch — the
    read-modify-write complement of ``delete_where``, with the same
    contract: every matched LIVE row (stats-pruned ``scan_where``
    match) is re-emitted at ONE freshly allocated op_sequence, applied
    through the exactly-once sink protocol, visible to every changelog
    consumer (views maintain, replicas ship, outbox publishes), and
    aged out by normal compaction/vacuum.

    ``set_exprs``: ``{column: Column-or-SQL-string}`` evaluated over
    the row's CURRENT values at the planned snapshot — so
    ``{"n_tok": "n_tok + 1"}`` is a true read-modify-write observed at
    one point in time. Self-referential and cross-column expressions
    are fine on row tables (the full current row is read to rebuild the
    replacement image anyway).

    **Patch tables get the cell-level fast path**: the sweep emits
    ``P`` events masking exactly the SET columns, so (a) the scan reads
    only the SET columns plus ``reads`` (name any OTHER columns your
    expressions reference — an unlisted reference fails loudly at plan
    time, never silently), not the table width, and (b) a concurrent
    or late out-of-order patch to a DIFFERENT column composes under
    per-cell LWW instead of being clobbered by a full-row image.

    Concurrency is plain LWW, stated not hidden: a writer that lands a
    higher-seq image of a matched key after the plan wins — the sweep
    raced a newer write and lost, which is what a policy sweep wants
    (the next scheduled run re-evaluates).

    Retry semantics — weaker than ``delete_where``'s, stated honestly:
    a crash BEFORE commit replans identically (same snapshot → same
    (version, seq) → same deterministic batch id → the sink's replay
    path). A crash AFTER commit but before the caller records success
    replans against the NEW snapshot, gets a fresh batch id, and runs
    the sweep AGAIN — absolute SETs re-stamp the same values
    (harmless), but a self-referential expression like ``n_tok + 1``
    increments twice. ``delete_where`` never has this problem because a
    delete falsifies its own match. If the sweep is read-modify-write
    AND the caller can crash after commit, pass an explicit
    ``batch_id`` derived from the policy's own idempotence key (the
    cron tick, the job run id) — the second attempt then dedupes in the
    sink and reports ``skipped``.

    Scale: O(matching buckets' state) scan (width = SET∪reads columns
    on patch tables, full payload on row tables — the replacement image
    needs it), O(matched rows) event batch, no driver collect."""
    snap = sink.current_snapshot()
    if snap is None:
        raise ValueError("no snapshot yet")
    schema = parse_schema(snap["schema"])
    payload_fields = [
        f for f in schema.fields if f.name not in (KEY, SEQ, "deleted", CELL)
    ]
    payload_names = [f.name for f in payload_fields]
    bad = sorted(set(set_exprs) - set(payload_names))
    if bad:
        raise ValueError(
            f"cannot SET column(s) {bad!r}: not payload columns "
            f"(available: {payload_names})"
        )
    if not set_exprs:
        raise ValueError("set_exprs is empty — nothing to update")
    exprs = {
        c: (F.expr(e) if isinstance(e, str) else e)
        for c, e in set_exprs.items()
    }
    patch = bool(snap.get("patch", False))
    if patch:
        need = sorted(set(set_exprs) | set(reads or []))
        matching = sink.scan_where(predicates, columns=need)
    else:
        matching = sink.scan_where(predicates)
    matching = matching.localCheckpoint()
    n = matching.count()
    if dry_run or n == 0:
        return {
            "updated": n,
            "op_sequence": None,
            "batch_id": None,
            "version": snap["version"],
            "dry_run": dry_run,
        }
    # one clock tick, (version, seq)-deterministic batch id — the same
    # crash-retry / GC-collision argument as delete_where above
    seq = next_op_sequence(sink)
    if patch:
        cols = [
            F.lit("P").alias("op"),
            F.lit(seq).cast("long").alias(SEQ),
            F.col(KEY),
            F.array(*[F.lit(c) for c in sorted(set_exprs)]).alias(
                "patch_cols"
            ),
        ]
        # unmasked columns ride as typed NULLs: the mask keeps the
        # cell fold from ever reading them, and carrying the full
        # payload schema means no accidental schema evolution
        for f in payload_fields:
            src = exprs.get(f.name, F.lit(None))
            cols.append(src.cast(f.dataType).alias(f.name))
    else:
        cols = [
            F.lit("U").alias("op"),
            F.lit(seq).cast("long").alias(SEQ),
            F.col(KEY),
        ]
        for f in payload_fields:
            src = exprs.get(f.name, F.col(f.name))
            cols.append(src.cast(f.dataType).alias(f.name))
    events = matching.select(*cols)
    bid = batch_id or f"update-where-v{snap['version']}-{seq}"
    metrics = sink.apply_batch(events, bid)
    if metrics.get("skipped"):
        return {
            "updated": 0,
            "op_sequence": seq,
            "batch_id": bid,
            "version": sink.current_snapshot()["version"],
            "dry_run": False,
            "skipped": metrics.get("reason", "batch id already committed"),
        }
    return {
        "updated": n,
        "op_sequence": seq,
        "batch_id": bid,
        "version": sink.current_snapshot()["version"],
        "dry_run": False,
    }
