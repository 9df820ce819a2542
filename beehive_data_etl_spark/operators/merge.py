"""General MERGE INTO over the exactly-once sink: arbitrary-condition
upserts as ORDINARY change-event batches.

``update_where`` / ``delete_where`` (operators.retention) cover the
predicate-sweep shapes; ``dump_to_events`` (operators.refetch) covers
the full-refetch diff. What was missing is the primitive Iceberg/Delta
users reach for daily::

    MERGE INTO target t USING source s ON t.doc_id = s.doc_id
    WHEN MATCHED AND <cond> THEN DELETE
    WHEN MATCHED THEN UPDATE SET col = expr(s.*, t.*)
    WHEN NOT MATCHED THEN INSERT ...
    WHEN NOT MATCHED BY SOURCE THEN DELETE

``merge_into`` expresses exactly that against a ``SnapshotSink``,
emitting one envelope batch (I/U/D — or masked P updates on per-cell
patch tables) at ONE freshly allocated op_sequence, applied through the
exactly-once protocol. The merge is therefore crash-replayable,
changelog-visible (views maintain, replicas ship, the outbox publishes)
and ages out on the table's normal compaction/vacuum horizon — the same
contract as every other writer in the engine, not a side-channel.

Clause order is FIXED and documented (a kwargs API has no written
order): matched rows check DELETE first, then UPDATE; unmatched source
rows INSERT; unmatched target rows (only with
``when_not_matched_by_source_delete``) DELETE. Passing an unconditional
matched DELETE together with an UPDATE clause is refused — the update
could never fire.

Scale shape:

- the target side is the MINIMUM state the clauses need: with no
  by-source clause and a small source (<= ``lookup_cap`` keys), matched
  rows come from the sink's four-prune ``lookup()`` — bucket pruning,
  entry key-range stats, pushed IN filter, row-group min/max skipping —
  so merging a 10k-row batch into a 10^10-row table reads O(batch)
  buckets, never the table. Larger sources fall back to one
  key-partitioned join against the live state (O(source + state), the
  same shape as ``dump_to_events``); a by-source clause NEEDS the full
  state by definition.
- classification and every SET/INSERT expression evaluate inside ONE
  join projection — declarative Catalyst expressions, no per-row
  Python, no second pass; the event batch is O(changed rows).
- duplicate / NULL source keys are refused up front (one aggregation):
  MERGE with a multi-matching source is non-deterministic, the same
  argument as ``refetch._refuse_malformed_keys``.

Retry contract (same honesty as ``update_where``): the default batch id
is deterministic in (planned version, allocated seq), so a crash BEFORE
commit replans identically and dedupes at the sink — IF the source
DataFrame is itself deterministic. A crash AFTER commit replans against
the new snapshot and runs again (self-referential SETs like
``t.n_tok + 1`` would double-apply); callers that can re-run after
success should pass ``batch_id`` keyed to their own idempotence token.

``merge_into_sql`` renders the equivalent Iceberg ``MERGE INTO`` string
for the cluster path (the ``IcebergSink.merge_sql`` twin pattern).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sinks.snapshot import _INTERNAL, CELL, KEY, SEQ, parse_schema
from .refetch import _malformed_key_error, next_op_sequence

# columns no clause may SET/INSERT: the envelope + internals
_PROTECTED = {KEY, SEQ, "op", "deleted", CELL, "patch_cols", "_bucket"}


def _expr(e, default: bool) -> Column:
    if e is None:
        return F.lit(default)
    return F.expr(e) if isinstance(e, str) else e


def _check_set_cols(d: dict, what: str) -> None:
    bad = sorted(set(d) & _PROTECTED)
    if bad:
        raise ValueError(f"{what} may not set protected column(s) {bad!r}")


def merge_into(
    sink,
    source: DataFrame,
    *,
    when_matched_update: dict | None = None,
    update_condition=None,
    when_matched_delete: bool = False,
    delete_condition=None,
    when_not_matched_insert=None,
    insert_condition=None,
    when_not_matched_by_source_delete: bool = False,
    by_source_delete_condition=None,
    skip_unchanged: bool = False,
    batch_id: str | None = None,
    dry_run: bool = False,
    lookup_cap: int = 10_000,
) -> dict:
    """Run a general MERGE of ``source`` into the sink's table.

    ``source`` must carry ``doc_id`` (unique, non-null). Expressions —
    condition strings/Columns and the values of the UPDATE/INSERT
    dicts — see the join's two sides as ``s.<col>`` (source) and
    ``t.<col>`` (target); bare ambiguous names fail loudly at analysis.

    - ``when_matched_update``: ``{col: expr}`` SETs; unlisted payload
      columns keep their current value (full-row U image on row-LWW
      tables; a column-masked P event on patch tables, so concurrent
      patches to OTHER columns compose instead of being clobbered).
    - ``when_matched_delete`` (+ ``delete_condition``): tombstone
      matched rows; checked BEFORE the update clause.
    - ``when_not_matched_insert``: ``True`` inserts every source
      payload column as-is; a ``{col: expr}`` dict inserts exactly
      those values (unlisted table columns become NULL).
    - ``when_not_matched_by_source_delete``
      (+ ``by_source_delete_condition``): tombstone live target rows
      absent from the source — forces a full-state read.
    - ``skip_unchanged=True`` drops no-op updates (post-SET image
      null-safe-equal to current) for changelog minimality; default
      False matches SQL MERGE, which rewrites matched rows regardless.
    - New columns (SET/INSERT names or source payload columns the
      table lacks) ride the sink's normal schema evolution.

    Returns ``{"inserted", "updated", "deleted", "op_sequence",
    "batch_id", "version", ...}``; ``dry_run=True`` reports the counts
    without applying."""
    has_upd = when_matched_update is not None
    has_ins = when_not_matched_insert is not None and when_not_matched_insert is not False
    if not (has_upd or when_matched_delete or has_ins or when_not_matched_by_source_delete):
        raise ValueError("merge_into needs at least one clause")
    if has_upd and not when_matched_update:
        raise ValueError("when_matched_update is empty — nothing to SET")
    if when_matched_delete and delete_condition is None and has_upd:
        raise ValueError(
            "unconditional matched DELETE together with an UPDATE clause: "
            "the update could never fire (DELETE is checked first) — give "
            "delete_condition or drop one clause"
        )
    if KEY not in source.columns:
        raise ValueError(f"source is missing the key column {KEY!r}")
    if has_upd:
        _check_set_cols(when_matched_update, "when_matched_update")
    ins_dict = when_not_matched_insert if isinstance(when_not_matched_insert, dict) else None
    if ins_dict is not None:
        if not ins_dict:
            raise ValueError("when_not_matched_insert dict is empty")
        _check_set_cols(ins_dict, "when_not_matched_insert")

    snap = sink.current_snapshot()
    patch = bool(snap.get("patch", False)) if snap else bool(getattr(sink, "patch", False))
    if patch and skip_unchanged:
        # the current value of a masked cell is not read on the patch
        # fast path below unless the SET expressions reference it; a
        # wrong "unchanged" verdict would silently drop a real change
        raise ValueError("skip_unchanged is a row-table option (patch updates are masked)")
    # lazy checkpoint + ONE global-aggregate job replace the former
    # three jobs per call (eager checkpoint, full malformed-key audit,
    # count) — VERDICT r03 item 7: callers streaming many small merge
    # batches paid all three per batch. A GLOBAL aggregate (not a
    # limit-collect, review r04): its partial phase runs over every
    # input partition no matter how the source is partitioned, so the
    # lazy checkpoint is fully materialized before anything else reads
    # the source — a limit() could executeTake a prefix of partitions
    # and leave a nondeterministic source to re-realize differently in
    # the merge join. The single row carries the emptiness check, the
    # COMPLETE malformed-key audit, and the exact distinct-key count.
    src = source.localCheckpoint(eager=False)
    bad_key = F.col(KEY).isNull() | (F.col("n") > 1)
    stats = (
        src.groupBy(KEY)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.coalesce(
                F.sum(F.when(bad_key, 1).otherwise(0)), F.lit(0)
            ).alias("n_bad"),
            F.max(F.when(bad_key, F.struct(F.col(KEY), F.col("n")))).alias(
                "bad_example"
            ),
        )
        .collect()[0]
    )
    if stats.n_bad:
        # bounded diagnostics at any corruption scale: the exact
        # offending-key COUNT rides the same single-row aggregate (no
        # extra job, no unbounded collect) with one max-struct example
        ex = stats.bad_example
        raise _malformed_key_error([(ex[0], ex[1])], total=stats.n_bad)
    n_src = stats.n_keys
    src_keys: list | None = None
    if 0 < n_src <= lookup_cap:
        # keys are unique non-null here; one cheap job over the
        # now-materialized checkpoint
        src_keys = [r[0] for r in src.select(KEY).collect()]
    if n_src == 0 and not when_not_matched_by_source_delete:
        return {
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
            "op_sequence": None,
            "batch_id": None,
            "version": snap["version"] if snap else 0,
            "dry_run": dry_run,
        }

    src_payload = [c for c in src.columns if c != KEY]
    bad_src = sorted(set(src_payload) & (_PROTECTED - {KEY}))
    if bad_src:
        raise ValueError(
            f"source carries reserved column(s) {bad_src!r} — rename them"
        )
    table_payload_fields = []
    if snap is not None:
        schema = parse_schema(snap["schema"])
        table_payload_fields = [
            f for f in schema.fields if f.name not in _INTERNAL and f.name != KEY
        ]
    table_payload = [f.name for f in table_payload_fields]
    table_types = {f.name: f.dataType for f in table_payload_fields}

    # ---- target side: the minimum state the clauses need
    if snap is None:
        t_df = None
    elif when_not_matched_by_source_delete:
        t_df = (
            sink.read_state()
            .filter(~F.col("deleted"))
            .select(KEY, *table_payload)
        )
    elif n_src <= lookup_cap:
        t_df = sink.lookup(src_keys)
    else:
        t_df = (
            sink.read_state()
            .filter(~F.col("deleted"))
            .select(KEY, *table_payload)
        )
    how = "full_outer" if when_not_matched_by_source_delete else "left_outer"
    s = src.alias("s")
    if t_df is None:
        # empty table: join against an EMPTY target shaped like the
        # source, so the t.<col> namespace resolves the same way it
        # will on every later run of the same pipeline (matched
        # clauses no-op, bare ambiguous names stay ambiguous-loud) —
        # a review pass found the earlier synthesized-column variant
        # broke t.-qualified expression strings on bootstrap
        t_df = sink.spark.createDataFrame([], src.schema)
    j = s.join(t_df.alias("t"), F.col(f"s.{KEY}") == F.col(f"t.{KEY}"), how)
    tcol = lambda c: F.col(f"t.{c}")  # noqa: E731
    scol = lambda c: F.col(f"s.{c}")  # noqa: E731

    matched = scol(KEY).isNotNull() & tcol(KEY).isNotNull()
    s_only = scol(KEY).isNotNull() & tcol(KEY).isNull()
    t_only = scol(KEY).isNull()

    upd = {c: _expr(e, True) for c, e in (when_matched_update or {}).items()}
    if ins_dict is not None:
        ins = {c: _expr(e, True) for c, e in ins_dict.items()}
    elif has_ins:  # insert True: every source payload column as-is
        ins = {c: scol(c) for c in src_payload}
    else:
        ins = {}

    # event payload = table payload + any new columns the clauses or
    # source introduce (ordinary schema evolution at the sink)
    new_cols = [
        c
        for c in list(dict.fromkeys(list(upd) + list(ins)))
        if c not in table_payload
    ]
    event_payload = table_payload + new_cols

    upd_val = {}
    for c in event_payload:
        if c in upd:
            upd_val[c] = upd[c]
        elif c in table_payload:
            upd_val[c] = tcol(c)
        else:
            upd_val[c] = F.lit(None)
    ins_val = {c: ins.get(c, F.lit(None)) for c in event_payload}
    # pin known table types so expression literals can't drift the
    # stored schema (the update_where/delete_where discipline)
    for c in table_payload:
        upd_val[c] = upd_val[c].cast(table_types[c])
        ins_val[c] = ins_val[c].cast(table_types[c])

    del_c = _expr(delete_condition, True)
    upd_c = _expr(update_condition, True)
    ins_c = _expr(insert_condition, True)
    bsd_c = _expr(by_source_delete_condition, True)
    if skip_unchanged and has_upd:
        changed = F.lit(False)
        for c in list(upd) + new_cols:
            cur = tcol(c) if c in table_payload else F.lit(None)
            changed = changed | ~upd_val[c].eqNullSafe(cur)
        upd_c = upd_c & changed

    upd_op = F.lit("P") if patch else F.lit("U")
    op = F.when(matched & F.lit(when_matched_delete) & del_c, F.lit("D"))
    if has_upd:
        op = op.when(matched & upd_c, upd_op)
    if has_ins:
        op = op.when(s_only & ins_c, F.lit("I"))
    if when_not_matched_by_source_delete:
        op = op.when(t_only & bsd_c, F.lit("D"))

    seq = next_op_sequence(sink)
    cols = [
        F.col("op"),
        F.lit(seq).cast("long").alias(SEQ),
        F.coalesce(scol(KEY), tcol(KEY)).alias(KEY),
    ]
    if patch:
        cols.append(
            F.when(
                F.col("op") == "P",
                F.array(*[F.lit(c) for c in sorted(upd)]),
            ).alias("patch_cols")
        )
        for c in event_payload:
            # P rows carry only masked cells; I rows the insert image;
            # D rows NULL payload (the envelope contract)
            v = (
                F.when(F.col("op") == "I", ins_val[c])
                .when(
                    (F.col("op") == "P") & F.lit(c in upd),
                    upd_val[c],
                )
            )
            cols.append(v.alias(c))
    else:
        for c in event_payload:
            v = (
                F.when(F.col("op") == "I", ins_val[c])
                .when(F.col("op") == "U", upd_val[c])
            )
            cols.append(v.alias(c))
    events = (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*cols)
        .localCheckpoint()
    )
    by_op = {r["op"]: r["n"] for r in events.groupBy("op").agg(F.count(F.lit(1)).alias("n")).collect()}
    counts = {
        "inserted": by_op.get("I", 0),
        "updated": by_op.get("U", 0) + by_op.get("P", 0),
        "deleted": by_op.get("D", 0),
    }
    total = sum(counts.values())
    if dry_run or total == 0:
        return {
            **counts,
            "op_sequence": None,
            "batch_id": None,
            "version": snap["version"] if snap else 0,
            "dry_run": dry_run,
        }
    version = snap["version"] if snap else 0
    bid = batch_id or f"merge-into-v{version}-{seq}"
    metrics = sink.apply_batch(events, bid)
    if metrics.get("skipped"):
        return {
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
            "op_sequence": seq,
            "batch_id": bid,
            "version": sink.current_snapshot()["version"],
            "dry_run": False,
            "skipped": metrics.get("reason", "batch id already committed"),
        }
    return {
        **counts,
        "op_sequence": seq,
        "batch_id": bid,
        "version": sink.current_snapshot()["version"],
        "dry_run": False,
    }


def merge_into_sql(
    table: str,
    source_view: str,
    *,
    when_matched_update: dict | None = None,
    update_condition: str | None = None,
    when_matched_delete: bool = False,
    delete_condition: str | None = None,
    when_not_matched_insert=None,
    insert_condition: str | None = None,
    when_not_matched_by_source_delete: bool = False,
    by_source_delete_condition: str | None = None,
    source_columns: list[str] | None = None,
) -> str:
    """The Iceberg/ANSI ``MERGE INTO`` twin of ``merge_into`` for the
    cluster path (aliases ``t``/``s`` match the DataFrame namespace;
    expression dicts/conditions must be SQL strings here). Clause
    order mirrors merge_into: matched DELETE first, then UPDATE.
    ``when_not_matched_insert=True`` needs ``source_columns`` (SQL
    can't introspect the view)."""
    if when_matched_delete and delete_condition is None and when_matched_update:
        # same refusal as merge_into: MERGE evaluates matched clauses
        # in order, so the UPDATE after an unconditional DELETE is
        # silently dead SQL on the cluster too
        raise ValueError(
            "unconditional matched DELETE together with an UPDATE clause: "
            "the update could never fire (DELETE is rendered first) — give "
            "delete_condition or drop one clause"
        )
    # same protected-column refusals as the DataFrame twin (review
    # r04): without them the renderer happily emits `SET t.doc_id = …`
    # or a duplicate doc_id INSERT column — SQL the engine path
    # rejects loudly, so the twins diverged on exactly the error cases
    if when_matched_update:
        _check_set_cols(when_matched_update, "when_matched_update")
    if isinstance(when_not_matched_insert, dict):
        if not when_not_matched_insert:
            raise ValueError("when_not_matched_insert dict is empty")
        _check_set_cols(when_not_matched_insert, "when_not_matched_insert")
    if when_not_matched_insert is True and source_columns:
        bad_src = sorted(set(source_columns) & (_PROTECTED - {KEY}))
        if bad_src:
            raise ValueError(
                f"source carries reserved column(s) {bad_src!r} — "
                "rename them"
            )
    clauses = []
    if when_matched_delete:
        cond = f" AND ({delete_condition})" if delete_condition else ""
        clauses.append(f"WHEN MATCHED{cond} THEN DELETE")
    if when_matched_update:
        sets = ", ".join(
            f"t.{c} = {e}" for c, e in when_matched_update.items()
        )
        cond = f" AND ({update_condition})" if update_condition else ""
        clauses.append(f"WHEN MATCHED{cond} THEN UPDATE SET {sets}")
    if when_not_matched_insert is True:
        if not source_columns:
            raise ValueError(
                "when_not_matched_insert=True needs source_columns"
            )
        cols = ", ".join([KEY] + [c for c in source_columns if c != KEY])
        vals = ", ".join(
            f"s.{c}" for c in [KEY] + [c for c in source_columns if c != KEY]
        )
        cond = f" AND ({insert_condition})" if insert_condition else ""
        clauses.append(
            f"WHEN NOT MATCHED{cond} THEN INSERT ({cols}) VALUES ({vals})"
        )
    elif isinstance(when_not_matched_insert, dict):
        cols = ", ".join([KEY] + list(when_not_matched_insert))
        vals = ", ".join(
            [f"s.{KEY}"] + [str(e) for e in when_not_matched_insert.values()]
        )
        cond = f" AND ({insert_condition})" if insert_condition else ""
        clauses.append(
            f"WHEN NOT MATCHED{cond} THEN INSERT ({cols}) VALUES ({vals})"
        )
    if when_not_matched_by_source_delete:
        cond = (
            f" AND ({by_source_delete_condition})"
            if by_source_delete_condition
            else ""
        )
        clauses.append(f"WHEN NOT MATCHED BY SOURCE{cond} THEN DELETE")
    if not clauses:
        raise ValueError("merge_into_sql needs at least one clause")
    body = "\n".join(clauses)
    return (
        f"MERGE INTO {table} t\nUSING {source_view} s\n"
        f"ON t.{KEY} = s.{KEY}\n{body}"
    )
