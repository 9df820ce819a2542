"""EnrichView — incrementally-maintained JOIN view (join-IVM): a
denormalized ``fact LEFT JOIN dim`` table kept fresh from BOTH sides'
changelogs.

The missing derived-view class: AggregateView/MinMaxView maintain
aggregations, TokenIndex/ValueIndex maintain inverted postings,
ShardExport maintains a layout — none maintains a JOIN. Yet the
enrichment shape is what a serving/training pipeline actually reads:
"every sequence with its source's license, crawl date, and quality
tier", where the dimension (sources, licenses, tenants) is itself a
CDC table that updates. Recomputing the join is O(fact) per change;
maintaining it is O(changed rows) — the classic incremental
view-maintenance delta-join argument (ΔF ⋈ D ∪ σ(F) ⋈ ΔD).

Design decisions, stated:

- **The view IS a SnapshotSink table** (``dest``). The enriched state
  is O(fact)-sized, so a parquet-rewrite-per-refresh view (the
  AggregateView commit shape, fine for O(groups) aggregates) would pay
  O(fact) per batch. Applying the delta as an ordinary envelope batch
  into a sink costs O(changed rows) (merge-on-read append) and the
  dest inherits the WHOLE protocol for free: exactly-once retries,
  lookup/scan_where serving, its own changelog (consumers can chain),
  replication, compaction, time travel.
- **The refresh is the clock.** Fact op_sequences and dim op_sequences
  are different clock domains — neither can stamp the dest directly (a
  dim-propagated rewrite would race fact events). Every refresh writes
  its rows at ONE dest-allocated sequence (``next_op_sequence(dest)``);
  refreshes are serial per view, so the dest clock is monotone and a
  later refresh's image always wins LWW. Exactly-once falls out of the
  window-deterministic batch id: a crash between the dest commit and
  the pointer write retries the same window, dedupes at the dest, and
  re-swaps the pointer.
- **Dim-side fan-out is index-accelerated.** A changed dim key must
  touch every fact row holding it. With a ``ValueIndex`` on the fact
  FK column the affected rows cost O(matching docs) (the index's
  four-prune lookup); without one, a stats-pruned
  ``fact.scan_where([(fk, "in", keys)])`` scans the fact state once
  per refresh — correct, and the honest fallback cost. More changed
  dim keys than ``max_dim_keys`` (a dim full-reload) degrades to a
  full rebuild, which is cheaper than a giant IN anyway.
- **Windows a replica must refuse degrade to a full rebuild.** Each
  side's window is classified as a replica's (``table_meta.
  WINDOW_POLICY``): the view applies forward change events, so a
  rollback, backfill, purge or drop/rename on either table inside the
  refresh window, or an ``expire_snapshots``-retired window, cannot be
  applied — but the join view can always rebuild exactly, so it does.
  Add/widen evolution passes: the view carries its resolved columns.

Left-join semantics throughout: a fact row with no (or a deleted) dim
match keeps NULL dim columns; a fact delete deletes the enriched row;
a dim delete NULLs its columns on every holder at the refresh's clock.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.refetch import next_op_sequence
from ..sources import table_meta as tm
from .snapshot import _INTERNAL, KEY, SEQ, SnapshotSink, parse_schema


class EnrichView:
    """Maintained ``fact LEFT JOIN dim ON fact.<fk> = dim.doc_id``,
    materialized as the SnapshotSink at ``dest_root``.

    ``fact_cols``: fact payload columns to carry (default: all).
    ``dim_cols``: dim payload columns to carry (default: all), stored
    as ``<dim_prefix><col>``. ``value_index``: an optional ValueIndex
    over the fact table's ``fk`` column for O(matching) dim fan-out.
    """

    def __init__(
        self,
        spark: SparkSession,
        fact: SnapshotSink,
        dim: SnapshotSink,
        dest_root: str,
        fk: str,
        fact_cols: list[str] | None = None,
        dim_cols: list[str] | None = None,
        dim_prefix: str = "dim_",
        value_index=None,
        max_dim_keys: int = 100_000,
        n_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.fact = fact
        self.dim = dim
        self.fk = fk
        self.dim_prefix = dim_prefix
        self.value_index = value_index
        self.max_dim_keys = max_dim_keys
        for s, name in ((fact, "fact"), (dim, "dim")):
            if getattr(s, "patch", False):
                raise ValueError(
                    f"{name} table is per-cell (patch=True): the view "
                    "joins whole-row images; replicate into a row-LWW "
                    "table first"
                )
        # column resolution needs the source snapshots; a deployment
        # job constructs its views BEFORE the first batch lands, so
        # resolve lazily when a source is still empty (refresh no-ops
        # until both exist) and eagerly — with loud config errors —
        # when they already do
        self._fact_cols_cfg = list(fact_cols) if fact_cols is not None else None
        self._dim_cols_cfg = list(dim_cols) if dim_cols is not None else None
        self._resolved = False
        if fact.current_snapshot() is not None and dim.current_snapshot() is not None:
            self._resolve()
        self.dest = SnapshotSink(
            spark,
            dest_root,
            n_buckets=n_buckets or fact.n_buckets,
            # the view rewrites rows wholesale per refresh; default
            # inline compaction keeps delta counts bounded
        )
        os.makedirs(os.path.join(dest_root, "_enrich"), exist_ok=True)
        self._ptr = tm.Pointer(os.path.join(dest_root, "_enrich", "CURRENT"))

    def _resolve(self) -> None:
        """Validate the column config against the (now existing)
        source snapshots and fix the view's column lists."""
        fact_payload = self._payload_cols(self.fact)
        if self.fk not in fact_payload:
            raise ValueError(
                f"fk column {self.fk!r} is not a fact payload column "
                f"(available: {fact_payload})"
            )
        self.fact_cols = (
            list(self._fact_cols_cfg)
            if self._fact_cols_cfg is not None
            else fact_payload
        )
        bad = sorted(set(self.fact_cols) - set(fact_payload))
        if bad:
            raise ValueError(f"fact_cols {bad} not in fact payload")
        if self.fk not in self.fact_cols:
            self.fact_cols = [self.fk] + self.fact_cols
        dim_payload = self._payload_cols(self.dim)
        self.dim_cols = (
            list(self._dim_cols_cfg)
            if self._dim_cols_cfg is not None
            else dim_payload
        )
        bad = sorted(set(self.dim_cols) - set(dim_payload))
        if bad:
            raise ValueError(f"dim_cols {bad} not in dim payload")
        clash = sorted(
            {f"{self.dim_prefix}{c}" for c in self.dim_cols}
            & set(self.fact_cols)
        )
        if clash:
            raise ValueError(
                f"prefixed dim column(s) {clash} collide with fact "
                "columns — change dim_prefix"
            )
        self._resolved = True

    @staticmethod
    def _payload_cols(sink) -> list[str]:
        snap = sink.current_snapshot()
        if snap is None:
            raise ValueError(f"table at {sink.root} has no snapshot yet")
        schema = parse_schema(snap["schema"])
        return [
            f.name
            for f in schema.fields
            if f.name not in _INTERNAL and f.name != KEY
        ]

    # ------------------------------------------------------------ pointer
    def current(self) -> dict | None:
        return self._ptr.read()

    # ------------------------------------------------------------- joins
    def _dim_live(self, dv: int) -> DataFrame:
        d = self.dim.read_state(version=dv).filter(~F.col("deleted"))
        return d.select(
            F.col(KEY).alias("__dim_key"),
            *[F.col(c).alias(f"{self.dim_prefix}{c}") for c in self.dim_cols],
        )

    def _enrich(self, rows: DataFrame, dv: int) -> DataFrame:
        """LEFT JOIN ``rows`` (doc_id + fact cols) with the dim state at
        ``dv``; dims are usually small — let AQE/broadcast decide."""
        d = self._dim_live(dv)
        return rows.join(
            d, rows[self.fk] == d["__dim_key"], "left"
        ).drop("__dim_key")

    def _event_cols(self, seq: int, op):
        return [
            op.alias("op"),
            F.lit(seq).cast("long").alias(SEQ),
            F.col(KEY),
            *[F.col(c) for c in self.fact_cols],
            *[F.col(f"{self.dim_prefix}{c}") for c in self.dim_cols],
        ]

    # ------------------------------------------------------------ refresh
    def refresh(self) -> dict:
        """Advance the view to both tables' CURRENT snapshots. Full
        build on first call (or on schema change / expired window /
        dim-key blowup); O(changed rows) delta otherwise; no-op when
        both cursors are current."""
        fsnap = self.fact.current_snapshot()
        dsnap = self.dim.current_snapshot()
        if fsnap is None or dsnap is None:
            return {"mode": "noop", "reason": "source has no snapshot"}
        if not self._resolved:
            self._resolve()
        gone = [
            c
            for c in self.fact_cols + [self.fk]
            if c not in set(self._payload_cols(self.fact))
        ] + [
            c
            for c in self.dim_cols
            if c not in set(self._payload_cols(self.dim))
        ]
        if gone:
            # a drop/rename removed a column this view carries: even a
            # full rebuild cannot read it — fail with guidance (the
            # AggregateView contract) instead of an AnalysisException
            raise ValueError(
                f"view column(s) {sorted(set(gone))} no longer exist in "
                "the source tables (dropped or renamed): recreate the "
                "EnrichView against the current schema (the dest table "
                "can be kept — the first refresh rebuilds it)"
            )
        cur = self.current()
        # each side's window as a replica would consume it: forward
        # change events into the dest table. Where a replica must
        # refuse (rollback, backfill, purge, column alter, expired
        # window), this view rebuilds exactly instead; the rebuild's
        # anti-join tombstones purged/rolled-back leavers
        wins = [
            tm.classify_window(
                tm.REPLICA, cur and cur[f"{side}_version"], snap, sink.snapshot
            )
            for side, snap, sink in (
                ("fact", fsnap, self.fact), ("dim", dsnap, self.dim)
            )
        ]
        fv_new, dv_new = fsnap["version"], dsnap["version"]
        if all(w.action == tm.NOOP for w in wins):
            return {"mode": "noop", "fact_version": fv_new, "dim_version": dv_new}
        for w in wins:
            if w.action not in (tm.FULL, tm.REFUSE):
                continue
            if w.marker is None:
                reason = "first build"
            elif w.marker == "snapshot_floor":
                reason = "incremental window expired (expire_snapshots)"
            elif w.marker in ("drop_column", "rename_column"):
                # bridging the stored rows' column identity is exactly
                # the trap the AggregateView review history documents
                reason = (
                    "schema changed inside the refresh window "
                    f"({w.marker} at v{w.version})"
                )
            else:
                reason = f"unstreamable window: {w.marker} at v{w.version}"
            return self._full_build(fv_new, dv_new, reason)
        return self._incremental(cur, fv_new, dv_new)

    def _full_build(self, fv: int, dv: int, reason: str) -> dict:
        live = self.fact.read_state(
            version=fv, columns=sorted(set(self.fact_cols))
        ).filter(~F.col("deleted")).select(KEY, *self.fact_cols)
        seq = next_op_sequence(self.dest)
        events = self._enrich(live, dv).select(
            *self._event_cols(seq, F.lit("U"))
        )
        # stale rows from an earlier generation (e.g. rebuilt after a
        # schema change) must not survive: anti-join the dest's current
        # live keys against the new image and tombstone the leavers
        dcur = self.dest.current_snapshot()
        if dcur is not None:
            gone = (
                self.dest.read_final([])
                .join(live.select(KEY), KEY, "left_anti")
                .select(KEY)
            )
            dead = gone.select(*self._dead_cols(seq))
            events = events.unionByName(dead)
        bid = f"enrich-full-f{fv}-d{dv}"
        metrics = self.dest.apply_batch(events, bid)
        self._ptr.commit({"fact_version": fv, "dim_version": dv})
        return {
            "mode": "full",
            "reason": reason,
            "fact_version": fv,
            "dim_version": dv,
            "skipped": metrics.get("skipped", False),
        }

    def _dead_cols(self, seq: int):
        fact_schema = parse_schema(self.fact.current_snapshot()["schema"])
        ftypes = {f.name: f.dataType for f in fact_schema.fields}
        dim_schema = parse_schema(self.dim.current_snapshot()["schema"])
        dtypes = {f.name: f.dataType for f in dim_schema.fields}
        return [
            F.lit("D").alias("op"),
            F.lit(seq).cast("long").alias(SEQ),
            F.col(KEY),
            *[F.lit(None).cast(ftypes[c]).alias(c) for c in self.fact_cols],
            *[
                F.lit(None).cast(dtypes[c]).alias(f"{self.dim_prefix}{c}")
                for c in self.dim_cols
            ],
        ]

    def _incremental(self, cur: dict, fv_new: int, dv_new: int) -> dict:
        fv0, dv0 = cur["fact_version"], cur["dim_version"]
        seq = next_op_sequence(self.dest)
        parts: list[DataFrame] = []
        n_dim_keys = 0
        if fv_new > fv0:
            ch = self.fact.read_changes_pruned(
                fv0, fv_new, columns=sorted(set(self.fact_cols))
            )
            live = ch.filter(F.col("change_type") != "D").select(
                KEY, *self.fact_cols
            )
            parts.append(
                self._enrich(live, dv_new).select(
                    *self._event_cols(seq, F.lit("U"))
                )
            )
            dead = ch.filter(F.col("change_type") == "D").select(KEY)
            parts.append(dead.select(*self._dead_cols(seq)))
        if dv_new > dv0:
            dch = self.dim.read_changes_pruned(dv0, dv_new, columns=[])
            keys = [
                r[0]
                for r in dch.select(KEY)
                .distinct()
                .limit(self.max_dim_keys + 1)
                .collect()
            ]
            n_dim_keys = len(keys)
            if n_dim_keys > self.max_dim_keys:
                # a dim full-reload: rebuilding beats a giant IN plan
                return self._full_build(
                    fv_new, dv_new, f"dim window changed >{self.max_dim_keys} keys"
                )
            if keys:
                affected = self._affected_fact_rows(keys, fv_new)
                parts.append(
                    self._enrich(affected, dv_new).select(
                        *self._event_cols(seq, F.lit("U"))
                    )
                )
        if not parts:
            # rewrite-only windows on both sides (compact/GC bumped
            # versions, changed no rows): nothing to apply, just move
            # the cursor
            self._ptr.commit({"fact_version": fv_new, "dim_version": dv_new})
            return {
                "mode": "noop",
                "fact_window": (fv0, fv_new),
                "dim_window": (dv0, dv_new),
            }
        events = parts[0]
        for p in parts[1:]:
            events = events.unionByName(p)
        # a doc can appear on both paths (fact change + its dim changed
        # in the same window); both compute the identical current image
        # — keep one (D rows can only come from the fact path, and a
        # doc dead at fv_new is never in the dim path's live lookup, so
        # op never conflicts across duplicates)
        events = events.dropDuplicates([KEY])
        bid = f"enrich-f{fv0}.{fv_new}-d{dv0}.{dv_new}"
        metrics = self.dest.apply_batch(events, bid)
        self._ptr.commit({"fact_version": fv_new, "dim_version": dv_new})
        return {
            "mode": "incremental",
            "fact_window": (fv0, fv_new),
            "dim_window": (dv0, dv_new),
            "dim_keys": n_dim_keys,
            "skipped": metrics.get("skipped", False),
        }

    def _affected_fact_rows(self, keys: list, fv: int) -> DataFrame:
        """Live fact rows whose fk is one of the changed dim keys —
        O(matching) through a head-current ValueIndex, else one
        stats-pruned scan."""
        if self.value_index is not None:
            self.value_index.refresh()
            rows = self.value_index.select_rows(
                keys, max_keys=self.max_dim_keys
            )
            return rows.select(KEY, *self.fact_cols)
        return (
            self.fact.scan_where(
                [(self.fk, "in", keys)], columns=sorted(set(self.fact_cols))
            )
            .select(KEY, *self.fact_cols)
        )

    # ------------------------------------------------------------ read
    def read(self) -> DataFrame:
        """The enriched table's live rows (the dest sink's read_final,
        here for symmetry — the dest IS a table: lookup/scan_where/
        changelog/replication all work on it directly)."""
        return self.dest.read_final()

    def verify(self) -> dict:
        """Recompute the join at the reflected versions and diff."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        live = self.fact.read_state(
            version=cur["fact_version"], columns=sorted(set(self.fact_cols))
        ).filter(~F.col("deleted")).select(KEY, *self.fact_cols)
        want = self._enrich(live, cur["dim_version"])
        got = self.dest.read_final()
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        return {"ok": extra == 0 and missing == 0, "extra": extra, "missing": missing}
