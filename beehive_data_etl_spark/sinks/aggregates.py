"""Incremental materialized aggregate views over the CDC snapshot
(classic incremental view maintenance — IVM).

A downstream consumer of a 10^10-row tokenized-sequence table almost
always wants bookkeeping aggregates — docs and tokens per ``source``,
per split, per language — and recomputing a GROUP BY over the whole
table after every micro-batch is O(table) work for an O(batch) change.
``AggregateView`` maintains such aggregates from the row-level
changelog instead:

- **refresh cost is O(changed rows)** — the pre-image changelog
  (``SnapshotSink.read_changes_pruned``) reads only the delta files
  committed since the view's last refresh plus the old state of the
  buckets they touch, never the whole table — **plus a co-grouped
  merge with the stored aggregate, which is O(live groups)**;
- every change row contributes **+1/+value under its new group** (if
  live after the change) and **−1/−value under its old group** (if it
  was live before), emitted in ONE pass over the changelog via an
  array-of-structs explode — group-moving updates and deletes fall out
  of the same arithmetic;
- only **distributive, delete-invertible** aggregates are maintained:
  COUNT and SUM (AVG derives as sum/count at read time). MIN/MAX are
  deliberately NOT offered — they are not delete-maintainable without
  per-group auxiliary state (a deleted row that held the max forces a
  group rescan); callers who need them recompute from ``read_final``;
- SUM's NULL semantics are exact: a per-column **non-null contribution
  count** (``_nn_<col>``) rides along, and ``read()`` restores SQL's
  "SUM over zero non-null rows is NULL" — a plain running sum would
  report 0 after the last non-null contributor is deleted, silently
  diverging from a recompute;
- the stored aggregate commits like the sink itself: write a new
  parquet, then atomically swap a ``CURRENT`` pointer recording the
  snapshot version it reflects. ``refresh()`` is idempotent (same
  version → no-op) and crash-safe (a crash before the swap leaves the
  previous aggregate live; re-refresh recomputes the same delta).

Float caveat: SUM over DOUBLE is order-sensitive in the last ulp, so an
incrementally-maintained double sum can differ from a recompute by
rounding; the data model's token counts are integral (exact). Documented
rather than hidden — ``verify()`` does an exact compare.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import table_meta as tm
from .snapshot import parse_schema

COUNT_COL = "n_rows"
_DIRTY = "_dirty"


def eq_nullsafe_on(left: str, right: str, cols: list[str]):
    """The join condition every IVM merge/rescan shares: null-safe
    equality on the group keys across two aliases (GROUP BY folds NULL
    keys into one group, so every key join must too)."""
    cond = None
    for g in cols:
        e = F.col(f"{left}.{g}").eqNullSafe(F.col(f"{right}.{g}"))
        cond = e if cond is None else (cond & e)
    return cond


def _sum_type(dt: T.DataType) -> str:
    """The type Spark's SUM would produce — integral inputs widen to
    long, float/double to double, decimal(p, s) to
    decimal(min(38, p+10), s) — so the maintained column's type matches
    a recompute's bit-for-bit. Anything else (string, date, ...) is
    rejected loudly: the previous silent cast-to-double would have
    maintained a decimal column in float arithmetic, contradicting the
    module's exactness contract (round-3 review)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "long"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "double"
    if isinstance(dt, T.DecimalType):
        return f"decimal({min(38, dt.precision + 10)},{dt.scale})"
    raise ValueError(
        f"unsupported sum column type {dt.simpleString()}: only integral, "
        "float/double, and decimal columns can be incrementally summed"
    )


def full_agg(df: DataFrame, group_cols: list[str], sum_cols: list[str]) -> DataFrame:
    """The ground-truth aggregate shape: COUNT(*) plus, per sum column,
    a 0-defaulted SUM and its non-null count. ``merge_agg`` folds deltas
    into exactly this shape; ``AggregateView.read()`` restores NULL sums
    from the non-null counts."""
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias(COUNT_COL)]
    for c in sum_cols:
        st = _sum_type(types[c])
        # the outer cast pins the SUM result type: a no-op for
        # long/double, and for decimal it folds Spark's extra +10
        # precision on summing an already-widened input back to the
        # canonical decimal(min(38, p+10), s)
        aggs.append(
            F.coalesce(F.sum(F.col(c).cast(st)), F.lit(0).cast(st))
            .cast(st)
            .alias(c)
        )
        aggs.append(F.count(c).alias(f"_nn_{c}"))
    return df.groupBy(*group_cols).agg(*aggs)


def merge_agg(
    old: DataFrame, delta: DataFrame, group_cols: list[str], add_cols: list[str]
) -> DataFrame:
    """Additively fold a delta aggregate into a stored aggregate: one
    full-outer join on the group keys (groups absent on either side
    contribute 0), every ``add_cols`` column summed, groups whose row
    count reaches 0 dropped — the merge that keeps the stored view
    O(live groups). ``add_cols[0]`` must be the row count. Shuffles only
    the two aggregate tables (O(groups)), never any base data."""
    types = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    o = old.select(*group_cols, *add_cols).alias("o")
    d = delta.select(
        *group_cols, *[F.col(c).alias(f"_d_{c}") for c in add_cols]
    ).alias("d")
    # eqNullSafe, not on=[names]: GROUP BY folds NULL keys into one
    # group, so the merge must too — a plain equi-join would leave a
    # NULL group unmerged on both sides
    j = o.join(d, eq_nullsafe_on("o", "d", group_cols), "full_outer")
    sel = [F.coalesce(F.col(f"o.{g}"), F.col(f"d.{g}")).alias(g) for g in group_cols]
    for c in add_cols:
        zero = F.lit(0).cast(types[c])
        # cast the fold back to the STORED type: decimal addition widens
        # precision by 1 per Spark's rules, so without the cast the
        # maintained column's type would drift a digit per refresh
        sel.append(
            (F.coalesce(F.col(f"o.{c}"), zero) + F.coalesce(F.col(f"_d_{c}"), zero))
            .cast(types[c])
            .alias(c)
        )
    return j.select(*sel).filter(F.col(add_cols[0]) > 0)


def _pre_image_col(changes: DataFrame):
    """Resolver for a column's PRE-image name in a pre-image changelog:
    ``_old_<c>`` for payload columns, but the KEY column itself for the
    table key — keys are immutable (a "changed key" is a delete plus an
    insert of different keys), so the changelog carries no ``_old_``
    twin for it and the current column IS the old identity. Shared by
    every IVM delta builder (a view maintained over ``doc_id`` — e.g.
    distinct doc counts — hits this on its first incremental window)."""
    have = set(changes.columns)
    return lambda c: f"_old_{c}" if f"_old_{c}" in have else c


def explode_contributions(changes: DataFrame, build) -> DataFrame:
    """The ± contribution explode every IVM delta builder shares
    (review: it used to be copied per view): each pre-image changelog
    row emits up to two structs — one under the NEW image when the row
    is live after the change, one under the OLD image when it was live
    before (updates that move a row between groups, deletes, and
    inserts all reduce to this). ``build(sign, p)`` returns the
    struct's field list, reading every column through the resolver
    ``p`` (identity for the new image; ``_pre_image_col`` for the old
    — which falls back to the key column itself for the immutable
    table key). The explode is narrow: no shuffle, O(changed rows)."""
    ident = lambda c: c  # noqa: E731
    pre = _pre_image_col(changes)
    new_live = ~F.col("deleted")
    old_live = F.col("change_type").isin("U", "D")
    entries = F.array(
        F.when(new_live, F.struct(*build(1, ident))),
        F.when(old_live, F.struct(*build(-1, pre))),
    )
    return (
        changes.select(F.explode(entries).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("e.*")
    )


def changelog_delta(
    changes: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """One-pass delta aggregate from a pre-image changelog
    (``read_changes_pruned(include_old=True)`` rows): each change row
    emits up to two contribution structs — +1/+values under the NEW
    group when the row is live after the change, −1/−values under the
    OLD group when it was live before — exploded and grouped. Updates
    that move a row between groups, deletes, and NULL-valued sums all
    reduce to the same additive arithmetic; the explode is narrow (no
    extra shuffle beyond the final groupBy on O(changed rows))."""
    types = {f.name: f.dataType for f in changes.schema.fields}

    def build(sign: int, p):
        fields = [F.col(p(g)).alias(g) for g in group_cols]
        fields.append(F.lit(sign).cast("long").alias(COUNT_COL))
        for c in sum_cols:
            st = _sum_type(types[c])
            v = F.coalesce(F.col(p(c)).cast(st), F.lit(0).cast(st))
            # negation, not lit(sign) * v: unary minus preserves the
            # decimal type exactly, while decimal multiplication sums
            # the operands' scales (round-3 review)
            fields.append((v if sign == 1 else (-v).cast(st)).alias(c))
            fields.append(
                F.when(F.col(p(c)).isNotNull(), F.lit(sign))
                .otherwise(F.lit(0))
                .cast("long")
                .alias(f"_nn_{c}")
            )
        return fields

    add_cols = [COUNT_COL] + [x for c in sum_cols for x in (c, f"_nn_{c}")]
    # pin every summed column to its maintained type (SUM re-widens
    # decimals by another +10 precision)
    out_types = {COUNT_COL: "long"}
    for c in sum_cols:
        out_types[c] = _sum_type(types[c])
        out_types[f"_nn_{c}"] = "long"
    return (
        explode_contributions(changes, build)
        .groupBy(*group_cols)
        .agg(*[F.sum(c).cast(out_types[c]).alias(c) for c in add_cols])
    )


class AggregateView:
    """A named, incrementally-maintained GROUP BY over a
    ``SnapshotSink`` table (docstring at module top for semantics and
    scale analysis). Commit protocol mirrors the sink: parquet write →
    atomic ``CURRENT`` pointer swap recording the reflected snapshot
    version; the previous aggregate file is kept one generation for
    crash-safety and reaped on the following refresh."""

    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.sink = sink
        self.root = root
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols or [])
        self.add_cols = [COUNT_COL] + [
            x for c in self.sum_cols for x in (c, f"_nn_{c}")
        ]
        os.makedirs(root, exist_ok=True)
        self._ptr = tm.Pointer(
            os.path.join(root, "CURRENT"),
            pins=self._ptr_extra,
            refs=lambda p: [os.path.basename(p["path"])],
        )

    # ------------------------------------------------------------ pointer
    def current(self) -> dict | None:
        return self._ptr.read()

    def _ptr_extra(self) -> dict:
        """Extra fields a subclass pins into the CURRENT pointer (e.g.
        DistinctView's sketch precision) — committed atomically with
        the version/path swap."""
        return {}

    def _commit(self, df: DataFrame, version: int) -> None:
        out = os.path.join(self.root, f"agg-v{version:06d}-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(out)
        self._ptr.commit({"version": version, "path": out}, reap="agg-v")

    def _maintained_cols(self) -> list[str]:
        """The payload columns this view stores aggregates of — the
        guard preamble (column-existence, alter-window) protects
        exactly these. Subclasses (MinMaxView) override."""
        return self.sum_cols

    # --------------------------------------------------- refresh (template)
    # The dirty-group refresh skeleton is shared by every derived
    # aggregate view; subclasses plug in their arithmetic through
    # these hooks (review: the skeleton used to be copied per view,
    # so a fix to the shared discipline needed hand-replication).
    _dirty_rescan = False  # True: _ivm_merge emits _DIRTY and damaged
    # groups are recomputed from live state (MinMaxView, DistinctView)

    def _view_cols(self) -> list[str]:
        """Columns the view reads from state/changelog — projection
        pushed into every scan (a 2-column view over a 50-column
        table pays 2 columns)."""
        return sorted({*self.group_cols, *self._maintained_cols()})

    def _pre_refresh_check(self, snap: dict, cur: dict | None) -> None:
        """Subclass refusal hook, run AFTER the window guard (a
        dropped/renamed maintained column must raise the guidance
        ValueError, not a KeyError on the missing schema entry) and
        before any Spark work. ``cur`` is the RAW live pointer — even
        when the expired-window fallback will force a full rebuild —
        so identity pins (sketch precision, sample k, bin edges) can
        refuse a mismatched handle regardless: a silent full rebuild
        under new parameters would break every other handle built
        against the stored ones (review-found)."""

    def _ivm_full(self, df: DataFrame) -> DataFrame:
        """Ground-truth aggregate over live rows — the first full
        build AND every dirty-group rescan."""
        return full_agg(df, self.group_cols, self.sum_cols)

    def _ivm_delta(self, changes: DataFrame) -> DataFrame:
        """Window summary from the pre-image changelog."""
        return changelog_delta(changes, self.group_cols, self.sum_cols)

    def _ivm_merge(self, old: DataFrame, delta: DataFrame) -> DataFrame:
        """Fold the window summary into the stored aggregate (with a
        ``_dirty`` column when ``_dirty_rescan``)."""
        return merge_agg(old, delta, self.group_cols, self.add_cols)

    def refresh(self) -> dict:
        """Advance the view to the sink's CURRENT snapshot. Full build
        on first call; O(changed rows) incremental merge afterwards
        (plus, for dirty-rescan views, one semi-joined projected scan
        of exactly the damaged groups); no-op when already current."""
        snap = self.sink.current_snapshot()
        if snap is None:
            return {"mode": "noop", "reason": "sink has no snapshot"}
        v_new = snap["version"]
        mine = self.group_cols + self._maintained_cols()
        table_cols = set(parse_schema(snap["schema"]).names)
        gone = [c for c in mine if c not in table_cols]
        if gone:
            # a drop_column/rename_column removed a column this view is
            # keyed on — fail with guidance instead of an
            # AnalysisException deep in the delta job
            raise ValueError(
                f"view columns {gone} no longer exist in the table "
                "(dropped or renamed): delete the view directory and "
                "rebuild it against the current schema"
            )
        cur = self.current()
        w = tm.classify_window(
            tm.COLUMN_VIEW, cur and cur["version"], snap, self.sink.snapshot, mine
        )
        if w.action == tm.NOOP:
            return {"mode": "noop", "version": v_new}
        if w.action == tm.REFUSE:
            raise tm.altered_columns_error(w)
        # the hook gets the RAW pointer even when the window forces a
        # full rebuild: identity pins must fire either way
        self._pre_refresh_check(snap, cur)
        if w.action == tm.FULL:
            live = self.sink.read_state(
                version=v_new, columns=self._view_cols()
            ).filter(~F.col("deleted"))
            self._commit(self._ivm_full(live), v_new)
            return {"mode": "full", "version": v_new}
        changes = self.sink.read_changes_pruned(
            cur["version"], v_new, include_old=True,
            columns=self._view_cols(),
        )
        delta = self._ivm_delta(changes)
        old = self.spark.read.parquet(cur["path"])
        merged = self._ivm_merge(old, delta)
        out = {
            "mode": "incremental",
            "version": v_new,
            "from_version": cur["version"],
        }
        if not self._dirty_rescan:
            self._commit(merged, v_new)
            return out
        merged = merged.localCheckpoint(eager=True)  # reused twice +
        # truncates the join lineage before the rescan composes on top
        dirty = merged.filter(F.col(_DIRTY)).select(*self.group_cols)
        n_dirty = dirty.count()
        clean = merged.filter(~F.col(_DIRTY)).drop(_DIRTY)
        if n_dirty == 0:
            self._commit(clean, v_new)
        else:
            base = self.sink.read_state(
                version=v_new, columns=self._view_cols()
            ).filter(~F.col("deleted")).alias("b")
            src = base.join(
                dirty.alias("g"),
                eq_nullsafe_on("b", "g", self.group_cols),
                "left_semi",
            )
            self._commit(clean.unionByName(self._ivm_full(src)), v_new)
        out["rescanned_groups"] = n_dirty
        return out

    # ------------------------------------------------------------ read
    def read(self) -> DataFrame:
        """The user-facing aggregate: group columns, row count, sums —
        with SQL's NULL-sum semantics restored from the non-null
        counts."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        df = self.spark.read.parquet(cur["path"])
        for c in self.sum_cols:
            df = df.withColumn(
                c, F.when(F.col(f"_nn_{c}") > 0, F.col(c))
            )
        return df.select(*self.group_cols, COUNT_COL, *self.sum_cols)

    def verify(self) -> dict:
        """Exact compare of the maintained aggregate vs a full recompute
        at the view's reflected snapshot version (the IVM ground truth).
        Two O(groups) exceptAll jobs — a test/ops check, not a hot
        path."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        live = self.sink.read_state(
            version=cur["version"],
            columns=sorted({*self.group_cols, *self.sum_cols}),
        ).filter(~F.col("deleted"))
        want = full_agg(live, self.group_cols, self.sum_cols)
        for c in self.sum_cols:
            want = want.withColumn(c, F.when(F.col(f"_nn_{c}") > 0, F.col(c)))
        want = want.select(*self.group_cols, COUNT_COL, *self.sum_cols)
        got = self.read()
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        return {
            "ok": extra == 0 and missing == 0,
            "extra": extra,
            "missing": missing,
            "version": cur["version"],
        }
