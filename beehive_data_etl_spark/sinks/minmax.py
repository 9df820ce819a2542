"""Incrementally-maintained MIN/MAX aggregate views — IVM for the
NON-invertible aggregates ``sinks.aggregates`` deliberately refuses.

COUNT/SUM are delete-invertible: a removal subtracts. MIN/MAX are not
— when the row that HELD a group's extreme is deleted (or updated away
from it), nothing in the stored aggregate says what the runner-up was;
only the base data does. The classic IVM answer (Gupta/Mumick's
"dirty group" treatment) is exactly what ``MinMaxView`` implements:

- **additions never rescan**: a new value folds in as
  ``greatest(stored, added)`` / ``least(stored, added)``;
- **removals rescan ONLY the groups they could have damaged**: a
  removed value strictly below the stored max (above the stored min)
  cannot have been the extreme — the stored value stands. A removed
  value EQUAL to the stored extreme marks the group dirty, unless the
  same window also ADDED a value at-or-beyond the stored extreme
  (then the new value wins regardless of what was removed);
- dirty groups are recomputed exactly, in one Spark job, via a
  semi-join of the base table's live state against the dirty group
  keys — **never a driver-side collect, never a full-table recompute
  for clean refreshes**. The rescan reads only the view's columns
  (projection pushed below the merge-on-read fold) and, when the
  table is ``compact(cluster_by=[group_col])``-clustered (or z-ordered
  with it), parquet row-group stats confine the scan to the dirty
  groups' row groups — the layout lever and the view are designed as
  a pair;
- per-column non-null counts (additive, exact) restore SQL's "MIN
  over zero non-null rows is NULL" without a rescan when the last
  non-null contributor leaves.

Cost model at 10^10 rows: a refresh is O(changed rows) for the delta
summary + O(live groups) for the merge, plus — only on refreshes where
some group's extreme-holding row was removed — one column-pruned,
layout-confined scan for the dirty groups. A steady-state
insert-mostly CDC stream (the training-corpus case) almost never
rescans; a delete-heavy sweep (retention) rescans the swept groups
once.

Commit protocol, crash-safety, the expired-window full-rebuild
fallback and the alter-window refusals are all inherited from
``AggregateView`` (same pointer-swap discipline the sink itself uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .aggregates import (
    _DIRTY,
    COUNT_COL,
    AggregateView,
    eq_nullsafe_on,
    explode_contributions,
)
from .snapshot import parse_schema

_ORDERABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.StringType, T.DateType,
    T.TimestampType, T.BooleanType,
)


def minmax_full(
    df: DataFrame,
    group_cols: list[str],
    min_cols: list[str],
    max_cols: list[str],
) -> DataFrame:
    """Ground-truth shape: COUNT(*), per-column non-null counts, and
    the extremes. Both the first full build and every dirty-group
    rescan produce exactly this."""
    aggs = [F.count(F.lit(1)).alias(COUNT_COL)]
    for c in sorted({*min_cols, *max_cols}):
        aggs.append(F.count(c).alias(f"_nn_{c}"))
    for c in min_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
    for c in max_cols:
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(*group_cols).agg(*aggs)


def minmax_delta(
    changes: DataFrame,
    group_cols: list[str],
    min_cols: list[str],
    max_cols: list[str],
) -> DataFrame:
    """One-pass per-group window summary from a pre-image changelog
    (``read_changes_pruned(include_old=True)`` rows): row-count and
    non-null-count deltas (additive), the window's added extremes
    (fold-in candidates) and removed extremes (dirty-test evidence).
    Same explode-two-contributions shape as ``changelog_delta`` —
    updates that move a row between groups remove under the OLD group
    and add under the NEW one."""
    vals = sorted({*min_cols, *max_cols})

    def build(sign: int, p):
        fields = [F.col(p(g)).alias(g) for g in group_cols]
        fields.append(F.lit(sign).cast("long").alias("_sign"))
        for c in vals:
            fields.append(F.col(p(c)).alias(c))
        return fields

    e = explode_contributions(changes, build)
    add = F.col("_sign") == 1
    aggs = [F.sum("_sign").alias("_dn")]
    for c in vals:
        aggs.append(
            F.sum(
                F.when(F.col(c).isNotNull(), F.col("_sign")).otherwise(0)
            ).alias(f"_dnn_{c}")
        )
    for c in sorted(set(max_cols)):
        aggs.append(F.max(F.when(add, F.col(c))).alias(f"_addmax_{c}"))
        aggs.append(F.max(F.when(~add, F.col(c))).alias(f"_remmax_{c}"))
    for c in sorted(set(min_cols)):
        aggs.append(F.min(F.when(add, F.col(c))).alias(f"_addmin_{c}"))
        aggs.append(F.min(F.when(~add, F.col(c))).alias(f"_remmin_{c}"))
    return e.groupBy(*group_cols).agg(*aggs)


def minmax_merge(
    old: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    min_cols: list[str],
    max_cols: list[str],
) -> DataFrame:
    """Fold a window summary into the stored aggregate: one full-outer
    eqNullSafe join on the group keys (GROUP BY folds NULL keys, so the
    merge must too). Emits the stored shape plus a ``_dirty`` flag —
    True for groups whose new extreme cannot be derived without a
    rescan. The dirty rule per max column:

    - no removal touched the group → clean, ``greatest(stored, added)``;
    - a removal's value was strictly BELOW the stored max → it was not
      the extreme, clean;
    - a removal AT the stored max → dirty, UNLESS the window also added
      a value >= the stored max (the addition is the new max no matter
      what was removed);
    - the group's non-null count reached 0 → NULL extreme, clean (the
      additive count is authoritative, no rescan);
    - a removal against a group the store doesn't know (or whose
      stored extreme is NULL while the removal is non-null) →
      defensively dirty (inconsistent history; the rescan is exact).

    Min is the mirror image. Groups whose row count reaches 0 drop."""
    vals = sorted({*min_cols, *max_cols})
    o = old.alias("o")
    d = delta.alias("d")
    j = o.join(d, eq_nullsafe_on("o", "d", group_cols), "full_outer")
    zero = F.lit(0).cast("long")
    sel = [
        F.coalesce(F.col(f"o.{g}"), F.col(f"d.{g}")).alias(g)
        for g in group_cols
    ]
    n_new = F.coalesce(F.col(f"o.{COUNT_COL}"), zero) + F.coalesce(
        F.col("d._dn"), zero
    )
    sel.append(n_new.alias(COUNT_COL))
    nn_new = {}
    for c in vals:
        nn_new[c] = F.coalesce(F.col(f"o._nn_{c}"), zero) + F.coalesce(
            F.col(f"d._dnn_{c}"), zero
        )
        sel.append(nn_new[c].alias(f"_nn_{c}"))
    dirty_terms = []

    def extreme(c, stored, added, removed, fold):
        cand = fold(stored, added)  # greatest/least skip NULLs — the
        # exact fold-in semantics wanted here (NULL iff both NULL)
        removal_hit = removed.isNotNull() & (
            stored.isNull()
            | (
                (removed >= stored if fold is F.greatest else removed <= stored)
                & ~F.coalesce(
                    (added >= stored) if fold is F.greatest else (added <= stored),
                    F.lit(False),
                )
            )
        )
        dirty = (nn_new[c] > 0) & removal_hit
        value = F.when(nn_new[c] <= 0, F.lit(None)).otherwise(cand)
        return value, dirty

    for c in max_cols:
        v, dirty = extreme(
            c,
            F.col(f"o.max_{c}"),
            F.col(f"d._addmax_{c}"),
            F.col(f"d._remmax_{c}"),
            F.greatest,
        )
        sel.append(v.alias(f"max_{c}"))
        dirty_terms.append(dirty)
    for c in min_cols:
        v, dirty = extreme(
            c,
            F.col(f"o.min_{c}"),
            F.col(f"d._addmin_{c}"),
            F.col(f"d._remmin_{c}"),
            F.least,
        )
        sel.append(v.alias(f"min_{c}"))
        dirty_terms.append(dirty)
    any_dirty = dirty_terms[0]
    for term in dirty_terms[1:]:
        any_dirty = any_dirty | term
    sel.append(F.coalesce(any_dirty, F.lit(False)).alias(_DIRTY))
    return j.select(*sel).filter(F.col(COUNT_COL) > 0)


class MinMaxView(AggregateView):
    """A named, incrementally-maintained per-group MIN/MAX view over a
    ``SnapshotSink`` table (module docstring for semantics and the
    cost model). Pointer/commit/guard machinery inherited from
    AggregateView; only the arithmetic differs."""

    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        group_cols: list[str],
        min_cols: list[str] | None = None,
        max_cols: list[str] | None = None,
    ) -> None:
        super().__init__(spark, sink, root, group_cols, sum_cols=[])
        self.min_cols = list(min_cols or [])
        self.max_cols = list(max_cols or [])
        if not self.min_cols and not self.max_cols:
            raise ValueError("MinMaxView needs min_cols and/or max_cols")

    def _maintained_cols(self) -> list[str]:
        return sorted({*self.min_cols, *self.max_cols})

    def _check_orderable(self, snap: dict) -> None:
        types = {
            f.name: f.dataType
            for f in parse_schema(snap["schema"]).fields
        }
        for c in self._maintained_cols():
            if not isinstance(types[c], _ORDERABLE):
                raise ValueError(
                    f"min/max over {types[c].simpleString()} column "
                    f"{c!r} is not maintained (orderable scalar types "
                    "only)"
                )

    def _out_cols(self) -> list[str]:
        return (
            self.group_cols
            + [COUNT_COL]
            + [f"min_{c}" for c in self.min_cols]
            + [f"max_{c}" for c in self.max_cols]
        )

    # ------------------------------------------------ refresh (via template)
    # skeleton (window guard -> type check -> full/incremental ->
    # dirty-group rescan) lives in AggregateView.refresh; only the
    # arithmetic hooks are defined here
    _dirty_rescan = True

    def _pre_refresh_check(self, snap: dict, cur: dict | None) -> None:
        self._check_orderable(snap)

    def _ivm_full(self, df):
        return minmax_full(df, self.group_cols, self.min_cols, self.max_cols)

    def _ivm_delta(self, changes):
        return minmax_delta(
            changes, self.group_cols, self.min_cols, self.max_cols
        )

    def _ivm_merge(self, old, delta):
        return minmax_merge(
            old, delta, self.group_cols, self.min_cols, self.max_cols
        )

    # ------------------------------------------------------------ read
    def read(self) -> DataFrame:
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        return self.spark.read.parquet(cur["path"]).select(*self._out_cols())

    def verify(self) -> dict:
        """Exact compare vs a full recompute at the reflected version."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        live = self.sink.read_state(
            version=cur["version"], columns=self._view_cols()
        ).filter(~F.col("deleted"))
        want = minmax_full(
            live, self.group_cols, self.min_cols, self.max_cols
        ).select(*self._out_cols())
        got = self.read()
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        return {
            "ok": extra == 0 and missing == 0,
            "extra": extra,
            "missing": missing,
            "version": cur["version"],
        }
