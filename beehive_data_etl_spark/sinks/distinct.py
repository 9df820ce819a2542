"""Incrementally-maintained DISTINCT-COUNT views over the CDC snapshot
— mergeable HLL sketches (Spark's DataSketches integration) with the
dirty-group rescan discipline of ``sinks.minmax``.

Why sketches: COUNT(DISTINCT c) at 10^10 rows is the one bookkeeping
aggregate the exact-IVM toolkit cannot carry. It is neither
distributive (``sinks.aggregates`` refuses it — a group's distinct
count is not a sum of per-delta counts) nor delete-invertible, and the
exact incremental answer would require storing the full per-group value
set — O(data), i.e. a second copy of the column. The industry answer is
a mergeable sketch: ``hll_sketch_agg`` builds a fixed-size (2^lg_k
registers) HyperLogLog summary per group, ``hll_union`` folds new
values in, and the estimate is within ~1.6%/sqrt(2^lg_k) of exact
(~2.3% at the default lg_k=12, ~0.8% at 14). **Union is lossless**: a
sketch unioned from any partition of the stream has identical registers
— hence an identical estimate — to one built over the whole stream in
one pass (pinned by test), so incremental maintenance introduces NO
error beyond the sketch's own.

Maintenance discipline (additions merge, removals rescan):

- **additions never rescan** — the refresh window's new values fold in
  as ``hll_union(stored, window_sketch)``; inserting an
  already-present value is a register no-op by construction;
- **removals rescan only damaged groups**: a sketch cannot forget. A
  removed value whose (group, value) pair was RE-ADDED in the same
  window did not leave the group's live set — clean (this also makes
  the common CDC case free: an update that keeps the distinct column's
  value emits a remove+add of the same pair and self-cancels). Any
  other removal marks the group dirty, and dirty groups are rebuilt
  exactly like MinMaxView's: one semi-join of live state against the
  dirty keys, column-pruned, row-group-confined when the table is
  clustered by the group column;
- **exact row/non-null counts ride along** (additive, invertible): a
  group whose non-null count reaches 0 reports 0 distinct with no
  rescan, and ``n_rows`` reaching 0 drops the group;
- the conservative case remains conservative: deleting ONE of several
  rows holding the same value rescans (the sketch alone cannot prove
  the value survived) — a steady-state insert-mostly training-corpus
  stream never pays it.

Rollup composability — the reason to store sketches rather than
estimates: ``estimate_rollup(["source"])`` unions the stored per-group
sketches to any coarser grouping (including the empty grouping = table
distinct) WITHOUT touching base data — O(live groups) work for a
question whose exact form is an O(table) shuffle. This is what register
summaries buy at 100 TB: every ad-hoc "distinct docs per X" over any
subset of the view's keys is served from the view.

Commit protocol, crash-safety, the expired-window full-rebuild
fallback and the alter-window refusals are inherited from
``AggregateView`` (the same pointer-swap discipline the sink uses).

Sketchable column types are the ones Spark's hll_sketch_agg accepts:
int, bigint, string, binary. Changing ``lg_k`` requires a view rebuild
(sketches of different precision refuse to union loudly).
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

_SKETCHABLE = (T.IntegerType, T.LongType, T.StringType, T.BinaryType)


def distinct_full(
    df: DataFrame, group_cols: list[str], cols: list[str], lg_k: int
) -> DataFrame:
    """Ground-truth shape: COUNT(*), per-column non-null counts, and
    the per-group HLL sketch over each column's (non-null) values.
    First full build and every dirty-group rescan produce exactly
    this."""
    aggs = [F.count(F.lit(1)).alias(COUNT_COL)]
    for c in cols:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.hll_sketch_agg(c, F.lit(lg_k)).alias(f"sk_{c}"))
    return df.groupBy(*group_cols).agg(*aggs)


def distinct_delta(
    changes: DataFrame, group_cols: list[str], cols: list[str], lg_k: int
) -> DataFrame:
    """Per-group window summary from a pre-image changelog
    (``read_changes_pruned(include_old=True)`` rows): additive row /
    non-null count deltas, a sketch of the window's ADDED values
    (fold-in candidate), and per column a ``_rem_<c>`` dirty flag —
    True iff some removed (group, value) pair was NOT re-added in the
    same window (same explode-two-contributions shape as
    ``changelog_delta``; the remove-vs-add comparison is one
    O(changed rows) anti-join per column). ``_remn_<c>`` counts raw
    removal contributions so the merge can flag removals against
    groups the store has no row for (defensive rescan).

    The exploded contribution frame is localCheckpoint-ed: it is read
    once for the count/sketch aggregate and twice per column for the
    anti-join, and each reuse would otherwise re-run the changelog
    read (delta files + old bucket state) underneath."""
    def build(sign: int, p):
        fields = [F.col(p(g)).alias(g) for g in group_cols]
        fields.append(F.lit(sign).cast("long").alias("_sign"))
        for c in cols:
            fields.append(F.col(p(c)).alias(c))
        return fields

    e = explode_contributions(changes, build).localCheckpoint(eager=True)
    add = F.col("_sign") == 1
    aggs = [F.sum("_sign").alias("_dn")]
    for c in cols:
        aggs.append(
            F.sum(
                F.when(F.col(c).isNotNull(), F.col("_sign")).otherwise(0)
            ).alias(f"_dnn_{c}")
        )
        aggs.append(
            F.sum(
                F.when(~add & F.col(c).isNotNull(), 1).otherwise(0)
            ).alias(f"_remn_{c}")
        )
        # hll_sketch_agg skips NULLs, so masking the removal rows'
        # values to NULL sketches exactly the window's additions
        aggs.append(
            F.hll_sketch_agg(F.when(add, F.col(c)), F.lit(lg_k)).alias(
                f"_addsk_{c}"
            )
        )
    delta = e.groupBy(*group_cols).agg(*aggs)
    for c in cols:
        rems = e.filter(~add & F.col(c).isNotNull()).select(*group_cols, c)
        adds = e.filter(add & F.col(c).isNotNull()).select(*group_cols, c)
        dirty = (
            rems.alias("r")
            .join(
                adds.alias("a"),
                eq_nullsafe_on("r", "a", group_cols)
                & (F.col(f"r.{c}") == F.col(f"a.{c}")),
                "left_anti",
            )
            .select(*[F.col(f"r.{g}").alias(g) for g in group_cols])
            .distinct()
            .withColumn(f"_rem_{c}", F.lit(True))
        )
        delta = delta.alias("d").join(
            dirty.alias("x"), eq_nullsafe_on("d", "x", group_cols), "left"
        ).select("d.*", f"x._rem_{c}")
    return delta


def distinct_merge(
    old: DataFrame, delta: DataFrame, group_cols: list[str], cols: list[str]
) -> DataFrame:
    """Fold a window summary into the stored view: one full-outer
    eqNullSafe join on the group keys (GROUP BY folds NULL keys, so
    the merge must). Emits the stored shape plus ``_dirty``. Per
    column: no removals → clean union of stored sketch and window
    additions; a surviving removal (``_rem_<c>``) → dirty; removals
    against a group the store doesn't know, or whose stored sketch is
    NULL → defensively dirty; non-null count at 0 → NULL sketch,
    clean (the additive count is authoritative — reads report 0).
    Groups whose row count reaches 0 drop."""
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
    dirty_terms = []
    for c in cols:
        nn_new = F.coalesce(F.col(f"o._nn_{c}"), zero) + F.coalesce(
            F.col(f"d._dnn_{c}"), zero
        )
        sel.append(nn_new.alias(f"_nn_{c}"))
        stored = F.col(f"o.sk_{c}")
        added = F.col(f"d._addsk_{c}")
        unioned = (
            F.when(stored.isNull(), added)
            .when(added.isNull(), stored)
            .otherwise(F.hll_union(stored, added))
        )
        removal = F.coalesce(F.col(f"d._remn_{c}") > 0, F.lit(False))
        dirty = (nn_new > 0) & (
            F.coalesce(F.col(f"d._rem_{c}"), F.lit(False))
            | (removal & stored.isNull())
        )
        sel.append(
            F.when(nn_new <= 0, F.lit(None).cast("binary")).otherwise(unioned)
            .alias(f"sk_{c}")
        )
        dirty_terms.append(dirty)
    any_dirty = dirty_terms[0]
    for term in dirty_terms[1:]:
        any_dirty = any_dirty | term
    sel.append(F.coalesce(any_dirty, F.lit(False)).alias(_DIRTY))
    return j.select(*sel).filter(F.col(COUNT_COL) > 0)


class DistinctView(AggregateView):
    """A named, incrementally-maintained per-group distinct-count view
    over a ``SnapshotSink`` table (module docstring for semantics and
    the cost model). Pointer/commit/guard machinery inherited from
    AggregateView; only the arithmetic differs."""

    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        group_cols: list[str],
        distinct_cols: list[str],
        lg_k: int = 12,
    ) -> None:
        super().__init__(spark, sink, root, group_cols, sum_cols=[])
        self.distinct_cols = list(distinct_cols)
        if not self.distinct_cols:
            raise ValueError("DistinctView needs at least one distinct column")
        if not (4 <= lg_k <= 21):
            raise ValueError("lg_k must be in [4, 21] (DataSketches HLL range)")
        self.lg_k = lg_k

    def _maintained_cols(self) -> list[str]:
        return sorted(set(self.distinct_cols))

    def _check_sketchable(self, snap: dict) -> None:
        types = {
            f.name: f.dataType
            for f in parse_schema(snap["schema"]).fields
        }
        for c in self._maintained_cols():
            if not isinstance(types[c], _SKETCHABLE):
                raise ValueError(
                    f"distinct-count over {types[c].simpleString()} column "
                    f"{c!r} is not maintained (hll_sketch_agg accepts int, "
                    "bigint, string, binary)"
                )

    # ------------------------------------------------ refresh (via template)
    # skeleton lives in AggregateView.refresh; only the arithmetic
    # hooks and the precision pin are defined here
    _dirty_rescan = True

    def _ptr_extra(self) -> dict:
        # pin the sketch precision into the CURRENT pointer: sketches
        # of different lg_k must never mix in one stored view
        return {"lg_k": self.lg_k}

    def _pre_refresh_check(self, snap: dict, cur: dict | None) -> None:
        self._check_sketchable(snap)
        if cur is not None and cur.get("lg_k", self.lg_k) != self.lg_k:
            # an incremental merge would union old-precision stored
            # sketches with new-precision window sketches — or, on a
            # delete-only window, silently commit a MIXED-precision
            # view (clean groups at the old lg_k, rescanned groups at
            # the new) that only blows up later in estimate_rollup
            raise ValueError(
                f"view was built at lg_k={cur['lg_k']} but this handle "
                f"wants lg_k={self.lg_k}: changing sketch precision "
                "requires a full rebuild — delete the view directory "
                "and refresh again"
            )

    def _ivm_full(self, df):
        return distinct_full(
            df, self.group_cols, self._maintained_cols(), self.lg_k
        )

    def _ivm_delta(self, changes):
        return distinct_delta(
            changes, self.group_cols, self._maintained_cols(), self.lg_k
        )

    def _ivm_merge(self, old, delta):
        return distinct_merge(
            old, delta, self.group_cols, self._maintained_cols()
        )

    # ------------------------------------------------------------ read
    @staticmethod
    def _estimate(c: str):
        # COUNT(DISTINCT c) over zero non-null rows is 0, and a merged
        # group whose non-null count hit 0 stores a NULL sketch — both
        # normalize to 0 here, so full-build rows (empty sketch) and
        # merged rows (NULL) read identically
        return (
            F.when(
                F.col(f"_nn_{c}") > 0,
                F.coalesce(
                    F.hll_sketch_estimate(F.col(f"sk_{c}")), F.lit(0)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias(f"nd_{c}")
        )

    def read(self) -> DataFrame:
        """Group columns, exact row count, per-column distinct-count
        ESTIMATE (the sketch's answer; ~2.3% standard error at the
        default lg_k=12)."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        df = self.spark.read.parquet(cur["path"])
        return df.select(
            *self.group_cols,
            COUNT_COL,
            *[self._estimate(c) for c in self.distinct_cols],
        )

    def read_sketches(self) -> DataFrame:
        """The stored shape, sketches included — for consumers that
        union them onward (cross-table dedupe budgeting, rollups the
        view's keys don't pre-aggregate)."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        return self.spark.read.parquet(cur["path"])

    def estimate_rollup(self, roll_cols: list[str]) -> DataFrame:
        """Distinct-count estimates at any COARSER grouping — union
        the stored per-group sketches, never touch base data
        (O(live groups); the empty grouping estimates table-wide
        distincts). Lossless union makes this exactly the sketch a
        direct build at that grouping would produce."""
        bad = [c for c in roll_cols if c not in self.group_cols]
        if bad:
            raise ValueError(
                f"rollup columns {bad} are not view group columns "
                f"{self.group_cols}: a sketch view can only roll UP"
            )
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        df = self.spark.read.parquet(cur["path"])
        aggs = [F.sum(COUNT_COL).alias(COUNT_COL)]
        for c in self.distinct_cols:
            aggs.append(F.sum(f"_nn_{c}").alias(f"_nn_{c}"))
            aggs.append(F.hll_union_agg(f"sk_{c}").alias(f"sk_{c}"))
        rolled = df.groupBy(*roll_cols).agg(*aggs)
        return rolled.select(
            *roll_cols,
            COUNT_COL,
            *[self._estimate(c) for c in self.distinct_cols],
        )

    def verify(self) -> dict:
        """Exact compare vs a full recompute at the reflected version
        — estimates, row counts, and non-null counts must all match
        EXACTLY: union is lossless, so incremental maintenance has no
        error budget of its own."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        if cur.get("lg_k", self.lg_k) != self.lg_k:
            raise ValueError(
                f"view stores lg_k={cur['lg_k']} sketches but this handle "
                f"wants lg_k={self.lg_k}: the recompute would compare "
                "across precisions — use a handle with the stored lg_k"
            )
        cols = self.distinct_cols
        live = self.sink.read_state(
            version=cur["version"], columns=self._view_cols()
        ).filter(~F.col("deleted"))
        shape = [
            *self.group_cols,
            COUNT_COL,
            *[f"_nn_{c}" for c in cols],
            *[self._estimate(c) for c in cols],
        ]
        want = distinct_full(live, self.group_cols, cols, self.lg_k).select(
            *shape
        )
        got = self.spark.read.parquet(cur["path"]).select(*shape)
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        return {
            "ok": extra == 0 and missing == 0,
            "extra": extra,
            "missing": missing,
            "version": cur["version"],
        }
