"""Incrementally-maintained per-group BOTTOM-K HASH SAMPLES — a
deterministic "show me k representative documents per group" serving
view, and a KMV (k-minimum-values) distinct estimator, over the CDC
snapshot.

Why bottom-k by hash: a uniform random sample is not maintainable (a
deletion breaks reservoir invariants silently), but the k smallest
``md5``-hash values of a group's ids ARE a uniform sample — the hash
is a random permutation of the id space — and the set is a pure,
deterministic function of the group's live membership. That buys:

- **exactly reproducible results** (same table state → same sample,
  on any engine: the hash is the repo's portable md5-derived
  ``portable_hash32``, so a DuckDB oracle recomputes it bit-equal);
- **IVM with the dirty-group discipline** (``sinks.minmax``):
  additions fold in (union, re-sort, truncate to k — an id already
  sampled dedups, an id hashing above the group's k-th value falls
  out of the slice); a removal hashing ABOVE the stored k-th value
  cannot be in the sample — clean; a removal of a sampled id forces a
  rescan of that group only (the k+1-th id is not stored). A removal
  whose id was re-added in the same window self-cancels (the
  update-keeps-id CDC case — free, like DistinctView);
- **the small-group invariant**: a group holding fewer than k ids
  stores ALL of them, so removals there just filter the array — no
  rescan, and the "sample" is the exact membership;
- **KMV distinct estimates for free**: with the sample full, the
  k-th smallest normalized hash estimates the group's distinct count
  as ``(k-1) * 2^32 / h_k`` (Bar-Yossef et al. '02); below k the
  sample is the whole id set and the count is exact.

Scale shape at 10^10 rows: the stored view is O(groups × k); a
refresh is O(changed rows) (two narrow window ranks over the window's
adds/removals, never over base data) plus the usual O(live groups)
merge; rescans are semi-joined, column-pruned, and confined to
damaged groups. The bottom-k full build ranks ids per group before
collecting, so no group ever materializes more than k+1 structs in a
single row.

The sampled column must be STRING (portable md5 hashing) and unique
per live row within its group — the table key (``doc_id``) is the
canonical choice; a non-unique column would silently under-fill the
sample. ``k`` is pinned in the CURRENT pointer (the size-k invariants
do not survive a precision change); changing it requires a rebuild.

Commit protocol, crash-safety, the expired-window full-rebuild
fallback, the alter-window refusals and the refresh skeleton are
inherited from ``AggregateView``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import portable_hash32
from .aggregates import (
    _DIRTY,
    COUNT_COL,
    AggregateView,
    eq_nullsafe_on,
    explode_contributions,
)
from .snapshot import parse_schema

_HASH_SPACE = float(1 << 32)  # portable_hash32 range [0, 2^32)
_ENTRY = "struct<h:bigint,id:string>"


def _empty_sample():
    return F.array().cast(f"array<{_ENTRY}>")


def _bottom_k(
    df: DataFrame, group_cols: list[str], id_col: str, k: int
) -> DataFrame:
    """Rank (h, id) per group and collect the bottom k as a sorted
    array — the rank BEFORE the collect is what bounds per-row
    memory to k structs regardless of group size. Window and groupBy
    hash-partition on the same keys, so the second shuffle reuses the
    first's partitioning."""
    base = df.select(
        *group_cols, F.col(id_col).alias("_id")
    ).withColumn("_h", portable_hash32(F.col("_id")))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_h").asc_nulls_last(), F.col("_id").asc_nulls_last()
    )
    ranked = base.withColumn("_rn", F.row_number().over(w))
    return ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias(COUNT_COL),
        F.count("_id").alias("_nn"),
        F.sort_array(
            F.collect_list(
                F.when(
                    (F.col("_rn") <= k) & F.col("_id").isNotNull(),
                    F.struct(
                        F.col("_h").alias("h"), F.col("_id").alias("id")
                    ),
                )
            )
        ).alias("sample"),
    )


def sample_delta(
    changes: DataFrame, group_cols: list[str], id_col: str, k: int
) -> DataFrame:
    """Per-group window summary from a pre-image changelog: additive
    row / non-null-id count deltas, the bottom-k of the window's ADDED
    (h, id) pairs (fold-in candidate), the bottom-k of its SURVIVING
    removals (removals whose id was not re-added — used to filter a
    small group's full-membership array), and the surviving removals'
    count and minimum hash (the dirty test against the stored k-th
    value). The exploded contribution frame is localCheckpoint-ed (it
    feeds one aggregate, two ranked passes and an anti-join, and each
    reuse would otherwise re-run the changelog read); the
    surviving-removal summary computes its ranked collect, count and
    min in ONE grouped pass so the anti-join runs once (review)."""
    def build(sign: int, p):
        fields = [F.col(p(g)).alias(g) for g in group_cols]
        fields.append(F.lit(sign).cast("long").alias("_sign"))
        fields.append(F.col(p(id_col)).alias("_id"))
        return fields

    e = (
        explode_contributions(changes, build)
        .withColumn("_h", portable_hash32(F.col("_id")))
        .localCheckpoint(eager=True)
    )
    add = F.col("_sign") == 1
    counts = e.groupBy(*group_cols).agg(
        F.sum("_sign").alias("_dn"),
        F.sum(
            F.when(F.col("_id").isNotNull(), F.col("_sign")).otherwise(0)
        ).alias("_dnn"),
    )
    adds = e.filter(add & F.col("_id").isNotNull())
    rems = e.filter(~add & F.col("_id").isNotNull())
    surv = (
        rems.alias("r")
        .join(
            adds.alias("a"),
            eq_nullsafe_on("r", "a", group_cols)
            & (F.col("r._id") == F.col("a._id")),
            "left_anti",
        )
        .select(*[F.col(f"r.{c}") for c in (*group_cols, "_id", "_h")])
    )

    w = Window.partitionBy(*group_cols).orderBy("_h", "_id")

    def bottom_entry():
        return F.when(
            F.col("_rn") <= k,
            F.struct(F.col("_h").alias("h"), F.col("_id").alias("id")),
        )

    adds_sum = (
        adds.withColumn("_rn", F.row_number().over(w))
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list(bottom_entry())).alias("_adds"))
    )
    surv_sum = (
        surv.withColumn("_rn", F.row_number().over(w))
        .groupBy(*group_cols)
        .agg(
            F.sort_array(F.collect_list(bottom_entry())).alias("_rems"),
            F.count(F.lit(1)).alias("_remn"),
            F.min("_h").alias("_remmin"),
        )
    )
    delta = counts
    for piece in (adds_sum, surv_sum):
        delta = (
            delta.alias("d")
            .join(piece.alias("x"), eq_nullsafe_on("d", "x", group_cols), "left")
            .select("d.*", *[c for c in piece.columns if c not in group_cols])
        )
    return delta


def sample_merge(
    old: DataFrame, delta: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Fold a window summary into the stored view. Per group:

    - stored sample FULL (k entries): removals at-or-below the k-th
      hash → dirty (the runner-up is not stored); removals above it
      are provably outside the sample — clean, and the sample needs no
      filtering. Additions union in, re-sort, truncate;
    - stored sample NOT full (= the group's entire id membership):
      removals filter the array directly, additions union in — never
      dirty (the delta's surviving-removal array is complete here: a
      small group cannot have more surviving removals than members);
    - removals against a group the store doesn't know, or more
      surviving removals than a small group could hold → defensively
      dirty. Groups whose row count reaches 0 drop."""
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
    nn_new = F.coalesce(F.col("o._nn"), zero) + F.coalesce(
        F.col("d._dnn"), zero
    )
    sel.append(n_new.alias(COUNT_COL))
    sel.append(nn_new.alias("_nn"))
    S = F.coalesce(F.col("o.sample"), _empty_sample())
    A = F.coalesce(F.col("d._adds"), _empty_sample())
    R = F.coalesce(F.col("d._rems"), _empty_sample())
    remn = F.coalesce(F.col("d._remn"), zero)
    full = F.size(S) >= k
    thr = F.element_at(S, k).getField("h")
    dirty = (nn_new > 0) & (
        ((remn > 0) & F.col(f"o.{COUNT_COL}").isNull())
        | (full & (remn > 0) & (F.col("d._remmin") <= thr))
        | (~full & (remn > F.size(S)))
    )
    filtered = F.when(full, S).otherwise(
        F.filter(S, lambda x: ~F.array_contains(R, x))
    )
    merged_arr = F.slice(
        F.sort_array(F.array_union(filtered, A)), 1, k
    )
    sel.append(
        F.when(nn_new <= 0, _empty_sample()).otherwise(merged_arr)
        .alias("sample")
    )
    sel.append(F.coalesce(dirty, F.lit(False)).alias(_DIRTY))
    return j.select(*sel).filter(F.col(COUNT_COL) > 0)


class SampleView(AggregateView):
    """A named, incrementally-maintained bottom-k hash sample per
    group over a ``SnapshotSink`` table (module docstring for
    semantics and the cost model). Pointer/commit/guard machinery and
    the refresh skeleton are inherited; only the arithmetic hooks and
    the k pin live here."""

    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        group_cols: list[str],
        id_col: str = "doc_id",
        k: int = 64,
    ) -> None:
        super().__init__(spark, sink, root, group_cols, sum_cols=[])
        if not (2 <= k <= 4096):
            # k=1 would degenerate the KMV estimator ((k-1)*M/h_k = 0
            # for every non-empty full group) — review-found
            raise ValueError("k must be in [2, 4096]")
        self.id_col = id_col
        self.k = k

    def _maintained_cols(self) -> list[str]:
        return [self.id_col]

    # ------------------------------------------------ refresh (via template)
    _dirty_rescan = True

    def _ptr_extra(self) -> dict:
        return {"k": self.k}

    def _pre_refresh_check(self, snap: dict, cur: dict | None) -> None:
        types = {
            f.name: f.dataType
            for f in parse_schema(snap["schema"]).fields
        }
        if not isinstance(types[self.id_col], T.StringType):
            raise ValueError(
                f"bottom-k sampling over {types[self.id_col].simpleString()} "
                f"column {self.id_col!r} is not maintained: the portable "
                "hash is defined on strings — cast/derive a string id"
            )
        if cur is not None and cur.get("k", self.k) != self.k:
            raise ValueError(
                f"view was built at k={cur['k']} but this handle wants "
                f"k={self.k}: the size-k invariants do not survive a "
                "precision change — delete the view directory and "
                "refresh again"
            )

    def _ivm_full(self, df):
        return _bottom_k(df, self.group_cols, self.id_col, self.k)

    def _ivm_delta(self, changes):
        return sample_delta(changes, self.group_cols, self.id_col, self.k)

    def _ivm_merge(self, old, delta):
        return sample_merge(old, delta, self.group_cols, self.k)

    # ------------------------------------------------------------ read
    def read(self) -> DataFrame:
        """Group columns, exact row count, the sampled ids (ascending
        hash order — a uniform draw from the group's live ids), and
        ``nd_kmv``: the KMV distinct-count estimate (EXACT — the full
        membership — while the group holds fewer than k ids)."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        if cur.get("k", self.k) != self.k:
            # without this, a mismatched handle silently serves wrong
            # answers: stored k=8 read by a k=16 handle reports the
            # 8-entry sample as "the whole membership" (review-found)
            raise ValueError(
                f"view stores k={cur['k']} samples but this handle wants "
                f"k={self.k}: use a handle with the stored k"
            )
        df = self.spark.read.parquet(cur["path"])
        thr = F.element_at("sample", self.k).getField("h")
        return df.select(
            *self.group_cols,
            COUNT_COL,
            F.transform("sample", lambda x: x.getField("id")).alias(
                "sample_ids"
            ),
            F.when(
                F.size("sample") < self.k,
                F.size("sample").cast("long"),
            )
            .otherwise(
                F.round(
                    F.lit((self.k - 1) * _HASH_SPACE)
                    / F.greatest(thr, F.lit(1))
                ).cast("long")
            )
            .alias("nd_kmv"),
        )

    def verify(self) -> dict:
        """Exact compare vs a full recompute at the reflected version
        — the sample is a deterministic function of live membership,
        so the compare is bit-exact, arrays included."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        if cur.get("k", self.k) != self.k:
            raise ValueError(
                f"view stores k={cur['k']} samples but this handle wants "
                f"k={self.k}: use a handle with the stored k"
            )
        live = self.sink.read_state(
            version=cur["version"], columns=self._view_cols()
        ).filter(~F.col("deleted"))
        shape = [*self.group_cols, COUNT_COL, "_nn", "sample"]
        want = self._ivm_full(live).select(*shape)
        got = self.spark.read.parquet(cur["path"]).select(*shape)
        extra = got.exceptAll(want).count()
        missing = want.exceptAll(got).count()
        return {
            "ok": extra == 0 and missing == 0,
            "extra": extra,
            "missing": missing,
            "version": cur["version"],
        }
