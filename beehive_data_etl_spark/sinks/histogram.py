"""Incrementally-maintained per-group HISTOGRAMS — and the quantile
estimates they serve — over the CDC snapshot.

Percentiles ("p99 sequence length per source") at 10^10 rows are an
O(table) sort per question if computed exactly on demand. The classic
scale answer is a binned histogram: counts per (group, bin) are
**distributive AND delete-invertible** — the one shape the exact IVM
toolkit (``sinks.aggregates``) carries with NO dirty-group rescan,
ever. A removal subtracts from its old bin, an addition adds to its
new bin, a value update moves one count between bins; the maintained
state is exactly a recompute at every refresh (``verify()`` is an
exact compare, inherited arithmetic).

Quantiles read off the histogram by cumulative-count walk + linear
interpolation inside the landing bin — error bounded by bin width,
zero base-data IO, O(groups × bins) work. Bin edges are fixed at
view creation (pinned in the CURRENT pointer: counts binned under
different edges must never mix); underflow/overflow land in
half-open edge bins clamped to the boundary during interpolation,
and NULL values are counted in a NULL bin that quantiles exclude.

Implementation note: this is ``AggregateView`` keyed by the DERIVED
bin column — the subclass binds ``_hbin = bin(value)`` (and its
``_old_`` twin for the pre-image side) onto the frames the template
hands the hooks; everything downstream is the stock COUNT arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .aggregates import (
    COUNT_COL,
    AggregateView,
    _pre_image_col,
    changelog_delta,
    full_agg,
    merge_agg,
)
from .snapshot import parse_schema

_BIN = "_hbin"

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def bin_expr(value: Column, edges: list[float]) -> Column:
    """Bin index for a value under sorted ``edges``: 0 for
    v < edges[0] (underflow), i+1 for edges[i] <= v < edges[i+1],
    len(edges) for v >= edges[-1] (overflow), NULL for NULL **and for
    float NaN** — i.e. the count of edges <= v, as a pure JVM
    expression. NaN goes to the NULL bin explicitly (ADVICE r03):
    Spark orders NaN above every double, so without the guard NaN mass
    would land in the overflow bin, indistinguishable from genuine
    out-of-range values in counts and quantile walks; the NULL bin is
    where "no usable value" rows already live."""
    e = F.array(*[F.lit(float(x)) for x in edges])
    v = value.cast("double")
    return F.when(
        v.isNotNull() & ~F.isnan(v),
        F.size(F.filter(e, lambda x: x <= v)),
    ).cast("int")


class HistogramView(AggregateView):
    """A named, incrementally-maintained per-(group, bin) count — and
    optionally per-bin SUM — view over a ``SnapshotSink`` table
    (module docstring for semantics). All arithmetic is the inherited
    exact COUNT/SUM IVM — this subclass only derives the bin column
    on both changelog images and serves reads/quantiles.

    ``sum_cols``: extra numeric columns summed per bin (0-defaulted,
    NULL-sum semantics restored at read like AggregateView). The
    canonical use on the tokenized-sequence table is
    ``HistogramView(..., "n_tok", edges, sum_cols=["n_tok"])`` —
    token MASS per length bucket — and ``quantiles(weight="n_tok")``
    then answers "the median token lives in a document of length X",
    the mixture question token-budgeted curation actually asks."""

    def __init__(
        self,
        spark: SparkSession,
        sink,
        root: str,
        group_cols: list[str],
        value_col: str,
        edges: list[float],
        sum_cols: list[str] | None = None,
    ) -> None:
        super().__init__(spark, sink, root, group_cols, sum_cols=sum_cols)
        if len(edges) < 2:
            raise ValueError("need at least 2 bin edges")
        fe = [float(x) for x in edges]
        if sorted(fe) != fe or len(set(fe)) != len(fe):
            raise ValueError("bin edges must be strictly increasing")
        self.value_col = value_col
        self.edges = fe

    def _maintained_cols(self) -> list[str]:
        return sorted({self.value_col, *self.sum_cols})

    def _hist_groups(self) -> list[str]:
        return [*self.group_cols, _BIN]

    # the binning-semantics generation this code bins under: "null"
    # since round 4 (float NaN → NULL bin); state refreshed by older
    # code binned NaN into overflow, and mixing the two corrupts
    # counts invisibly (a NaN row deleted post-upgrade would decrement
    # the NULL bin while its +1 sits in overflow forever) — so the
    # generation is pinned exactly like the edges
    _NAN_BIN = "null"

    # ------------------------------------------------ refresh (via template)
    def _ptr_extra(self) -> dict:
        return {"edges": self.edges, "nan_bin": self._NAN_BIN}

    def _pre_refresh_check(self, snap: dict, cur: dict | None) -> None:
        types = {
            f.name: f.dataType
            for f in parse_schema(snap["schema"]).fields
        }
        if not isinstance(types[self.value_col], _NUMERIC):
            raise ValueError(
                f"histogram over {types[self.value_col].simpleString()} "
                f"column {self.value_col!r} is not maintained (numeric "
                "columns only)"
            )
        if cur is not None and cur.get("edges", self.edges) != self.edges:
            raise ValueError(
                "view was built with different bin edges: counts binned "
                "under two edge sets must never mix — delete the view "
                "directory and refresh again"
            )
        if cur is not None and cur.get("nan_bin") != self._NAN_BIN:
            # review r04: state binned under pre-round-4 semantics
            # (NaN → overflow) must not merge with deltas binned under
            # the current NaN → NULL rule
            raise ValueError(
                "view state predates the NaN-to-NULL-bin semantics: "
                "counts binned under two NaN placements must never mix "
                "— delete the view directory and refresh again"
            )

    def _ivm_full(self, df):
        binned = df.withColumn(_BIN, bin_expr(F.col(self.value_col), self.edges))
        return full_agg(binned, self._hist_groups(), self.sum_cols)

    def _ivm_delta(self, changes):
        # bin BOTH images so the stock delta subtracts from the old
        # bin and adds to the new one; the pre-image value resolves
        # through the shared _pre_image_col (key columns have no
        # _old_ twin), and _old__hbin is what the stock delta's own
        # resolver finds for the removal side
        pre = _pre_image_col(changes)
        binned = changes.withColumn(
            _BIN, bin_expr(F.col(self.value_col), self.edges)
        ).withColumn(
            f"_old_{_BIN}",
            bin_expr(F.col(pre(self.value_col)), self.edges),
        )
        return changelog_delta(binned, self._hist_groups(), self.sum_cols)

    def _ivm_merge(self, old, delta):
        return merge_agg(old, delta, self._hist_groups(), self.add_cols)

    # ------------------------------------------------------------ read
    def read(self) -> DataFrame:
        """One row per (group, bin) with its count and the bin's
        [lo, hi) value range (NULL lo for underflow, NULL hi for
        overflow, NULL bin for NULL values)."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        self._check_edges(cur)
        e = F.array(*[F.lit(x) for x in self.edges])
        b = F.col(_BIN)
        df = self.spark.read.parquet(cur["path"])
        sums = [
            F.when(F.col(f"_nn_{c}") > 0, F.col(c)).alias(f"sum_{c}")
            for c in self.sum_cols
        ]
        return df.select(
            *self.group_cols,
            b.alias("bin"),
            F.when((b >= 1), F.element_at(e, b)).alias("bin_lo"),
            F.when(b < len(self.edges), F.element_at(e, b + 1)).alias(
                "bin_hi"
            ),
            F.col(COUNT_COL),
            *sums,
        )

    def _check_edges(self, cur: dict) -> None:
        if cur.get("edges", self.edges) != self.edges:
            raise ValueError(
                "view stores different bin edges than this handle: use a "
                "handle constructed with the stored edges"
            )
        if cur.get("nan_bin") != self._NAN_BIN:
            raise ValueError(
                "view state predates the NaN-to-NULL-bin semantics — "
                "delete the view directory and refresh again"
            )

    def quantiles(self, qs: list[float], weight: str | None = None) -> DataFrame:
        """Histogram-estimated quantiles per group: cumulative-count
        walk over the sorted bins, linear interpolation inside the
        landing bin, edge bins clamped to their finite boundary —
        error ≤ the landing bin's width, O(groups × bins), zero
        base-data IO. NULL-value rows are excluded from the walk (SQL
        percentile semantics) but a group whose values are ALL NULL
        still appears, with n_values=0 and NULL estimates — dropping
        it entirely would silently lose the group for consumers
        joining against read() (review-found).

        ``weight``: a ``sum_cols`` column to walk by instead of row
        counts — WEIGHTED quantiles ("the median token lives in a
        document of length X" via weight="n_tok"). Weights must be
        non-negative; n_values then reports total weight."""
        for q in qs:
            if not (0.0 <= q <= 1.0):
                raise ValueError(f"quantile {q} outside [0, 1]")
        if weight is not None and weight not in self.sum_cols:
            raise ValueError(
                f"weight {weight!r} is not a maintained sum column "
                f"{self.sum_cols}: construct the view with it in sum_cols"
            )
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        self._check_edges(cur)
        df = self.spark.read.parquet(cur["path"])
        if weight is not None:
            # enforce the documented non-negativity contract (ADVICE
            # r03): a negative per-bin weight makes the cumulative walk
            # non-monotonic and the F.min over landing bins can pick a
            # bogus bin — fail loudly instead of estimating silently
            # wrong. One bounded job over the view's own tiny
            # O(groups × bins) parquet, weighted path only.
            # NULL-bin rows are exempt: the walk already forces their
            # weight to 0 (see cnt below), so a negative sum there
            # cannot corrupt the estimate (review r04 — refusing them
            # rejected previously-valid calls)
            neg = (
                df.filter(F.col(_BIN).isNotNull() & (F.col(weight) < 0))
                .select(*self.group_cols, _BIN, weight)
                .limit(3)
                .collect()
            )
            if neg:
                raise ValueError(
                    f"weighted quantiles need non-negative per-bin "
                    f"weights; {weight!r} is negative at e.g. "
                    f"{[tuple(r) for r in neg]} — the summed column "
                    "carries negative values, so a mass-weighted walk "
                    "over it is undefined"
                )
        # NULL-bin rows ride along with zero weight so all-NULL groups
        # survive the groupBy; they can never be the landing bin
        wcol = F.col(COUNT_COL) if weight is None else F.col(weight)
        cnt = F.when(F.col(_BIN).isNotNull(), wcol).otherwise(F.lit(0))
        w = (
            Window.partitionBy(*self.group_cols)
            .orderBy(F.col(_BIN).asc_nulls_last())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wt = Window.partitionBy(*self.group_cols)
        cum = df.select(
            *self.group_cols,
            F.col(_BIN),
            F.sum(cnt).over(w).alias("_cum"),
            F.sum(cnt).over(wt).alias("_total"),
            cnt.alias("_cnt"),
        )
        e = F.array(*[F.lit(x) for x in self.edges])
        lo_edge = F.greatest(F.col(_BIN), F.lit(1))
        hi_edge = F.least(F.col(_BIN) + 1, F.lit(len(self.edges)))
        lo = F.element_at(e, lo_edge)
        hi = F.element_at(e, hi_edge)
        out = [F.max("_total").alias("n_values")]
        for q in qs:
            target = F.lit(q) * F.col("_total")
            # first non-NULL bin whose cumulative count reaches the
            # target; an all-NULL group has no landing bin -> NULL
            landing = (
                F.col(_BIN).isNotNull()
                & (F.col("_total") > 0)
                & (F.col("_cum") >= target)
            )
            prev_cum = F.col("_cum") - F.col("_cnt")
            frac = F.when(
                F.col("_cnt") > 0,
                (target - prev_cum) / F.col("_cnt"),
            ).otherwise(F.lit(0.0))
            est = lo + F.greatest(
                F.least(frac, F.lit(1.0)), F.lit(0.0)
            ) * (hi - lo)
            name = f"p{q * 100:g}".replace(".", "_")
            out.append(
                F.min(F.when(landing, est)).alias(name)
            )
        return cum.groupBy(*self.group_cols).agg(*out)

    def bin_widths(self) -> tuple[float, float]:
        """(narrowest, widest) INTERIOR bin width — the a-priori error
        range of an interpolated estimate whose quantile lands in an
        interior bin (which bin a given q lands in depends on the
        data, so no per-q bound is possible up front). Mass clamped
        into the open underflow/overflow bins has no width bound at
        all; pick edges that cover the data."""
        widths = [
            self.edges[i + 1] - self.edges[i]
            for i in range(len(self.edges) - 1)
        ]
        return (min(widths), max(widths))

    def verify(self) -> dict:
        """Exact compare vs a full recompute at the reflected version
        (counts are invertible — the maintained state IS the
        recompute, bit for bit)."""
        cur = self.current()
        if cur is None:
            raise ValueError("view never refreshed")
        self._check_edges(cur)
        live = self.sink.read_state(
            version=cur["version"], columns=self._view_cols()
        ).filter(~F.col("deleted"))
        shape = [*self._hist_groups(), *self.add_cols]
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


def log_edges(lo: float, hi: float, n: int) -> list[float]:
    """n+1 log-spaced edges from lo to hi (both > 0) — the usual
    choice for long-tailed size/duration columns. The endpoints are
    pinned to lo/hi EXACTLY (only interior edges go through exp/log):
    a round-tripped hi can drift a ulp low, silently pushing a value
    equal to hi into the open overflow bin (review-found)."""
    if lo <= 0 or hi <= lo or n < 1:
        raise ValueError("need 0 < lo < hi and n >= 1")
    import math

    step = (math.log(hi) - math.log(lo)) / n
    inner = [
        math.exp(math.log(lo) + i * step) for i in range(1, n)
    ]
    return [float(lo), *inner, float(hi)]


def histogram_quantile_py(
    counts: list[tuple[int, int]], edges: list[float], q: float
) -> float | None:
    """Driver-side twin of ``quantiles`` for one group — used by
    tests to cross-check the Spark arithmetic independently.

    Mirrors the Spark walk's degenerate cases exactly (review r04):
    no bins / all-NULL bins / zero total mass → ``None``, matching
    the NULL estimate quantiles() emits when no landing bin exists
    (``_total > 0`` fails); previously this twin returned
    ``edges[-1]`` there and could pin a wrong oracle value."""
    counts = sorted((b, n) for b, n in counts if b is not None)
    total = sum(n for _, n in counts)
    if total <= 0:
        return None
    target = q * total
    best = None
    cum = 0
    for b, n in counts:
        cum += n
        if cum >= target:
            lo = edges[max(b, 1) - 1]
            hi = edges[min(b + 1, len(edges)) - 1]
            frac = (target - (cum - n)) / n if n else 0.0
            est = lo + max(0.0, min(1.0, frac)) * (hi - lo)
            best = est if best is None else min(best, est)
    return best


