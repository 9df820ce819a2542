"""HistogramView: exact-IVM binned histograms + quantile serving.
Counts per (group, bin) are delete-invertible, so — unlike the
minmax/distinct/sample views — NO refresh ever rescans: inserts,
bin-moving updates and deletes are all additive arithmetic, and
verify() is a bit-exact recompute compare. Quantile estimates are
pinned against a driver-side python twin and against the true values
within one bin width."""

import pytest
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.histogram import (
    HistogramView,
    histogram_quantile_py,
    log_edges,
)
from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sources import table_meta as tm

EDGES = [0.0, 10.0, 20.0, 50.0, 100.0]


def _apply(spark, sink, bid, rows):
    """rows: (op, seq, doc_id, grp, v)"""
    sink.apply_batch(
        spark.createDataFrame(
            rows, "op string, op_sequence long, doc_id string, grp string, v double"
        ),
        bid,
    )


@pytest.fixture()
def pair(spark, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4)
    view = HistogramView(
        spark, sink, str(tmp_path / "v"), ["grp"], "v", EDGES
    )
    return sink, view


def _hist(view, grp):
    return {
        r["bin"]: (r["bin_lo"], r["bin_hi"], r["n_rows"])
        for r in view.read().filter(F.col("grp").eqNullSafe(F.lit(grp))).collect()
    }


def test_histogram_lifecycle(spark, pair):
    sink, view = pair
    _apply(spark, sink, "b1", [
        ("I", 1, "a1", "g0", 5.0),     # bin 1 [0, 10)
        ("I", 2, "a2", "g0", 15.0),    # bin 2 [10, 20)
        ("I", 3, "a3", "g0", 15.5),    # bin 2
        ("I", 4, "a4", "g0", -3.0),    # bin 0 underflow
        ("I", 5, "a5", "g0", 250.0),   # bin 5 overflow
        ("I", 6, "a6", "g0", None),    # NULL bin
        ("I", 7, "b1", None, 30.0),    # NULL group key
    ])
    assert view.refresh()["mode"] == "full"
    assert view.verify()["ok"]
    h = _hist(view, "g0")
    assert h[1] == (0.0, 10.0, 1) and h[2] == (10.0, 20.0, 2)
    assert h[0] == (None, 0.0, 1)            # underflow: open below
    assert h[5] == (100.0, None, 1)          # overflow: open above
    assert h[None][2] == 1                   # NULL values counted apart
    assert _hist(view, None)[3] == (20.0, 50.0, 1)

    # update moving a value BETWEEN bins: -1 old bin, +1 new bin —
    # pure arithmetic, and the refresh result has no rescan key at all
    _apply(spark, sink, "b2", [("U", 10, "a1", "g0", 45.0)])
    r = view.refresh()
    assert r["mode"] == "incremental" and "rescanned_groups" not in r
    assert view.verify()["ok"]
    h = _hist(view, "g0")
    assert 1 not in h and h[3] == (20.0, 50.0, 1)

    # delete from a shared bin: decrements, never rescans
    _apply(spark, sink, "b3", [("D", 11, "a3", None, None)])
    assert view.refresh()["mode"] == "incremental"
    assert view.verify()["ok"]
    assert _hist(view, "g0")[2] == (10.0, 20.0, 1)

    # bin emptied entirely -> row dropped from the stored view
    _apply(spark, sink, "b4", [("D", 12, "a2", None, None)])
    view.refresh()
    assert 2 not in _hist(view, "g0")
    assert view.verify()["ok"]


def test_histogram_quantiles(spark, pair):
    sink, view = pair
    vals = [float(v) for v in range(0, 100)]          # uniform 0..99
    _apply(spark, sink, "b1", [
        ("I", i + 1, f"d{i}", "g0", v) for i, v in enumerate(vals)
    ] + [("I", 500, "z1", "g0", None)])               # NULL excluded
    view.refresh()
    got = view.quantiles([0.5, 0.9, 1.0]).collect()[0]
    assert got["n_values"] == 100                     # NULL not counted
    # cross-check against the independent python twin
    counts = [
        (r["bin"], r["n_rows"])
        for r in view.read().filter("grp = 'g0'").collect()
    ]
    for q, name in [(0.5, "p50"), (0.9, "p90"), (1.0, "p100")]:
        assert got[name] == pytest.approx(
            histogram_quantile_py(counts, EDGES, q)
        )
    # and against the true quantiles within one bin width
    import numpy as np

    lo_w, hi_w = view.bin_widths()
    for q, name in [(0.5, "p50"), (0.9, "p90")]:
        true = float(np.quantile(vals, q))
        assert abs(got[name] - true) <= hi_w
    assert got["p100"] == 100.0                       # clamped top edge


def test_histogram_all_null_group_survives_quantiles(spark, pair):
    """A group whose values are ALL NULL still appears in quantiles()
    output — n_values=0, NULL estimates — instead of silently
    vanishing (review-found: the old pre-filter dropped it)."""
    sink, view = pair
    _apply(spark, sink, "b1", [
        ("I", 1, "a1", "g0", 5.0),
        ("I", 2, "z1", "gz", None), ("I", 3, "z2", "gz", None),
    ])
    view.refresh()
    got = {r["grp"]: r for r in view.quantiles([0.5]).collect()}
    assert got["gz"]["n_values"] == 0 and got["gz"]["p50"] is None
    assert got["g0"]["n_values"] == 1 and got["g0"]["p50"] is not None


def test_histogram_matches_fresh_build_after_churn(spark, pair):
    sink, view = pair
    _apply(spark, sink, "b1", [
        ("I", i, f"d{i}", f"g{i % 3}", float(i % 120)) for i in range(1, 80)
    ])
    view.refresh()
    _apply(spark, sink, "b2", [
        ("U", 100 + i, f"d{i}", f"g{i % 3}", float((i * 7) % 120))
        for i in range(1, 40)
    ] + [("D", 200, "d5", None, None), ("D", 201, "d6", None, None)])
    view.refresh()
    assert view.verify()["ok"]
    fresh = HistogramView(
        spark, sink, str(sink.root) + "_v2", ["grp"], "v", EDGES
    )
    fresh.refresh()
    a = {tuple(r) for r in view.read().collect()}
    b = {tuple(r) for r in fresh.read().collect()}
    assert a == b


def test_histogram_refusals(spark, tmp_path):
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=2)
    with pytest.raises(ValueError, match="at least 2"):
        HistogramView(spark, sink, str(tmp_path / "v"), ["g"], "v", [1.0])
    with pytest.raises(ValueError, match="strictly increasing"):
        HistogramView(spark, sink, str(tmp_path / "v"), ["g"], "v", [1.0, 1.0, 2.0])
    sink.apply_batch(
        spark.createDataFrame(
            [("I", 1, "d1", "x")],
            "op string, op_sequence long, doc_id string, s string",
        ),
        "b1",
    )
    bad = HistogramView(spark, sink, str(tmp_path / "v"), ["doc_id"], "s", EDGES)
    with pytest.raises(ValueError, match="numeric columns only"):
        bad.refresh()
    with pytest.raises(ValueError, match="outside"):
        bad.quantiles([1.5])


def test_histogram_edges_pinned(spark, pair):
    sink, view = pair
    _apply(spark, sink, "b1", [("I", 1, "d1", "g0", 5.0)])
    view.refresh()
    assert view.current()["edges"] == EDGES
    other = HistogramView(
        spark, sink, view.root, ["grp"], "v", [0.0, 50.0, 100.0]
    )
    _apply(spark, sink, "b2", [("I", 2, "d2", "g0", 6.0)])
    with pytest.raises(ValueError, match="different bin edges"):
        other.refresh()
    with pytest.raises(ValueError, match="stores different bin edges"):
        other.read()
    with pytest.raises(ValueError, match="stores different bin edges"):
        other.quantiles([0.5])
    assert view.refresh()["mode"] == "incremental"
    assert view.verify()["ok"]


def test_histogram_edges_pin_fires_even_on_full_rebuild(spark, pair, monkeypatch):
    """The identity pin must refuse a wrong-edges handle even when the
    refresh window has expired and the template would full-rebuild —
    a silent rebuild under new edges breaks every other handle
    (review-found). The template hands the hook the RAW pointer, so
    the refusal fires before any Spark work."""
    sink, view = pair
    _apply(spark, sink, "b1", [("I", 1, "d1", "g0", 5.0)])
    view.refresh()
    other = HistogramView(
        spark, sink, view.root, ["grp"], "v", [0.0, 99.0]
    )
    _apply(spark, sink, "b2", [("I", 2, "d2", "g0", 6.0)])
    # simulate the expired-incremental-window fallback: the classifier
    # says full rebuild while the pointer still exists
    monkeypatch.setattr(
        tm,
        "classify_window",
        lambda *a, **k: tm.Window(tm.FULL, "snapshot_floor", 2),
    )
    with pytest.raises(ValueError, match="different bin edges"):
        other.refresh()


def test_log_edges(spark):
    e = log_edges(1.0, 1000.0, 3)
    assert e[0] == pytest.approx(1.0) and e[-1] == pytest.approx(1000.0)
    assert e[1] == pytest.approx(10.0) and e[2] == pytest.approx(100.0)
    with pytest.raises(ValueError):
        log_edges(0.0, 10.0, 3)


def test_histogram_weighted_sums_and_quantiles(spark, tmp_path):
    """sum_cols ride the same invertible arithmetic (token MASS per
    length bucket), survive churn exactly, and weight="..." walks the
    quantiles by mass instead of rows — pinned against the python
    twin fed the per-bin sums."""
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4)
    view = HistogramView(
        spark, sink, str(tmp_path / "v"), ["grp"], "v", EDGES,
        sum_cols=["w"],
    )
    rows = [
        ("I", i, f"d{i}", "g0", float(v), float(v) * 10)
        for i, v in enumerate(range(0, 60), start=1)
    ]
    sink.apply_batch(
        spark.createDataFrame(
            rows,
            "op string, op_sequence long, doc_id string, grp string, "
            "v double, w double",
        ),
        "b1",
    )
    view.refresh()
    assert view.verify()["ok"]
    got = {r["bin"]: (r["n_rows"], r["sum_w"]) for r in view.read().collect()}
    # bin 1 = v in [0, 10): rows 0..9, mass 10*(0+..+9) = 450
    assert got[1] == (10, 450.0)
    # churn: move d5 (v=4) out of bin 1 and delete d12 (v=11, bin 2)
    sink.apply_batch(
        spark.createDataFrame(
            [("U", 100, "d5", "g0", 77.0, 40.0),
             ("D", 101, "d12", None, None, None)],
            "op string, op_sequence long, doc_id string, grp string, "
            "v double, w double",
        ),
        "b2",
    )
    r = view.refresh()
    assert r["mode"] == "incremental" and "rescanned_groups" not in r
    assert view.verify()["ok"]
    got = {r["bin"]: (r["n_rows"], r["sum_w"]) for r in view.read().collect()}
    assert got[1] == (9, 410.0)       # lost v=4's mass 40
    # weighted median vs the python twin fed per-bin sums
    q = view.quantiles([0.5], weight="w").collect()[0]
    sums = [
        (r["bin"], int(r["sum_w"])) for r in view.read().collect()
        if r["sum_w"] is not None
    ]
    assert q["p50"] == pytest.approx(histogram_quantile_py(sums, EDGES, 0.5))
    # weighted median sits above the unweighted one (mass grows with v)
    uq = view.quantiles([0.5]).collect()[0]
    assert q["p50"] > uq["p50"]
    with pytest.raises(ValueError, match="not a maintained sum"):
        view.quantiles([0.5], weight="nope")


def test_histogram_nan_goes_to_null_bin(spark, pair):
    """ADVICE r03: float NaN must land in the NULL bin, not the
    overflow bin — Spark orders NaN above every double, so without
    the explicit guard NaN mass masquerades as genuine out-of-range
    values in counts and quantile walks."""
    sink, view = pair
    _apply(spark, sink, "b1", [
        ("I", 1, "a1", "g0", 5.0),              # bin 1
        ("I", 2, "a2", "g0", 250.0),            # bin 5 overflow (real)
        ("I", 3, "a3", "g0", float("nan")),     # NULL bin, NOT overflow
        ("I", 4, "a4", "g0", None),             # NULL bin
    ])
    view.refresh()
    assert view.verify()["ok"]
    h = _hist(view, "g0")
    assert h[5][2] == 1, h      # overflow holds ONLY the real 250.0
    assert h[None][2] == 2, h   # NaN keeps NULL company
    # and the quantile walk never lands on NaN mass: p100 interpolates
    # within real bins (overflow clamps to the last finite edge)
    q = view.quantiles([1.0]).collect()[0]
    assert q["p100"] == 100.0


def test_histogram_weighted_quantiles_refuse_negative_weights(spark, tmp_path):
    """ADVICE r03: quantiles(weight=...) documents non-negative
    weights; a negative per-bin sum must be refused loudly, not walked
    into a silently wrong estimate."""
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=4)
    view = HistogramView(
        spark, sink, str(tmp_path / "v"), ["grp"], "v", EDGES,
        sum_cols=["w"],
    )
    sink.apply_batch(
        spark.createDataFrame(
            [("I", 1, "d1", "g0", 5.0, 10.0),
             ("I", 2, "d2", "g0", 15.0, -4.0)],
            "op string, op_sequence long, doc_id string, grp string, "
            "v double, w double",
        ),
        "b1",
    )
    view.refresh()
    with pytest.raises(ValueError, match="non-negative"):
        view.quantiles([0.5], weight="w")
    # unweighted quantiles stay available on the same view
    assert view.quantiles([0.5]).collect()[0]["p50"] is not None
