"""Self-tests of the benchmark's statistics and open-loop arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import math
import statistics

import pytest

from perfbench import stats


# ------------------------------------------------- percentile support rule
def test_p90_needs_100_samples_for_10_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)


def test_p50_needs_20_samples():
    assert stats.supported(20, 50)
    assert not stats.supported(19, 50)


def test_summarize_flags_unsupported_percentiles():
    s = stats.summarize([float(i) for i in range(1, 31)])
    assert s["n"] == 30
    assert s["p50_supported"] and not s["p90_supported"]


# ----------------------------------------------------- failures as +inf
def test_failure_counts_as_inf_in_percentiles():
    ok = [1.0] * 9
    # one failure in ten: p90 still meets a 1 s limit, p100 does not
    assert stats.percentile(ok + [stats.FAILED], 90) == 1.0
    assert stats.percentile(ok + [stats.FAILED], 100) == math.inf
    # two in ten: p90 misses it
    assert stats.percentile(ok[:8] + [stats.FAILED] * 2, 90) == math.inf
    # enough failures push the median itself past every limit
    assert stats.percentile([1.0] * 4 + [stats.FAILED] * 6, 50) == math.inf


def test_summarize_failure_reaches_p90():
    s = stats.summarize([0.5, stats.FAILED, 0.7])
    assert s["p50"] == 0.7
    assert s["p90"] == math.inf


def test_failure_makes_mean_inf():
    assert stats.mean([0.5, 0.7]) == pytest.approx(0.6)
    assert stats.mean([0.5, stats.FAILED, 0.7]) == math.inf
    assert math.isnan(stats.mean([]))


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 20) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert math.isnan(stats.percentile([], 50))
    with pytest.raises(ValueError):
        stats.percentile(xs, 0)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


# ------------------------------------------------------------- open loop
def test_due_times_fixed_schedule():
    assert stats.due_times(100.0, 1.5, 4) == [100.0, 101.5, 103.0, 104.5]
    with pytest.raises(ValueError):
        stats.due_times(0.0, 0.0, 3)


def test_n_due_counts_items_inside_window():
    assert stats.n_due(10.0, 1.5) == 7  # due at 0, 1.5, ..., 9.0
    assert stats.n_due(9.0, 1.5) == 6  # 9.0 itself is outside [0, 9)
    assert stats.n_due(0.0, 1.5) == 0


def test_freshness_is_measured_from_due_time_not_release():
    due = [0.0, 1.0, 2.0]
    # the generator released item 1 late, the engine stalled on item 2
    released = [0.0, 1.4, 2.0]
    committed = [0.6, 2.0, None]
    assert stats.lags(released, due) == pytest.approx([0.0, 0.4, 0.0])
    fresh = stats.freshness(committed, due)
    assert fresh[:2] == pytest.approx([0.6, 1.0])
    assert fresh[2] == stats.FAILED


def test_stall_shows_in_every_later_item():
    # a schedule that does not slow down: one 3 s stall delays the
    # commits of the items due during it, and their freshness says so
    due = stats.due_times(0.0, 1.0, 4)
    committed = [3.5, 3.9, 4.2, 4.4]
    assert stats.freshness(committed, due) == pytest.approx([3.5, 2.9, 2.2, 1.4])

