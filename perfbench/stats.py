"""Order statistics and open-loop arithmetic for the benchmark.

Pure Python, no Spark: the self-tests import this module directly.

- A percentile is reported with its sample count, and it is *supported*
  only when at least ``MIN_BEYOND`` samples lie beyond it.
- A failed operation is a sample of ``+inf``: it misses every latency
  limit, so it can only push a percentile up.
- The open-loop schedule is fixed in advance: item ``i`` is due at
  ``t0 + i * interval`` whether or not the engine kept up, and every
  latency is measured from the due time.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
FAILED = math.inf


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in (0, 100]); ``+inf`` samples
    (failed ops) sort last. ``nan`` for an empty sample."""
    if not 0 < p <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {p}")
    if not values:
        return math.nan
    ordered = sorted(values)
    return ordered[_rank(len(ordered), p) - 1]


def _rank(n: int, p: float) -> int:
    # rounded first: 99.9 / 100 * 10_000 is 9990.000000000002 in floats
    return max(math.ceil(round(p * n / 100, 9)), 1)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly beyond the nearest-rank
    ``p``-th percentile."""
    return n - _rank(n, p) if n else 0


def supported(n: int, p: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when a sample of ``n`` has at least ``min_beyond`` values
    beyond its ``p``-th percentile (p90 needs n >= 100, p50 n >= 20)."""
    return samples_beyond(n, p) >= min_beyond


def summarize(values: list[float]) -> dict:
    """p50/p90 with the sample count, failures included as ``+inf``."""
    n = len(values)
    return {
        "n": n,
        "p50": percentile(values, 50),
        "p90": percentile(values, 90),
        "p50_supported": supported(n, 50),
        "p90_supported": supported(n, 90),
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def mean(values: list[float]) -> float:
    """Arithmetic mean; one failed op (``+inf``) makes it ``+inf``.
    Gated where a sample is too small for a supported percentile."""
    return statistics.fmean(values) if values else math.nan


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(
    values, n=4)`` gives them — the run-to-run spread a bound is
    compared against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ------------------------------------------------------------ open loop
def due_times(t0: float, interval_s: float, n: int) -> list[float]:
    """Fixed schedule: item ``i`` is due at ``t0 + i * interval_s``."""
    if interval_s <= 0:
        raise ValueError(f"interval must be positive, got {interval_s}")
    return [t0 + i * interval_s for i in range(n)]


def n_due(window_s: float, interval_s: float) -> int:
    """Items due inside ``[0, window_s)`` of a schedule starting at 0."""
    if interval_s <= 0:
        raise ValueError(f"interval must be positive, got {interval_s}")
    return max(0, math.ceil(window_s / interval_s))


def lags(actual: list[float], due: list[float]) -> list[float]:
    """How late each item was released after its due time (the
    generator's own lateness; health only)."""
    return [a - d for a, d in zip(actual, due)]


def freshness(commit_ts: list[float | None], due: list[float]) -> list[float]:
    """Per item: commit time minus due time; an item never committed
    is a failure (``+inf``)."""
    return [FAILED if c is None else c - d for c, d in zip(commit_ts, due)]

