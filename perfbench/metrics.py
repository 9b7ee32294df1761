"""Pure metric arithmetic for the benchmark (no Spark, no I/O).

Kept separate from the runner so it can be tested on synthetic records.
"""

from __future__ import annotations

import math

# A tail percentile is reported only when at least this many samples lie
# beyond it; otherwise the figure would be one or two unlucky ops.
MIN_BEYOND = 10


def percentile(values: list[float], pct: float, steps: int = 64) -> float:
    """Harrell-Davis estimate of the ``pct`` percentile (0 < pct < 100) of
    a non-empty list: every order statistic weighted by the probability
    that a Beta(p (n + 1), (1 - p) (n + 1)) variable falls in its share of
    [0, 1].  A run pools a few dozen latencies of a fixed set of op kinds,
    so any single order statistic jumps from one op kind to the next
    between runs; the weighted estimate moves smoothly."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < pct < 100.0:
        raise ValueError(f"percentile {pct} outside (0, 100)")
    ordered = sorted(values)
    n = len(ordered)
    a, b = pct / 100.0 * (n + 1), (1.0 - pct / 100.0) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(x: float) -> float:
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)

    # midpoint rule on each order statistic's interval [i/n, (i+1)/n]
    h = 1.0 / (n * steps)
    weights = [sum(density((i * steps + k + 0.5) * h) for k in range(steps)) * h
               for i in range(n)]
    return sum(w * v for w, v in zip(weights, ordered)) / sum(weights)


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples rank strictly above the nearest-rank
    position of the ``pct`` percentile."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def highest_tail_pct(n: int, min_beyond: int = MIN_BEYOND) -> int:
    """The highest whole percentile with ``min_beyond`` samples beyond it
    at ``n`` samples (0 when ``n`` is too small for any)."""
    for pct in range(99, 0, -1):
        if samples_beyond(n, pct) >= min_beyond:
            return pct
    return 0


def tail_latency(values: list[float], pct: float) -> float:
    """``pct`` percentile of ``values``; refuses when fewer than
    ``MIN_BEYOND`` samples lie beyond it."""
    beyond = samples_beyond(len(values), pct)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{pct:g} of {len(values)} samples has only {beyond} beyond it"
        )
    return percentile(values, pct)


def error_rate(attempted: int, raised: int, gate_failed: int) -> float:
    """(ops that raised + ops whose result failed the gate) / attempted.

    An op that raised has no result to check, so it is never also counted
    as a gate failure by the caller; the two counts are simply summed."""
    if attempted <= 0:
        raise ValueError("error rate of no attempts")
    failed = raised + gate_failed
    if failed > attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


def bytes_per_user_byte(table_bytes: int, user_bytes: int) -> float:
    """Bytes the table directory holds on disk per byte of user data
    committed to it (manifests, superseded files and compaction copies
    all count against the table)."""
    if user_bytes <= 0:
        raise ValueError("no user bytes committed")
    return table_bytes / user_bytes


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
