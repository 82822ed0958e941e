"""Summary statistics and metric-name rules shared by the benchmark and its tests."""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# percentiles the benchmark may report, lowest first
LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def valid_name(name):
    """True when ``name`` may name a metric or a workload."""
    return NAME_RE.fullmatch(name) is not None


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered) - 1e-9))
    return ordered[rank - 1]


def samples_beyond(n, p):
    """How many of ``n`` samples lie above the nearest-rank ``p``-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n - 1e-9))


def highest_percentile(n, ladder=LADDER, min_beyond=MIN_BEYOND):
    """The highest percentile of ``ladder`` with at least ``min_beyond`` of
    ``n`` samples beyond it, or None when even the lowest has fewer."""
    best = None
    for p in ladder:
        if samples_beyond(n, p) >= min_beyond:
            best = p
    return best
