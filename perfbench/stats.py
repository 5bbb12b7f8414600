"""Summary statistics and the metric-name rule of the benchmark."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
MIN_BEYOND = 10  # samples that must lie beyond a reported percentile
REPORTED_PERCENTILES = (99.0, 90.0, 50.0)  # highest first


def median(xs) -> float:
    return float(statistics.median(xs))


def median_count(xs) -> int:
    """Median of a count, kept a whole number (the lower middle value)."""
    return int(statistics.median_low(xs))


def _rank(n: int, pct: float) -> int:
    """1-based nearest rank of the pct-th percentile of n samples."""
    return max(1, math.ceil(n * pct / 100.0))


def reportable(n: int, pct: float) -> bool:
    """A percentile is reported only if at least MIN_BEYOND of n samples
    lie beyond it."""
    return n > 0 and n - _rank(n, pct) >= MIN_BEYOND


def percentile(xs, pct: float) -> float:
    """The pct-th percentile of xs (nearest rank); raises if fewer than
    MIN_BEYOND samples lie beyond it."""
    xs = sorted(xs)
    if not reportable(len(xs), pct):
        raise ValueError(
            f"p{pct:g} of {len(xs)} samples has fewer than {MIN_BEYOND} beyond it")
    return float(xs[_rank(len(xs), pct) - 1])


def highest_reportable(n: int) -> float | None:
    """The highest of REPORTED_PERCENTILES reportable from n samples, or
    None."""
    for p in REPORTED_PERCENTILES:
        if reportable(n, p):
            return p
    return None


def spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.fullmatch(name)) and len(name) <= 64
