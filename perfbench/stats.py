"""Pure statistics used by the benchmark: medians, the sample-count rule
for tail percentiles, the driver's quartile spread, and span self time.

No Spark, no I/O: everything here is unit-tested in ``perfbench/tests``.
"""

from __future__ import annotations

import re
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two unlucky draws, not a tail.
MIN_BEYOND = 10
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest ladder percentile with at least ``min_beyond`` of ``n``
    samples beyond it, or None when the sample supports only the median."""
    for p in PERCENTILE_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= min_beyond:  # 100 - 99.9 is inexact
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median plus the highest supportable tail percentile, with the
    sample count they rest on."""
    out = {"n": len(values), "p50": median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(n=4)`` — the
    run-to-run spread rule a metric's bound is checked against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def covered(interval: tuple[float, float], others: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``others``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in others if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def check_metric_names(entries: list[dict]) -> None:
    """Raise ValueError unless every metric entry has a valid, unique
    name and a valid unit."""
    seen = set()
    for e in entries:
        name, unit = e.get("name", ""), e.get("unit", "")
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.match(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if name in seen:
            raise ValueError(f"duplicate metric name {name!r}")
        seen.add(name)
