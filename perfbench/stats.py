"""Percentiles with a sample-count rule, quartile spreads and span
self time."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples
# lie beyond it; below that it is one or two outliers, not a tail.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100) by linear interpolation
    between closest ranks, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it. The median is always reported."""
    if not values:
        return None
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    xs = sorted(values)
    beyond = math.floor(len(xs) * (100 - q) / 100)
    if q != 50 and beyond < MIN_BEYOND:
        return None
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> float | None:
    """The highest whole percentile that has at least ``MIN_BEYOND``
    samples beyond it, or the median when none has."""
    if not values:
        return None
    q = math.floor(100 - 100 * MIN_BEYOND / len(values))
    return percentile(values, q) if q > 50 else percentile(values, 50)


def summary(values: list[float]) -> dict:
    """Median, p90 (None under the sample-count rule), geometric mean,
    quartiles and sample count of one timing."""
    out = {"n": len(values), "p50": percentile(values, 50), "p90": percentile(values, 90)}
    if values and min(values) > 0:
        out["geomean"] = math.exp(statistics.fmean(math.log(v) for v in values))
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3)
    return out


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def self_time(spans: list[dict]) -> dict[int, float]:
    """Seconds of each span not covered by its direct children.

    ``spans`` are dicts with ``id``, ``parent``, ``start`` and ``end``.
    Children may overlap each other; the covered part is the union of
    their intervals clipped to the parent."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
