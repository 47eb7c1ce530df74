"""Pure summary statistics for the benchmark (no Spark, no I/O)."""

from __future__ import annotations

import statistics
from collections import defaultdict


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# the tail percentile is the highest one with this many samples above it
TAIL_BEYOND = 10


def tail(values) -> dict:
    """The mean of the samples above the highest percentile that still
    has ``TAIL_BEYOND`` samples above it. A run with fewer than
    4 * ``TAIL_BEYOND`` samples keeps a quarter of them (rounded up)
    above instead, so the figure stays an upper tail rather than sliding
    towards the median.
    Averaging the samples above the percentile, rather than reporting
    the one sample at it, keeps the figure off the gap between two
    clusters of op times, where a single sample jumps from run to run."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "percentile": 0.0, "samples": 0, "beyond": 0}
    above = min(TAIL_BEYOND, -(-n // 4))
    k = n - above  # samples at or below the percentile
    return {
        "value": sum(xs[k:]) / above,
        "percentile": round(100.0 * k / n, 2),
        "samples": n,
        "beyond": above,
    }


def union(intervals) -> list[tuple[float, float]]:
    """Merge (start, end) intervals into disjoint sorted intervals."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals) -> float:
    """Total length covered by the union of the intervals."""
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def uncovered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] that none of the intervals covers."""
    return (hi - lo) - covered(clip(intervals, lo, hi))


def self_times(spans) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that
    its children cover. ``spans`` are mappings with id, parent, start,
    end; children of one span may overlap (threads), so the union of
    their intervals is subtracted, clipped to the parent."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: uncovered(s["start"], s["end"], kids.get(s["id"], ()))
        for s in spans
    }
