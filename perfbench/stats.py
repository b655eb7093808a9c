"""Arithmetic the benchmark reports with: medians, quartile spread,
interval unions and result fingerprints."""

from __future__ import annotations

import hashlib
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def median_of_kinds(latencies: dict) -> float:
    """Typical query latency: the median, over the query kinds, of each
    kind's median latency. A median pooled over kinds of very different
    cost would fall in the gap between two kinds and jump with them."""
    return median(median(v) for v in latencies.values())


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / q2


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def fingerprint(rows: dict) -> str:
    """Order-free hash of a canonical result ``{key: (values...)}``.
    Floats are rounded to 9 significant digits so that a different
    summation order across Spark tasks does not change the hash."""
    h = hashlib.sha256()
    for key in sorted(rows):
        vals = tuple(None if v is None else float(f"{v:.9g}") for v in rows[key])
        h.update(repr((key, vals)).encode())
    return h.hexdigest()
