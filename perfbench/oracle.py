"""Independent numpy answers for the dashboard panels.

Each function returns the canonical result ``{key: (values...)}``
computed straight from the generated sample array
``values[metric, host, minute]`` (one sample per minute from ``T0_MS``),
following the query semantics the engine documents: ``from``-anchored
step cells, ``avg = sum / count``, a sliding window cell ``b`` covering
samples in ``[b - window, b]``, and grid-aligned reads (downsample,
``*_all``, Prometheus range) taking the sample at the grid point.
"""

from __future__ import annotations

import numpy as np

from inputs import DCS, MIN_MS, T0_MS, dc_of, hosts_of


def _minute(t: int) -> int:
    return (t - T0_MS) // MIN_MS


def _cells(from_ms: int, to_ms: int, step_ms: int) -> list[int]:
    return [from_ms + k * step_ms for k in range((to_ms - from_ms) // step_ms + 1)]


def tumbling(values, metric, funcs, from_ms, to_ms, step_ms, only=None) -> dict:
    """Per-series step cells over ``[from, to]``: ``(host, t) -> funcs``."""
    out = {}
    per = step_ms // MIN_MS
    for h, host in enumerate(hosts_of(values)):
        if only is not None and host not in only:
            continue
        for t in _cells(from_ms, to_ms, step_ms):
            seg = values[metric, h, _minute(t):_minute(t) + per]
            stats = {"sum": seg.sum(), "max": seg.max(), "avg": seg.sum() / len(seg)}
            out[(host, t)] = tuple(float(stats[f]) for f in funcs)
    return out


def dc_sums(values, metric, from_ms, to_ms, step_ms) -> dict:
    """Sum per ``(dc, t)`` over the hosts of each dc."""
    per = step_ms // MIN_MS
    out = {}
    for d, dc in enumerate(DCS):
        rows = [h for h in range(values.shape[1]) if dc_of(h) == dc]
        for t in _cells(from_ms, to_ms, step_ms):
            out[(dc, t)] = (float(values[metric, rows, _minute(t):_minute(t) + per].sum()),)
    return out


def windowed_sum(values, metric, from_ms, to_ms, step_ms, window_ms) -> dict:
    """Cell ``b`` sums the samples with ``b - window <= ts <= b``."""
    out = {}
    last = values.shape[2] - 1
    for h, host in enumerate(hosts_of(values)):
        for t in _cells(from_ms, to_ms, step_ms):
            lo, hi = _minute(t - window_ms), min(_minute(t), last)
            out[(host, t)] = (float(values[metric, h, lo:hi + 1].sum()),)
    return out


def grid_points(values, metric, from_ms, to_ms, step_ms, only=None) -> dict:
    """The sample at each grid point: ``(host, t) -> (value,)``."""
    return {
        (host, t): (float(values[metric, h, _minute(t)]),)
        for h, host in enumerate(hosts_of(values)) if only is None or host in only
        for t in _cells(from_ms, to_ms, step_ms)
    }


def cross_sum(values, metric, from_ms, to_ms, step_ms) -> dict:
    """Sum across series of the grid-point samples: ``(t,) -> (sum,)``."""
    return {
        (t,): (float(values[metric, :, _minute(t)].sum()),)
        for t in _cells(from_ms, to_ms, step_ms)
    }


def raw(values, metric, from_ms, to_ms) -> dict:
    lo, hi = _minute(from_ms), _minute(to_ms)
    return {
        (host, T0_MS + k * MIN_MS): (float(values[metric, h, k]),)
        for h, host in enumerate(hosts_of(values))
        for k in range(lo, min(hi, values.shape[2] - 1) + 1)
    }


def compare(got: dict, want: dict, tol: float = 1e-6) -> str | None:
    """``None`` when keys match exactly and every value is within
    ``tol`` (relative, absolute below 1); otherwise what differs."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    missing = set(want) - set(got)
    if missing:
        return f"{len(missing)} keys missing, e.g. {sorted(missing)[0]}"
    for key, w in want.items():
        g = got[key]
        if len(g) != len(w):
            return f"{key}: {len(g)} values != {len(w)}"
        for a, b in zip(g, w):
            if a is None or not np.isfinite(a) or abs(a - b) > tol * max(1.0, abs(b)):
                return f"{key}: {g} != {w}"
    return None
