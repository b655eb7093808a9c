"""Seeded inputs for the benchmark workloads.

Everything the engine sees is generated here, before any timing
starts, from the ``--seed`` argument alone: the same seed gives
byte-identical inputs. The seed only changes sample values; times,
series and batch shapes are fixed, so every seed does the same work.

Data model: 5 metrics ``m0``..``m4`` x the first ``n_hosts`` of the
hosts ``h0``..``h19``, labels ``{host, dc}`` with ``dc`` one of 3
values, one sample per minute starting at ``T0_MS``. The value array
``[metric, host, minute]`` fixes the host count for everything built
from it.
"""

from __future__ import annotations

import os

import numpy as np

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, hour- and day-aligned
MIN_MS = 60_000
HOUR_MS = 60 * MIN_MS
DAY_MS = 24 * HOUR_MS

METRICS = tuple(f"m{i}" for i in range(5))
HOSTS = tuple(f"h{i}" for i in range(20))
DCS = ("dc0", "dc1", "dc2")


def dc_of(host_index: int) -> str:
    return DCS[host_index % len(DCS)]


def series_values(seed: int, n_hosts: int, minutes: int) -> np.ndarray:
    """Values indexed ``[metric, host, minute]``: a per-series level plus
    noise, rounded to 3 decimals so the staged Parquet and the row dicts
    carry exactly the same doubles."""
    rng = np.random.default_rng(seed)
    level = rng.uniform(10.0, 90.0, size=(len(METRICS), n_hosts, 1))
    noise = rng.normal(0.0, 5.0, size=(len(METRICS), n_hosts, minutes))
    return np.round(level + noise, 3)


def hosts_of(values: np.ndarray) -> tuple:
    return HOSTS[:values.shape[1]]


def stage_parquet(values: np.ndarray, first_minute: int, minutes: int, path: str) -> int:
    """Write samples ``[first_minute, first_minute + minutes)`` of every
    series as one Parquet file in the engine's input shape
    ``(ts, name, labels, value)``; returns the sample count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = T0_MS + (first_minute + np.arange(minutes, dtype=np.int64)) * MIN_MS
    hosts = hosts_of(values)
    names, labels = [], []
    for m in METRICS:
        for h, host in enumerate(hosts):
            names += [m] * minutes
            labels += [[("host", host), ("dc", dc_of(h))]] * minutes
    table = pa.table(
        {
            "ts": np.tile(ts, len(METRICS) * len(hosts)),
            "name": names,
            "labels": pa.array(labels, type=pa.map_(pa.string(), pa.string())),
            "value": values[:, :, first_minute:first_minute + minutes].reshape(-1),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table.num_rows


def scrape_batch(values: np.ndarray, first_minute: int, minutes: int) -> list[dict]:
    """One remote-write style batch: every series' samples for
    ``minutes`` minutes from ``first_minute``, as Python row dicts."""
    rows = []
    for mi, m in enumerate(METRICS):
        for h, host in enumerate(hosts_of(values)):
            labels = {"host": host, "dc": dc_of(h)}
            for k in range(first_minute, first_minute + minutes):
                rows.append(
                    {
                        "ts": T0_MS + k * MIN_MS,
                        "name": m,
                        "labels": dict(labels),
                        "value": float(values[mi, h, k]),
                    }
                )
    return rows
