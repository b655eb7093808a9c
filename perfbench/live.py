"""``live``: scrape-sized appends beside the queries that must see them.

Set-up preloads 1 hour of all 100 series (6,000 samples) through the
same row-dict path the scrapes use, runs the two checks once on the
preload, then runs ``WARMUP_CYCLES`` checked but untimed cycles, so the
timed cycles start where the per-append cost has levelled off. Each
cycle appends the next 10 minutes of all 100 series (1,000 samples,
handed over as row dicts, the remote-write shape) and runs the two
checks: a raw query over the batch's window must return exactly its 200
``m1`` samples, and a rollup-routed ``m1`` count (step 6h over the last
day) must count, in its last cell, exactly the samples ingested in that
cell's span. After the loop a freshly constructed adapter must count
every acknowledged sample.
"""

from __future__ import annotations

import os
import time

from inputs import DAY_MS, HOSTS, HOUR_MS, MIN_MS, T0_MS, scrape_batch, series_values
from stats import median, median_of_kinds

BATCH_MIN = 10
PRELOAD_MIN = 60
NOMINAL_CYCLE_S = 3.3  # append + two checks, warm, on a 4-core host
# the JVM keeps warming over the first cycles after the preload (appends
# of 4.6, 3.9, 3.4, 3.3 s, then 3.1 .. 2.5 s by the eighth), and on a
# busy host that slope runs longer; timing starts after it
WARMUP_CYCLES = 4
MIN_CYCLES = 5
ROLLUP_STEP_MS = 6 * HOUR_MS


def cycles_for(seconds: float) -> int:
    return max(MIN_CYCLES, round(seconds / NOMINAL_CYCLE_S))


def prepare(work: str, seed: int, seconds: float, traced: bool) -> dict:
    """Generate and stage every input before the session starts."""
    n = WARMUP_CYCLES + (max(cycles_for(seconds), 2) * 2 if traced else cycles_for(seconds))
    values = series_values(seed, len(HOSTS), PRELOAD_MIN + n * BATCH_MIN)
    preload = scrape_batch(values, 0, PRELOAD_MIN)
    batches = [scrape_batch(values, PRELOAD_MIN + c * BATCH_MIN, BATCH_MIN) for c in range(n)]
    return {"values": values, "preload": preload, "batches": batches}


def _raw_check(values, first_minute: int):
    want = {
        (host, T0_MS + k * MIN_MS): float(values[1, h, k])
        for h, host in enumerate(HOSTS)
        for k in range(first_minute, first_minute + BATCH_MIN)
    }

    def check(rows):
        got = {(r["labels"]["host"], r["t"]): r["value"] for r in rows}
        return None if got == want else f"raw window returned {len(got)} rows, want {len(want)} exact"

    return check


def _rollup_window(end_minute: int) -> tuple[int, int]:
    to_ms = T0_MS + end_minute * MIN_MS - 1
    from_ms = (to_ms + 1 - DAY_MS) // HOUR_MS * HOUR_MS
    return from_ms, to_ms


def _rollup_check(end_minute: int):
    """Last cell of the 6h count grid: every ingested minute from the
    cell start (or the first sample) up to the newest sample, per host."""
    from_ms, to_ms = _rollup_window(end_minute)
    last_cell = from_ms + (to_ms - from_ms) // ROLLUP_STEP_MS * ROLLUP_STEP_MS
    want_count = end_minute - max(0, (last_cell - T0_MS) // MIN_MS)

    def check(rows):
        cells = {}
        for r in rows:
            host = r["labels"]["host"]
            if r["t"] >= cells.get(host, (-1, 0))[0]:
                cells[host] = (r["t"], r["count"])
        want = {host: (last_cell, float(want_count)) for host in HOSTS}
        got = {host: (t, float(c)) for host, (t, c) in cells.items()}
        return None if got == want else f"last 6h cell {sorted(got.items())[:2]} != {want_count}"

    return check


def run(spark, h, inputs: dict, work: str, seconds: float, t_setup0: float) -> dict:
    from v3io_tsdb_spark import SelectParams, TSDBAdapter, TSDBConfig

    values = inputs["values"]
    path = os.path.join(work, "tsdb")
    config = TSDBConfig(aggregation_granularity="1h", pre_aggregates=(("dc",),))
    adapter = TSDBAdapter(spark, path, config).create()
    acked = 0

    def append(name: str, batch: list) -> float:
        nonlocal acked
        ok, append_s, _ = h.run(name, lambda: adapter.append(batch))
        acked += len(batch) if ok else 0
        return append_s

    def checks(end_minute: int) -> tuple[float, float]:
        first = end_minute - BATCH_MIN
        raw = SelectParams(name="m1", from_time=T0_MS + first * MIN_MS,
                           to_time=T0_MS + end_minute * MIN_MS - 1)
        _, raw_s, _ = h.run(
            "live.check_raw", lambda: adapter.querier().select(raw).collect(),
            check=_raw_check(values, first),
        )
        lo, hi = _rollup_window(end_minute)
        cnt = SelectParams(name="m1", functions="count", step="6h", from_time=lo, to_time=hi)
        _, rollup_s, _ = h.run(
            "live.check_rollup", lambda: adapter.querier().select(cnt).collect(),
            check=_rollup_check(end_minute),
        )
        return raw_s, rollup_s

    append("preload.append", inputs["preload"])
    checks(PRELOAD_MIN)
    for i in range(WARMUP_CYCLES):
        append("warmup.append", inputs["batches"][i])
        checks(PRELOAD_MIN + (i + 1) * BATCH_MIN)
    setup_s = time.perf_counter() - t_setup0

    n = cycles_for(seconds)
    appends, fresh, refresh = [], [], []
    queries = {"raw": [], "rollup": []}
    traced_cycles, untraced_cycles = [], []
    # a traced run interleaves untraced and traced cycles (U T T U ...,
    # so a warming trend favours neither), at least two of each, and the
    # tracing overhead compares their medians
    for i in range(2 * max(n, 2) if h.traced else n):
        if h.traced:
            h.tracer.enabled = i % 4 in (1, 2)
        c = WARMUP_CYCLES + i
        append_s = append("live.append", inputs["batches"][c])
        raw_s, rollup_s = checks(PRELOAD_MIN + (c + 1) * BATCH_MIN)
        appends.append(append_s)
        fresh.append(append_s + raw_s)
        queries["raw"].append(raw_s)
        queries["rollup"].append(rollup_s)
        refresh.append(raw_s + rollup_s)
        total = append_s + raw_s + rollup_s
        (traced_cycles if h.traced and h.tracer.enabled else untraced_cycles).append(total)

    if h.traced:
        h.tracer.enabled = False
    end_ms = T0_MS + (PRELOAD_MIN + (WARMUP_CYCLES + len(appends)) * BATCH_MIN) * MIN_MS - 1
    h.run(
        "reopen.count",
        lambda: TSDBAdapter(spark, path).select(
            SelectParams(from_time=T0_MS, to_time=end_ms)).count(),
        check=lambda n_rows: None if n_rows == acked else f"reopened table counts {n_rows}, acknowledged {acked}",
    )

    batch_samples = len(inputs["batches"][0])
    return {
        "metrics": {
            "setup_s": (setup_s, "s"),
            "query_p50_s": (median_of_kinds(queries), "s"),
            "refresh_p50_s": (median(refresh), "s"),
            "append_p50_s": (median(appends), "s"),
            "ingest_samples_per_s": (batch_samples / median(appends), "samples/s"),
            "freshness_p50_s": (median(fresh), "s"),
        },
        "notes": {"warmup_cycles": WARMUP_CYCLES, "cycles": n,
                  "acknowledged": acked},
        "table_path": path,
        "table_samples": acked,
        "panels": [],
        "overhead": (median(untraced_cycles), median(traced_cycles)),
    }
