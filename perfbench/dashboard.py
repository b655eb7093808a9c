"""``dashboard``: repeated refreshes of a fixed 10-panel set over a
read-only table, one panel per querier route.

Set-up backfills a table with 1h rollups and a ``dc`` pre-aggregate
from staged Parquet, 7 days x 30 series x 1/min (302,400 samples) in
one append: the session's first, so it pays the JVM's warm-up as a real
backfill does, and the ingest metrics time it. A raw query must then
return the newest samples, and one warm-up refresh is checked against
``oracle``. Every timed refresh must reproduce the warm-up results
exactly (same fingerprint).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import oracle
from inputs import DAY_MS, HOUR_MS, MIN_MS, T0_MS, series_values, stage_parquet
from stats import fingerprint, median, median_of_kinds

DAYS = 7
N_HOSTS = 6
END_MS = T0_MS + DAYS * DAY_MS - 1
NOMINAL_REFRESH_S = 8.0  # one warm refresh on a 4-core host


@dataclass(frozen=True)
class Panel:
    name: str
    kind: str  # "select" | "sql" | "prom"
    params: dict
    keys: tuple  # canonical key fields
    cols: tuple  # canonical value columns
    sql: str = ""
    want: object = field(default=None, compare=False)  # values -> canonical dict


def _last(span_ms: int) -> dict:
    return {"from_time": END_MS + 1 - span_ms, "to_time": END_MS}


WEEK = {"from_time": T0_MS, "to_time": END_MS}

PANELS = (
    Panel("rollup_week", "select",
          dict(name="m1", functions="sum,avg,max", step="6h", **WEEK),
          ("host", "t"), ("sum", "avg", "max"),
          want=lambda v: oracle.tumbling(v, 1, ("sum", "avg", "max"), T0_MS, END_MS, 6 * HOUR_MS)),
    Panel("label_rollup_dc", "select",
          dict(name="m2", functions="sum", step="1d", group_by="dc", **WEEK),
          ("dc", "t"), ("sum",),
          want=lambda v: oracle.dc_sums(v, 2, T0_MS, END_MS, DAY_MS)),
    Panel("client_avg_5m", "select",
          dict(name="m1", functions="avg", step="5m", **_last(DAY_MS)),
          ("host", "t"), ("avg",),
          want=lambda v: oracle.tumbling(v, 1, ("avg",), END_MS + 1 - DAY_MS, END_MS, 5 * MIN_MS)),
    Panel("groupby_host", "select",
          dict(name="m2", functions="max", step="1h", group_by="host", **_last(DAY_MS)),
          ("host", "t"), ("max",),
          want=lambda v: oracle.tumbling(v, 2, ("max",), END_MS + 1 - DAY_MS, END_MS, HOUR_MS)),
    Panel("cross_sum_all", "select",
          dict(name="m3", functions="sum_all", step="10m", **_last(6 * HOUR_MS)),
          ("t",), ("sum",),
          want=lambda v: oracle.cross_sum(v, 3, END_MS + 1 - 6 * HOUR_MS, END_MS, 10 * MIN_MS)),
    Panel("downsample_linear", "select",
          dict(name="m0", step="1m", interpolator="linear", filter="host=='h3'", **_last(HOUR_MS)),
          ("host", "t"), ("value",),
          want=lambda v: oracle.grid_points(v, 0, END_MS + 1 - HOUR_MS, END_MS, MIN_MS, only=("h3",))),
    Panel("raw_recent", "select",
          dict(name="m4", **_last(HOUR_MS)),
          ("host", "t"), ("value",),
          want=lambda v: oracle.raw(v, 4, END_MS + 1 - HOUR_MS, END_MS)),
    Panel("windowed_3h", "select",
          dict(name="m1", functions="sum", step="1h", aggregation_window="3h", **_last(2 * DAY_MS)),
          ("host", "t"), ("sum",),
          want=lambda v: oracle.windowed_sum(v, 1, END_MS + 1 - 2 * DAY_MS, END_MS, HOUR_MS, 3 * HOUR_MS)),
    Panel("sql_panel", "sql",
          dict(step="6h", **WEEK),
          ("t",), ("sum(m1)", "max(m1)"),
          sql="select sum(m1), max(m1) from tsdb where host=='h5'",
          want=lambda v: {(t,): vals for (_, t), vals in oracle.tumbling(
              v, 1, ("sum", "max"), T0_MS, END_MS, 6 * HOUR_MS, only=("h5",)).items()}),
    Panel("prom_range", "prom",
          dict(name="m0", step="5m", **_last(6 * HOUR_MS)),
          ("host", "t"), ("value",),
          want=lambda v: oracle.grid_points(v, 0, END_MS + 1 - 6 * HOUR_MS, END_MS, 5 * MIN_MS)),
)


def _key_field(row, f):
    if f == "host":
        return row["labels"]["host"] if "labels" in row else row["host"]
    if f == "t":
        return row["t"] if "t" in row else row["time"]
    return row[f]


def canonical(panel: Panel, result) -> dict:
    """Engine result -> ``{key: (values...)}`` on the panel's fields."""
    if panel.kind == "prom":
        return {
            (s.labels["host"], t): (v,)
            for s in result for t, v in s.points
        }
    rows = {}
    for r in result:
        d = r.asDict()
        key = tuple(_key_field(d, f) for f in panel.keys)
        if key in rows:
            raise ValueError(f"duplicate key {key}")
        rows[key] = tuple(d[c] for c in panel.cols)
    return rows


def query(adapter, panel: Panel):
    """Select build through collect, via the layer the panel exercises."""
    from v3io_tsdb_spark import SelectParams
    import v3io_tsdb_spark.prom as prom
    import v3io_tsdb_spark.sql.parser as parser

    if panel.kind == "prom":
        return prom.select_series(adapter.querier(), SelectParams(**panel.params))
    if panel.kind == "sql":
        return parser.run_sql(adapter.querier(), panel.sql, **panel.params).collect()
    return adapter.querier().select(SelectParams(**panel.params)).collect()


def prepare(work: str, seed: int) -> dict:
    """Generate and stage every input before the session starts."""
    values = series_values(seed, N_HOSTS, DAYS * 1440)
    stage = os.path.join(work, "stage")
    n = sum(
        stage_parquet(values, d * 1440, 1440, os.path.join(stage, f"day{d}.parquet"))
        for d in range(DAYS)
    )
    return {"values": values, "stage": stage, "samples": n}


def refreshes_for(seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_REFRESH_S))


def run(spark, h, inputs: dict, work: str, seconds: float, t_setup0: float) -> dict:
    from v3io_tsdb_spark import SelectParams, TSDBAdapter, TSDBConfig

    values = inputs["values"]
    path = os.path.join(work, "tsdb")
    adapter = TSDBAdapter(
        spark, path, TSDBConfig(aggregation_granularity="1h", pre_aggregates=(("dc",),))
    ).create()
    # -- set-up: backfill, freshness check, one checked warm-up refresh --
    # (a traced run traces the backfill, the only append in this workload)
    if h.traced:
        h.tracer.enabled = True
    _, append_s, _ = h.run(
        "backfill.append", lambda: adapter.append(spark.read.parquet(inputs["stage"]))
    )
    newest = dict(name="m1", from_time=END_MS + 1 - 10 * MIN_MS, to_time=END_MS)
    want_newest = oracle.raw(values, 1, newest["from_time"], END_MS)
    _, check_s, _ = h.run(
        "backfill.check",
        lambda: adapter.querier().select(SelectParams(**newest)).collect(),
        check=lambda rows: oracle.compare(
            {(r["labels"]["host"], r["t"]): (r["value"],) for r in rows}, want_newest),
    )
    if h.traced:
        h.tracer.enabled = False
    prints = {}
    for p in PANELS:
        want = p.want(values)

        def first_check(result, p=p, want=want):
            got = canonical(p, result)
            prints[p.name] = fingerprint(got)
            return oracle.compare(got, want)

        h.run(f"panel.{p.name}", lambda p=p: query(adapter, p), check=first_check)
    setup_s = time.perf_counter() - t_setup0

    # -- timed loop: a fixed number of refreshes --
    n = refreshes_for(seconds)
    latencies, refresh_s = {p.name: [] for p in PANELS}, []
    traced_cycles, untraced_cycles = [], []
    # a traced run interleaves untraced and traced cycles (U T T U ...,
    # so a warming trend favours neither), at least two of each, and the
    # tracing overhead compares their medians
    for i in range(2 * max(n, 2) if h.traced else n):
        if h.traced:
            h.tracer.enabled = i % 4 in (1, 2)
        total = 0.0
        for p in PANELS:
            _, dt, _ = h.run(
                f"panel.{p.name}", lambda p=p: query(adapter, p),
                check=lambda res, p=p: None if fingerprint(canonical(p, res)) == prints.get(p.name)
                else "result differs from the first refresh",
            )
            total += dt
            latencies[p.name].append(dt)
        refresh_s.append(total)
        (traced_cycles if h.traced and h.tracer.enabled else untraced_cycles).append(total)

    return {
        "metrics": {
            "setup_s": (setup_s, "s"),
            "query_p50_s": (median_of_kinds(latencies), "s"),
            "refresh_p50_s": (median(refresh_s), "s"),
            "append_p50_s": (append_s, "s"),
            "ingest_samples_per_s": (inputs["samples"] / append_s, "samples/s"),
            "freshness_p50_s": (append_s + check_s, "s"),
        },
        "notes": {"refreshes": n},
        "table_path": path,
        "table_samples": inputs["samples"],
        "panels": [p.name for p in PANELS],
        "overhead": (median(untraced_cycles), median(traced_cycles)),
    }
