"""Write the optimized plans of the benchmark's queries to one file, so
two checkouts can be diffed plan by plan.

    python tools/plan_identity.py OUT_FILE [--calls]
    python tools/plan_identity.py OUT_FILE --append

Builds a table shaped like the ``dashboard`` workload's (7 days x 6
hosts x 5 metrics at 1/min, 1h rollups, a ``dc`` pre-aggregate) and
one shaped like the ``live`` workload's preload (1 hour of 20 hosts,
appended as row dicts). Then it runs the 10 dashboard panels, taken
read-only from ``perfbench/dashboard.py``, and the 2 live checks, and
records the plan of every DataFrame each one collects:
``queryExecution().optimizedPlan()`` with the ``#<id>`` expression ids
stripped and PySpark's generated lambda variables (``x_<n>``, numbered
per process) renamed ``k``, the name the engine's SQL-text lambdas use. Run it in each checkout (it imports the engine next to it)
and ``diff`` the two files.

``--calls`` also prints, per query, the Py4J round trips and the
milliseconds its build took before its first collect (median of
five passes).

``--append`` instead times steady ``live``-shaped appends: after the
preload and four warm-up batches, five 1,000-sample batches, each
appended as row dicts. It prints, per ``localCheckpoint``, ``collect``
and ``DataFrameWriter.parquet`` call of an append, the Spark jobs and
milliseconds the call took (medians over the five appends), and the
jobs run outside those calls; OUT_FILE gets the optimized plan of each
checkpoint and write.
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
PASSES = 5


def _session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("plan-identity")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class _Probe:
    """Counts Py4J round trips and captures each collected plan."""

    def __init__(self, spark):
        DataFrame = type(spark.range(0))  # the session's concrete class
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.build = None  # (calls, ms) at the first collect
        self.plans: list[str] = []
        send, collect = self.client.send_command, DataFrame.collect
        probe = self

        def counted(*a, **k):
            probe.calls += 1
            return send(*a, **k)

        def captured(df):
            if probe.build is None:
                probe.build = (probe.calls, (time.perf_counter() - probe.t0) * 1e3)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            probe.plans.append(re.sub(r"\bx_\d+", "k", re.sub(r"#\d+", "", plan)))
            return collect(df)

        self.client.send_command = counted
        DataFrame.collect = captured

    def run(self, fn):
        self.calls, self.build, self.plans = 0, None, []
        self.t0 = time.perf_counter()
        fn()
        return self.plans, self.build


def _dashboard(spark, work):
    import dashboard
    from inputs import series_values, stage_parquet
    from v3io_tsdb_spark import TSDBAdapter, TSDBConfig

    values = series_values(1, dashboard.N_HOSTS, dashboard.DAYS * 1440)
    stage = os.path.join(work, "stage")
    for d in range(dashboard.DAYS):
        stage_parquet(values, d * 1440, 1440, os.path.join(stage, f"day{d}.parquet"))
    adapter = TSDBAdapter(
        spark, os.path.join(work, "dashboard"),
        TSDBConfig(aggregation_granularity="1h", pre_aggregates=(("dc",),)),
    ).create()
    adapter.append(spark.read.parquet(stage))
    return [
        (f"panel.{p.name}", lambda p=p: dashboard.query(adapter, p))
        for p in dashboard.PANELS
    ]


def _live(spark, work):
    import live
    from inputs import MIN_MS, T0_MS, scrape_batch, series_values
    from v3io_tsdb_spark import SelectParams, TSDBAdapter, TSDBConfig

    values = series_values(1, len(live.HOSTS), live.PRELOAD_MIN)
    adapter = TSDBAdapter(
        spark, os.path.join(work, "live"),
        TSDBConfig(aggregation_granularity="1h", pre_aggregates=(("dc",),)),
    ).create()
    adapter.append(scrape_batch(values, 0, live.PRELOAD_MIN))
    # the two checks ``live.run`` makes after the preload
    end = live.PRELOAD_MIN
    raw = SelectParams(name="m1", from_time=T0_MS + (end - live.BATCH_MIN) * MIN_MS,
                       to_time=T0_MS + end * MIN_MS - 1)
    lo, hi = live._rollup_window(end)
    cnt = SelectParams(name="m1", functions="count", step="6h", from_time=lo, to_time=hi)
    return [
        ("live.check_raw", lambda: adapter.querier().select(raw).collect()),
        ("live.check_rollup", lambda: adapter.querier().select(cnt).collect()),
    ]


def _plan_text(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"\bx_\d+", "k", re.sub(r"#\d+", "", plan))


def _append_calls(spark, work, passes: int = PASSES) -> list[str]:
    """Per-call jobs and ms of steady ``live``-shaped appends; returns
    the plan lines (see the module docstring)."""
    import live
    from inputs import scrape_batch, series_values
    from v3io_tsdb_spark import TSDBAdapter, TSDBConfig

    warmup = live.WARMUP_CYCLES
    minutes = live.PRELOAD_MIN + (warmup + passes) * live.BATCH_MIN
    values = series_values(1, len(live.HOSTS), minutes)
    adapter = TSDBAdapter(
        spark, os.path.join(work, "live"),
        TSDBConfig(aggregation_granularity="1h", pre_aggregates=(("dc",),)),
    ).create()
    adapter.append(scrape_batch(values, 0, live.PRELOAD_MIN))
    sc = spark.sparkContext
    DataFrame = type(spark.range(0))  # the session's concrete classes
    DataFrameWriter = type(spark.range(0).write)
    calls: list = []  # (name, jobs, ms) of the current append
    plans: list = []
    outer = {"group": None}

    def jobs_of(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def wrap(owner, attr):
        raw = getattr(owner, attr)

        def timed(self, *a, **k):
            if outer["group"] is None:
                return raw(self, *a, **k)
            group = f"{outer['group']}-{len(calls)}"
            sc.setJobGroup(group, attr)
            t0 = time.perf_counter()
            try:
                return raw(self, *a, **k)
            finally:
                ms = (time.perf_counter() - t0) * 1e3
                sc.setJobGroup(outer["group"], "append")
                calls.append((attr, jobs_of(group), ms))
                if attr != "collect":  # a writer's frame is its _df
                    plans.append((attr, _plan_text(getattr(self, "_df", self))))

        setattr(owner, attr, timed)
        return raw

    raws = [
        (owner, attr, wrap(owner, attr))
        for owner, attr in ((DataFrame, "localCheckpoint"), (DataFrame, "collect"),
                            (DataFrameWriter, "parquet"))
    ]
    per_pass = []
    try:
        for i in range(warmup + passes):
            batch = scrape_batch(values, live.PRELOAD_MIN + i * live.BATCH_MIN, live.BATCH_MIN)
            calls.clear()
            plans.clear()
            outer["group"] = f"append-{i}"
            sc.setJobGroup(outer["group"], "append")
            t0 = time.perf_counter()
            adapter.append(batch)
            total_ms = (time.perf_counter() - t0) * 1e3
            outer["group"] = None
            sc.setJobGroup(None, None)
            if i >= warmup:
                per_pass.append((list(calls), jobs_of(f"append-{i}"), total_ms, list(plans)))
    finally:
        outer["group"] = None
        for owner, attr, raw in raws:
            setattr(owner, attr, raw)
    shape = [[c[0] for c in p[0]] for p in per_pass]
    if any(s != shape[0] for s in shape):
        print("calls differ between appends:", shape, flush=True)
    med = statistics.median
    jobs_in_calls = 0
    for k, name in enumerate(shape[0]):
        jobs = med(p[0][k][1] for p in per_pass)
        jobs_in_calls += jobs
        ms = med(p[0][k][2] for p in per_pass)
        print(f"append {k:2d} {name:16s} jobs {jobs:4.0f} {ms:8.1f} ms", flush=True)
    other = med(p[1] for p in per_pass)
    print(f"append    other            jobs {other:4.0f}", flush=True)
    ms = med(p[2] for p in per_pass)
    print(f"append    total            jobs {other + jobs_in_calls:4.0f} {ms:8.1f} ms", flush=True)
    lines = ["## live.append", ""]
    for k, (name, plan) in enumerate(per_pass[-1][3]):
        lines += [f"### {name} {k}", plan.rstrip(), ""]
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out")
    ap.add_argument("--calls", action="store_true")
    ap.add_argument("--append", action="store_true")
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, BENCH]
    spark = _session()
    if args.append:
        with tempfile.TemporaryDirectory(prefix="plan-identity-") as work:
            lines = _append_calls(spark, work)
        with open(args.out, "w") as f:
            f.write("\n".join(lines))
        spark.stop()
        return 0
    probe = _Probe(spark)
    lines = []
    with tempfile.TemporaryDirectory(prefix="plan-identity-") as work:
        queries = _dashboard(spark, work) + _live(spark, work)
        for name, fn in queries:
            builds = []
            for _ in range(PASSES if args.calls else 1):
                plans, build = probe.run(fn)
                builds.append(build)
            lines += [f"## {name}", ""]
            for i, plan in enumerate(plans):
                lines += [f"### collect {i}", plan.rstrip(), ""]
            if args.calls:
                calls = statistics.median(b[0] for b in builds)
                ms = statistics.median(b[1] for b in builds)
                print(f"{name:28s} build {calls:6.0f} Py4J calls {ms:7.1f} ms", flush=True)
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
