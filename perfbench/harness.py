"""Runs benchmark operations one at a time (a single closed-loop client),
counts attempts and failures, and — in a traced run — attributes
Spark work and in-process spans to each operation."""

from __future__ import annotations

import os
import sys
import time
import traceback

from stats import median
from tracing import Tracer


def parquet_files(path: str) -> tuple[int, int]:
    """``(count, bytes)`` of the Parquet data files under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Harness:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []  # traced operations' Spark attribution
        self._n = 0
        self._catalyst = 0.0
        self.tracer = None
        if traced:
            from sparkside import JobCounter, OpProbe

            self.tracer = Tracer(counters=JobCounter(spark))
            self.probe = OpProbe(spark)
            self._install()

    # -- operations ----------------------------------------------------------

    def run(self, name: str, fn, check=None):
        """Run one operation; returns ``(ok, seconds, result)``. The time
        covers ``fn`` only; ``check(result)`` runs after it, untimed, and
        returns ``None`` or what is wrong. A problem, or an exception from
        either, counts the operation as failed."""
        self.attempted += 1
        self._n += 1
        op_id = f"op{self._n}"
        tracing = self.traced and self.tracer.enabled
        result, ok = None, False
        if tracing:
            before = self.probe.begin(op_id, name)
            self._catalyst = 0.0
            e0 = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            if tracing:
                with self.tracer.op(op_id, name):
                    t0 = time.perf_counter()  # after the op span's counter reads
                    result = fn()
                    dt = time.perf_counter() - t0
            else:
                result = fn()
                dt = time.perf_counter() - t0
            ok = True
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        if tracing:
            rec = self.probe.end(op_id, before, e0, time.time() * 1000.0)
            rec.update(op=op_id, name=name, wall_s=dt, catalyst_s=self._catalyst)
            self.ops.append(rec)
        if ok and check is not None:
            try:
                problem = check(result)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                problem = "check raised"
            if problem:
                print(f"perfbench: {name} failed its check: {problem}", file=sys.stderr)
                ok = False
        if not ok:
            self.failed += 1
        print(f"perfbench op {name} {dt:.3f}s{'' if ok else ' FAILED'}", file=sys.stderr)
        return ok, dt, result

    # -- traced mode -----------------------------------------------------------

    def _install(self) -> None:
        """Wrap each layer's public entry points where callers look them
        up. ``align_to_grid`` is wrapped twice because the querier binds
        the name at import."""
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        import v3io_tsdb_spark.appender as appender
        import v3io_tsdb_spark.operators.interpolate as interpolate
        import v3io_tsdb_spark.prom as prom
        import v3io_tsdb_spark.querier as querier
        import v3io_tsdb_spark.rollup as rollup
        import v3io_tsdb_spark.sql.parser as parser
        from v3io_tsdb_spark.adapter import TSDBAdapter
        from v3io_tsdb_spark.catalog import NamesCatalog
        from sparkside import catalyst_s

        t = self.tracer
        t.wrap(TSDBAdapter, "append", "adapter.append",
               probe=lambda args: {"files": parquet_files(args[0].path)[0]})
        t.wrap(TSDBAdapter, "querier", "adapter.querier")
        t.wrap(TSDBAdapter, "_check_series_kinds", "adapter.kinds_check")
        for fn in ("normalize_samples", "validate_samples", "prepare_for_write"):
            t.wrap(appender, fn, f"appender.{fn}")
        t.wrap(NamesCatalog, "load", "catalog.load")
        t.wrap(NamesCatalog, "merge_batch", "catalog.merge_batch")
        t.wrap(rollup, "build_rollup", "rollup.build_rollup")
        t.wrap(rollup, "build_label_rollup", "rollup.build_label_rollup")
        t.wrap(querier.Querier, "select", "querier.select")
        t.wrap(interpolate, "align_to_grid", "interpolate.align_to_grid")
        t.wrap(querier, "align_to_grid", "interpolate.align_to_grid")
        t.wrap(parser, "run_sql", "sql.run_sql")
        t.wrap(prom, "select_series", "prom.select_series")
        t.wrap(DataFrame, "localCheckpoint", "spark.checkpoint")
        t.wrap(DataFrameWriter, "parquet", "spark.write")

        harness = self
        raw_collect = DataFrame.collect

        def collect(df):
            rows = raw_collect(df)
            if harness.tracer.enabled:
                harness._catalyst += catalyst_s(df)
            return rows

        t.patch(DataFrame, "collect", collect)

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.unwrap_all()

    def layer_metrics(self, panel_names, table_path: str, table_samples: int,
                      host_pre: dict, host_post: dict, overhead: tuple) -> dict:
        """Every per-layer metric, as medians per call or per operation."""
        t = self.tracer
        out = {}

        def put(name, value, unit):
            out[name] = {"value": float(value), "unit": unit}

        def per_call(span_name, field="s"):
            spans = t.named(span_name)
            if field == "s":
                return median(s["end"] - s["start"] for s in spans)
            if field == "self_s":
                return median(t.self_time(s) for s in spans)
            return median(s["counters"].get(field, 0) for s in spans)

        put("adapter.append.s", per_call("adapter.append"), "s")
        put("adapter.append.self_s", per_call("adapter.append", "self_s"), "s")
        put("adapter.append.jobs", per_call("adapter.append", "jobs"), "count")
        put("adapter.append.files", per_call("adapter.append", "files"), "count")
        _, size = parquet_files(os.path.join(table_path, "samples"))
        put("adapter.bytes_per_sample", size / max(table_samples, 1), "bytes")
        put("adapter.querier.s", per_call("adapter.querier"), "s")
        for fn in ("normalize_samples", "validate_samples", "prepare_for_write"):
            put(f"appender.{fn}.s", per_call(f"appender.{fn}"), "s")
        put("appender.validate_samples.jobs", per_call("appender.validate_samples", "jobs"), "count")
        put("catalog.load.s", per_call("catalog.load"), "s")
        put("catalog.merge_batch.s", per_call("catalog.merge_batch"), "s")
        put("rollup.build_rollup.s", per_call("rollup.build_rollup"), "s")
        put("rollup.build_label_rollup.s", per_call("rollup.build_label_rollup"), "s")
        put("querier.select.s", per_call("querier.select"), "s")
        put("querier.select.jobs", per_call("querier.select", "jobs"), "count")
        for p in panel_names:
            put(f"panel.{p}.p50_s", median(
                o["wall_s"] for o in self.ops if o["name"] == f"panel.{p}"), "s")
        put("interpolate.align_to_grid.s", per_call("interpolate.align_to_grid"), "s")
        put("sql.run_sql.s", per_call("sql.run_sql"), "s")
        put("prom.select_series.s", per_call("prom.select_series"), "s")
        for key, unit in (("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
                          ("task_run_s", "s"), ("task_cpu_s", "s"),
                          ("shuffle_bytes", "bytes"), ("gc_s", "s"),
                          ("catalyst_s", "s"), ("driver_gap_s", "s")):
            put(f"spark.{key}", median(o[key] for o in self.ops), unit)
        put("host.spin_ms", (host_pre["spin_ms"] + host_post["spin_ms"]) / 2, "ms")
        put("host.load1", host_pre["load1"], "load")
        untraced, traced = overhead
        put("trace.cycle_untraced_s", untraced, "s")
        put("trace.cycle_traced_s", traced, "s")
        put("trace.overhead_ratio", traced / untraced if untraced else 0.0, "ratio")
        return out
