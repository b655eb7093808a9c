"""tsdbctl-style CLI (ref: pkg/tsdbctl — create/add/query/info/delete).

    python -m v3io_tsdb_spark.cli create -p /tmp/tsdb --granularity 1h
    python -m v3io_tsdb_spark.cli add -p /tmp/tsdb cpu os=linux -d 12.5 -t now
    python -m v3io_tsdb_spark.cli add -p /tmp/tsdb -f samples.csv
    python -m v3io_tsdb_spark.cli query -p /tmp/tsdb "select avg(cpu) from tsdb" -a "now-1d"
    python -m v3io_tsdb_spark.cli info -p /tmp/tsdb
    python -m v3io_tsdb_spark.cli delete -p /tmp/tsdb -a "now-7d" -e now
"""

from __future__ import annotations

import argparse
import sys

from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.errors import TSDBError
from v3io_tsdb_spark.formatters import FORMATS, format_df
from v3io_tsdb_spark.labels import labels_from_string
from v3io_tsdb_spark.querier import SelectParams
from v3io_tsdb_spark.timeutils import get_time_range, str2unix_ms


def _spark(cpus: str = "*"):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("v3io-tsdb-spark-cli")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _adapter(args):
    from v3io_tsdb_spark.adapter import TSDBAdapter

    return TSDBAdapter(_spark(), args.path)


def cmd_create(args):
    from v3io_tsdb_spark.adapter import TSDBAdapter

    cfg = TSDBConfig(
        aggregation_granularity=args.granularity,
        retention_hours=args.retention_hours,
        ingestion_rate=args.rate or "",
    )
    TSDBAdapter(_spark(), args.path, cfg).create(if_not_exists=args.if_not_exists)
    print(f"created TSDB at {args.path} (granularity {args.granularity})")


def cmd_version(args):
    """Engine + runtime versions (ref: pkg/tsdbctl/version.go — prints
    the build's version/branch/revision; here the package version plus
    the PySpark build it runs on, the analogous provenance)."""
    from v3io_tsdb_spark import __version__

    try:
        import pyspark

        spark_v = pyspark.__version__
    except Exception:  # pragma: no cover - pyspark is a hard dep
        spark_v = "unknown"
    print(f"v3io-tsdb-spark {__version__} (pyspark {spark_v})")


def cmd_time(args):
    """RFC 3339 ⇄ Unix conversions (ref: pkg/tsdbctl/time.go:41-47)."""
    import time as _time

    from v3io_tsdb_spark.timeutils import str2unix_ms

    if args.time is None:
        print(int(_time.time()))
        return
    s = str(args.time)
    if s.isdigit():  # unix seconds → RFC 3339
        from datetime import datetime, timezone

        print(datetime.fromtimestamp(int(s), tz=timezone.utc)
              .strftime("%Y-%m-%dT%H:%M:%SZ"))
    else:  # RFC 3339 / relative → unix seconds
        print(str2unix_ms(s) // 1000)


def cmd_sweep(args):
    """Retention sweep (extension: the reference expires partitions in
    partmgr; here it is an explicit maintenance command)."""
    dropped = _adapter(args).retention_sweep()
    if not dropped:
        print("retention disabled (retention_hours=0)")
        return
    for table, parts in dropped.items():
        print(f"{table}: dropped {len(parts)} partition(s)"
              + (f" ({', '.join(parts)})" if parts else ""))


def cmd_compact(args):
    """Compaction maintenance (extension: the reference consolidates
    chunks inline on UpdateItem, pkg/appender/store.go:374-397; here
    it is an explicit command). Safe under concurrent readers: each
    compaction is one table-log commit."""
    ad = _adapter(args)
    ad.compact_samples(target_file_mb=args.target_file_mb or None)
    ad.compact_rollup()
    print("compacted samples + rollup")


def cmd_add(args):
    a = _adapter(args)
    if args.file:
        # CSV rows: name,labels,value[,time] (ref: pkg/tsdbctl/add.go:39-328)
        import csv

        rows = []
        with open(args.file) as f:
            for rec in csv.reader(f):
                if not rec or rec[0].startswith("#"):
                    continue
                name, labels, value = rec[0], rec[1], rec[2]
                t = str2unix_ms(rec[3]) if len(rec) > 3 and rec[3] else str2unix_ms("now")
                row = {"ts": t, "name": name, "labels": labels_from_string(labels)}
                try:
                    row["value"] = float(value)
                except ValueError:
                    row["value_str"] = value
                rows.append(row)
        a.append(rows)
        print(f"appended {len(rows)} samples from {args.file}")
        return
    if not args.metric or args.value is None:
        raise TSDBError("either -f FILE or metric + -d VALUE is required")
    labels = labels_from_string(args.metric_labels) if args.metric_labels else {}
    def _all_float(s: str) -> bool:
        try:
            for part in s.split(","):
                float(part.strip())  # accepts NaN / Inf / -Inf
        except ValueError:
            return False
        return True

    # Multi-sample only when the TIME string has a comma, or every
    # comma-separated value part parses as a float — a single STRING
    # variant value containing a comma (-d "a,b") must fall through to
    # the value_str path below, not die in the float parser.
    if "," in str(args.time or "") or (
        "," in str(args.value) and _all_float(str(args.value))
    ):
        # multi-sample form: -t t1,t2,... -d v1,v2,... (ref:
        # pkg/tsdbctl/add.go strToTV; golden: add_test.go:37-73 —
        # NaN/Inf/-Inf are valid float values, count mismatch or an
        # unparsable entry is an error, never a silent partial append)
        ts, vs = _str_to_tv(args.time or "", str(args.value))
        rows = [
            {"ts": t, "name": args.metric, "labels": labels, "value": v}
            for t, v in zip(ts, vs)
        ]
        a.append(rows)
        print(f"appended {len(rows)} samples")
        return
    row = {"ts": str2unix_ms(args.time or "now"), "name": args.metric, "labels": labels}
    try:
        row["value"] = float(args.value)
    except ValueError:
        row["value_str"] = args.value
    a.append([row])
    print("appended 1 sample")


def _str_to_tv(times: str, values: str):
    """Parse comma-separated time and value lists (ref:
    pkg/tsdbctl/add.go strToTV, golden add_test.go:37-73)."""
    tparts = [t.strip() for t in times.split(",")] if times else []
    vparts = [v.strip() for v in values.split(",")]
    if len(tparts) != len(vparts):
        raise TSDBError(
            f"number of times ({len(tparts)}) and values ({len(vparts)}) differ"
        )
    ts, vs = [], []
    for t, v in zip(tparts, vparts):
        try:
            ts.append(str2unix_ms(t))
        except Exception as exc:
            raise TSDBError(f"invalid time {t!r}") from exc
        try:
            vs.append(float(v))  # accepts NaN / Inf / -Inf
        except ValueError as exc:
            raise TSDBError(f"invalid value {v!r}") from exc
    return ts, vs


def cmd_query(args):
    a = _adapter(args)
    from_ms, to_ms = get_time_range(args.begin, args.end, last=args.last)
    q = a.querier()
    if args.sql:
        from v3io_tsdb_spark.sql.parser import run_sql

        df = run_sql(q, args.sql, extensions=args.sql_ext,
                     from_time=from_ms, to_time=to_ms,
                     step=args.aggregation_interval or 0)
    else:
        df = q.select(
            SelectParams(
                name=args.metric, functions=args.aggregates,
                step=args.aggregation_interval or 0,
                aggregation_window=args.aggregation_window or 0,
                filter=args.filter, group_by=args.group_by,
                from_time=from_ms, to_time=to_ms,
                use_only_client_aggr=args.use_precise_aggregations,
            )
        )
    sys.stdout.write(format_df(df, args.output))


def cmd_info(args):
    a = _adapter(args)
    print(f"TSDB at {a.path}")
    print(f"config: {a.config.to_json()}")
    if args.names:
        print("metric names:", ", ".join(a.metric_names()))
    if args.performance:
        print("series count:", a.count_metrics())


def cmd_check(args):
    """Storage inspector — the ``tsdbctl check`` analog
    (ref: pkg/tsdbctl/check.go:58-332): where chunk/attribute dumps
    become per-date-partition parquet row-group stats plus a decoded
    sample preview for one metric."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    a = _adapter(args)
    df = a._samples().where(F.col("name") == args.metric)
    if args.filter:
        from v3io_tsdb_spark.sql.filters import translate_filter

        df = df.where(F.expr(translate_filter(args.filter)))
    stats = (
        df.groupBy("dt", "series_id")
        .agg(
            F.count("*").alias("rows"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.first("labels").alias("labels"),
        )
        .orderBy("dt", "series_id")
    )
    rows = stats.collect()
    print(f"metric {args.metric!r}: {len(rows)} (date-partition × series) item(s)")
    for r in rows:
        lbl = ",".join(f"{k}={v}" for k, v in sorted((r["labels"] or {}).items()))
        print(
            f"  dt={r['dt']} series={r['series_id']:016x} rows={r['rows']}"
            f" ts=[{r['min_ts']}..{r['max_ts']}] labels={{{lbl}}}"
        )
    if args.files:
        import os

        a.log.refresh()
        for f in sorted(os.path.join(a.path, f) for f in a.log.files["samples"]):
            meta = pq.ParquetFile(f)
            print(
                f"  file {os.path.relpath(f, a.samples_path)}:"
                f" row_groups={meta.num_row_groups} rows={meta.metadata.num_rows}"
                f" bytes={os.path.getsize(f)}"
            )
    if args.preview:
        for r in df.orderBy("ts").limit(args.preview).collect():
            v = next(
                (r[c] for c in ("value", "value_str", "value_bool", "value_int", "value_blob")
                 if c in df.columns and r[c] is not None),
                None,
            )
            print(f"  sample ts={r['ts']} value={v!r}")


def cmd_delete(args):
    a = _adapter(args)
    if args.delete_all:
        # ref golden: pkg/tsdbctl/delete_test.go:32-49 — --all conflicts
        # with a time range or a filter, with these exact messages
        if args.begin:
            raise TSDBError("delete --all cannot be used in conjunction with --begin")
        if args.filter:
            raise TSDBError("delete --all cannot be used in conjunction with --filter")
        if not args.force:
            raise TSDBError("refusing --all without --force")
        a.delete(delete_all=True)
        print("deleted entire TSDB")
        return
    a.delete(metrics=args.metrics.split(",") if args.metrics else None,
             filter=args.filter, from_time=args.begin, to_time=args.end)
    print("delete completed")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="v3io-tsdb-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("-p", "--path", required=True, help="TSDB base path")

    c = sub.add_parser("create", help="create a new TSDB")
    common(c)
    c.add_argument("--granularity", default="1h")
    c.add_argument("-r", "--rate", default="",
                   help='declared ingestion rate "[0-9]+/[smh]" (e.g. 12/m); '
                        "validated and stored as metadata (ref: tsdbctl create -r)")
    c.add_argument("--retention-hours", type=int, default=0,
                   help="drop partitions older than this (0 = keep forever)")
    c.add_argument("--if-not-exists", action="store_true")
    c.set_defaults(fn=cmd_create)

    t = sub.add_parser("time", help="RFC 3339 / Unix timestamp conversions")
    t.add_argument("time", nargs="?", help="RFC 3339 string or unix seconds; default: now")
    t.set_defaults(fn=cmd_time)

    v = sub.add_parser("version", help="print engine + runtime versions")
    v.set_defaults(fn=cmd_version)

    w = sub.add_parser("sweep", help="apply the retention policy (drop expired partitions)")
    common(w)
    w.set_defaults(fn=cmd_sweep)

    cp = sub.add_parser("compact", help="compact samples + rollup files")
    common(cp)
    cp.add_argument("--target-file-mb", type=int, default=0,
                    help="approximate output file size per partition")
    cp.set_defaults(fn=cmd_compact)

    a = sub.add_parser("add", help="append samples")
    common(a)
    a.add_argument("metric", nargs="?", help="metric name")
    a.add_argument("metric_labels", nargs="?", help='labels "k1=v1,k2=v2"')
    a.add_argument("-d", "--value", help="sample value")
    a.add_argument("-t", "--time", help="sample time (now, unix-ms, RFC3339)")
    a.add_argument("-f", "--file", help="CSV file: name,labels,value[,time]")
    a.set_defaults(fn=cmd_add)

    q = sub.add_parser("query", help="query the TSDB")
    common(q)
    q.add_argument("sql", nargs="?", help="TSDB SQL (select ... from tsdb ...)")
    q.add_argument("--sql-ext", action="store_true",
                   help="enable dialect extensions (ORDER BY / LIMIT); "
                        "off by default for reference fidelity")
    q.add_argument("-m", "--metric", help="metric name(s), comma-separated")
    q.add_argument("-a", "--begin", help="start time")
    q.add_argument("-e", "--end", help="end time")
    q.add_argument("-l", "--last", help="last duration (e.g. 1h)")
    q.add_argument("-i", "--aggregation-interval", help="step")
    q.add_argument("-w", "--aggregation-window", help="sliding window")
    q.add_argument("--aggregates", help="functions, e.g. sum,avg")
    q.add_argument("-f", "--filter", help="filter expression")
    q.add_argument("-g", "--group-by", help="group-by labels")
    # ref: pkg/tsdbctl/query.go:112-114 — force exact client aggregation
    q.add_argument("--use-precise-aggregations", action="store_true",
                   help="disable server-side rollup aggregations for exact results")
    q.add_argument("-o", "--output", default="text", choices=FORMATS)
    q.set_defaults(fn=cmd_query)

    i = sub.add_parser("info", help="show TSDB info")
    common(i)
    i.add_argument("-n", "--names", action="store_true")
    i.add_argument("-m", "--performance", action="store_true")
    i.set_defaults(fn=cmd_info)

    k = sub.add_parser("check", help="inspect a metric's storage items")
    common(k)
    k.add_argument("metric", help="metric name")
    k.add_argument("-f", "--filter", help="filter expression")
    k.add_argument("--files", action="store_true", help="show parquet file stats")
    k.add_argument("--preview", type=int, default=0, help="print first N samples")
    k.set_defaults(fn=cmd_check)

    d = sub.add_parser("delete", help="delete data")
    common(d)
    d.add_argument("-a", "--begin")
    d.add_argument("-e", "--end")
    d.add_argument("-m", "--metrics")
    d.add_argument("-f", "--filter")
    d.add_argument("--all", dest="delete_all", action="store_true")
    d.add_argument("--force", action="store_true")
    d.set_defaults(fn=cmd_delete)
    return p


def main(argv=None):
    args = build_parser().parse_args(argv)
    try:
        args.fn(args)
    except TSDBError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
