"""Streaming ingest: readStream → watermark/dedup → foreachBatch append.

Replaces the reference's async ingest pipeline (3 event loops,
per-metric pending lists, elastic queues, UpdateItem expression
builder — ref: pkg/appender/ingest.go:38-146, store.go:292-484) with
the Structured Streaming shape from SURVEY §2.8:

- late data: watermark = the reference's 59-minute
  ``maxLateArrivalInterval`` (ref: pkg/appender/store.go:42);
- duplicates: ``dropDuplicatesWithinWatermark`` on (series_id, ts) —
  the idempotent-upsert analog of the reference's per-series
  monotonicity drop / OverrideOld
  (ref: pkg/appender/store.go:336-352, pkg/config/config.go:146-147);
- each micro-batch runs the same batch append (samples + rollup
  partials, one table-log commit), so batch and streaming ingest share
  one code path;
- recovery: Spark checkpointing replaces the ``_maxtime`` re-read
  state machine (ref: pkg/appender/store.go:137-230);
- ``WaitForCompletion`` (ref: pkg/appender/appender.go:302-334) maps
  to ``query.processAllAvailable()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.appender import normalize_samples
from v3io_tsdb_spark.labels import series_id_col


def prepare_stream(stream_df: DataFrame, watermark: str | None = None) -> DataFrame:
    """Normalize a streaming DataFrame to the samples shape and apply
    watermark + in-stream dedup.

    ``stream_df`` needs (ts, name, labels?, value?/value_str?); ts may
    be a timestamp or epoch-ms long.
    """
    df = stream_df
    dtypes = dict(df.dtypes)
    if not dtypes.get("ts", "").startswith("timestamp"):
        df = df.withColumn("_event_time", F.timestamp_millis(F.col("ts").cast("long")))
    else:
        df = df.withColumn("_event_time", F.col("ts")).withColumn(
            "ts", F.unix_millis(F.col("ts"))
        )
    if "labels" not in df.columns:
        df = df.withColumn("labels", F.create_map().cast("map<string,string>"))
    if "value" not in df.columns:
        df = df.withColumn("value", F.lit(None).cast("double"))
    if "value_str" not in df.columns:
        df = df.withColumn("value_str", F.lit(None).cast("string"))
    df = df.withColumn("series_id", series_id_col())
    wm = watermark or "59 minutes"
    df = df.withWatermark("_event_time", wm)
    df = df.dropDuplicatesWithinWatermark(["series_id", "ts"])
    return df.select("ts", "name", "labels", "series_id", "value", "value_str")


def monotonic_filter_stream(prepared: DataFrame) -> DataFrame:
    """Custom stateful operator: enforce per-series sample-time
    monotonicity, the reference's strict ingest policy of discarding
    samples at-or-older-than the series' last written time when
    ``OverrideOld`` is off (ref: pkg/appender/store.go:336-352,
    pkg/chunkenc/xor.go:192-195; resume-state analog of the `_maxtime`
    re-read, store.go:137-230).

    Implemented with ``applyInPandasWithState`` keyed by ``series_id``:
    state = the series' max accepted ts, carried across micro-batches
    by the streaming state store (checkpointed). State size is one
    int64 per live series — bounded by series cardinality, not data
    volume.
    """
    import pandas as pd  # noqa: F401 (Arrow batches arrive as pandas)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "ts long, name string, labels map<string,string>, "
        "series_id long, value double, value_str string"
    )

    def _accept(key, pdf_iter, state):
        max_ts = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            if max_ts is not None:
                pdf = pdf[pdf["ts"] > max_ts]
            if len(pdf):
                # within-batch: strictly increasing (drop equal-ts dups)
                pdf = pdf[~pdf["ts"].duplicated()]
                max_ts = int(pdf["ts"].iloc[-1])
                yield pdf
        if max_ts is not None:
            state.update((max_ts,))

    return prepared.groupBy("series_id").applyInPandasWithState(
        _accept, out_schema, "max_ts long", "append", GroupStateTimeout.NoTimeout
    )


def start_stream_ingest(
    adapter: TSDBAdapter,
    stream_df: DataFrame,
    checkpoint: str,
    watermark: str | None = None,
    trigger: dict | None = None,
    enforce_monotonic: bool | None = None,
):
    """Start the ingest query. Returns the StreamingQuery; call
    ``.processAllAvailable()`` as the WaitForCompletion analog.

    ``enforce_monotonic`` (default: ``not config.override_old``)
    inserts the stateful per-series monotonicity filter — the
    reference's OverrideOld=false behavior; without it, duplicates are
    dropped within the watermark and, within one micro-batch, on
    (series, ts) — last-write-wins, like OverrideOld=true.

    Exactly-once output: ``foreachBatch`` is at-least-once, so a stream
    restarted after a sink's append but before its offset commit replays
    that micro-batch. The replay has the same content, hence the same
    content key, and the table log commits an append whose key is
    already committed as a no-op: each sample lands once on every
    route (unless a delete or retention sweep lands in between: it
    forgets the keys). A micro-batch that failed before its commit left
    nothing.
    """
    wm = watermark or f"{adapter.config.late_arrival_ms // 1000} seconds"
    prepared = prepare_stream(stream_df, wm)
    if enforce_monotonic is None:
        enforce_monotonic = not adapter.config.override_old
    if enforce_monotonic:
        prepared = monotonic_filter_stream(prepared)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        adapter.append(batch_df, validate=False)

    writer = prepared.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_sessions(
    stream_df: DataFrame,
    gap: str | int = "30m",
    watermark: str | None = None,
    group_cols: tuple = ("name",),
) -> DataFrame:
    """Continuous sessionization of a sample stream: the streaming twin
    of :func:`operators.sessions.sessionize` — same session_window
    aggregation, with the watermark bounding session state so late
    events merge and closed sessions are evicted (the reason sessions
    use the built-in rather than a lag/cumsum island chain, which
    cannot execute incrementally).

    Returns a streaming DataFrame (group_cols..., session_start,
    session_end, n_events, sum_value); write with append output mode
    (sessions emit when the watermark passes their end).
    """
    from v3io_tsdb_spark.timeutils import str2duration_ms

    gap_ms = str2duration_ms(gap)
    df = stream_df
    if not dict(df.dtypes).get("ts", "").startswith("timestamp"):
        df = df.withColumn("_event_time", F.timestamp_millis(F.col("ts").cast("long")))
    else:
        df = df.withColumn("_event_time", F.col("ts"))
    df = df.withWatermark("_event_time", watermark or "59 minutes")
    return (
        df.groupBy(
            F.session_window("_event_time", f"{gap_ms} milliseconds").alias("_sw"),
            *[F.col(c) for c in group_cols],
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            *group_cols,
            F.unix_millis(F.col("_sw.start")).alias("session_start"),
            F.unix_millis(F.col("_sw.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_rollup(
    stream_df: DataFrame,
    step: str | int = "1h",
    watermark: str | None = None,
    group_cols: tuple = ("name",),
) -> DataFrame:
    """Streaming twin of the ingest-time rollup (ref: aggregates
    maintained per bucket at append time, pkg/appender/appender.go:
    220-231): a tumbling event-time window per series computing the
    same count/sum/min/max partial aggregates the batch rollup table
    persists. With append output mode the sink receives exactly the
    watermark-CLOSED buckets (bucket end <= max event time -
    watermark, same eviction tie semantics as session windows —
    pytest-pinned), so a downstream writer can append finalized rollup
    rows without ever rewriting a bucket.

    State is one aggregate row per (open bucket, series) — O(series)
    at any scale, bounded by the watermark horizon.

    Returns a streaming DataFrame (group_cols..., t, count, sum, min,
    max) with ``t`` = bucket start in epoch ms.
    """
    from v3io_tsdb_spark.timeutils import str2duration_ms

    step_ms = str2duration_ms(step)
    df = stream_df
    if not dict(df.dtypes).get("ts", "").startswith("timestamp"):
        df = df.withColumn("_event_time", F.timestamp_millis(F.col("ts").cast("long")))
    else:
        df = df.withColumn("_event_time", F.col("ts"))
    df = df.withWatermark("_event_time", watermark or "59 minutes")
    return (
        df.groupBy(
            F.window("_event_time", f"{step_ms} milliseconds").alias("_w"),
            *[F.col(c) for c in group_cols],
        )
        .agg(
            F.count("value").alias("count"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .select(
            *group_cols,
            F.unix_millis(F.col("_w.start")).alias("t"),
            "count",
            "sum",
            "min",
            "max",
        )
    )


def stream_dedup(
    stream_df: DataFrame,
    key_cols: tuple = ("name", "ts"),
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup on ingest: drop re-deliveries of the same
    ``key_cols`` tuple within the watermark horizon — the streaming twin
    of the batch appender's (series, ts) dedup (ST3; ref: the reference
    tolerates at-least-once upstream delivery and overwrites same-ts
    samples, pkg/appender/store.go:246-289).

    ``dropDuplicatesWithinWatermark`` keeps one state row per key only
    until the watermark passes it — O(keys-per-horizon) state, not
    O(stream) — which is exactly the bound an at-least-once source
    needs (a duplicate older than the watermark is late data, handled
    by the same policy as any late event).
    """
    with_et = stream_df.withColumn("_et", F.timestamp_millis(F.col(ts_col)))
    return (
        with_et.withWatermark("_et", watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
        .drop("_et")
    )
