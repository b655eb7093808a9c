"""Rollup (pre-aggregate) table maintenance.

The reference maintains per-series, per-bucket aggregate arrays
(count/sum/sqr/min/max/last) updated by server-side expressions at
ingest time (ref: pkg/aggregate/aggregate.go:68-79,
pkg/aggregate/functions.go:30-151, pkg/appender/store.go:374-397).

Spark-first design: the rollup is an **append-only partial-aggregate
log**. Every ingested batch appends one partially-aggregated row per
(series, bucket); the query path (and the optional compactor) merges
partials with the standard mergeable-aggregate algebra:

    count=Σcount, sum=Σsum, sqr=Σsqr, min=min(min), max=max(max),
    last=argmax(last, last_ts)

The algebra is defined once: partials are
``operators.aggregates.raw_agg_exprs`` plus ``max(ts) AS last_ts``
(:func:`_partial_exprs`), and :func:`combine_sql` is the merge that
:func:`merge_partials` and both querier rollup routes use.

This keeps ingest free of read-modify-write (no MERGE needed on plain
Parquet), is idempotent-friendly, and scales: each batch does exactly
one map-side-combinable groupBy. Cross-label pre-aggregates
(ref: pkg/appender/appender.go:220-231) are additional rollup tables
keyed by a label subset.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from v3io_tsdb_spark.labels import labels_map_col, labels_string_col
from v3io_tsdb_spark.operators.aggregates import RAW_AGGREGATES, raw_agg_exprs
from v3io_tsdb_spark.operators.bucketing import wall_bucket

ROLLUP_AGG_COLS = RAW_AGGREGATES + ("last_ts",)
_MERGE = {"count": "sum", "sum": "sum", "sqr": "sum", "min": "min", "max": "max", "last_ts": "max"}


def combine_sql(cols=ROLLUP_AGG_COLS) -> list[str]:
    """Merge expressions (SQL text) combining partial rows into one, per
    column (ref: pkg/aggregate/functions.go:48-79)."""
    return [
        ("max_by(`last`, `last_ts`)" if c == "last" else f"{_MERGE[c]}(`{c}`)") + f" AS `{c}`"
        for c in cols
    ]


def combine_exprs(cols=ROLLUP_AGG_COLS) -> list[Column]:
    """:func:`combine_sql` as Columns."""
    return [F.expr(e) for e in combine_sql(cols)]


def with_rdt(partial: DataFrame) -> DataFrame:
    """Add the ``rdt`` partition column: the UTC date of the bucket start."""
    return partial.withColumn(
        "rdt", F.date_format(F.timestamp_millis(F.col("bucket")), "yyyy-MM-dd")
    )


def _partial_exprs() -> list[Column]:
    return raw_agg_exprs(list(RAW_AGGREGATES)) + [F.max("ts").alias("last_ts")]


def _samples_by_bucket(samples: DataFrame, gran_ms: int) -> DataFrame:
    return samples.where(F.col("value").isNotNull()).withColumn(
        "bucket", wall_bucket("ts", gran_ms)
    )


def _per_series(df: DataFrame, aggs: list) -> DataFrame:
    """One row per (series, bucket) in the rollup table's columns.

    The labels map rides through the groupBy as a serialized group-key
    string (constant per series_id, so groups are unchanged) — a
    map-typed first() would force SortAggregate."""
    return (
        df.withColumn("_lstr", labels_string_col(F.col("labels")))
        .groupBy("name", "series_id", "_lstr", "bucket")
        .agg(*aggs)
        .withColumn("labels", labels_map_col("_lstr"))
        .select("bucket", "name", "labels", "series_id", *ROLLUP_AGG_COLS)
    )


def build_rollup(samples: DataFrame, gran_ms: int) -> DataFrame:
    """Partial rollup rows for a batch of samples (float metrics only)."""
    return _per_series(_samples_by_bucket(samples, gran_ms), _partial_exprs())


def build_label_rollup(samples: DataFrame, gran_ms: int, label_subset: tuple) -> DataFrame:
    """Cross-label pre-aggregate: rollup keyed by a label subset
    (ref: pkg/partmgr/partmgr.go:472-485 agg/<labels>/ path)."""
    keys = [F.element_at(F.col("labels"), k).alias(k) for k in label_subset]
    return (
        _samples_by_bucket(samples, gran_ms)
        .groupBy(F.col("name"), *keys, F.col("bucket"))
        .agg(*_partial_exprs())
    )


def merge_partials(rollup: DataFrame) -> DataFrame:
    """Compact partial rollup rows to one row per (series, bucket)."""
    return _per_series(rollup, combine_exprs())
