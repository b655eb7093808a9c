"""Per-series gap / completeness report.

Answers "which series have holes, and how big?" — the monitoring
counterpart of interpolation (which FILLS holes; this one measures
them, the check a scrape pipeline runs before trusting a rollup).

Per series over its own [first, last] sample envelope on a fixed grid:

- ``expected``: wall-aligned grid buckets the envelope spans,
- ``present``: distinct buckets that actually hold a sample,
- ``missing``: expected − present,
- ``max_gap_ms``: largest timestamp delta between consecutive samples.

Plan shape: ONE scan of the samples, one hash-partition by series for
the ``lag`` window, then a single per-series aggregate (max gap,
min/max ts, count-distinct bucket) that arrives already partitioned by
its key — no second scan, no join. Nothing materializes the grid
itself: ``expected`` is arithmetic on first/last, so a series with a
year-long hole costs the same as a dense one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from v3io_tsdb_spark.operators.bucketing import wall_bucket


def gap_report(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    step_ms: int = 21_600_000,
) -> DataFrame:
    """One row per series: expected/present/missing bucket counts and
    the largest inter-sample gap (ms)."""
    w = Window.partitionBy(*series_cols).orderBy(ts_col)
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    agg = (
        df.withColumn("_gap", gap)
        .groupBy(*series_cols)
        .agg(
            F.max("_gap").alias("max_gap_ms"),
            F.min(ts_col).alias("_first"),
            F.max(ts_col).alias("_last"),
            F.count_distinct(wall_bucket(ts_col, step_ms)).alias("present"),
        )
    )
    expected = (
        F.floor(F.col("_last") / step_ms) - F.floor(F.col("_first") / step_ms) + 1
    ).cast("long")
    return (
        agg.withColumn("expected", expected)
        .withColumn("missing", (F.col("expected") - F.col("present")).cast("long"))
        .drop("_first", "_last")
    )


def interarrival_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts_ms",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key inter-arrival gap statistics — the bot/automation screen
    (human traffic is bursty, cv ≈ 1 Poisson-like or higher; scripted
    traffic is metronomic, cv → 0; a cron job shows cv ≈ 0 AND a
    repeated modal gap). Per key with ≥2 events:

    - ``n_gaps``: consecutive-event gap count,
    - ``mean_gap_ms`` / ``cv_gap``: mean and coefficient of variation
      (sample stddev / mean; null when <2 gaps — no verdict),
    - ``min_gap_ms``: the burst floor (0 = same-ms events).

    Event order is (ts, id) so equal-ms bursts measure deterministically.
    Plan shape: one key-hash exchange shared by the lag window and the
    per-key aggregate — the gap_report pattern exactly; output is
    |keys|-sized.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    gap = (F.col(ts_col) - F.lag(ts_col).over(w)).cast("double")
    agg = (
        df.withColumn("_gap", gap)
        .groupBy(key_col)
        .agg(
            F.count("_gap").cast("long").alias("n_gaps"),
            F.avg("_gap").alias("mean_gap_ms"),
            F.stddev_samp("_gap").alias("_sd"),
            F.min("_gap").cast("long").alias("min_gap_ms"),
        )
        .where(F.col("n_gaps") >= 1)
    )
    return agg.select(
        key_col,
        "n_gaps",
        "mean_gap_ms",
        F.try_divide(F.col("_sd"), F.col("mean_gap_ms")).alias("cv_gap"),
        "min_gap_ms",
    )


def absent_buckets(
    df: DataFrame,
    series_cols: tuple = ("name",),
    ts_col: str = "ts",
    step_ms: int = 3_600_000,
    from_ms: int = 0,
    to_ms: int = 0,
) -> DataFrame:
    """PromQL ``absent()`` analog: the buckets where a KNOWN series
    reported nothing — the alert you need when an exporter dies,
    because every threshold rule silently passes on missing data
    (the complement of the reference's empty-bucket suppression, A10
    pkg/aggregate/iterator.go; gap_report summarizes holes per
    series, this MATERIALIZES them as rows a rule can fire on).

    The series universe is the distinct key set observed in the
    window (absent() on a never-seen series is unanswerable from data
    alone — PromQL shares the blind spot). Densification is
    scan-free: the stream reduces to its distinct (series, bucket)
    grid (partial-aggregable), the |series|-row key set explodes a
    ``sequence()`` of bucket starts — |series|×|buckets| GENERATED
    rows, never a data-sized explode — and the observed grid
    anti-joins away. Output is exactly the holes.
    """
    bucket = (
        F.lit(from_ms)
        + F.floor((F.col(ts_col) - from_ms) / step_ms) * step_ms
    ).cast("long")
    grid = (
        df.where(F.col(ts_col).between(from_ms, to_ms))
        .select(*series_cols, bucket.alias("t"))
        .distinct()
    )
    expected = (
        grid.select(*series_cols)
        .distinct()
        .select(
            *series_cols,
            F.explode(
                F.sequence(
                    F.lit(from_ms),
                    F.lit(from_ms + ((to_ms - from_ms) // step_ms) * step_ms),
                    F.lit(step_ms),
                )
            ).alias("t"),
        )
    )
    holes = expected.join(grid, [*series_cols, "t"], "left_anti")
    return holes.select(*series_cols, "t", F.lit(1).alias("absent"))
