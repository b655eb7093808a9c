"""Trailing-window z-score anomaly flags over bucketed series.

The ops question "which hours were abnormal for this metric?": bucket
the stream, then score each bucket against the mean/stddev of the
PRECEDING ``lookback`` buckets of the same series (strictly before the
current one — the score never sees the value it judges).

Plan shape: one partial-aggregable groupBy to bucket counts (output
cardinality = series × buckets, tiny next to the input), then a
bounded ROWS window over that ALREADY-SMALL frame — the window's
per-task state is ``lookback`` rows. The expensive input never meets a
window; at 100 TB the stream is reduced by the groupBy before any
ordered pass, which is the difference between this and scoring raw
samples.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from v3io_tsdb_spark.operators.bucketing import wall_bucket


def bucket_zscores(
    df: DataFrame,
    series_cols: tuple = ("event_type",),
    ts_col: str = "ts_ms",
    step_ms: int = 3_600_000,
    lookback: int = 24,
    min_history: int = 12,
) -> DataFrame:
    """Per (series, bucket): ``n`` events, trailing ``mean``/``std``
    over the previous ``lookback`` buckets, and ``z``.

    Buckets with fewer than ``min_history`` trailing buckets, or zero
    trailing variance, get null ``z`` (no verdict, not z=0). Sample
    stddev (n−1) matches SQL ``stddev_samp``.
    """
    b = wall_bucket(ts_col, step_ms)
    counts = df.groupBy(*series_cols, b.alias("t")).agg(
        F.count(ts_col).alias("n")
    )
    w = (
        Window.partitionBy(*series_cols)
        .orderBy("t")
        .rowsBetween(-lookback, -1)
    )
    mean = F.avg("n").over(w)
    std = F.stddev_samp("n").over(w)
    hist = F.count("n").over(w)
    # hist >= 2 is required even when min_history <= 1: stddev_samp
    # over a 1-row frame is NaN, and Spark sorts NaN ABOVE every
    # number, so `std > 0` alone would pass and make z NaN instead of
    # the documented null "no verdict".
    z = F.when(
        (hist >= min_history) & (hist >= 2) & (std > 0),
        (F.col("n") - mean) / std,
    )
    # stddev_samp over a 1-row frame is NaN in Spark but NULL in SQL
    # engines; normalize to null (no estimate), matching the oracle.
    return counts.select(
        *series_cols,
        "t",
        "n",
        mean.alias("mean"),
        F.when(hist >= 2, std).alias("std"),
        z.alias("z"),
    )


def robust_mad_flags(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
    k: float = 3.0,
) -> DataFrame:
    """Median/MAD robust anomaly flags per series over a bucketed grid:
    flag buckets where ``|x − median| > k · 1.4826 · MAD`` (1.4826
    scales MAD to σ under normality). The z-score screen
    (:func:`bucket_zscores`) uses mean/stddev, which a single extreme
    bucket inflates enough to hide itself — the 50% breakdown point of
    median/MAD is the standard fix (ref has no robust path at all;
    complements, not replaces, the trailing-z operator).

    Two exact-median passes (Spark's ``median`` is the exact
    percentile-0.5, matching SQL engines): per-series median of ``x``,
    then per-series median of ``|x − med|``. Both aggregate the
    ALREADY-BUCKETED grid (series × buckets — output-sized), and the
    two per-series stats frames are broadcast back — series-count
    rows, never data-sized, so the grid itself is shuffled exactly
    once on the series key and reused by both passes.

    Determinism boundary (hash-match contract): ``x``, the medians,
    and the deviations are each rounded at 6 dp before any comparison
    or division, so both engines branch on bit-identical doubles.

    Zero MAD (≥50% of buckets identical): ``robust_z`` is null — the
    ratio is unbounded, so there is no magnitude verdict — but the
    FLAG keeps the strict Hampel inequality ``dev > 0``: when most of
    the series sits exactly at the median, any departure is anomalous
    (the standard Hampel-filter degenerate case).
    """
    eps = 1e-9
    xr = F.round(F.col(x_col) + eps, 6)
    grid = df.select(*series_cols, F.col(t_col), xr.alias("_x"))
    med = grid.groupBy(*series_cols).agg(
        F.round(F.median("_x") + eps, 6).alias("_med")
    )
    dev_frame = grid.join(F.broadcast(med), list(series_cols)).withColumn(
        "_dev", F.round(F.abs(F.col("_x") - F.col("_med")) + eps, 6)
    )
    mad = dev_frame.groupBy(*series_cols).agg(
        F.round(F.median("_dev") + eps, 6).alias("_mad")
    )
    scored = dev_frame.join(F.broadcast(mad), list(series_cols))
    scale = F.lit(1.4826) * F.col("_mad")
    return scored.select(
        *series_cols,
        F.col(t_col),
        F.col("_x").alias(x_col),
        F.col("_med").alias("med"),
        F.col("_mad").alias("mad"),
        (F.round(F.try_divide(F.col("_dev"), scale) + eps, 4) + F.lit(0.0)).alias(
            "robust_z"
        ),
        (F.col("_dev") > F.lit(k) * scale).alias("is_anomaly"),
    )


def trailing_hampel(
    df: DataFrame,
    series_cols: tuple = ("event_type",),
    ts_col: str = "ts_ms",
    step_ms: int = 3_600_000,
    lookback: int = 24,
    min_history: int = 12,
    k: float = 3.0,
) -> DataFrame:
    """Trailing-window Hampel filter over bucketed series: each bucket
    scored against the MEDIAN/MAD of its previous ``lookback`` buckets
    (never itself) — the robust twin of :func:`bucket_zscores`, and
    the form of :func:`robust_mad_flags` that works on an endless
    stream (trailing window = finite state; the global-median variant
    needs the whole series).

    Spark cannot run ``median`` over a framed window
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the trailing frame
    is materialized as a ``collect_list`` array — bounded at
    ``lookback`` elements by the frame itself — and the median / MAD
    are exact array algebra over its sort: mid-pair averaging on the
    sorted values, then the same on |v − med|. Per-row state is
    ``lookback`` values, the identical bound the z-score window
    carries; everything stays JVM-side expressions.

    Determinism: bucket counts are exact integers, so med / dev / MAD
    are exact rationals (denominator ≤ 4) — the flag comparison and
    the z division are identical-input arithmetic on every engine
    with NO rounding boundary at all until the 4-dp output rounding.

    Verdict rules: fewer than ``min_history`` trailing buckets → null
    z and null flag (no verdict); MAD = 0 with enough history → null z
    (unbounded ratio) but the strict Hampel flag ``dev > 0`` stands
    (same degenerate-case rule as :func:`robust_mad_flags`).

    ``is_anomaly`` is a NULLABLE int (1/0/null) rather than a nullable
    boolean: a three-state boolean round-trips through Arrow/pandas as
    an object column on one engine and a masked BooleanDtype on the
    other, which string-normalizes differently ('None' vs '<NA>') and
    breaks hash-level oracle comparison; nullable ints coerce to
    float64+NaN identically everywhere.
    """
    b = wall_bucket(ts_col, step_ms)
    counts = df.groupBy(*series_cols, b.alias("t")).agg(
        F.count(ts_col).alias("n")
    )
    w = (
        Window.partitionBy(*series_cols)
        .orderBy("t")
        .rowsBetween(-lookback, -1)
    )
    arr = F.array_sort(F.collect_list(F.col("n").cast("double")).over(w))
    scored = counts.withColumn("_arr", arr)
    m = F.size(F.col("_arr"))

    def _mid(a: Column, mm: Column) -> Column:
        lo = F.element_at(a, ((mm + 1) / 2).cast("int"))
        hi = F.element_at(a, (mm / 2).cast("int") + 1)
        return (lo + hi) / 2.0

    med = _mid(F.col("_arr"), m)
    devs = F.array_sort(F.transform(F.col("_arr"), lambda v: F.abs(v - med)))
    mad = _mid(devs, m)
    dev = F.abs(F.col("n") - med)
    have = m >= F.greatest(F.lit(min_history), F.lit(1))
    z = F.when(have & (mad > 0), dev / (F.lit(1.4826) * mad))
    flag = F.when(have, (dev > F.lit(k) * (F.lit(1.4826) * mad)).cast("int"))
    return scored.select(
        *series_cols,
        "t",
        "n",
        F.when(have, med).alias("med"),
        F.when(have, mad).alias("mad"),
        (F.round(z + 1e-9, 4) + F.lit(0.0)).alias("z"),
        flag.alias("is_anomaly"),
    )


def alert_episodes(
    flags: DataFrame,
    series_cols: tuple = ("name",),
    t_col: str = "t",
    flag_col: str = "flag",
    value_col: str | None = None,
    step_ms: int = 3_600_000,
) -> DataFrame:
    """Merge consecutive flagged buckets into alert EPISODES — the
    alert-fatigue fix every monitor needs (a 6-hour incident is one
    page, not six): per maximal run of adjacent flagged buckets,
    ``(start_t, end_t, n_buckets, peak)``.

    Classic gaps-and-islands: flagged buckets partition into islands
    where consecutive means exactly ``step_ms`` apart — a HOLE in the
    flag sequence (recovered bucket or missing data) closes the
    episode; a fresh flag after it opens a new one. ``peak`` is the
    max of ``value_col`` over the episode (the worst bucket), null if
    no value column given.

    Composes downstream of ANY flag producer (bucket_zscores,
    robust_mad_flags, trailing_hampel, bollinger breach): those run on
    the grid, this runs on their output — the input is already
    panel-sized, so the island window and episode aggregate are
    output-bounded. One series-keyed exchange shared by the lag window
    and the episode groupBy.
    """
    f = flags.where(F.col(flag_col).cast("int") == 1)
    w = Window.partitionBy(*series_cols).orderBy(t_col)
    new_ep = F.coalesce(
        (F.col(t_col) - F.lag(t_col).over(w) > step_ms).cast("long"),
        F.lit(1),
    )
    e = f.withColumn("_ep", F.sum(new_ep).over(w))
    aggs = [
        F.min(t_col).alias("start_t"),
        F.max(t_col).alias("end_t"),
        F.count("*").cast("long").alias("n_buckets"),
    ]
    if value_col is not None:
        aggs.append(F.max(value_col).alias("peak"))
    return e.groupBy(*series_cols, "_ep").agg(*aggs).drop("_ep")


def seasonal_adjusted_flags(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
    period: int = 7,
    k: float = 2.0,
) -> DataFrame:
    """Seasonally-adjusted anomaly flags — the composition that stops
    a monitor paging every Monday morning: classical decomposition
    (trend.seasonal_decompose) strips the weekly template and the
    trend, then the z-screen runs on the RESIDUALS. A value that is
    huge for a Sunday but normal for a Monday flags; the Monday rush
    itself never does. (Flagging raw values against a flat
    mean — bucket_zscores above — cannot make that distinction; this
    is the documented reason both operators exist.)

    Per series: residual mean/stddev over the buckets with a trend
    verdict (the decomposition's full-window rule), z = (residual −
    mean)/std, flag = |z| > k on 6dp-rounded values. Degenerate
    stddev (constant residuals, <2 samples) → null z, no flag — no
    verdict.

    Plan: the decomposition's one series exchange + broadcast index,
    then per-series residual stats as a WINDOW over the same
    series-keyed panel (no second data-sized exchange) — stats and
    z stay grid-bounded.
    """
    from v3io_tsdb_spark.operators.trend import seasonal_decompose

    dec = seasonal_decompose(
        df, series_cols=series_cols, ts_col=ts_col, value_col=value_col,
        step_ms=step_ms, from_ms=from_ms, period=period,
    )
    w = Window.partitionBy(*series_cols)
    mu = F.avg("residual").over(w)
    sd = F.stddev_samp("residual").over(w)
    z = F.try_divide(F.col("residual") - mu, sd)
    r6 = lambda c: F.round(c + 1e-9, 6)  # noqa: E731
    scored = dec.where(F.col("residual").isNotNull()).withColumn("z", z)
    return scored.select(
        *series_cols,
        "t",
        "value",
        "residual",
        "z",
        F.when(
            F.col("z").isNull(), F.lit(None).cast("long")
        ).otherwise(
            (F.abs(r6(F.col("z"))) > k).cast("long")
        ).alias("flag"),
    )
