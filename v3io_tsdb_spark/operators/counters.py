"""Counter-series analytics: resets and changes per time bucket.

Prometheus-style counter inspection that the reference's aggregate set
stops short of (it has bucket-to-bucket ``rate``, ref:
pkg/aggregate/iterator.go:327-334): ``resets`` counts the times a
monotonically-increasing counter dropped (process restart), ``changes``
counts the times the value changed at all — both per series per bucket.

Semantics: each sample is compared to the PREVIOUS sample of the same
series (global per-series order, crossing bucket boundaries — a reset
on the first sample of a day is that day's reset), and the event is
attributed to the bucket of the CURRENT sample. The first sample of a
series has no predecessor and contributes nothing.

Plan shape: one shuffle of samples by series for the ``lag`` window,
then a partial-aggregable groupBy on (series, bucket) that arrives
already partitioned by a prefix of its keys. No self-join, no driver
loops; at 100 TB this is the same single hash-partition any per-series
analysis pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from v3io_tsdb_spark.operators.bucketing import tumbling_bucket


def counter_resets_changes(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
) -> DataFrame:
    """Per (series, bucket): ``resets`` (value drops) and ``changes``
    (value differs from predecessor), plus sample ``count``.

    Ties in ``ts_col`` within a series are broken by value so the lag
    order is deterministic.
    """
    w = Window.partitionBy(*series_cols).orderBy(ts_col, value_col)
    prev = F.lag(value_col).over(w)
    v = F.col(value_col)
    out = df.withColumn(
        "_reset", (prev.isNotNull() & (v < prev)).cast("long")
    ).withColumn("_change", (prev.isNotNull() & (v != prev)).cast("long"))
    t = tumbling_bucket(ts_col, from_ms, step_ms)
    return (
        out.groupBy(*series_cols, t.alias("t"))
        .agg(
            F.sum("_reset").alias("resets"),
            F.sum("_change").alias("changes"),
            F.count(value_col).alias("count"),
        )
    )


def extrapolated_increase(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
) -> DataFrame:
    """Prometheus ``increase()`` with boundary extrapolation — the
    counter semantics the reference's bucket ``rate`` (ref:
    pkg/aggregate/iterator.go:327-334) approximates but PromQL defines
    precisely (prometheus/promql/functions.go ``extrapolatedRate``,
    public source): the raw last−first delta systematically UNDERcounts
    a window because samples rarely land on its edges, so the delta is
    scaled out toward the boundaries.

    Per (series, bucket) with ≥2 samples and a nonzero sampled span:

    - ``delta`` = last − first + Σ(prev value at each reset drop) —
      the counter-reset correction;
    - ``sampled`` = last_t − first_t; ``avg_dur`` = sampled/(count−1);
    - each edge extends the extrapolation interval by the actual gap to
      the boundary if that gap < 1.1·avg_dur (the sample stream
      plausibly continued to the edge), else by avg_dur/2 (stream
      stopped; extrapolate half a typical gap);
    - counter zero-start heuristic: if the counter would have to have
      been negative before the window (delta > 0, first ≥ 0), the
      start-side extension is capped at sampled·first/delta — the point
      where the counter was zero;
    - ``increase`` = delta · extrapolated/sampled.

    Plan shape: identical to :func:`irate_idelta` — ONE shuffle on
    (series, bucket); the reset-correction lag window partitions by the
    same composite key the final groupBy uses, so the sort is
    bucket-bounded and the aggregate reuses the partitioning. All the
    extrapolation arithmetic runs on the count-sized aggregate output.
    """
    t = tumbling_bucket(ts_col, from_ms, step_ms)
    b = df.withColumn("_b", t)
    w = Window.partitionBy(*series_cols, "_b").orderBy(ts_col, value_col)
    prev_v = F.lag(value_col).over(w)
    corr = F.when(
        prev_v.isNotNull() & (F.col(value_col) < prev_v), prev_v
    ).otherwise(F.lit(0.0))
    tv = F.struct(F.col(ts_col), F.col(value_col))
    agg = (
        b.withColumn("_corr", corr)
        .groupBy(*series_cols, F.col("_b").alias("t"))
        .agg(
            F.count(value_col).cast("long").alias("count"),
            F.min_by(tv, tv).alias("_first"),
            F.max_by(tv, tv).alias("_last"),
            F.sum("_corr").alias("_rcorr"),
        )
    )
    first_t = F.col("_first")[ts_col].cast("double")
    first_v = F.col("_first")[value_col]
    last_t = F.col("_last")[ts_col].cast("double")
    last_v = F.col("_last")[value_col]
    delta = last_v - first_v + F.col("_rcorr")
    sampled = last_t - first_t
    avg_dur = sampled / (F.col("count") - 1).cast("double")
    dur_start = first_t - F.col("t").cast("double")
    dur_end = (F.col("t") + F.lit(step_ms)).cast("double") - last_t
    zero_cap = F.when(
        (delta > 0) & (first_v >= 0), sampled * first_v / delta
    )
    dur_start2 = F.least(dur_start, F.coalesce(zero_cap, dur_start))
    thresh = avg_dur * 1.1
    ext = (
        sampled
        + F.when(dur_start2 < thresh, dur_start2).otherwise(avg_dur / 2)
        + F.when(dur_end < thresh, dur_end).otherwise(avg_dur / 2)
    )
    return (
        agg.where((F.col("count") >= 2) & (sampled > 0))
        .select(
            *series_cols,
            "t",
            "count",
            (delta + F.lit(0.0)).alias("delta"),
            (delta * ext / sampled).alias("increase"),
        )
    )


def irate_idelta(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
) -> DataFrame:
    """Prometheus-style instant rate per (series, bucket): ``irate`` =
    (v_last − v_prev) / (t_last − t_prev) over the LAST TWO samples of
    the bucket (seconds in the denominator), ``idelta`` = the raw last
    delta. Buckets with fewer than two samples, or a zero time gap
    between the last two, get null — no verdict, not 0 (the same rule
    Prometheus applies to a range with <2 points).

    Window semantics: strictly within-bucket (the Prometheus analog of
    evaluating ``irate(m[step])`` at each bucket end). Plan shape: ONE
    shuffle on (series, bucket) — the ``lag`` window partitions by the
    same composite key the final groupBy uses, so the window's sort is
    bucket-bounded (samples-per-bucket rows, never a whole series) and
    the aggregate reuses the partitioning. Ties in ``ts_col`` are
    broken by value for a deterministic lag order.
    """
    t = tumbling_bucket(ts_col, from_ms, step_ms)
    b = df.withColumn("_b", t)
    w = Window.partitionBy(*series_cols, "_b").orderBy(ts_col, value_col)
    prev_v = F.lag(value_col).over(w)
    prev_t = F.lag(ts_col).over(w)
    scored = b.withColumn("_dv", F.col(value_col) - prev_v).withColumn(
        "_dt", (F.col(ts_col) - prev_t).cast("double") / 1000.0
    )
    last = F.max_by(F.struct("_dv", "_dt"), F.struct(F.col(ts_col), F.col(value_col)))
    return (
        scored.groupBy(*series_cols, F.col("_b").alias("t"))
        .agg(
            F.count(value_col).cast("long").alias("count"),
            last.alias("_last"),
        )
        .select(
            *series_cols,
            "t",
            "count",
            F.col("_last._dv").alias("idelta"),
            F.try_divide(F.col("_last._dv"), F.col("_last._dt")).alias("irate"),
        )
    )


def slo_burn_rate(
    df: DataFrame,
    error_name: str = "error",
    metric_col: str = "name",
    ts_col: str = "t",
    step_ms: int = 3_600_000,
    from_ms: int = 0,
    short_buckets: int = 1,
    long_buckets: int = 6,
    slo_target: float = 0.99,
    burn_threshold: float = 6.0,
) -> DataFrame:
    """Multiwindow SLO burn rate (Google SRE Workbook ch.5 alerting,
    public): per bucket, the error ratio over a SHORT and a LONG
    trailing window, each divided by the error budget (1 − SLO), with
    the page condition = BOTH burn rates over threshold. The long
    window keeps a brief spike from paging; the short window makes the
    alert reset quickly once the bleeding stops — that asymmetry is
    the entire point of the two-window form.

    Windows are trailing-INCLUSIVE of the current bucket (the SRE
    convention: "the last hour", not "the hour before this one") and
    gap-safe RANGE frames — an empty bucket contributes nothing rather
    than sliding older traffic in. Buckets with zero total traffic in
    a window yield a null ratio (no verdict).

    Plan: the event stream reduces to per-bucket (errors, total) by
    ONE partial-aggregable groupBy (conditional aggregation — the
    metric_binop single-scan rule); both trailing windows then run on
    that |buckets|-sized grid. Output is |buckets| rows.
    """
    t = tumbling_bucket(ts_col, from_ms, step_ms)
    is_err = (F.col(metric_col) == error_name).cast("long")
    grid = df.groupBy(t.alias("t")).agg(
        F.sum(is_err).alias("_err"), F.count("*").alias("_tot")
    )
    budget = 1.0 - slo_target

    def ratio(nbuckets):
        w = (
            Window.orderBy("t")
            .rangeBetween(-(nbuckets - 1) * step_ms, 0)
        )
        return F.try_divide(F.sum("_err").over(w), F.sum("_tot").over(w))

    rs, rl = ratio(short_buckets), ratio(long_buckets)
    g = grid.select(
        "t",
        F.col("_err").cast("long").alias("errors"),
        F.col("_tot").cast("long").alias("total"),
        (rs / budget).alias("burn_short"),
        (rl / budget).alias("burn_long"),
    )
    r6 = lambda c: F.round(c + 1e-9, 6)  # noqa: E731
    page = (
        (r6(F.col("burn_short")) > burn_threshold)
        & (r6(F.col("burn_long")) > burn_threshold)
    ).cast("long")
    return g.withColumn("page", page)
