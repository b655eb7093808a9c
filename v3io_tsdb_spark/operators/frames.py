"""Wide-frame assembly (the reference's columnar DataFrame view).

The reference merges multiple series onto one time index with NaN
padding — a k-way full outer join on time
(ref: pkg/pquerier/frames.go:479-642 rawSeriesToColumns). In Spark
this is a single groupBy(time).pivot(series) — one shuffle, no
row-at-a-time merge loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from v3io_tsdb_spark.labels import labels_string_sql
from v3io_tsdb_spark.sqltext import ident, lit, views


def to_wide_frame(
    long_df: DataFrame,
    time_col: str = "t",
    value_col: str = "value",
    column_key: str = "name",
    include_labels: bool = False,
    nan_fill: bool = True,
    values: list | None = None,
) -> DataFrame:
    """Pivot a long result ``(name, [labels], t, value)`` to a wide frame
    ``(t, <metric1>, <metric2>, ...)`` ordered by time.

    ``include_labels`` appends the canonical labels string to the column
    key so distinct series of one metric become distinct columns.
    NaN padding replicates the reference's missing-cell convention
    (ref: pkg/pquerier/frames.go:550-586).

    Pass ``values`` (the expected pivot column keys) whenever the metric
    list is known — for a named query it always is — so the pivot skips
    its implicit distinct-values pre-pass (one whole extra job/shuffle
    over the input at scale).
    """
    key = ident(column_key)
    if include_labels and "labels" in long_df.columns:
        key = f"concat_ws('{{', {key}, {labels_string_sql('labels')})"
    with views(long_df) as (src,):
        cells = f"SELECT {ident(time_col)}, {key} AS _ckey, {ident(value_col)} AS value FROM {src}"
        wide = pivot_first(long_df.sparkSession, cells, [ident(time_col)], values or None)
    if nan_fill and dict(long_df.dtypes)[value_col] == "double":
        wide = wide.selectExpr(*[
            ident(c) if c == time_col else f"coalesce({ident(c)}, CAST('NaN' AS DOUBLE)) AS {ident(c)}"
            for c in wide.columns
        ])
    return wide


def pivot_first(spark, cells: str, rows: list, keys: list | None) -> DataFrame:
    """Pivot ``cells`` — SQL of rows with the columns ``rows``, ``_ckey``
    and ``value`` — to one row per ``rows`` value, ordered by it, and
    one column per pivot key holding the first non-null ``value``.
    ``keys`` None: every ``_ckey`` value, in Spark's pivot order (the
    distinct-values pass a pivot without keys runs)."""
    row_key = ", ".join(rows)
    if keys is None:
        keys = sorted(
            (r[0] for r in spark.sql(f"SELECT DISTINCT _ckey FROM ({cells})").collect()),
            key=lambda k: (k is not None, k),
        )
    if keys:
        pivot = ", ".join(f"{lit(k)} AS {ident('null' if k is None else str(k))}" for k in keys)
        wide = f"SELECT * FROM ({cells}) PIVOT (first(value, true) FOR _ckey IN ({pivot}))"
    else:  # no cells at all: no value columns
        wide = f"SELECT DISTINCT {row_key} FROM ({cells})"
    return spark.sql(f"{wide} ORDER BY {row_key}")


def to_wide_frame_mixed(
    long_df: DataFrame,
    time_col: str = "t",
    column_key: str = "name",
    include_labels: bool = False,
    nan_fill: bool = True,
    float_values: list | None = None,
    str_values: list | None = None,
) -> DataFrame:
    """Wide frame over MIXED float and variant (string) metrics: float
    series pivot from ``value``, string series from ``value_str``, then
    one full-outer join on the time index — each metric column keeps
    its own dtype, the reference's per-column Float/String builder
    choice (ref: pkg/pquerier/frames.go:513,528-543; a series is float
    XOR string, pkg/appender/appender.go:244-254)."""
    floats = long_df.where(F.col("value").isNotNull())
    strs = long_df.where(F.col("value_str").isNotNull())
    f = to_wide_frame(floats, time_col, "value", column_key, include_labels,
                      nan_fill=False, values=float_values)
    s = to_wide_frame(strs, time_col, "value_str", column_key, include_labels,
                      nan_fill=False, values=str_values)
    wide = f.join(s, on=time_col, how="full_outer").orderBy(time_col)
    if nan_fill:  # after the join — outer-join nulls become NaN cells too
        numeric = [c for c, t in wide.dtypes if c != time_col and t == "double"]
        wide = wide.fillna(float("nan"), subset=numeric)
    return wide


def metric_binop(
    df: DataFrame,
    left: str,
    right: str,
    match_cols: tuple = ("uid",),
    metric_col: str = "name",
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 3_600_000,
    from_ms: int = 0,
    agg: str = "avg",
) -> DataFrame:
    """PromQL binary operation between two metrics with vector matching
    — ``left / on(match_cols) right`` — the cross-metric arithmetic the
    reference's one-metric-per-query model can't express and PromQL
    defines via label matching (prometheus/promql/engine.go
    VectorBinop, public; ref's frames only ALIGN metrics side by side,
    pkg/pquerier/frames.go:479-642, they never combine them).

    Each side is first bucket-aggregated (``agg`` of ``value_col`` per
    (match labels, bucket)), then combined. PromQL inner-match
    semantics: a (labels, bucket) group missing EITHER side is dropped,
    not null-padded — the opposite convention of :func:`to_wide_frame`'s
    NaN cells, which is exactly why this is its own operator. Emits
    ``ratio`` (left/right, null on zero denominator — no verdict, the
    try_divide rule) and ``diff`` (left − right).

    Plan shape — why this beats the textbook self-join: both vectors
    live in ONE table, so conditional aggregation (``agg(CASE WHEN
    name=left ...)``) computes both sides in a single scan and ONE
    (labels, bucket)-keyed partial-aggregable shuffle; the naive
    per-metric-DataFrame formulation pays two scans, two shuffles and a
    join exchange for the same rows. The inner-match filter is the
    HAVING clause on the same aggregate.
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    t = tumbling_bucket(ts_col, from_ms, step_ms)
    v = F.col(value_col)
    name = F.col(metric_col)
    fn = getattr(F, agg)
    lv = fn(F.when(name == left, v)).alias("_l")
    rv = fn(F.when(name == right, v)).alias("_r")
    out = (
        df.where(name.isin(left, right))
        .groupBy(*match_cols, t.alias("t"))
        .agg(lv, rv)
        .where(F.col("_l").isNotNull() & F.col("_r").isNotNull())
    )
    return out.select(
        *match_cols,
        "t",
        F.col("_l").alias(f"{agg}_left"),
        F.col("_r").alias(f"{agg}_right"),
        F.try_divide(F.col("_l"), F.col("_r")).alias("ratio"),
        (F.col("_l") - F.col("_r")).alias("diff"),
    )


def to_series_sql(src: str, columns: list, funcs: list) -> str:
    """SQL melting the wide-by-function aggregate result ``src`` (with
    ``columns``) into the reference's SeriesSet shape: one row per
    (series, Aggregate, t) with an ``aggregate`` label column (ref:
    pkg/pquerier/series.go:33-63 — one series per aggregate with the
    "Aggregate" label attached).
    """
    keys = [f"`{c}`" for c in columns if c not in funcs and c != "t"]
    # Every stacked value is cast to DOUBLE: ``stack`` requires uniform
    # types per output column, and a mixed request like sum (DOUBLE) +
    # count (BIGINT) would otherwise fail DATATYPE_MISMATCH. Prom sample
    # values are float64 anyway (ref: pkg/pquerier/series.go:89-104).
    stack = "stack({n}, {args}) AS (aggregate, value)".format(
        n=len(funcs), args=", ".join(f"'{f}', CAST(`{f}` AS DOUBLE)" for f in funcs),
    )
    return (
        f"SELECT * FROM (SELECT {', '.join(keys + ['t', stack])} FROM {src}) "
        f"WHERE value IS NOT NULL"
    )


def topk_series_per_bucket(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
    k: int = 3,
    bottom: bool = False,
) -> DataFrame:
    """PromQL ``topk()`` / ``bottomk()`` on the bucketed grid: per
    bucket, the k series with the largest (smallest) aggregated value,
    with their rank — the instant-vector selector the reference's
    cross-series ``*_all`` path (pkg/aggregate, `max_all` etc.)
    reduces AWAY (one number per bucket) where dashboards need the
    WHO (which series are on top and in what order).

    Rank is over the 6dp-ROUNDED bucket value with ties broken by the
    series key tuple (lexicographic) — sub-ulp float-sum differences
    between engines must not reorder a boundary pair (the changepoint
    argmax rule), and equal values rank deterministically.

    Plan: one partial-aggregable groupBy to the series×bucket grid
    (the only data-sized exchange), then a bucket-keyed rank window
    over the reduced panel — the window input per task is one
    bucket's series set, never raw samples. No global sort, no
    TakeOrdered: output is per-bucket, so the rank partitions by
    bucket and each partition's state is |series|-bounded.
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    grid = df.groupBy(
        *series_cols,
        tumbling_bucket(ts_col, from_ms, step_ms).alias("t"),
    ).agg(F.round(F.avg(value_col) + 1e-9, 6).alias("x"))
    order = F.col("x").asc() if bottom else F.col("x").desc()
    w = Window.partitionBy("t").orderBy(
        order, *[F.col(c) for c in series_cols]
    )
    return (
        grid.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("t", "rank", *series_cols, "x")
    )


def calendar_profile(
    df: DataFrame,
    series_cols: tuple = ("name",),
    ts_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Hour-of-day × day-of-week activity heatmap per series: mean
    value and sample count per (dow, hour) cell — the weekly-rhythm
    profile behind seasonal baselines (the X110 decomposition
    ESTIMATES this shape from one period; the calendar profile reads
    it directly from all history, and the two disagreeing is itself a
    drift signal).

    dow/hour derive from epoch-ms INTEGER arithmetic (epoch day 0 =
    Thursday → dow = (days + 4) mod 7, 0 = Sunday), not calendar
    functions — timezone-free and bit-identical in any engine.

    Plan: ONE partial-aggregable groupBy to the ≤ series×168-cell
    panel. Nothing else.
    """
    day = 86_400_000
    hour = 3_600_000
    dow = ((F.col(ts_col) / day).cast("long") + 4) % 7
    hod = (F.col(ts_col) % day / hour).cast("long")
    return (
        df.groupBy(
            *series_cols, dow.alias("dow"), hod.alias("hour")
        )
        .agg(
            F.count(value_col).cast("long").alias("n"),
            F.round(F.avg(value_col) + 1e-9, 6).alias("mean"),
        )
    )
