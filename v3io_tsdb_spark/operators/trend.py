"""Per-series trend statistics over bucketed values: EWMA smoothing
and lag-1 autocorrelation.

Both run on the ALREADY-BUCKETED grid (series × buckets — output-sized,
tiny next to the raw stream), never on raw samples: the expensive input
is reduced by a partial-aggregable groupBy before any ordered pass, so
the window state per task is bounded by a series' bucket count.

EWMA is the recurrence ``s_i = α·x_i + (1−α)·s_{i−1}`` (``s_0 = x_0``),
computed as a CLOSED FORM over an ordered running sum so it stays a
single window expression instead of a sequential loop:

    s_i = (1−α)^i · x_0  +  α · (1−α)^i · Σ_{j=1..i} x_j·(1−α)^(−j)

``(1−α)^(−j)`` grows exponentially, so this form is only sound when a
series' bucket count is modest (for α=0.3, overflow headroom is ~800
buckets in float64 — far above any dashboard grid; re-anchor per
window segment if you need more). A pytest checks the closed form
against the literal recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from v3io_tsdb_spark.functions.detmath import quantize_micro_py


def ewma_over_buckets(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
    alpha: float = 0.3,
) -> DataFrame:
    """Add ``ewma`` to a bucketed frame (one row per series-bucket)."""
    from v3io_tsdb_spark.functions.detmath import det_pow_int_sql

    beta = 1.0 - alpha
    wo = Window.partitionBy(*series_cols).orderBy(t_col)
    wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x0 = F.first(x_col).over(wr)
    # integer powers via exact binary exponentiation (detmath): libm
    # pow is not correctly rounded and can differ per engine build —
    # the same cross-libm class as VERDICT r12 #1's ln. The bit ladder
    # is emitted as ONE SQL string per power (det_pow_int_sql over a
    # materialized _i column): the Column-by-Column form cost ~120
    # py4j round-trips per power — ~0.7s of pure driver latency per
    # ewma call (r16; values identical, the SQL parses to the same
    # Catalyst tree)
    out = df.withColumn("_i", (F.row_number().over(wo) - F.lit(1)).cast("long"))
    k = F.when(
        F.col("_i") >= 1,
        F.col(x_col) * F.expr(det_pow_int_sql(1.0 / beta, "_i")),
    )
    csum = F.coalesce(F.sum(k).over(wr), F.lit(0.0))
    ewma = F.expr(det_pow_int_sql(beta, "_i")) * (x0 + F.lit(alpha) * csum)
    return out.withColumn("ewma", ewma).drop("_i")


def autocorr_lag1(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
) -> DataFrame:
    """Per series: Pearson correlation of consecutive bucket values —
    the 'is this metric momentum or noise?' screen. One window lag then
    a plain aggregate; null with fewer than 3 buckets (2 pairs)."""
    w = Window.partitionBy(*series_cols).orderBy(t_col)
    lagged = df.withColumn("_prev", F.lag(x_col).over(w))
    # Pearson corr as covar/(sd*sd) with try_divide: a zero-variance
    # (constant) series yields NULL ("no verdict") like SQL engines'
    # corr — the built-in F.corr THROWS DIVIDE_BY_ZERO under Spark 4's
    # default ANSI mode on that input. Both stddevs run over the PAIRED
    # rows only (the first bucket has no predecessor), matching corr's
    # pairwise-deletion semantics.
    xp = F.when(F.col("_prev").isNotNull(), F.col(x_col))
    corr = F.try_divide(
        F.covar_samp(x_col, "_prev"),
        F.stddev_samp(xp) * F.stddev_samp("_prev"),
    )
    return lagged.groupBy(*series_cols).agg(
        F.count(x_col).alias("n_buckets"),
        corr.alias("autocorr"),
    )


def changepoint_binary_seg(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
) -> DataFrame:
    """First-split binary-segmentation changepoint per series: for
    every split position i (1 <= i < m over the m ordered buckets)
    score the mean shift |mean(x[:i]) - mean(x[i:])| * sqrt(i*(m-i)/m)
    (the two-sample CUSUM statistic, constant sigma), and report the
    best split — the level-shift detector that complements the
    point-wise z-score screen (operators/anomaly.py): z flags single
    outlier buckets, this flags regime changes.

    The classic CUSUM recurrence is sequential; this equivalent
    maximum-of-prefix-statistics form is pure window algebra: one
    cumulative sum/count over the bucket grid, one per-series total,
    one argmax. Series with < 2 buckets report a null changepoint.
    Ties break to the EARLIEST split time.

    100 TB posture: runs on the already-bucketed grid (output-sized),
    so the ordered window state per task is one series' buckets; the
    raw stream was reduced by a partial-aggregable groupBy upstream.
    """
    wo = Window.partitionBy(*series_cols).orderBy(t_col)
    wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy(*series_cols)
    i = F.row_number().over(wo)
    m = F.count("*").over(wall)
    pre_sum = F.sum(x_col).over(wr)
    tot_sum = F.sum(x_col).over(wall)
    pre_mean = pre_sum / i
    post_mean = (tot_sum - pre_sum) / (m - i)
    score = F.abs(pre_mean - post_mean) * F.sqrt(
        (i.cast("double") * (m - i)) / m
    )
    scored = df.select(
        *series_cols,
        F.col(t_col),
        F.lead(t_col).over(wo).alias("_next_t"),
        F.when(i < m, score).alias("_score"),
        F.when(i < m, F.round(pre_mean + 1e-9, 6)).alias("_pre"),
        F.when(i < m, F.round(post_mean + 1e-9, 6)).alias("_post"),
    )
    # rank on the ROUNDED score: sub-ulp float differences between
    # engines must not flip the argmax (hash-match determinism)
    pick = Window.partitionBy(*series_cols).orderBy(
        F.round(F.col("_score") + 1e-9, 6).desc_nulls_last(), F.col(t_col)
    )
    best = scored.withColumn("_rn", F.row_number().over(pick)).where(
        F.col("_rn") == 1
    )
    return best.select(
        *series_cols,
        F.col("_next_t").alias("change_t"),
        F.round(F.col("_score") + 1e-9, 6).alias("score"),
        F.col("_pre").alias("pre_mean"),
        F.col("_post").alias("post_mean"),
    )


def trapezoid_integral(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
    bucket_ms: int = 86_400_000,
    origin_ms: int = 0,
) -> DataFrame:
    """Per (series, time bucket) trapezoidal area under the curve, in
    value·seconds — the "total energy / total transferred" integral
    Prometheus spells ``sum_over_time × interval`` only for regular
    grids; the trapezoid form is exact for irregular samples. The
    reference's aggregate set (sum/count/min/max/avg/rate, ref:
    pkg/aggregate/aggregate.go) has no integral.

    Input contract: ONE row per (series, t) — feed a deduped/bucketed
    frame (the ``_PTS``-style grid pre-aggregates duplicate
    timestamps), which also makes the ``lag`` ordering deterministic.
    Each consecutive-sample pair contributes
    ``(t − prev_t)/1000 · (x + prev_x)/2`` to the bucket of its LATER
    sample, and only when both endpoints fall in the same bucket — so
    a bucket's integral never reads outside its own wall-clock span
    and single-sample buckets report no area (n_seg = 0 rows are
    absent, same suppression rule as the aggregation paths).

    Plan: one series-keyed window (lag) over the grid, then one
    partial-aggregable groupBy on (series, bucket). ``x`` is rounded
    at 6 dp BEFORE pairing so both engines' trapezoid arithmetic runs
    on bit-identical doubles (hash-match determinism boundary).
    """
    eps = 1e-9
    xr = F.round(F.col(x_col) + eps, 6)
    grid = df.select(*series_cols, F.col(t_col).alias("_t"), xr.alias("_x"))
    w = Window.partitionBy(*series_cols).orderBy("_t")
    paired = grid.select(
        *series_cols,
        "_t",
        "_x",
        F.lag("_t").over(w).alias("_pt"),
        F.lag("_x").over(w).alias("_px"),
    )
    bucket = (
        F.lit(origin_ms)
        + F.floor((F.col("_t") - F.lit(origin_ms)) / F.lit(bucket_ms)) * F.lit(bucket_ms)
    ).cast("long")
    prev_bucket = (
        F.lit(origin_ms)
        + F.floor((F.col("_pt") - F.lit(origin_ms)) / F.lit(bucket_ms)) * F.lit(bucket_ms)
    ).cast("long")
    area = ((F.col("_t") - F.col("_pt")) / F.lit(1000.0)) * (
        (F.col("_x") + F.col("_px")) / F.lit(2.0)
    )
    segs = paired.where(
        F.col("_pt").isNotNull() & (bucket == prev_bucket)
    ).select(*series_cols, bucket.alias(t_col), area.alias("_area"))
    # EPS4 (1e-7) for the 4dp round, the repo-wide _r convention: auc
    # reaches ~4e6 value·seconds, where 1 ulp ≈ 8.5e-10 — a 1e-9 nudge
    # was the same order as a cross-build ulp and failed the r14
    # round-boundary sweep; 1e-7 clears every boundary by 100x
    return segs.groupBy(*series_cols, t_col).agg(
        F.count("*").cast("long").alias("n_seg"),
        (F.round(F.sum("_area") + 1e-7, 4) + F.lit(0.0)).alias("auc"),
    )


def des_forecast(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
    alpha: float = 0.3,
) -> DataFrame:
    """Brown's double exponential smoothing + one-step-ahead forecast
    per series: s1 = EWMA(x), s2 = EWMA(s1), level a = 2*s1 - s2,
    trend b = alpha/(1-alpha) * (s1 - s2), forecast(t+1) = a + b —
    the trend-aware forecaster the plain EWMA smoother can't provide
    (EWMA lags a trending series; Brown's removes the first-order lag).

    Both smoothing passes use the same closed-form running-sum window
    as :func:`ewma_over_buckets` (identical overflow envelope: ~800
    buckets at alpha=0.3), so the whole operator is two chained window
    projections over ONE series-keyed exchange — no recurrence loop,
    no Python, grid-sized input (the raw stream was bucket-reduced
    upstream).
    """
    s1 = ewma_over_buckets(
        df, series_cols, t_col, x_col, alpha
    ).withColumnRenamed("ewma", "_s1")
    # round each smoothing pass at 6dp: the closed-form running sums
    # accumulate sub-ulp engine divergence, and COMPOUNDING two passes
    # pushes it across output rounding boundaries — pinning the
    # intermediates makes level/trend identical-input arithmetic on
    # every engine (same determinism boundary as changepoint's
    # pre/post means)
    s1 = s1.withColumn("_s1", F.round(F.col("_s1") + 1e-9, 6))
    s2 = ewma_over_buckets(
        s1, series_cols, t_col, "_s1", alpha
    ).withColumnRenamed("ewma", "_s2")
    s2 = s2.withColumn("_s2", F.round(F.col("_s2") + 1e-9, 6))
    level = 2.0 * F.col("_s1") - F.col("_s2")
    trend = (alpha / (1.0 - alpha)) * (F.col("_s1") - F.col("_s2"))
    return s2.select(
        *series_cols,
        F.col(t_col),
        F.col(x_col),
        level.alias("level"),
        trend.alias("trend"),
        (level + trend).alias("forecast_next"),
    )


def theilsen_trend(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
    unit_ms: int = 86_400_000,
    origin_ms: int = 0,
) -> DataFrame:
    """Theil-Sen robust trend per series: the exact median of all
    pairwise slopes over the bucketed grid (Sen '68), plus the matching
    median intercept at ``origin_ms`` (slope in value-per-``unit_ms``).
    OLS has breakdown point 0 — one corrupted bucket moves the fitted
    line arbitrarily; Theil-Sen tolerates ~29% corruption, the
    robust-regression member of the median/MAD family
    (:func:`..anomaly.robust_mad_flags`). The reference's aggregate set
    (ref: pkg/aggregate/aggregate.go:34-66) has no trend fit at all.

    Input contract: ONE row per (series, bucket). The grid is bounded
    by the query's time range, so the O(m²) pair set is bounded too
    (m ≤ 31 for a month of dailies → ≤ 465 pairs) — which is what makes
    exact all-pairs algebra affordable HERE and never on raw samples.

    Plan (100 TB posture): one series-keyed aggregate
    (``sort_array(collect_list)`` over the bounded grid), then pure
    scan-side array algebra — pair slopes via a nested ``transform``
    over index suffixes, exact mid-pair median of the sorted doubles,
    and a second ``transform`` for the per-point intercepts under the
    median slope. No self-join, no window, no explode: the pair set
    never reaches a shuffle, and the operator's only exchange is the
    series-keyed aggregate itself.

    Determinism boundary (hash-match contract): ``x`` is rounded at
    6 dp before pairing and every slope/intercept at 6 dp before its
    median sort, so both engines sort and average bit-identical
    doubles (same rule as the Hampel/MAD operators).
    """
    eps = 1e-9
    xr = F.round(F.col(x_col) + eps, 6)
    g = df.groupBy(*series_cols).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(t_col).alias("t"), xr.alias("x")))
        ).alias("_arr")
    )
    arr = F.col("_arr")
    unit = F.lit(float(unit_ms))

    def _med(a):
        m = F.size(a)
        lo = F.element_at(a, F.floor((m + F.lit(1)) / 2).cast("int"))
        hi = F.element_at(a, (F.floor(m / 2) + F.lit(1)).cast("int"))
        return F.when(m >= 1, F.round((lo + hi) / 2.0 + F.lit(eps), 6))

    slopes = F.sort_array(
        F.transform(
            F.flatten(
                F.transform(
                    arr,
                    lambda a, i: F.transform(
                        F.slice(arr, i + F.lit(2), F.size(arr)),
                        lambda b: (b["x"] - a["x"])
                        / ((b["t"] - a["t"]) / unit),
                    ),
                )
            ),
            lambda s: F.round(s + F.lit(eps), 6),
        )
    )
    g = g.withColumn("_slopes", slopes).withColumn("_slope", _med(F.col("_slopes")))
    intercepts = F.sort_array(
        F.transform(
            arr,
            lambda a: F.round(
                a["x"]
                - F.col("_slope") * ((a["t"] - F.lit(origin_ms)) / unit)
                + F.lit(eps),
                6,
            ),
        )
    )
    g = g.withColumn(
        "_intercept", F.when(F.col("_slope").isNotNull(), _med(intercepts))
    )
    return g.select(
        *series_cols,
        F.size(arr).cast("long").alias("n_buckets"),
        F.size("_slopes").cast("long").alias("n_pairs"),
        F.col("_slope").alias("slope"),
        F.col("_intercept").alias("intercept"),
    )


def seasonal_naive_eval(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
    season_ms: int = 7 * 86_400_000,
    step_ms: int = 86_400_000,
) -> DataFrame:
    """Seasonal-naive forecast evaluation per series: the forecast for
    bucket ``t`` is the value at ``t − season``; per-series errors are
    summarized as MAE and MASE (Hyndman & Koehler '06 — MAE scaled by
    the one-step naive forecast's MAE, so series of different
    magnitudes compare on one axis, and MASE < 1 reads "beats the
    naive baseline"). This is the honesty check for the model-shaped
    forecasters (:func:`des_forecast`): a DES fit that can't beat
    seasonal-naive isn't earning its parameters.

    Plan (100 TB posture): both lookups are EXACT-MATCH ``RANGE``
    window frames (the value at exactly ``t − season`` / ``t − step``)
    — gap-safe where a row-number lag would slip on missing buckets —
    so the whole operator is one series-keyed exchange carrying two
    frames over the same sort, then a partial-aggregable per-series
    aggregate. No self-join, no grid densification.

    Determinism boundary: ``x`` at 6 dp before differencing, each
    absolute error at 6 dp before averaging (same rule as the trend
    family); the MASE ratio only divides when the naive MAE is
    strictly positive (a constant series has no scale — NULL verdict,
    matching the try_divide convention of the anomaly screens).
    """
    eps = 1e-9
    xr = F.round(F.col(x_col) + eps, 6)
    g = df.select(*series_cols, F.col(t_col).alias("_t"), xr.alias("_x"))
    base = Window.partitionBy(*series_cols).orderBy("_t")
    xs = F.last("_x").over(base.rangeBetween(-season_ms, -season_ms))
    x1 = F.last("_x").over(base.rangeBetween(-step_ms, -step_ms))
    scored = g.select(
        *series_cols, "_t", "_x", xs.alias("_xs"), x1.alias("_x1")
    )
    err_s = F.round(F.abs(F.col("_x") - F.col("_xs")) + F.lit(eps), 6)
    err_1 = F.round(F.abs(F.col("_x") - F.col("_x1")) + F.lit(eps), 6)
    agg = scored.groupBy(*series_cols).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.count("_xs").cast("long").alias("n_eval"),
        F.round(F.avg(err_s) + F.lit(eps), 6).alias("mae_seasonal"),
        F.round(F.avg(err_1) + F.lit(eps), 6).alias("mae_naive"),
    )
    mase = F.when(
        F.col("mae_naive") > 0, F.col("mae_seasonal") / F.col("mae_naive")
    )
    return agg.select(
        *series_cols, "n_buckets", "n_eval",
        "mae_seasonal", "mae_naive", mase.alias("mase"),
    )


def ols_trend(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    t_col: str = "t",
    x_col: str = "x",
    unit_ms: int = 86_400_000,
    origin_ms: int = 0,
) -> DataFrame:
    """OLS line fit per series (slope in value-per-``unit_ms``,
    intercept at ``origin_ms``, R²) — the least-squares contrast row to
    :func:`theilsen_trend`: efficient under clean Gaussian noise,
    breakdown point 0 under corruption, and the pair the judge of any
    trend verdict should read together (a large Theil-Sen/OLS slope
    gap IS the outlier alarm).

    Explicit population-moment formulas (``covar_pop/var_pop``) rather
    than the engines' ``regr_*`` family, whose zero-variance edge-case
    semantics differ across engines: slope = cov/var(t) via
    ``try_divide`` (NULL on a single bucket), R² = cov²/(var_t·var_x)
    only when BOTH variances are strictly positive (a constant series
    has no explainable variance — NULL verdict, not the SQL-standard
    "1.0 when var(y)=0" surprise).

    Plan: ONE partial-aggregable series-keyed aggregate — five moments
    in a single pass, no window, no second exchange. Determinism
    boundary: x at 6 dp in, moments are engine-native floating
    aggregates absorbed by the 6 dp output rounding (same envelope as
    autocorr's covar/stddev form).
    """
    eps = 1e-9
    td = (F.col(t_col) - F.lit(origin_ms)) / F.lit(float(unit_ms))
    xr = F.round(F.col(x_col) + eps, 6)
    g = df.select(*series_cols, td.alias("_td"), xr.alias("_x"))
    agg = g.groupBy(*series_cols).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.covar_pop("_td", "_x").alias("_cov"),
        F.var_pop("_td").alias("_vt"),
        F.var_pop("_x").alias("_vx"),
        F.avg("_td").alias("_mt"),
        F.avg("_x").alias("_mx"),
    )
    slope = F.round(F.try_divide(F.col("_cov"), F.col("_vt")) + F.lit(eps), 6)
    out = agg.withColumn("slope", slope)
    intercept = F.round(
        F.col("_mx") - F.col("slope") * F.col("_mt") + F.lit(eps), 6
    )
    r2 = F.when(
        (F.col("_vt") > 0) & (F.col("_vx") > 0),
        F.round(
            (F.col("_cov") * F.col("_cov")) / (F.col("_vt") * F.col("_vx"))
            + F.lit(eps),
            6,
        ),
    )
    return out.select(
        *series_cols,
        "n_buckets",
        "slope",
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def xcorr_lagged(
    df: DataFrame,
    key_a: str,
    key_b: str,
    key_col: str = "name",
    t_col: str = "t",
    x_col: str = "x",
    max_lag: int = 3,
    step_ms: int = 86_400_000,
) -> DataFrame:
    """Lead-lag cross-correlation between two bucketed series:
    ``corr(a_t, b_{t+lag·step})`` for every lag in [−max_lag, max_lag]
    — the "does A lead B?" screen (a positive-lag maximum means A's
    buckets predict B's later buckets). The single-series twin is
    :func:`autocorr_lag1`; the reference has no cross-metric
    statistics at all (one metric per query,
    ref: pkg/querier/querier.go).

    Plan (100 TB posture): the grid is filtered to the two keys at the
    scan; the A side is expanded by the (2·max_lag+1)-row literal lag
    array and aligned to B by an EQUI-join on the shifted bucket key —
    time-keyed, gap-safe, no window densification, no cross join of
    buckets. The correlation is one lag-keyed partial-aggregable
    aggregate whose output is exactly 2·max_lag+1 rows, computed as
    covar/(σ·σ) with ``try_divide`` (NULL on constant overlap — no
    verdict — matching autocorr's convention; the engines' native
    ``corr`` agrees on non-degenerate input).

    Determinism boundary: x at 6 dp before pairing; the moment
    aggregates' sub-ulp engine divergence is absorbed by 4 dp output
    rounding (the autocorr envelope).
    """
    eps = 1e-9
    xr = F.round(F.col(x_col) + eps, 6)
    two = df.where(F.col(key_col).isin([key_a, key_b])).select(
        F.col(key_col).alias("_k"), F.col(t_col).alias("_t"), xr.alias("_x")
    )
    a = two.where(F.col("_k") == key_a).select(
        F.col("_t").alias("_ta"), F.col("_x").alias("_xa")
    )
    b = two.where(F.col("_k") == key_b).select(
        F.col("_t").alias("_tb"), F.col("_x").alias("_xb")
    )
    lags = F.explode(
        F.array(*[F.lit(l) for l in range(-max_lag, max_lag + 1)])
    ).alias("lag")
    a2 = a.select("_ta", "_xa", lags)
    joined = a2.join(
        b, F.col("_tb") == F.col("_ta") + F.col("lag") * F.lit(step_ms)
    )
    corr = F.try_divide(
        F.covar_samp("_xa", "_xb"),
        F.stddev_samp("_xa") * F.stddev_samp("_xb"),
    )
    return joined.groupBy(F.col("lag").cast("long").alias("lag")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        corr.alias("xcorr"),
    )


def seasonal_decompose(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition per series on the
    bucketed grid: ``value = trend + seasonal + residual`` (Cleveland's
    pre-STL textbook method; the day-of-week structure the reference's
    flat bucket aggregates fold invisibly into every daily number).

    - ``trend``: centered ``period``-bucket moving average, computed
      with a RANGE frame of ±(period//2)·step on the time axis — an
      offset ROWS frame would silently slip on grid gaps — and null
      unless the frame holds exactly ``period`` buckets (no partial
      edge averages);
    - ``seasonal``: per (series, phase) mean of the detrended values,
      centered by subtracting the series' mean seasonal index so the
      components sum back to the value;
    - ``residual``: value − trend − seasonal (null where trend is —
      the first/last half-period and gap neighborhoods give no
      verdict).

    Plan shape: raw samples reduce to the series×bucket grid by one
    partial-aggregable groupBy; the trend window re-uses that
    (series)-keyed layout; the seasonal index table is series×period
    rows — broadcast back, never a shuffle of the grid. At 100 TB the
    only data-sized exchange is the one every per-series analysis pays.
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    half = period // 2
    t = tumbling_bucket(ts_col, from_ms, step_ms)
    grid = df.groupBy(*series_cols, t.alias("t")).agg(
        F.avg(value_col).alias("value")
    )
    w = (
        Window.partitionBy(*series_cols)
        .orderBy("t")
        .rangeBetween(-half * step_ms, half * step_ms)
    )
    g = grid.withColumn(
        "trend",
        F.when(F.count("value").over(w) == period, F.avg("value").over(w)),
    ).withColumn(
        "phase",
        ((F.col("t") - F.lit(from_ms)) / F.lit(step_ms)).cast("long") % period,
    )
    detr = g.withColumn("_d", F.col("value") - F.col("trend"))
    wseries = Window.partitionBy(*series_cols)
    sidx = (
        detr.groupBy(*series_cols, "phase")
        .agg(F.avg("_d").alias("_s_raw"))
        .withColumn(
            "seasonal", F.col("_s_raw") - F.avg("_s_raw").over(wseries)
        )
        .drop("_s_raw")
    )
    out = g.join(F.broadcast(sidx), [*series_cols, "phase"])
    return out.select(
        *series_cols,
        "t",
        "phase",
        "value",
        "trend",
        "seasonal",
        (F.col("value") - F.col("trend") - F.col("seasonal")).alias("residual"),
    )


def metric_corr_matrix(
    df: DataFrame,
    metric_col: str = "name",
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
) -> DataFrame:
    """Pairwise Pearson correlation matrix between ALL metrics over
    their aligned bucket-mean series — the all-pairs generalization of
    xcorr_lagged's single A/B screen (lag 0): which metrics move
    together at all, asked before asking who leads.

    Semantics: each metric reduces to its bucket-mean series (mean
    across all its series per bucket); corr is over buckets where BOTH
    metrics have a value (inner match per pair — the metric_binop
    rule); one row per unordered pair (name_a < name_b) plus each
    metric's self-row (corr 1.0, the matrix diagonal, carrying
    ``n_buckets`` for reading support).

    Plan shape: the raw stream reduces by ONE partial-aggregable
    (metric, bucket) groupBy to a |metrics|×|buckets| grid; the pair
    join is grid×grid on the bucket key with a name inequality — both
    sides PANEL-sized, never the raw data (at 100 TB the grid for 1000
    metrics × 1 year of days is 365k rows). The pair aggregate output
    is |metrics|²-bounded.
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    grid = df.groupBy(
        F.col(metric_col).alias("_m"),
        tumbling_bucket(ts_col, from_ms, step_ms).alias("t"),
    ).agg(F.avg(value_col).alias("_v"))
    a = grid.select(
        F.col("_m").alias("name_a"), F.col("t"), F.col("_v").alias("_va")
    )
    b = grid.select(
        F.col("_m").alias("name_b"), F.col("t"), F.col("_v").alias("_vb")
    )
    pairs = a.join(b, "t").where(F.col("name_a") <= F.col("name_b"))
    # try_divide form, not F.corr: a zero-variance side yields null
    # (no verdict) instead of an ANSI divide-by-zero — the
    # xcorr_lagged convention
    corr = F.try_divide(
        F.covar_samp("_va", "_vb"),
        F.stddev_samp("_va") * F.stddev_samp("_vb"),
    )
    return pairs.groupBy("name_a", "name_b").agg(
        F.count("*").cast("long").alias("n_buckets"),
        corr.alias("corr"),
    )


def bollinger_bands(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
    lookback: int = 7,
    k: float = 2.0,
) -> DataFrame:
    """Bollinger bands per series on the bucketed grid: trailing
    ``lookback``-bucket mean ± ``k``·sample-stddev, with a breach flag
    (+1 above the upper band, −1 below the lower, 0 inside) — the
    classic chart overlay (Bollinger '80s, public), and the
    parametric sibling of the trailing z-screen (anomaly.py
    bucket_zscores) exposed in band form for plotting.

    The trailing window EXCLUDES the current bucket (a spike must not
    widen the band that judges it — the same self-exclusion rule as
    the z/Hampel screens) and uses a RANGE frame of
    [−lookback·step, −step] on the time axis, so grid holes shrink the
    window instead of silently sliding later buckets in; a verdict
    requires the full ``lookback`` buckets (null band otherwise — no
    half-warmed envelopes).

    Plan: one partial-aggregable groupBy to the grid, then the
    series-keyed window on the already-reduced frame. One exchange.
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    grid = df.groupBy(
        *series_cols,
        tumbling_bucket(ts_col, from_ms, step_ms).alias("t"),
    ).agg(F.avg(value_col).alias("value"))
    w = (
        Window.partitionBy(*series_cols)
        .orderBy("t")
        .rangeBetween(-lookback * step_ms, -step_ms)
    )
    full = F.count("value").over(w) == lookback
    mid = F.when(full, F.avg("value").over(w))
    sd = F.when(full, F.stddev_samp("value").over(w))
    g = grid.withColumn("mid", mid).withColumn("_sd", sd)
    upper = F.col("mid") + k * F.col("_sd")
    lower = F.col("mid") - k * F.col("_sd")
    # breach compares 6dp-ROUNDED value vs bands: sub-ulp float-sum
    # order differences between engines must not flip a boundary
    # verdict (the changepoint argmax rounding rule, trend.py:119-123)
    r6 = lambda c: F.round(c + 1e-9, 6)  # noqa: E731
    breach = F.when(
        F.col("mid").isNull(), F.lit(None).cast("long")
    ).when(r6(F.col("value")) > r6(upper), 1).when(
        r6(F.col("value")) < r6(lower), -1
    ).otherwise(0)
    return g.select(
        *series_cols,
        "t",
        "value",
        "mid",
        upper.alias("upper"),
        lower.alias("lower"),
        breach.alias("breach"),
    )


def offset_compare(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
    offset_buckets: int = 7,
) -> DataFrame:
    """PromQL ``offset`` analog: per series per bucket, the value of
    the SAME series exactly ``offset_buckets`` buckets earlier, plus
    the delta and percent change — the week-over-week / day-over-day
    dashboard comparison (``metric / metric offset 7d`` in PromQL;
    the reference exposes no time-shift operator, so this extends
    pkg/aggregate's bucket grid the way X109 extends it with vector
    matching).

    Gap-safety is the contract: the prior value comes from a RANGE
    frame pinned to the single point [−offset, −offset] on the time
    axis, so a missing prior BUCKET yields null (no comparison) —
    never the nearest-row substitute a ROWS-frame ``lag(offset)``
    would silently supply across grid holes. ``pct`` is null when the
    prior value is 0 (no defined ratio) as well as when it is absent.

    Plan: one partial-aggregable groupBy to the series×bucket grid
    (the only data-sized exchange, carrying map-side partials), then
    one series-keyed window over the already-reduced panel — no
    self-join (the equi-join formulation shuffles the grid twice for
    the same answer).
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    grid = df.groupBy(
        *series_cols,
        tumbling_bucket(ts_col, from_ms, step_ms).alias("t"),
    ).agg(F.avg(value_col).alias("value"))
    off = offset_buckets * step_ms
    w = Window.partitionBy(*series_cols).orderBy("t").rangeBetween(-off, -off)
    prev = F.max("value").over(w)  # frame holds at most the one exact bucket
    g = grid.withColumn("prev", prev)
    delta = F.col("value") - F.col("prev")
    pct = F.when(F.col("prev") != 0, delta / F.col("prev"))
    return g.select(
        *series_cols, "t", "value", "prev",
        delta.alias("delta"), pct.alias("pct"),
    )


def holt_winters(
    df: DataFrame,
    series_cols: tuple = ("name",),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
    n_buckets: int = 31,
    period: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    horizon: int = 1,
    phi: float = 1.0,
) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing (Winters
    '60, public) per series — the named seasonal forecaster the
    DES/decomposition family builds toward: level, trend, AND a
    rotating seasonal index updated every step,

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ)s_{t−m}

    initialized classically from the first season (level = its mean,
    trend = season-over-season mean delta / m, seasonal = deviations
    from the first-season mean). Emits per bucket from t=m: the
    one-step-ahead in-sample ``fitted`` (computed from PRE-update
    state — the forecast the model would have made) and residual,
    plus the h=1 out-of-sample ``forecast`` on each series' last row.

    Unlike DES (a closed-form window pair, trend.py des_forecast) the
    seasonal recursion has no window form — this is the repo's second
    SEQUENTIAL-RECURSION operator made hash-oracle-checkable (the
    kmeans_lloyd discipline, applied in time rather than iteration):
    every state write (l, b, s_j) and every fitted value rounds to
    6dp half-up, so the python recursion here, and a programmatically
    UNROLLED DuckDB CTE chain walking the same 24 steps, stay
    bit-identical — float drift cannot compound across steps because
    there is nothing below 1e-6 to compound.

    Dense-grid contract: a series must have ALL ``n_buckets`` buckets
    from ``from_ms`` or it is DROPPED (golden-tested) — HW's seasonal
    rotation is undefined across holes, and silently sliding the
    recursion over a gap would misalign every later phase (the
    gap-safety rule, hardened instead of interpolated).

    Plan: one partial-aggregable groupBy to the series×bucket grid,
    then ``applyInPandas`` per series over the already-reduced panel
    (n_buckets rows each) — the per-series sequential pass the Seek
    interpolators already justify (SCALE.md §3); nothing raw-sized
    reaches Python.

    ``horizon`` (h >= 1): the h-step forecast is CLOSED-FORM from the
    final (l, b, s) state — no new recursion —
    ``ŷ_{n+h} = l + (Σ_{i=1..h} φ^i)·b + s[(n−1+h) mod m]``, the
    seasonal index rotating on across the horizon. horizon=1 keeps
    the exact legacy shape (forecast stamped on each series' last
    in-sample row); horizon>1 ADDITIONALLY appends one forecast-only
    row per step 2..h (t beyond the grid, x/fitted/residual null).
    ``phi`` (Gardner-McKenzie '85 damped trend, public): the level
    and trend updates read ``φ·b_{t−1}``; φ=1.0 is EXACTLY the
    classical recursion (multiplying by 1.0 is a float no-op, so the
    gated h=1 query is bit-unchanged).
    """
    import pandas as pd

    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    if n_buckets < 2 * period:
        # the classical init consumes two full seasons (level/seasonals
        # from the first, trend from the season-over-season delta); a
        # partial second season would divide its sum by m while any
        # faithful mirror averages the actual count — a silent
        # cross-engine divergence, so refuse instead
        raise ValueError(
            f"holt_winters needs n_buckets >= 2*period "
            f"({n_buckets} < {2 * period})"
        )

    def _r6(x: float) -> float:
        # shared floor-form quantizer (detmath, VERDICT r13 #6)
        return quantize_micro_py(x + 1e-9)

    grid = (
        df.where(
            F.col(ts_col).between(from_ms, from_ms + n_buckets * step_ms - 1)
        )
        .groupBy(
            *series_cols,
            tumbling_bucket(ts_col, from_ms, step_ms).alias("t"),
        )
        .agg(F.round(F.avg(value_col) + 1e-9, 6).alias("x"))
    )
    m, n = period, n_buckets

    def _hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        if len(pdf) != n:  # dense-grid contract: drop gappy series
            return pdf.iloc[0:0][list(pdf.columns)].assign(
                fitted=pd.Series(dtype="float64"),
                residual=pd.Series(dtype="float64"),
                forecast=pd.Series(dtype="float64"),
            )
        x = [float(v) for v in pdf["x"]]
        mean1 = _r6(sum(x[:m]) / m)
        mean2 = _r6(sum(x[m:2 * m]) / m)
        lvl = mean1
        b = _r6((mean2 - mean1) / m)
        s = [_r6(x[j] - mean1) for j in range(m)]
        fitted = [None] * n
        residual = [None] * n
        for t in range(m, n):
            j = t % m
            f = _r6(lvl + phi * b + s[j])
            fitted[t] = f
            residual[t] = _r6(x[t] - f)
            prev_l = lvl
            lvl = _r6(alpha * (x[t] - s[j]) + (1 - alpha) * (lvl + phi * b))
            b = _r6(beta * (lvl - prev_l) + (1 - beta) * phi * b)
            s[j] = _r6(gamma * (x[t] - lvl) + (1 - gamma) * s[j])
        forecast = [None] * n
        forecast[n - 1] = _r6(lvl + phi * b + s[n % m])
        out = pdf.assign(fitted=fitted, residual=residual, forecast=forecast)
        out = out[out["fitted"].notna()]
        if horizon > 1:
            # closed-form h-step rows from final state; the trend
            # multiplier accumulates phi^i with the same 6dp rounding
            # so an unrolled oracle stays bit-identical
            extra = []
            trend_mult = phi
            t0 = int(pdf["t"].iloc[0])
            for h in range(2, horizon + 1):
                trend_mult = _r6(trend_mult + phi ** h)
                extra.append(
                    dict(
                        {c: pdf[c].iloc[0] for c in pdf.columns
                         if c not in ("t", "x")},
                        t=t0 + (n - 1 + h) * step_ms,
                        x=None,
                        fitted=None,
                        residual=None,
                        forecast=_r6(lvl + trend_mult * b
                                     + s[(n - 1 + h) % m]),
                    )
                )
            extra_df = pd.DataFrame(extra)
            # pin the all-NA columns to float64 so concat dtypes are
            # stable (pandas deprecates inferring from all-NA object)
            for c in ("x", "fitted", "residual", "forecast"):
                extra_df[c] = extra_df[c].astype("float64")
            out = pd.concat([out, extra_df], ignore_index=True)
        return out

    # derive series-column types from the input schema: hardcoding
    # `string` broke non-string series cols (e.g. a numeric uid) with
    # an Arrow coercion error at runtime
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"{c} {by_name[c]}" for c in series_cols]
        + ["t long", "x double", "fitted double", "residual double",
           "forecast double"]
    )
    return grid.groupBy(*series_cols).applyInPandas(_hw, schema)


def drawdown(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
) -> DataFrame:
    """Running peak-to-trough drawdown per series on the bucketed
    grid: ``peak_t = max(x) over [start..t]``, ``dd_t = (peak_t −
    x_t) / peak_t``, and the running maximum drawdown so far — the
    capacity-headroom / worst-regression-to-date panel (how far below
    its best has this SLI fallen, and what is the worst such dip on
    record). A counterpart to offset_compare's fixed-lag deltas: the
    comparison point here is the series' own running best, not a
    fixed earlier bucket.

    ``dd`` is null when the running peak is 0 or negative (a ratio
    below a non-positive peak has no "fraction of peak" reading —
    the try_divide rule), and ``max_dd`` aggregates only defined dd
    values. All outputs 6dp-rounded at the boundary.

    Plan: one partial-aggregable groupBy to the grid (the only
    data-sized exchange), then ONE series-keyed window pass over the
    reduced panel computing both running aggregates — unbounded-
    preceding frames are O(1) state per step in Spark's window
    operator, nothing quadratic.
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    grid = df.groupBy(
        *series_cols,
        tumbling_bucket(ts_col, from_ms, step_ms).alias("t"),
    ).agg(F.round(F.avg(value_col) + 1e-9, 6).alias("x"))
    w = (
        Window.partitionBy(*series_cols)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max("x").over(w)
    g = grid.withColumn("peak", peak)
    dd = F.when(
        F.col("peak") > 0,
        F.round(
            F.try_divide(F.col("peak") - F.col("x"), F.col("peak")) + 1e-9, 6
        ),
    )
    g = g.withColumn("dd", dd)
    max_dd = F.max("dd").over(w)
    return g.select(
        *series_cols, "t", "x", "peak", "dd", max_dd.alias("max_dd")
    )


def predict_linear(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
    lookback: int = 7,
    horizon: int = 3,
) -> DataFrame:
    """PromQL ``predict_linear()`` on the bucketed grid: at each
    bucket, a least-squares line over the TRAILING ``lookback``
    buckets (current included — PromQL's range selector semantics)
    extrapolated ``horizon`` buckets ahead — the disk-will-fill-in-X
    alert primitive, and the rolling sibling of the whole-series
    :func:`ols_trend` fit.

    Regression x is the bucket INDEX (integer (t−from)/step — exact
    arithmetic), so slope is value-per-bucket. A verdict requires
    the full ``lookback`` window on the time axis (RANGE frame: grid
    holes shrink the count and null the prediction rather than
    silently sliding older buckets in — the Bollinger gap rule).
    slope = (n·Σix − Σi·Σx) / (n·Σi² − (Σi)²) with try_divide
    (degenerate variance → null), predict = mean_x + slope·(i_now +
    horizon − mean_i). 6dp rounding at the output boundary.

    Plan: one partial-aggregable groupBy to the grid, then one
    series-keyed RANGE window computing the five regression moments
    in a single pass over the reduced panel. One exchange.
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    grid = df.groupBy(
        *series_cols,
        tumbling_bucket(ts_col, from_ms, step_ms).alias("t"),
    ).agg(F.round(F.avg(value_col) + 1e-9, 6).alias("x"))
    i = ((F.col("t") - F.lit(from_ms)) / F.lit(step_ms)).cast("long")
    g = grid.withColumn("_i", i)
    w = (
        Window.partitionBy(*series_cols)
        .orderBy("t")
        .rangeBetween(-(lookback - 1) * step_ms, 0)
    )
    n = F.count("x").over(w)
    si = F.sum("_i").over(w).cast("double")
    sx = F.sum("x").over(w)
    six = F.sum(F.col("_i").cast("double") * F.col("x")).over(w)
    sii = F.sum((F.col("_i") * F.col("_i")).cast("double")).over(w)
    full = n == lookback
    nd = n.cast("double")
    slope = F.when(
        full, F.try_divide(nd * six - si * sx, nd * sii - si * si)
    )
    g = g.withColumn("slope", F.round(slope + 1e-9, 6))
    pred = F.round(
        sx / nd
        + F.col("slope") * (F.col("_i") + F.lit(horizon) - si / nd)
        + 1e-9,
        6,
    )
    return g.select(
        *series_cols, "t", "x", "slope",
        F.when(F.col("slope").isNotNull(), pred).alias("predict"),
    )


def hw_anomaly(
    df: DataFrame,
    series_cols: tuple = ("name",),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 86_400_000,
    from_ms: int = 0,
    n_buckets: int = 31,
    period: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    k: float = 3.0,
) -> DataFrame:
    """Forecast-band anomaly flags on Holt-Winters residuals with
    FILTER-SIDE OUTLIER REJECTION: a bucket alarms when its one-step
    residual sits more than ``k`` robust sigmas (MAD-based) from the
    series' median residual — the seasonal upgrade of the trailing
    z/Hampel screens: those compare a bucket against its recent
    NEIGHBORS, this compares it against what the seasonal model
    PREDICTED for it, so a normal Monday rush never alarms while a
    flat Monday does.

    Two passes (VERDICT r10 #1 — the single-pass version let one
    spike poison the level state, so the contaminated forecast
    flagged a whole week of clean buckets):

    1. Plain :func:`holt_winters` yields reference residuals; the
       robust band is med = exact median of those residuals, mad =
       exact median of |residual − med| — breakdown point 0.5, so
       up to half the series can be contaminated without widening
       the band that judges it (the Hampel rationale).
    2. The recursion replays with the band in hand: each bucket's
       ``fitted``/``residual``/``flag`` come from the raw
       observation, but a FLAGGED bucket updates the (l, b, s)
       state with its one-step forecast instead of the spike — the
       standard filter-side rejection, so one outlier cannot
       contaminate the next period's predictions (golden: a +500
       spike on a clean weekly series flags exactly one bucket).

    ``mad = 0`` (over half the residuals sit EXACTLY on the median)
    is a ZERO-WIDTH band, and the comparison stays well-defined:
    ``d > k·0`` flags any nonzero deviation — on a deterministic
    series, a bucket that deviates at all is infinitely many robust
    sigmas out, so it alarms (r11: the first robust cut returned
    null here "for safety", which meant a +300 spike on a perfectly
    clean weekly series never flagged AND, unrejected, poisoned the
    following week — the try_divide no-verdict rule belongs to
    divisions, and nothing is divided here; property-tested over
    spike phases). Flags compare 6dp-rounded deviation against the
    6dp-rounded band; every state write in pass 2 rounds 6dp exactly
    like pass 1, so the unrolled DuckDB oracle chain replays both
    recursions bit-for-bit.

    Plan: ONE grid reduce feeds both passes — the reduced
    series×n_buckets panel is locally checkpointed, so the four
    consumers (pass-1 recursion feeding med and mad, plus the pass-2
    recursion) replay the bounded panel, never the raw scan (without
    the checkpoint Catalyst duplicated the scan subtree per branch —
    four raw scans, measured). Re-bucketing the already-bucketed 6dp
    panel inside holt_winters is an exact no-op. Then two
    exact-percentile panel aggregates and the pass-2
    ``applyInPandas`` over the panel joined to the broadcast band.
    """
    import pandas as pd

    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    eps = 1e-9
    grid = (
        df.where(
            F.col(ts_col).between(from_ms, from_ms + n_buckets * step_ms - 1)
        )
        .groupBy(
            *series_cols,
            tumbling_bucket(ts_col, from_ms, step_ms).alias("t"),
        )
        .agg(F.round(F.avg(value_col) + eps, 6).alias("x"))
        # consumed by four downstream branches: cut the data-sized
        # lineage so raw scans once — the panel is series×n_buckets
        .localCheckpoint(eager=True)
    )
    hw = holt_winters(
        grid, series_cols=series_cols, ts_col="t", value_col="x",
        step_ms=step_ms, from_ms=from_ms, n_buckets=n_buckets,
        period=period, alpha=alpha, beta=beta, gamma=gamma,
    )
    med = hw.groupBy(*series_cols).agg(
        F.round(F.percentile("residual", F.lit(0.5)) + eps, 6).alias("_med")
    )
    dev = hw.join(F.broadcast(med), list(series_cols))
    mad = dev.groupBy(*series_cols).agg(
        F.round(
            F.percentile(F.abs(F.col("residual") - F.col("_med")), F.lit(0.5))
            + eps, 6,
        ).alias("_mad")
    )
    band = med.join(mad, list(series_cols))
    src = grid.join(F.broadcast(band), list(series_cols))
    m, n, kk = period, n_buckets, k
    a_, b_, g_ = alpha, beta, gamma

    def _r6(x: float) -> float:
        # shared floor-form quantizer (detmath, VERDICT r13 #6)
        return quantize_micro_py(x + 1e-9)

    def _robust(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        if len(pdf) != n:  # dense-grid contract, as in holt_winters
            return pdf.iloc[0:0].assign(
                fitted=pd.Series(dtype="float64"),
                residual=pd.Series(dtype="float64"),
                flag=pd.Series(dtype="object"),
            )
        x = [float(v) for v in pdf["x"]]
        med_v = float(pdf["_med"].iloc[0])
        mad_v = float(pdf["_mad"].iloc[0])
        bd = _r6(kk * mad_v)
        mean1 = _r6(sum(x[:m]) / m)
        mean2 = _r6(sum(x[m:2 * m]) / m)
        lvl = mean1
        b = _r6((mean2 - mean1) / m)
        s = [_r6(x[j] - mean1) for j in range(m)]
        fitted = [None] * n
        residual = [None] * n
        flag = [None] * n
        for t in range(m, n):
            j = t % m
            f = _r6(lvl + b + s[j])
            r = _r6(x[t] - f)
            d = _r6(abs(r - med_v))
            fl = 1 if d > bd else 0  # bd = 0 is a zero-width band
            xe = f if fl == 1 else x[t]
            fitted[t], residual[t], flag[t] = f, r, fl
            prev_l = lvl
            lvl = _r6(a_ * (xe - s[j]) + (1 - a_) * (lvl + b))
            b = _r6(b_ * (lvl - prev_l) + (1 - b_) * b)
            s[j] = _r6(g_ * (xe - lvl) + (1 - g_) * s[j])
        out = pdf.assign(fitted=fitted, residual=residual, flag=flag)
        return out[out["fitted"].notna()]

    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"{c} {by_name[c]}" for c in series_cols]
        + ["t long", "x double", "_med double", "_mad double",
           "fitted double", "residual double", "flag long"]
    )
    out = src.groupBy(*series_cols).applyInPandas(_robust, schema)
    return out.select(
        *series_cols, "t", "x", "fitted", "residual",
        F.col("_med").alias("resid_med"), F.col("_mad").alias("resid_mad"),
        "flag",
    )
