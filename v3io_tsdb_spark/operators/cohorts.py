"""Weekly cohort retention over an event stream.

The standard retention triangle: users are cohorted by the week of
their FIRST event; for each (cohort_week, week_offset) cell, count the
distinct cohort users active in that week.

Plan shape: ONE scan of the events. The stream is first reduced to
distinct (user, week) — a partial-aggregable shuffle whose output is
user-count-sized — and the cohort week is a ``min`` window over that
already-small frame partitioned by user (no self-join, no second scan
of the fact table). The final triangle aggregate is O(weeks²) rows
regardless of event volume. Nothing is per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from v3io_tsdb_spark.operators.bucketing import wall_bucket

WEEK_MS = 7 * 86_400_000


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    week_ms: int = WEEK_MS,
) -> DataFrame:
    """Rows: (cohort_week, week_offset, n_users) — ``week_offset`` 0 is
    the cohort's own week, so its n_users is the cohort size."""
    active = df.select(
        user_col, wall_bucket(ts_col, week_ms).alias("_week")
    ).distinct()
    w = Window.partitionBy(user_col)
    return (
        active.withColumn("cohort_week", F.min("_week").over(w))
        .withColumn(
            "week_offset",
            ((F.col("_week") - F.col("cohort_week")) / week_ms).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col(user_col)).alias("n_users"))
    )


def new_vs_returning(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    step_ms: int = 86_400_000,
) -> DataFrame:
    """Daily active users split into new vs returning — the growth
    dashboard's first panel, and the cohort triangle's marginal: per
    bucket, ``active`` distinct users, ``new`` whose FIRST-ever bucket
    this is, ``returning`` the rest.

    Plan shape mirrors retention_cohorts exactly: reduce the stream to
    distinct (user, bucket) — partial-aggregable, user-count-sized
    output — take each user's first bucket as a ``min`` window over
    that small frame (no self-join, no second scan), then a
    bucket-keyed aggregate whose output is |buckets| rows.
    """
    ub = df.select(
        F.col(user_col).alias("_u"),
        wall_bucket(ts_col, step_ms).alias("t"),
    ).distinct()
    first = F.min("t").over(Window.partitionBy("_u"))
    scored = ub.withColumn("_is_new", (F.col("t") == first).cast("long"))
    return scored.groupBy("t").agg(
        F.count("*").cast("long").alias("active"),
        F.sum("_is_new").cast("long").alias("new"),
        (F.count("*") - F.sum("_is_new")).cast("long").alias("returning"),
    )



def _km_curve(per_user: DataFrame) -> DataFrame:
    """Shared Kaplan-Meier core: ``per_user`` has one row per subject
    with ``duration`` (long buckets) and ``_ev`` (1 = observed event,
    0 = right-censored). Collapses subjects to the duration panel,
    takes the at-risk suffix sum and the survival prefix product —
    ``exp(Σ ln f)`` with the f=0 absorbing case handled by a running
    max flag, since one exhausted risk set pins S at 0 forever — as
    windows over that bounded panel: the unpartitioned ordering is
    panel-sized (≤ observation-window/step rows), never data-sized
    (the slo_burn_rate precedent, counters.py:195)."""
    panel = per_user.groupBy("duration").agg(
        F.sum("_ev").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("_ev")).alias("n_censored"),
        F.count(F.lit(1)).alias("_total"),
    )
    w_risk = (
        Window.orderBy(F.col("duration").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    from v3io_tsdb_spark.functions.detmath import with_det_exp, with_det_ln

    p = panel.withColumn("n_risk", F.sum("_total").over(w_risk))
    f = 1.0 - F.col("n_events") / F.col("n_risk")
    # det_ln/det_exp (detmath): the prefix-product runs over shared
    # IEEE-only terms so both engines exponentiate identical doubles
    p = with_det_ln(p.withColumn("_f", f), "_lnf", F.col("_f"))
    w_surv = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dead = F.max((F.col("_f") <= 0.0).cast("int")).over(w_surv) == 1
    ln_sum = F.sum(
        F.when(F.col("_f") > 0.0, F.col("_lnf")).otherwise(F.lit(0.0))
    ).over(w_surv)
    p = with_det_exp(
        p.withColumn("_dead", dead).withColumn("_lnsum", ln_sum),
        "_es", F.col("_lnsum"),
    )
    surv = F.when(F.col("_dead"), F.lit(0.0)).otherwise(F.col("_es"))
    return (
        p.withColumn("survival", surv)
        .where(F.col("n_events") > 0)
        .select("duration", "n_risk", "n_events", "n_censored", "survival")
    )


def kaplan_meier(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    horizon_ms: int = 0,
    churn_gap_ms: int = 7 * 86_400_000,
    step_ms: int = 86_400_000,
) -> DataFrame:
    """Kaplan-Meier survival over time-to-churn (Kaplan & Meier '58,
    the standard right-censored estimator): each user's lifetime is
    ``last event − first event`` bucketed to ``step_ms``; a user whose
    last event precedes ``horizon_ms − churn_gap_ms`` is an observed
    CHURN at that lifetime, anyone active closer to the horizon is
    CENSORED there (still alive — we just stopped watching). Naively
    averaging observed lifetimes would bias churn early because the
    long-lived are exactly the ones still censored; KM is the fix:
    at each observed churn duration d,

        S(d) = Π_{d' ≤ d} (1 − churned(d') / at_risk(d'))

    where at_risk counts everyone (churned or censored) surviving at
    least d'. Output: one row per churn duration with ``n_risk``,
    ``n_events``, ``n_censored`` (censored at exactly that duration),
    and the survival probability.

    Plan: one partial-aggregable groupBy collapses the stream to one
    row per user; panel windows per ``_km_curve``."""
    users = df.groupBy(user_col).agg(
        F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last")
    )
    dur = ((F.col("_last") - F.col("_first")) / step_ms).cast("long")
    event = (F.col("_last") < horizon_ms - churn_gap_ms).cast("long")
    return _km_curve(users.select(dur.alias("duration"), event.alias("_ev")))


def kaplan_meier_conversion(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    type_col: str = "event_type",
    target: str = "purchase",
    horizon_ms: int = 0,
    step_ms: int = 21_600_000,
) -> DataFrame:
    """Kaplan-Meier over time-to-first-``target`` with administrative
    right-censoring at a calendar ``horizon_ms``: duration runs from a
    user's first event to their first target event if that lands
    on/before the horizon (observed), else to the horizon (censored —
    "no conversion YET", which unlike churn is directly observable
    through the horizon, so the censor time needs no activity gap).
    Users whose first event is after the horizon never enter the
    study. Reporting median time-to-convert from converters alone
    biases fast — the censored slow converters vanish; the KM curve
    is the standard correction (same estimator as churn-form
    ``kaplan_meier``, different death definition).

    Plan: one partial-aggregable groupBy (min ts + conditional min
    target-ts per user) — the conversion_latency shape
    (operators/funnel.py) reduced further to a curve."""
    users = df.groupBy(user_col).agg(
        F.min(ts_col).alias("_first"),
        F.min(F.when(F.col(type_col) == target, F.col(ts_col))).alias("_conv"),
    ).where(F.col("_first") <= horizon_ms)
    observed = F.col("_conv").isNotNull() & (F.col("_conv") <= horizon_ms)
    end = F.when(observed, F.col("_conv")).otherwise(F.lit(horizon_ms))
    dur = ((end - F.col("_first")) / step_ms).cast("long")
    return _km_curve(
        users.select(dur.alias("duration"), observed.cast("long").alias("_ev"))
    )


def active_users_rolling(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    step_ms: int = 86_400_000,
    window_buckets: int = 7,
) -> DataFrame:
    """DAU / WAU per bucket: distinct users active in the bucket, and
    distinct users active in the trailing ``window_buckets`` buckets
    (inclusive) — the engagement ratio pair (DAU/WAU = stickiness).

    Rolling COUNT DISTINCT does not decompose into window sums — a
    user active twice in the window must count once — so the plan
    uses the standard bounded-expansion identity instead of a
    per-bucket rescan: reduce to distinct (user, bucket) rows first
    (the data-sized aggregate), then CONTRIBUTE each active pair to
    the ``window_buckets`` buckets whose trailing window contains it
    (a ×W fan-out of the already-reduced panel, W fixed and small),
    and count distinct users per contributed bucket. WAU(d) counts a
    user once even with 7 active days because distinctness is per
    (user, contributed-bucket).

    Only buckets with direct activity are reported (dau > 0) — the
    contribution fan-out can land on silent buckets; they are joined
    back to the observed grid, matching the aggregate paths'
    empty-bucket suppression rule.

    Plan: one partial-aggregable distinct on (user, bucket); a
    scan-side sequence/explode fan-out (rows × W, no shuffle to
    build); two bucket-keyed distinct aggregates. At 100 TB the
    fan-out multiplies the REDUCED user-day panel, never raw events.
    """
    from v3io_tsdb_spark.operators.bucketing import tumbling_bucket

    ub = df.select(
        F.col(user_col).alias("u"),
        tumbling_bucket(ts_col, 0, step_ms).alias("b"),
    ).distinct()
    dau = ub.groupBy("b").agg(F.count_distinct("u").cast("long").alias("dau"))
    contrib = ub.select(
        "u",
        F.explode(
            F.sequence(
                F.col("b"),
                F.col("b") + F.lit((window_buckets - 1) * step_ms),
                F.lit(step_ms),
            )
        ).alias("b"),
    )
    wau = contrib.groupBy("b").agg(
        F.count_distinct("u").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "b")
        .select(
            F.col("b").alias("t"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau") + 1e-9, 6).alias("stickiness"),
        )
    )


def rfm_scores(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    value_col: str = "value",
    horizon_ms: int | None = None,
) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary — the classic
    direct-marketing scoring, public since Hughes '94): per user, days
    since last event at the ``horizon_ms`` observation point, event
    count, and value sum, each scored 1-4 against the EXACT quartile
    boundaries of the user population, concatenated as ``rfm`` (444 =
    best: recent, frequent, high-value).

    ``horizon_ms = None`` (the default) anchors recency at the data's
    own ``max(ts)`` — recency is then non-negative by construction
    (ADVICE r10: the old ``horizon_ms=0`` default made recency a large
    NEGATIVE day count unless the caller remembered to pass the
    observation point). The anchor is the max over the per-user maxima
    (a panel-sized aggregate), attached as a 1-row broadcast — no
    driver collect, no extra raw scan.

    Scoring is threshold-comparison, NOT ntile: an unpartitioned
    ntile/rank would total-order the user panel (data-sized at 100 TB);
    here the three quartile boundary triples come back as ONE 1-row
    broadcast (exact interpolated percentiles over the reduced user
    frame) and each user scores scan-side — 1 + Σ (v > q_k) on
    4dp-rounded values, so boundary verdicts are engine-stable.
    Recency scores INVERTED (smaller = better = 4).

    Plan: one partial-aggregable user reduce, one 1-row exact-quantile
    aggregate (broadcast), one scan-side projection. No global sort,
    no window at all.
    """
    eps = 1e-9
    users = df.groupBy(F.col(user_col).alias("user_id")).agg(
        F.max(ts_col).alias("_maxts"),
        F.count("*").cast("long").alias("frequency"),
        F.round(F.sum(value_col) + eps, 4).alias("monetary"),
    )
    if horizon_ms is None:
        hz = users.agg(F.max("_maxts").alias("_h"))
        users = users.crossJoin(F.broadcast(hz))
        hcol = F.col("_h")
    else:
        hcol = F.lit(horizon_ms)
    users = users.select(
        "user_id",
        F.round(
            (hcol - F.col("_maxts")) / F.lit(86_400_000.0) + eps, 4
        ).alias("recency_days"),
        "frequency",
        "monetary",
    )
    qs = users.agg(
        *[
            F.percentile(c, F.lit(p)).alias(f"_{c[0]}{int(p * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for p in (0.25, 0.5, 0.75)
        ]
    )

    def score(col, prefix, invert=False):
        v = F.round(F.col(col) + eps, 4)
        s = (
            F.lit(1)
            + (v > F.round(F.col(f"_{prefix}25") + eps, 4)).cast("int")
            + (v > F.round(F.col(f"_{prefix}50") + eps, 4)).cast("int")
            + (v > F.round(F.col(f"_{prefix}75") + eps, 4)).cast("int")
        )
        return (F.lit(5) - s) if invert else s

    r, fq, m = (
        score("recency_days", "r", invert=True),
        score("frequency", "f"),
        score("monetary", "m"),
    )
    return users.crossJoin(F.broadcast(qs)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        r.cast("long").alias("r_score"),
        fq.cast("long").alias("f_score"),
        m.cast("long").alias("m_score"),
        (r * 100 + fq * 10 + m).cast("long").alias("rfm"),
    )


def cohort_revenue(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    value_col: str = "value",
    week_ms: int = WEEK_MS,
) -> DataFrame:
    """Cohort LTV triangle: the retention triangle's revenue twin —
    per (cohort_week, week_offset), the distinct active cohort users
    AND their value sum, the pair a growth dashboard divides for
    revenue-per-retained-user.

    Plan mirrors retention_cohorts with one change: the stream first
    reduces to per-(user, week) SUMS (partial-aggregable, user×week-
    sized) instead of distinct pairs, the cohort week is the same
    ``min`` window over that reduced frame, and the triangle
    aggregate carries the value sum alongside the user count. Still
    one scan, no self-join.
    """
    eps = 1e-9
    uw = df.groupBy(
        F.col(user_col).alias("_u"),
        wall_bucket(ts_col, week_ms).alias("_week"),
    ).agg(F.sum(value_col).alias("_v"))
    w = Window.partitionBy("_u")
    return (
        uw.withColumn("cohort_week", F.min("_week").over(w))
        .withColumn(
            "week_offset",
            ((F.col("_week") - F.col("cohort_week")) / week_ms).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.count_distinct("_u").cast("long").alias("n_users"),
            F.round(F.sum("_v") + eps, 4).alias("revenue"),
        )
    )
