"""Grid alignment with interpolation — the engine's seek/interpolate operator.

Replicates the reference's per-cell collector semantics
(ref: pkg/pquerier/collector.go:236-338 downsampleRawData /
aggregateClientAggregatesCrossSeries; pkg/pquerier/interpolate.go:76-120):

For every grid cell time ``t`` (``from``-anchored, step-spaced) and
every series:

1. *Seek*: find the first sample at ``ts >= t``. If none exists the
   cell is omitted (the reference only fills a cell when Seek succeeds).
2. If that sample is exactly at ``t``, its value is used regardless of
   interpolation type (exact-match branch).
3. Otherwise apply the column's interpolation function with tolerance
   (default 2×step, ref: pkg/pquerier/select.go:41,421-424):
   - ``none``  → next sample's value, no tolerance check
   - ``nan``   → NaN
   - ``prev_val`` → previous sample's value if ``t − t_prev <= tol``
   - ``next_val`` → next sample's value if ``t_next − t <= tol``
   - ``linear``   → line between prev and next if both within tol
   Cells whose tolerance check fails are omitted.

The reference's cross-partition continuity (using the previous
partition's last point, collector.go:262-267) is automatic here: the
samples table is one logical DataFrame, so window functions see the
whole series.

Implementation: one SQL statement per call (see ``align_to_grid`` for
its two physical strategies) — one shuffle, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from v3io_tsdb_spark.errors import BadRequest
from v3io_tsdb_spark.labels import labels_map_sql, labels_string_sql
from v3io_tsdb_spark.sqltext import views

INTERPOLATORS = ("none", "nan", "prev_val", "prev", "next_val", "next", "linear", "lin")

MAX_GRID_CELLS = 10_000_000


def _canon_interp(interp: str | None) -> str:
    s = (interp or "next_val").lower()
    if s in ("next", "next_val", ""):
        return "next_val"
    if s in ("prev", "prev_val"):
        return "prev_val"
    if s in ("lin", "linear"):
        return "linear"
    if s in ("none", "nan"):
        return s
    raise BadRequest(f"unknown interpolation function {interp!r}")


MAX_EXPLODE_FACTOR = 64


def align_to_grid(
    samples: DataFrame,
    from_ms: int,
    to_ms: int,
    step_ms: int,
    interp: str | None = "next_val",
    tolerance_ms: int | None = None,
    key_cols: tuple = ("name", "labels", "series_id"),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Align each series onto the [from, to] step grid.

    Returns ``(key_cols..., t, value)`` with one row per non-omitted
    cell. ``samples`` may contain points outside [from, to] — they
    participate as prev/next neighbors, exactly like the reference's
    iterator spanning partitions.

    Two physical strategies with identical semantics:

    - **exploded** (``next_val``/``linear``, tolerance/step ≤ 64): each
      sample is exploded into the ≤(tol/step+1) cells it can serve as
      next (and prev, for linear) neighbor, then ONE
      ``groupBy(series, cell)`` picks the nearest candidates. One scan,
      one bounded shuffle, map-side combinable — survives a series with
      billions of points because nothing ever sorts a whole series.
      Valid because the tolerance check on the seek result ("first
      sample ≥ t, then ≤ tol away") equals "minimum of the candidates
      within tol": the global minimum is within tol iff any candidate
      is.
    - **windowed** (``prev_val``/``none``/``nan``, or huge tolerance):
      union the grid with the samples and resolve neighbors via two
      window functions. Needed when the Seek ("some sample ≥ t exists,
      however far") cannot be bounded by the tolerance.
    """
    interp = _canon_interp(interp)
    if tolerance_ms is None:
        tolerance_ms = 2 * step_ms  # ref: pkg/pquerier/select.go:41 (defaultToleranceFactor)
    n_cells = (to_ms - from_ms) // step_ms + 1
    if n_cells * 1.0 > MAX_GRID_CELLS:
        raise BadRequest(f"grid too large: {n_cells} cells (max {MAX_GRID_CELLS})")
    if (
        interp in ("next_val", "linear")
        and tolerance_ms // step_ms <= MAX_EXPLODE_FACTOR
    ):
        return _align_exploded(
            samples, from_ms, to_ms, step_ms, interp, tolerance_ms,
            key_cols, ts_col, value_col,
        )
    return _align_windowed(
        samples, from_ms, to_ms, step_ms, interp, tolerance_ms,
        key_cols, ts_col, value_col,
    )


def _names(cols) -> str:
    return ", ".join(f"`{c}`" for c in cols)


def _map_keys(samples, keys):
    """(hashable keys, map-typed keys) of ``keys``: a map-typed key
    (labels) cannot be grouped on, so it travels through each group key
    as its canonical string (``_mstr_<name>``) and is rebuilt after —
    first(map) would force SortAggregate (two extra sorts) instead of
    HashAggregate."""
    map_cols = [
        f.name for f in samples.schema.fields
        if f.dataType.typeName() == "map" and f.name in keys
    ]
    return [k for k in keys if k not in map_cols], map_cols


def _align_exploded(
    samples, from_ms, to_ms, step_ms, interp, tolerance_ms, key_cols, ts_col, value_col
) -> DataFrame:
    keys = list(key_cols)
    n_cells = (to_ms - from_ms) // step_ms  # max cell index K
    # The whole operator is ONE SQL statement: Column-by-Column
    # construction of the role-array tree alone cost ~1,800 py4j
    # round-trips ≈ 0.5 s of build latency (measured on
    # tsdb_interp_linear). Integer `/` in Spark SQL is double division
    # exactly like Column `/`, so every floor / greatest / least lands
    # on identical values.
    ET = "ARRAY<STRUCT<k: BIGINT, role: INT>>"
    a = f"(`{ts_col}` - {from_ms})"

    def role(lo, hi, r):
        return (
            f"CASE WHEN {lo} <= {hi} THEN transform(sequence({lo}, {hi}), "
            f"k -> named_struct('k', k, 'role', {r})) ELSE CAST(array() AS {ET}) END"
        )

    # each cell-index bound is computed once per sample, as a column
    # (_nlo .. _phi), and the role arrays read those columns
    # cells this sample serves as NEXT neighbor (t <= ts, ts - t <= tol):
    # k ∈ [ceil((a - tol)/step), floor(a/step)]
    bounds = [
        f"greatest(0, -CAST(floor(({tolerance_ms} - {a}) / {step_ms}) AS BIGINT)) AS _nlo",
        f"least({n_cells}, CAST(floor({a} / {step_ms}) AS BIGINT)) AS _nhi",
    ]
    roles = role("_nlo", "_nhi", 1)
    if interp == "linear":
        # cells this sample serves as PREV neighbor (t > ts, t - ts <= tol):
        # k ∈ [floor(a/step) + 1, floor((a + tol)/step)]
        bounds += [
            f"greatest(0, CAST(floor({a} / {step_ms}) AS BIGINT) + 1) AS _plo",
            f"least({n_cells}, CAST(floor(({a} + {tolerance_ms}) / {step_ms}) AS BIGINT)) AS _phi",
        ]
        roles = f"concat({roles}, {role('_plo', '_phi', 0)})"
        # the line between the neighbors, or the exact sample at t
        value = (
            "CASE WHEN _next_t = t THEN _next_v ELSE CASE WHEN _prev_t IS NOT NULL "
            "AND _next_t IS NOT NULL THEN _prev_v + (_next_v - _prev_v) * (t - _prev_t) "
            "/ (_next_t - _prev_t) END END"
        )
    else:
        value = "_next_v"  # role bound already enforced the tolerance

    # The map→string conversion happens BELOW the explode (once per
    # sample, not once per role row — a ×(2·tol/step) saving), and the
    # map column itself never enters the exploded projection.
    hash_keys, map_cols = _map_keys(samples, keys)
    hk = [f"`{k}`" for k in hash_keys]
    mstr = [f"`_mstr_{c}`" for c in map_cols]
    to_str = [f"{labels_string_sql(c)} AS `_mstr_{c}`" for c in map_cols]
    to_map = [f"{labels_map_sql('_mstr_' + c)} AS `{c}`" for c in map_cols]
    group = ", ".join(hk + mstr + ["_k"])
    with views(samples) as (src,):
        return samples.sparkSession.sql(f"""
            SELECT {_names(keys)}, t, value FROM (
              SELECT *, {value} AS value FROM (
                SELECT {", ".join(hk + ["_next_t", "_next_v", "_prev_t", "_prev_v"] + to_map)},
                  CAST({from_ms} + _k * {step_ms} AS BIGINT) AS t
                FROM (
                  SELECT {group},
                    min(CASE WHEN _role = 1 THEN _ts END) AS _next_t,
                    min_by(_v, CASE WHEN _role = 1 THEN _ts END) AS _next_v,
                    max(CASE WHEN _role = 0 THEN _ts END) AS _prev_t,
                    max_by(_v, CASE WHEN _role = 0 THEN _ts END) AS _prev_v
                  FROM (
                    SELECT {", ".join(hk + mstr)}, _ts, _v, _r.k AS _k, _r.role AS _role FROM (
                      SELECT {", ".join(hk + mstr)}, _ts, _v, explode({roles}) AS _r FROM (
                        SELECT {", ".join(hk + to_str)}, `{ts_col}` AS _ts, `{value_col}` AS _v,
                          {", ".join(bounds)}
                        FROM {src})))
                  GROUP BY {group}))
              WHERE _next_t IS NOT NULL)
            WHERE value IS NOT NULL""")


def _align_windowed(
    samples, from_ms, to_ms, step_ms, interp, tolerance_ms, key_cols, ts_col, value_col
) -> DataFrame:
    keys = list(key_cols)
    kl = _names(keys)
    hash_keys, map_cols = _map_keys(samples, keys)
    if interp == "none":
        interped = "_next_v"
    elif interp == "nan":
        interped = "CAST('NaN' AS DOUBLE)"
    elif interp == "prev_val":
        interped = f"CASE WHEN _prev_t IS NOT NULL AND (t - _prev_t) <= {tolerance_ms} THEN _prev_v END"
    elif interp == "next_val":
        interped = f"CASE WHEN (_next_t - t) <= {tolerance_ms} THEN _next_v END"
    else:  # linear
        interped = (
            f"CASE WHEN _prev_t IS NOT NULL AND (t - _prev_t) <= {tolerance_ms} "
            f"AND (_next_t - t) <= {tolerance_ms} "
            f"THEN _prev_v + (_next_v - _prev_v) * (t - _prev_t) / (_next_t - _prev_t) END"
        )
    pt_t = "CASE WHEN _is_pt = 1 THEN t END"
    # At equal t the grid row sorts before the sample row, so "prev"
    # (frame ending before current) excludes a same-time sample while
    # "next" (frame from current on) includes it — matching Seek/PeakBack.
    order = "PARTITION BY series_id ORDER BY t, _is_pt"
    with views(samples) as (src,):
        # the distinct series list; map-typed keys travel as strings
        if map_cols:
            hk = [f"`{k}`" for k in hash_keys]
            to_str = [f"{labels_string_sql(c)} AS `_mstr_{c}`" for c in map_cols]
            to_map = [f"{labels_map_sql('_mstr_' + c)} AS `{c}`" for c in map_cols]
            series = (
                f"SELECT {', '.join(hk + to_map)} "
                f"FROM (SELECT DISTINCT {', '.join(hk + to_str)} FROM {src})"
            )
        else:
            series = f"SELECT DISTINCT {kl} FROM {src}"
        return samples.sparkSession.sql(f"""
            SELECT {kl}, t, value FROM (
              SELECT *, CASE WHEN _next_t = t THEN _next_v ELSE {interped} END AS value FROM (
                SELECT * FROM (
                  SELECT *,
                    last({pt_t}, true) OVER w_prev AS _prev_t,
                    last(_v, true) OVER w_prev AS _prev_v,
                    first({pt_t}, true) OVER w_next AS _next_t,
                    first(_v, true) OVER w_next AS _next_v
                  FROM (
                    SELECT {kl}, `{ts_col}` AS t, `{value_col}` AS _v, 1 AS _is_pt FROM {src}
                    UNION ALL
                    SELECT {kl}, explode(sequence({from_ms}, {to_ms}, {step_ms})) AS t,
                      CAST(NULL AS DOUBLE) AS _v, 0 AS _is_pt
                    FROM ({series}))
                  WINDOW w_prev AS ({order} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    w_next AS ({order} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
                WHERE _is_pt = 0)
              WHERE _next_t IS NOT NULL)
            WHERE value IS NOT NULL""")


def minmax_decimate(
    df: DataFrame,
    series_cols: tuple = ("name", "uid"),
    ts_col: str = "t",
    value_col: str = "value",
    step_ms: int = 3_600_000,
    from_ms: int = 0,
) -> DataFrame:
    """Min/max downsampling for plotting: per (series, bucket), the
    actual sample achieving the bucket minimum and the one achieving
    the maximum, with their true timestamps — the classic envelope
    decimation every charting stack ships (e.g. Grafana/Timescale
    unstable-signal rendering; LTTB's simpler sibling that, unlike
    mean-downsampling A11, can NEVER hide a spike: the extreme point
    itself survives, at its real position).

    Ties on value resolve to the earliest timestamp (min_by/max_by on
    a (value, ts) struct) so both engines pick identically.

    Output: one row per (series, bucket): ``count``, ``min_v``/
    ``min_ts``, ``max_v``/``max_ts``. Exactly ≤2 points per bucket
    regardless of input density — the plot payload is panel-sized.
    Plan: ONE partial-aggregable (series, bucket) shuffle; min_by/
    max_by fold map-side like any other aggregate pair.
    """
    t = (
        F.lit(from_ms)
        + F.floor((F.col(ts_col) - from_ms) / step_ms) * step_ms
    ).cast("long")
    v = F.col(value_col)
    lo = F.min_by(F.struct(v.alias("v"), F.col(ts_col).alias("t")),
                  F.struct(v, F.col(ts_col)))
    hi = F.max_by(F.struct(v.alias("v"), F.col(ts_col).alias("t")),
                  F.struct(v, (-F.col(ts_col)).alias("_nt")))
    return (
        df.groupBy(*series_cols, t.alias("t"))
        .agg(
            F.count(value_col).cast("long").alias("count"),
            lo.alias("_lo"),
            hi.alias("_hi"),
        )
        .select(
            *series_cols,
            "t",
            "count",
            F.col("_lo.v").alias("min_v"),
            F.col("_lo.t").alias("min_ts"),
            F.col("_hi.v").alias("max_v"),
            F.col("_hi.t").alias("max_ts"),
        )
    )
