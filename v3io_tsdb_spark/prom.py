"""Prometheus-compatible SeriesSet facade.

The reference exposes query results to Prometheus/Grafana tooling as a
SeriesSet: label-set + time-ordered iterator pairs, one series per
(metric, aggregate) with the ``Aggregate`` label attached and the metric
name under ``__name__`` (ref: pkg/pquerier/series.go:33-63
NewDataFrameColumnSeries; pkg/aggregate/aggregate.go:35 AggregateLabel;
pkg/config/config.go:75 PrometheusMetricNameAttribute).

This module is the thin client-facing shell over :class:`Querier` — the
query itself stays one lazy DataFrame; only the (bounded) result is
collected and regrouped into per-series point lists, which is exactly
what a Prom remote-read adapter must materialize anyway.

It also carries the v1 querier's bare-step behavior: a step query with
no functions over a rolled-up table auto-selects ``avg``
(ref: pkg/querier/querier.go:198-207) — the v2 engine downsamples
instead, so the injection lives here, where the v1-shaped API lives.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from v3io_tsdb_spark.operators import aggregates as agg
from v3io_tsdb_spark.operators.frames import to_series_sql
from v3io_tsdb_spark.querier import Querier, SelectParams
from v3io_tsdb_spark.sqltext import views
from v3io_tsdb_spark.timeutils import str2duration_ms

AGGREGATE_LABEL = "Aggregate"  # ref: pkg/aggregate/aggregate.go:35
METRIC_NAME_LABEL = "__name__"  # ref: pkg/config/config.go:75


@dataclass
class PromSeries:
    """One series: immutable label set + time-ordered (t_ms, value)."""

    labels: dict
    points: list

    def key(self) -> tuple:
        return tuple(sorted(self.labels.items()))


def default_functions(querier: Querier, params: SelectParams) -> SelectParams:
    """v1 bare-step injection: no functions + step ≥ rollup granularity
    over a rolled-up table → ``avg`` (derivable iff the rollup carries
    count+sum) (ref: pkg/querier/querier.go:198-207)."""
    funcs, _ = agg.parse_functions(params.functions)
    step_ms = str2duration_ms(params.step or 0)
    if (
        not funcs
        and step_ms > 0
        and step_ms >= querier.config.granularity_ms
        and querier.has_rollup()
        and {"count", "sum"} <= set(querier.config.aggregates)
    ):
        return replace(params, functions="avg")
    return params


def select_series(
    querier: Querier,
    params: SelectParams | None = None,
    show_aggregate_label: bool = True,
    max_rows: int = 1_000_000,
    **kwargs,
) -> list:
    """Run a select and shape the result as a list of :class:`PromSeries`
    (the reference's SeriesSet), sorted by label set.

    ``show_aggregate_label=False`` mirrors the reference's Prometheus
    mode, which strips the ``Aggregate`` label (series.go:34-38).

    A remote-read adapter must materialize its (bounded) response, but
    an unbounded raw query over a large range would pull the corpus to
    the driver — ``max_rows`` guards the collect and raises instead of
    OOMing. Raise it deliberately for genuinely large reads.
    """
    if params is None:
        params = SelectParams(**kwargs)
    params = default_functions(querier, params)
    funcs, _ = agg.parse_functions(params.functions)
    res = querier.select(params)
    cols = res.columns

    present = [f for f in funcs if f in cols]
    with views(res) as (src,):
        if present:
            melted = to_series_sql(src, cols, present)
            cols = [c for c in cols if c not in present] + ["aggregate", "value"]
        else:
            # raw / downsample results (including DisableClientAggr's
            # force-raw fallback, where requested functions go unanswered)
            melted = f"SELECT * FROM {src}"
        kv = ", map_keys(labels) AS _lkeys, map_values(labels) AS _lvals" if "labels" in cols else ""
        rows = querier.spark.sql(
            f"SELECT *{kv} FROM ({melted}) ORDER BY t LIMIT {max_rows + 1}"
        ).collect()
    _value_cols = ("value", "value_str", "value_bool", "value_int", "value_blob")
    label_cols = [
        c for c in cols
        if c not in _value_cols + ("name", "t", "aggregate", "series_id", "labels")
    ]
    if len(rows) > max_rows:
        raise ValueError(
            f"select_series result exceeds max_rows={max_rows}; narrow the "
            "query (time range / step / filter) or raise max_rows explicitly"
        )

    series: dict = {}
    for r in rows:
        if "labels" in cols:
            labels = dict(zip(r["_lkeys"] or [], r["_lvals"] or []))
        else:
            labels = {c: r[c] for c in label_cols if r[c] is not None}
        labels[METRIC_NAME_LABEL] = r["name"]
        if show_aggregate_label and "aggregate" in cols:
            labels[AGGREGATE_LABEL] = r["aggregate"]
        key = tuple(sorted(labels.items()))
        val = None
        for vc in _value_cols:  # exactly one kind non-null per row
            if vc in cols and r[vc] is not None:
                val = r[vc]
                break
        series.setdefault(key, []).append((r["t"], val))
    return [
        PromSeries(labels=dict(k), points=pts)
        for k, pts in sorted(series.items())
    ]
