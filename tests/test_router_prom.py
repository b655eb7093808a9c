"""Router parity (DisableClientAggr / UsePreciseAggregations / windowed
rollup) and the Prometheus SeriesSet facade.

ref: pkg/pquerier/select.go:183-256 (step clamp + forceRawQuery),
pkg/aggregate/aggregationParams.go:67-77 (CanAggregate),
pkg/config/config.go:165-173, pkg/querier/querier.go:198-207 (bare-step
avg injection), pkg/pquerier/series.go:33-63 (SeriesSet shape).
"""

import pytest
from conftest import MIN, T0, rows_to_dict

from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.querier import Querier, RequestedColumn, SelectParams
from v3io_tsdb_spark.rollup import build_rollup
from v3io_tsdb_spark.timeutils import str2duration_ms

HOUR = 60 * MIN
# hour-aligned anchor so rollup buckets nest exactly in query cells
T0H = (T0 // HOUR) * HOUR


@pytest.fixture()
def rolled(spark, make_samples):
    """(querier, samples) with a 1h rollup over 48h of minute data."""
    df = make_samples(
        [
            ("cpu", {"os": "linux"}, [(i * 30 * MIN, float(i)) for i in range(96)]),
            ("mem", {"os": "linux"}, [(i * 30 * MIN, 2.0 * i) for i in range(96)]),
        ],
        t0=T0H,
    )
    cfg = TSDBConfig(aggregation_granularity="1h")
    rollup = build_rollup(df, cfg.granularity_ms)
    return Querier(spark, df, rollup=rollup, config=cfg), df


def test_step_clamp_under_disable_client_aggr(rolled):
    """step > granularity + DisableClientAggr → step clamps to the
    granularity and the rollup serves it (ref: select.go:185-187,
    aggregationParams.go:75 'Interval == rollupTime && disableClientAggr')."""
    q, _ = rolled
    res = q.select(
        SelectParams(name="cpu", functions="sum", step="4h", from_time=T0H,
                     to_time=T0H + 8 * HOUR, disable_client_aggr=True)
    )
    ts = sorted(r["t"] for r in res.select("t").collect())
    # clamped to 1h cells, not 4h cells
    assert ts[1] - ts[0] == HOUR


def test_force_raw_on_uncovered_function(rolled):
    """DisableClientAggr + a function the rollup doesn't carry → raw
    samples come back (ref: select.go:228-256 forceRawQuery)."""
    q, df = rolled
    cfg = TSDBConfig(aggregation_granularity="1h", aggregates=("count", "sum"))
    q2 = Querier(q.spark, df, rollup=q.rollup_df(), config=cfg)
    res = q2.select(
        SelectParams(name="cpu", functions="max", step="24h", from_time=T0H,
                     to_time=T0H + 48 * HOUR, disable_client_aggr=True)
    )
    assert "value" in res.columns and "max" not in res.columns
    assert res.count() == 96  # all raw cpu samples


def test_force_raw_on_mixed_capability(rolled):
    """Two metrics with per-column functions of different rollup
    coverage under DisableClientAggr → ALL raw, never mixed plans."""
    q, df = rolled
    cfg = TSDBConfig(aggregation_granularity="1h", aggregates=("count", "sum"))
    q2 = Querier(q.spark, df, rollup=q.rollup_df(), config=cfg)
    res = q2.select(
        SelectParams(
            columns=[RequestedColumn(metric="cpu", function="sum"),
                     RequestedColumn(metric="mem", function="max")],
            functions="sum,max", step="24h", from_time=T0H,
            to_time=T0H + 48 * HOUR, disable_client_aggr=True,
        )
    )
    assert "value" in res.columns
    assert res.count() == 192  # raw rows of both metrics


def test_cross_series_forces_raw_under_dca(rolled):
    q, _ = rolled
    res = q.select(
        SelectParams(name="cpu", functions="sum_all", step="24h", from_time=T0H,
                     to_time=T0H + 48 * HOUR, disable_client_aggr=True)
    )
    assert "value" in res.columns  # raw fallback


def test_use_precise_aggregations_disables_rollup(rolled, spark, make_samples):
    q, df = rolled
    cfg = TSDBConfig(aggregation_granularity="1h", use_precise_aggregations=True)
    q2 = Querier(spark, df, rollup=q.rollup_df(), config=cfg)
    p = SelectParams(name="cpu", functions="sum", step="24h",
                     from_time=T0H, to_time=T0H + 48 * HOUR)
    assert not q2._can_use_rollup(["sum"], 24 * HOUR, 0, p)
    assert q._can_use_rollup(["sum"], 24 * HOUR, 0, p)  # control


def test_windowed_rollup_routes_and_matches_client(spark, make_samples):
    """window ≥ granularity routes to the rollup (CanAggregate window
    rule). Server windowed aggregation maps each rollup bucket by its
    MEDIAN time (ref: collector.go:210,366-383) — placing one sample at
    every bucket median makes the approximation exact, so the routed
    answer must equal the client answer bit-for-bit."""
    df = make_samples(
        [("cpu", {"os": "linux"}, [(i * HOUR + 30 * MIN, float(i)) for i in range(48)])],
        t0=T0H,
    )
    cfg = TSDBConfig(aggregation_granularity="1h")
    q = Querier(spark, df, rollup=build_rollup(df, cfg.granularity_ms), config=cfg)
    p = SelectParams(name="cpu", functions="sum,count", step="12h",
                     aggregation_window="24h", from_time=T0H, to_time=T0H + 48 * HOUR)
    assert q._can_use_rollup(["sum", "count"], 12 * HOUR, 24 * HOUR, p)
    srv = rows_to_dict(q.select(p), ["t"], ["sum", "count"])
    pc = SelectParams(name="cpu", functions="sum,count", step="12h",
                      aggregation_window="24h", from_time=T0H, to_time=T0H + 48 * HOUR,
                      use_only_client_aggr=True)
    cli = rows_to_dict(q.select(pc), ["t"], ["sum", "count"])
    assert srv == cli and len(srv) >= 4


def test_window_smaller_than_granularity_stays_client(rolled):
    q, _ = rolled
    p = SelectParams(name="cpu", functions="sum", step="12h", aggregation_window="30m",
                     from_time=T0H, to_time=T0H + 48 * HOUR)
    assert not q._can_use_rollup(["sum"], 12 * HOUR, 30 * MIN, p)


# -- Prometheus facade ------------------------------------------------------

def test_prom_bare_step_injects_avg(rolled):
    """v1 default-function injection: bare step over a rolled-up table
    selects avg (ref: pkg/querier/querier.go:198-207)."""
    from v3io_tsdb_spark.prom import select_series

    q, _ = rolled
    series = select_series(q, SelectParams(name="cpu", step="24h", from_time=T0H,
                                           to_time=T0H + 48 * HOUR))
    assert series, "no series returned"
    for s in series:
        assert s.labels["Aggregate"] == "avg"
        assert s.labels["__name__"] == "cpu"
        assert s.labels["os"] == "linux"
    # day-1 avg of 0..47 = 23.5
    pts = dict(series[0].points)
    assert pts[T0H] == pytest.approx(23.5)


def test_prom_no_injection_without_rollup(spark, make_samples):
    """Without a rollup the bare-step query stays a downsample (v2
    behavior) — no Aggregate label."""
    from v3io_tsdb_spark.prom import select_series

    df = make_samples([("cpu", {}, [(i * MIN, float(i)) for i in range(10)])])
    q = Querier(spark, df)
    series = select_series(q, SelectParams(name="cpu", step="5m", from_time=T0,
                                           to_time=T0 + 10 * MIN))
    assert series and all("Aggregate" not in s.labels for s in series)


def test_prom_seriesset_shape_and_order(rolled):
    """One series per (metric, aggregate); points time-ordered;
    Prometheus mode strips the Aggregate label (series.go:34-38)."""
    from v3io_tsdb_spark.prom import select_series

    q, _ = rolled
    p = SelectParams(name="cpu,mem", functions="sum,count", step="24h",
                     from_time=T0H, to_time=T0H + 48 * HOUR)
    series = select_series(q, p)
    keys = {(s.labels["__name__"], s.labels["Aggregate"]) for s in series}
    assert keys == {("cpu", "sum"), ("cpu", "count"), ("mem", "sum"), ("mem", "count")}
    for s in series:
        ts = [t for t, _ in s.points]
        assert ts == sorted(ts)
    bare = select_series(q, p, show_aggregate_label=False)
    assert all("Aggregate" not in s.labels for s in bare)


def test_prom_golden_mixed_variant_sum_count(spark, make_samples):
    """GOLDEN: sum+count over a float+variant mix. Float metrics melt to
    one series per aggregate with the Aggregate label and the metric
    under __name__ (ref: pkg/pquerier/series.go:33-63); the variant
    (string) metric cannot be aggregated — it is served raw as its own
    string-valued series, never silently coerced."""
    from v3io_tsdb_spark.prom import select_series

    df = make_samples(
        [
            ("cpu", {"os": "linux"}, [(0, 10.0), (30 * MIN, 30.0), (HOUR, 5.0)]),
            ("log", {"os": "linux"}, [(0, "boot"), (30 * MIN, "ready")]),
        ],
        t0=T0H,
    )
    q = Querier(spark, df)
    agg_series = select_series(
        q, SelectParams(name="cpu", functions="sum,count", step="1h",
                        from_time=T0H, to_time=T0H + 2 * HOUR)
    )
    golden = {
        (("Aggregate", "count"), ("__name__", "cpu"), ("os", "linux")): [
            (T0H, 2.0), (T0H + HOUR, 1.0)],
        (("Aggregate", "sum"), ("__name__", "cpu"), ("os", "linux")): [
            (T0H, 40.0), (T0H + HOUR, 5.0)],
    }
    assert {s.key(): s.points for s in agg_series} == golden
    # count arrives as DOUBLE (Prom sample values are float64) — the
    # stack-typing regression would have thrown before producing it
    raw_series = select_series(
        q, SelectParams(name="log", from_time=T0H, to_time=T0H + 2 * HOUR)
    )
    assert [s.labels for s in raw_series] == [{"__name__": "log", "os": "linux"}]
    assert raw_series[0].points == [(T0H, "boot"), (T0H + 30 * MIN, "ready")]


def test_column_functions_execute_and_mask(rolled):
    """Column-spec functions with EMPTY params.functions must execute
    (not fall through to raw), and each metric answers only its own
    requested functions (ref: select.go:177-181)."""
    q, _ = rolled
    res = q.select(
        SelectParams(
            columns=[RequestedColumn(metric="cpu", function="sum"),
                     RequestedColumn(metric="mem", function="max")],
            step="24h", from_time=T0H, to_time=T0H + 48 * HOUR,
        )
    )
    assert {"sum", "max"} <= set(res.columns) and "value" not in res.columns
    rows = res.collect()
    assert rows
    for r in rows:
        if r["name"] == "cpu":
            assert r["sum"] is not None and r["max"] is None
        else:
            assert r["max"] is not None and r["sum"] is None


def test_column_functions_route_under_dca(rolled):
    """Routing and execution agree for column-spec queries under
    DisableClientAggr: the step clamps to the rollup granularity and
    the rollup serves it — previously funcs parsed empty and the DCA
    branch was skipped entirely."""
    q, _ = rolled
    res = q.select(
        SelectParams(columns=[RequestedColumn(metric="cpu", function="sum")],
                     step="4h", from_time=T0H, to_time=T0H + 8 * HOUR,
                     disable_client_aggr=True)
    )
    ts = sorted(r["t"] for r in res.select("t").collect())
    assert ts[1] - ts[0] == HOUR  # clamped to 1h cells → served at rollup resolution


def test_select_series_row_guard(rolled):
    from v3io_tsdb_spark.prom import select_series

    q, _ = rolled
    with pytest.raises(ValueError, match="max_rows"):
        select_series(q, SelectParams(name="cpu", from_time=T0H,
                                      to_time=T0H + 48 * HOUR), max_rows=5)


def _server_windowed(spark, make_samples, window, step="5h", via_rollup=True):
    """Reference golden setup (windowed_aggregation_integration_test.go:
    302-429): 10 hourly samples valued 10*i, queried server-side with
    step 5h. Anchor = the suite's basicQueryTime (21:40Z, conftest T0)
    — the reference maps each rollup bucket by its MEDIAN time
    (collector.go:207-210) and fans it across the window's cells
    (collector.go:366-383); the published expected values depend on
    that 40-minute in-hour offset, so this anchor is part of the
    golden. ``via_rollup``: the route the router takes for this
    window/step."""
    t0 = T0
    df = make_samples(
        [("cpu", {"os": "linux"}, [(i * HOUR, 10.0 * i) for i in range(10)])],
        t0=t0,
    )
    cfg = TSDBConfig(aggregation_granularity="1h")
    q = Querier(spark, df, rollup=build_rollup(df, cfg.granularity_ms), config=cfg)
    p = SelectParams(name="cpu", functions="sum", step=step,
                     aggregation_window=window, from_time=t0,
                     to_time=t0 + 10 * HOUR)
    step_ms, window_ms = str2duration_ms(step), str2duration_ms(window)
    assert q._can_use_rollup(["sum"], step_ms, window_ms, p) is via_rollup
    return t0, rows_to_dict(q.select(p), ["t"], ["sum"])


def test_server_windowed_window_bigger_than_step_golden(spark, make_samples):
    # ref: windowed_aggregation_integration_test.go:302-365 — expected
    # sum cells {t0: 0, t0+5h: 150, t0+10h: 350}
    t0, got = _server_windowed(spark, make_samples, window="6h")
    assert got == {t0: 0.0, t0 + 5 * HOUR: 150.0, t0 + 10 * HOUR: 350.0}


def test_server_windowed_window_equal_to_step_golden(spark, make_samples):
    # ref: windowed_aggregation_integration_test.go:366-429 — expected
    # {t0: 0, t0+5h: 150, t0+10h: 300}
    t0, got = _server_windowed(spark, make_samples, window="5h")
    assert got == {t0: 0.0, t0 + 5 * HOUR: 150.0, t0 + 10 * HOUR: 300.0}


def test_server_windowed_window_equal_to_rollup_interval_golden(spark, make_samples):
    # ref: windowed_aggregation_integration_test.go:430-495 — step ==
    # window == granularity: each hour cell answers its own bucket. A
    # 1h step is not coarse enough for the rollup here (step/granularity
    # must exceed the coefficient), so the client path serves it
    t0, got = _server_windowed(spark, make_samples, window="1h", step="1h", via_rollup=False)
    assert got == {t0 + i * HOUR: 10.0 * i for i in range(10)}
