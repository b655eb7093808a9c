"""Query build: the route comes first, then only its table is opened.

The engine reads its own tables with declared schemas, so building a
select on an adapter table runs no Spark job on any route, and a query
opens only the table its route reads. Every route is built from SQL
text, so a build makes a few tens of Py4J round trips.
"""

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from v3io_tsdb_spark import prom
from v3io_tsdb_spark import rollup as ru
from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.querier import Querier, SelectParams
from v3io_tsdb_spark.schema import ROLLUP_READ_SCHEMA, SAMPLES_READ_SCHEMA, read_table
from v3io_tsdb_spark.sql.parser import run_sql

T0 = 1704067200000  # 2024-01-01T00:00Z
MIN = 60_000
HOUR = 60 * MIN
DAY = 24 * HOUR
T1 = T0 + 2 * DAY


def _rows(names=("m1", "m2"), hosts=4, days=2, every=10):
    return [
        {
            "ts": T0 + i * every * MIN,
            "name": n,
            "labels": {"host": f"h{h}", "dc": f"d{h % 2}"},
            "value": float((h + 1) * (i % 7)),
        }
        for n in names
        for h in range(hosts)
        for i in range(days * DAY // (every * MIN))
    ]


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("qb") / "db")
    cfg = TSDBConfig(aggregation_granularity="1h", pre_aggregates=(("dc",), ("dc", "host")))
    ad = TSDBAdapter(spark, path, cfg).create()
    ad.append(_rows())
    return ad


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` ran), counted by job group."""
    sc = spark.sparkContext
    grp = f"qb-{uuid.uuid4()}"
    sc.setJobGroup(grp, "query build")
    try:
        res = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return res, len(sc.statusTracker().getJobIdsForGroup(grp))


def _tables(df, root):
    """Table directories under ``root`` that the plan reads; a rollup
    set as ``rollup/set=<name>``."""
    out = set()
    for f in df.inputFiles():
        parts = os.path.relpath(f.split(":", 1)[-1], root).split(os.sep)
        out.add("/".join(parts[:2]) if parts[0] == "rollup" else parts[0])
    return out


ROUTES = {
    "raw": (dict(name="m1", from_time=T1 - HOUR, to_time=T1), "samples"),
    "downsample": (dict(name="m1", step="10m", from_time=T1 - HOUR, to_time=T1), "samples"),
    "client_aggregate": (dict(name="m1", functions="avg", step="5m", from_time=T0, to_time=T1),
                         "samples"),
    "rollup": (dict(name="m1", functions="count,sum", step="6h", from_time=T0, to_time=T1),
               "rollup/set=series"),
    "label_rollup": (dict(name="m2", functions="sum", step="1d", group_by="dc",
                          from_time=T0, to_time=T1), "rollup/set=by,dc"),
    "raw_group_by": (dict(name="m2", functions="max", step="1h", group_by="host",
                          from_time=T0, to_time=T1), "samples"),
    "cross_series": (dict(name="m1", functions="sum_all", step="10m", from_time=T1 - 6 * HOUR,
                          to_time=T1), "samples"),
    "sliding_window": (dict(name="m1", functions="sum", step="1h", aggregation_window="3h",
                            from_time=T0, to_time=T1), "samples"),
}


@pytest.mark.parametrize("route", sorted(ROUTES))
def test_select_build_runs_no_job(spark, table, route):
    params, reads = ROUTES[route]
    df, jobs = _jobs(spark, lambda: table.select(SelectParams(**params)))
    assert jobs == 0, (route, jobs)
    assert _tables(df, table.path) == {reads}


def test_sql_and_prom_build_run_no_job(spark, table):
    sql = "select sum(m1) as s, max(m1) as mx from tsdb where host=='h1'"
    _, jobs = _jobs(spark, lambda: run_sql(table.querier(), sql, step="6h",
                                           from_time=T0, to_time=T1))
    assert jobs == 0
    # prom.select_series builds exactly this before its collect: the v1
    # bare-step default picks avg over the rollup
    params = SelectParams(name="m1", step="6h", from_time=T0, to_time=T1)

    def build():
        q = table.querier()
        return q.select(prom.default_functions(q, params))

    df, jobs = _jobs(spark, build)
    assert jobs == 0
    assert "avg" in df.columns
    assert len(prom.select_series(table.querier(), params)) == 4


def test_rollup_count_collects_in_two_jobs(spark, table):
    params = SelectParams(name="m1", functions="count", step="6h", from_time=T0, to_time=T1)
    rows, jobs = _jobs(spark, lambda: table.select(params).collect())
    assert jobs <= 2, jobs
    assert sum(r["count"] for r in rows) == 4 * 2 * 144


def test_two_label_pre_aggregate_matches_raw_group_by(spark, table):
    params = dict(name="m1", functions="sum,count,max", step="1d", group_by="dc,host",
                  from_time=T0, to_time=T1)
    rolled = table.select(SelectParams(**params))
    assert _tables(rolled, table.path) == {"rollup/set=by,dc,host"}
    raw = table.select(SelectParams(use_only_client_aggr=True, **params))
    assert _tables(raw, table.path) == {"samples"}
    key = ["name", "dc", "host", "t"]
    assert sorted(rolled.select(*key, "sum", "count", "max").collect()) == sorted(
        raw.select(*key, "sum", "count", "max").collect()
    )
    assert rolled.count() == 8


def test_older_layout_without_variant_columns(spark, tmp_path):
    """A samples file written before the variant columns existed still
    answers; its variant columns read as null."""
    path = str(tmp_path / "db")
    TSDBConfig().save(path)  # planted before the table has a log
    old = spark.createDataFrame(
        [(T0 + i * MIN, "m1", {"host": "h0"}, 7, float(i)) for i in range(5)],
        "ts long, name string, labels map<string,string>, series_id long, value double",
    )
    old.write.parquet(os.path.join(path, "samples", "dt=2024-01-01"))
    ad = TSDBAdapter(spark, path)
    raw = ad.select(name="m1", from_time=T0, to_time=T0 + 10 * MIN).orderBy("t").collect()
    assert [r["value"] for r in raw] == [0.0, 1.0, 2.0, 3.0, 4.0]
    assert all(r["value_str"] is None and r["value_int"] is None for r in raw)
    agg = ad.select(name="m1", functions="count,sum", step="1h",
                    from_time=T0, to_time=T0 + HOUR - 1).collect()
    assert [(r["count"], r["sum"]) for r in agg] == [(5.0, 10.0)]


def test_samples_schema_stable_across_lifecycle(spark, tmp_path):
    ad = TSDBAdapter(spark, str(tmp_path / "db"), TSDBConfig()).create()
    before = ad._samples().schema
    assert before == SAMPLES_READ_SCHEMA
    ad.append(_rows(names=("m1",), hosts=1, days=1, every=60))
    assert ad._samples().schema == before
    ad.delete(from_time=T0 - DAY, to_time=T1)
    assert not ad.log.files["samples"]
    after = ad._samples()
    assert after.schema == before
    assert after.count() == 0
    assert ad.select(name="m1", from_time=T0, to_time=T1).count() == 0


def test_sql_pivot_keeps_requested_empty_column(spark, table):
    """The requested aliases are the pivot keys: a requested aggregate
    with no in-range data comes back as an all-null column."""
    wide = run_sql(
        table.querier(), "select sum(m1), sum(nodata) from tsdb",
        step="1d", from_time=T0, to_time=T1,
    )
    assert wide.columns == ["time", "sum(m1)", "sum(nodata)"]
    rows = wide.collect()
    assert len(rows) == 2
    assert all(r["sum(m1)"] is not None and r["sum(nodata)"] is None for r in rows)
    assert wide.where(F.col("sum(nodata)").isNotNull()).count() == 0


BUILD_CALL_BUDGET = 50


def _calls(spark, fn):
    """(result, Py4J round trips ``fn`` made). Memory releases are not
    counted: py4j sends one whenever the Python proxy of a JVM object
    dies, and proxies left over from earlier work die at arbitrary
    points."""
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counted(command, *a, **k):
        n[0] += not command.startswith("m\nd\n")
        return send(command, *a, **k)

    client.send_command = counted
    try:
        res = fn()
    finally:
        del client.send_command  # back to the class's method
    return res, n[0]


class _Collected(Exception):
    pass


def _build_calls(spark, fn):
    """Py4J round trips ``fn`` makes before its first collect (the
    collect itself is not run)."""
    cls = type(spark.range(0))
    orig = cls.collect

    def stop(self):
        raise _Collected

    def run():
        try:
            fn()
        except _Collected:
            return True
        return False

    cls.collect = stop
    try:
        run()  # warm: first-use JVM class lookups
        collected, calls = _calls(spark, run)
    finally:
        cls.collect = orig
    assert collected
    return calls


BUILDS = {
    **{route: (lambda t, p=params: t.querier().select(SelectParams(**p)).collect())
       for route, (params, _) in ROUTES.items()},
    "run_sql": lambda t: run_sql(
        t.querier(), "select sum(m1), max(m1) from tsdb where host=='h1'",
        step="6h", from_time=T0, to_time=T1).collect(),
    "prom_default_functions": lambda t: prom.select_series(
        t.querier(), SelectParams(name="m1", step="6h", from_time=T0, to_time=T1)),
    "prom_downsample": lambda t: prom.select_series(
        t.querier(), SelectParams(name="m1", step="10m", from_time=T1 - HOUR, to_time=T1)),
}


@pytest.mark.parametrize("build", sorted(BUILDS))
def test_build_py4j_call_budget(spark, table, build):
    """A build is a few SQL-text stages: ≤ 50 Py4J round trips up to
    the first collect (a Column-built route made 250-1,000)."""
    calls = _build_calls(spark, lambda: BUILDS[build](table))
    assert calls <= BUILD_CALL_BUDGET, (build, calls)


def _scan_filters(df, key: str) -> str:
    """The ``key`` ("PushedFilters", "PartitionFilters") entries of the
    file scans in ``df``'s physical plan, untruncated, ids stripped."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    found = [leaves.apply(i).metadata() for i in range(leaves.size())]
    return re.sub(r"#\d+L?", "", " ".join(m.apply(key) for m in found if m.contains(key)))


def test_scan_predicates_reach_the_parquet_scan(spark, table):
    df = table.select(SelectParams(name="m1", from_time=T1 - HOUR, to_time=T1))
    pushed = _scan_filters(df, "PushedFilters")
    assert f"GreaterThanOrEqual(ts,{T1 - HOUR})" in pushed, pushed
    assert f"LessThanOrEqual(ts,{T1})" in pushed, pushed
    parts = _scan_filters(df, "PartitionFilters")
    assert "(dt >= 2024-01-02)" in parts and "(dt <= 2024-01-03)" in parts, parts


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    """Four days, hourly: wider than the rdt-pruning queries below."""
    path = str(tmp_path_factory.mktemp("qb_wide") / "db")
    cfg = TSDBConfig(aggregation_granularity="1h", pre_aggregates=(("dc",),))
    ad = TSDBAdapter(spark, path, cfg).create()
    ad.append(_rows(names=("m1",), hosts=3, days=4, every=60))
    return ad


PRUNED = {
    "no_window": dict(functions="sum,count,max", step="6h"),
    "window": dict(functions="sum,count,max", step="6h", aggregation_window="12h"),
    "label_rollup": dict(functions="sum,count", step="6h", group_by="dc"),
}


@pytest.mark.parametrize("case", sorted(PRUNED))
def test_rollup_scan_pruned_by_rdt(spark, wide, case):
    params = SelectParams(name="m1", from_time=T0 + 2 * DAY, to_time=T0 + 2 * DAY + 12 * HOUR - 1,
                          **PRUNED[case])
    q = wide.querier()
    df = q.select(params)
    parts = _scan_filters(df, "PartitionFilters")
    assert "(rdt >= 2024-01-02)" in parts and "(rdt <= 2024-01-03)" in parts, parts
    # the same rollup rows without an rdt column: nothing to prune on
    subset = ("dc",) if "group_by" in PRUNED[case] else None
    rows = read_table(spark, wide._table("rollup", ru.set_name(subset)),
                      ROLLUP_READ_SCHEMA).drop("rdt")
    unpruned = Querier(spark, wide._table("samples"), config=wide.config, catalog=q._catalog,
                       **({"label_rollups": {subset: rows}} if subset else {"rollup": rows}))
    ref = unpruned.select(params)
    assert "rdt" not in _scan_filters(ref, "PartitionFilters")
    cols = [c for c in df.columns if c != "labels"]
    got, want = sorted(df.select(*cols).collect()), sorted(ref.select(*cols).collect())
    assert got == want and len(got) > 0
