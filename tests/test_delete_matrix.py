"""Delete-operation matrix, mirroring the reference's delete
integration scenarios (ref: pkg/tsdb/delete_integration_test.go:47-1014
TestDeleteTable: all-by-time / deleteAll / whole partitions /
partitions+filter / specific metrics / metrics+filter / partial ranges
inside a partition / mixed spans). Chunk boundaries collapse into
plain time ranges on Parquet; every other dimension of the matrix is
exercised: the surviving rows AND the surviving dt partition dirs are
checked, plus rollup agreement after the delete."""


import pytest
from conftest import MIN, T0

from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.querier import SelectParams

HOUR = 3_600_000
DAY = 24 * HOUR
D0 = (T0 // DAY) * DAY  # partition-1 start (day-aligned)


def _fixture_rows():
    """3 day-partitions x 2 hour-'chunks' x 2 metrics x 2 label sets —
    the reference's generalData shape with a second metric added so
    metric-scoped deletes have a survivor."""
    rows = []
    for day in (0, 2, 4):
        for hr_off, pts in ((0, 3), (1 * HOUR + 5 * MIN, 2)):
            for i in range(pts):
                t = D0 + day * DAY + hr_off + i * 5 * MIN
                for name in ("cpu", "disk"):
                    for os_label in ("linux", "mac"):
                        rows.append(
                            {"ts": t, "name": name,
                             "labels": {"os": os_label},
                             "value": 1.2 + 0.1 * i}
                        )
    return rows


CASES = [
    # (desc, delete kwargs, survivor predicate on (ts, name, os))
    ("all by time", dict(from_time=0, to_time=9_999_999_999_999),
     lambda t, n, o: False),
    ("delete_all flag", dict(delete_all=True),
     lambda t, n, o: False),
    ("whole partitions", dict(from_time=D0, to_time=D0 + 3 * DAY),
     lambda t, n, o: t >= D0 + 3 * DAY),
    ("whole partitions with filter", dict(from_time=D0, to_time=D0 + 3 * DAY,
                                          filter="os=='linux'"),
     lambda t, n, o: t >= D0 + 3 * DAY or o != "linux"),
    ("specific metrics", dict(from_time=D0, to_time=D0 + 3 * DAY,
                              metrics=["cpu"]),
     lambda t, n, o: t >= D0 + 3 * DAY or n != "cpu"),
    ("metrics with filter", dict(from_time=D0, to_time=D0 + 3 * DAY,
                                 metrics=["cpu"], filter="os=='mac'"),
     lambda t, n, o: t >= D0 + 3 * DAY or n != "cpu" or o != "mac"),
    ("partial range inside partition", dict(from_time=D0 + 4 * MIN,
                                            to_time=D0 + 11 * MIN),
     lambda t, n, o: not (D0 + 4 * MIN <= t <= D0 + 11 * MIN)),
    ("mixed partitions and ranges", dict(from_time=D0 + 1 * HOUR,
                                         to_time=D0 + 4 * DAY + 2 * MIN),
     lambda t, n, o: not (D0 + 1 * HOUR <= t <= D0 + 4 * DAY + 2 * MIN)),
]


@pytest.mark.parametrize("desc,kwargs,survives", CASES, ids=[c[0] for c in CASES])
def test_delete_matrix(tmp_path, spark, desc, kwargs, survives):
    a = TSDBAdapter(spark, str(tmp_path / "tsdb"),
                    TSDBConfig(aggregation_granularity="1h")).create()
    rows = _fixture_rows()
    a.append(rows)
    a.delete(**kwargs)

    expected = sorted(
        (r["ts"], r["name"], r["labels"]["os"], r["value"])
        for r in rows if survives(r["ts"], r["name"], r["labels"]["os"])
    )
    if expected:
        res = a.select(SelectParams(from_time=0, to_time=9_999_999_999_999))
        got = sorted(
            (r["t"], r["name"], r["labels"]["os"], r["value"]) for r in res.collect()
        )
    else:
        got = sorted(
            (r["t"], r["name"], r["labels"]["os"], r["value"])
            for r in a.select(SelectParams(from_time=0, to_time=9_999_999_999_999)).collect()
        )
    assert got == expected, desc

    # partitions of fully-deleted days must be gone from the table (the
    # reference asserts expectedPartitions after partition-spanning
    # deletes): the log's current version holds no file in them
    surviving_days = {t // DAY for (t, _, _, _) in expected}
    a.log.refresh()
    dirs = {p["dt"] for p in a.log.files["samples"].values()}
    import datetime

    expected_dirs = {
        datetime.datetime.utcfromtimestamp(day * DAY / 1000).strftime("%Y-%m-%d")
        for day in surviving_days
    }
    assert dirs == expected_dirs, desc

    # rollup must not serve deleted samples: count via server path over
    # the whole range equals the survivor count
    if expected:
        q = a.querier()
        params = SelectParams(functions="count", step="1d",
                              from_time=D0, to_time=D0 + 6 * DAY)
        total = sum(r["count"] for r in q.select(params).collect())
        assert total == len(expected), desc


def test_delete_collects_once_before_samples_write(spark, tmp_path, monkeypatch):
    """The doomed rows' dt and rdt partitions come from ONE distinct
    collect (a shuffle-map job plus a result job under AQE) before the
    samples partitions are rewritten. The whole delete — samples
    rewrite, one rollup rebuild for every set, catalog and kinds
    refresh, one log commit — stays within a fixed job budget."""
    import uuid

    a = TSDBAdapter(spark, str(tmp_path / "db"),
                    TSDBConfig(aggregation_granularity="1h", pre_aggregates=(("os",),))).create()
    a.append(_fixture_rows())
    sc = spark.sparkContext
    grp = f"delete-{uuid.uuid4()}"
    before_write = []
    stage = TSDBAdapter._stage

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(grp))

    def counted(self, df, table, parts=()):
        if table == "samples" and not before_write:
            before_write.append(jobs())
        return stage(self, df, table, parts)

    monkeypatch.setattr(TSDBAdapter, "_stage", counted)
    sc.setJobGroup(grp, "delete")
    try:
        a.delete(from_time=D0, to_time=D0 + HOUR, filter="os=='linux'")
    finally:
        sc.setJobGroup(None, None)
    assert (before_write, jobs()) == ([2], 9), (before_write, jobs())
    left = a.select(SelectParams(from_time=0, to_time=9_999_999_999_999)).count()
    assert left == len(_fixture_rows()) - 2 * 3
