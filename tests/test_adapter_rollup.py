"""M3: adapter lifecycle, rollup maintenance, query router.

Server-aggregate and client-aggregate paths must agree on
bucket-aligned queries (ref: server-aggregates suite,
pqueriertest/server_aggregates_integration_test.go).
"""

import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from conftest import MIN, T0, rows_to_dict

from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.errors import BadRequest, SchemaError
from v3io_tsdb_spark.querier import SelectParams
from v3io_tsdb_spark.schema import ROLLUP_TABLE_READ_SCHEMA, read_table

HOUR = 3_600_000
# T0 aligned down to the hour for bucket-aligned comparisons
T0H = (T0 // HOUR) * HOUR


def _mk(tmp_path, spark, **cfg):
    return TSDBAdapter(spark, str(tmp_path / "tsdb"), TSDBConfig(**cfg)).create()


def _rollup(a):
    """The rollup rows of the table log's current version."""
    a.log.refresh()
    return read_table(a.spark, a._table("rollup"), ROLLUP_TABLE_READ_SCHEMA)


def _files(a, table="samples"):
    """The data files of ``table`` at the log's current version."""
    a.log.refresh()
    return sorted(os.path.join(a.path, f) for f in a.log.files[table])


def test_create_append_select(tmp_path, spark):
    a = _mk(tmp_path, spark)
    a.append(
        [
            {"ts": T0 + i * MIN, "name": "cpu", "labels": {"os": "linux"}, "value": 10.0 * (i + 1)}
            for i in range(4)
        ]
    )
    res = a.select(SelectParams(name="cpu", from_time=T0, to_time=T0 + 10 * MIN))
    assert sorted(r["value"] for r in res.collect()) == [10.0, 20.0, 30.0, 40.0]
    assert a.count_metrics() == 1
    assert a.metric_names() == ["cpu"]
    with pytest.raises(SchemaError):
        a.create()
    a.create(if_not_exists=True)


def test_duplicate_dedup(tmp_path, spark):
    a = _mk(tmp_path, spark)
    a.append([{"ts": T0, "name": "cpu", "labels": {}, "value": 1.0}] * 3)
    assert a.select(SelectParams(name="cpu", from_time=T0, to_time=T0 + MIN)).count() == 1


def test_validation(tmp_path, spark):
    a = _mk(tmp_path, spark)
    # 2**62 overflows a timestamp; it must still be a BadRequest
    for ts in (-5, 2**62, -(2**62)):
        with pytest.raises(BadRequest):
            a.append([{"ts": ts, "name": "cpu", "labels": {}, "value": 1.0}])
    # unwritable even unvalidated: rejected before anything is written
    for ts in (2**62, -(2**62)):
        with pytest.raises(BadRequest):
            a.append([{"ts": ts, "name": "cpu", "labels": {}, "value": 1.0}], validate=False)
    assert not os.path.exists(a.samples_path)
    with pytest.raises(BadRequest):
        a.append([{"ts": T0, "name": "9bad", "labels": {}, "value": 1.0}])
    with pytest.raises(BadRequest):
        a.append(
            [
                {"ts": T0, "name": "log", "labels": {}, "value": 1.0},
                {"ts": T0 + 1, "name": "log", "labels": {}, "value_str": "x"},
            ]
        )


def test_rollup_router_agreement(tmp_path, spark):
    """Rollup (server) path equals client path on bucket-aligned queries."""
    a = _mk(tmp_path, spark, aggregation_granularity="1h")
    pts = [
        {"ts": T0H + i * 7 * MIN, "name": "cpu", "labels": {"os": "linux"}, "value": float(i * i % 17)}
        for i in range(100)
    ]
    a.append(pts)

    q = a.querier()
    params = dict(name="cpu", functions="sum,count,min,max,avg", step="4h",
                  from_time=T0H, to_time=T0H + 12 * HOUR)
    assert q._can_use_rollup(["sum"], 4 * HOUR, 0, SelectParams(**params))
    server = q.select(SelectParams(**params))
    client = q.select(SelectParams(**params, use_only_client_aggr=True))
    skey = rows_to_dict(server, ["t"], ["sum", "count", "min", "max", "avg"])
    ckey = rows_to_dict(client, ["t"], ["sum", "count", "min", "max", "avg"])
    assert set(skey) == set(ckey)
    for k in skey:
        assert skey[k] == pytest.approx(ckey[k])


def test_rollup_not_used_for_fine_step(tmp_path, spark):
    a = _mk(tmp_path, spark)
    q = a.querier()
    # step/gran = 2 < coefficient 3 → client path
    assert not q._can_use_rollup(["sum"], 2 * HOUR, 0, SelectParams())


def test_delete_range(tmp_path, spark):
    a = _mk(tmp_path, spark)
    a.append(
        [{"ts": T0 + i * MIN, "name": "cpu", "labels": {}, "value": float(i)} for i in range(10)]
    )
    a.delete(from_time=T0 + 2 * MIN, to_time=T0 + 5 * MIN)
    left = a.select(SelectParams(name="cpu", from_time=T0, to_time=T0 + 20 * MIN))
    assert sorted(r["value"] for r in left.collect()) == [0.0, 1.0, 6.0, 7.0, 8.0, 9.0]


def test_delete_label_filter_missing_label(tmp_path, spark):
    """Rows lacking the filtered label must survive a label-filter delete
    (three-valued logic: NULL predicate != matched)."""
    a = _mk(tmp_path, spark)
    a.append(
        [
            {"ts": T0, "name": "cpu", "labels": {"os": "linux"}, "value": 1.0},
            {"ts": T0 + MIN, "name": "cpu", "labels": {"os": "win"}, "value": 2.0},
            {"ts": T0 + 2 * MIN, "name": "cpu", "labels": {"host": "h1"}, "value": 3.0},
        ]
    )
    a.delete(filter="os=='linux'")
    left = a.select(SelectParams(name="cpu", from_time=T0, to_time=T0 + 10 * MIN))
    assert sorted(r["value"] for r in left.collect()) == [2.0, 3.0]


def test_delete_leaves_session_conf_unchanged(tmp_path, spark):
    """Delete rewrites only the partitions it touches through the
    writer's own overwrite mode: the session's partitionOverwriteMode
    is never set, and the untouched day's samples, rollup and
    pre-aggregate partitions survive a static-mode session."""
    DAY = 24 * HOUR
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    assert before.upper() == "STATIC"
    a = _mk(tmp_path, spark, aggregation_granularity="1h", pre_aggregates=[["os"]])
    a.append(
        [{"ts": T0H + i * MIN, "name": "cpu", "labels": {"os": "linux"}, "value": 1.0}
         for i in range(5)]
        + [{"ts": T0H + DAY + i * MIN, "name": "cpu", "labels": {"os": "linux"}, "value": 2.0}
           for i in range(5)]
    )
    a.delete(from_time=T0H + MIN, to_time=T0H + 2 * MIN)
    assert spark.conf.get(key) == before
    left = a.select(SelectParams(name="cpu", from_time=T0H, to_time=T0H + 2 * DAY))
    assert sorted(r["value"] for r in left.collect()) == [1.0] * 3 + [2.0] * 5
    day0 = datetime.fromtimestamp(T0H / 1000, timezone.utc).date()
    want = {str(day0): 3, str(day0 + timedelta(days=1)): 5}
    cnt = _rollup(a).groupBy("set", "rdt").agg(F.sum("count").alias("n"))
    assert {(r["set"], str(r["rdt"])): r["n"] for r in cnt.collect()} == {
        (s, d): n for s in ("series", "by,os") for d, n in want.items()
    }


def test_delete_whole_partition(tmp_path, spark):
    """A dt partition whose rows all match must actually disappear, and
    the rollup for that date must not serve deleted samples."""
    DAY = 24 * HOUR
    a = _mk(tmp_path, spark, aggregation_granularity="1h")
    a.append(
        [{"ts": T0H + i * MIN, "name": "cpu", "labels": {}, "value": 1.0} for i in range(5)]
        + [{"ts": T0H + DAY + i * MIN, "name": "cpu", "labels": {}, "value": 2.0} for i in range(5)]
    )
    # delete everything on day 1 (values 1.0)
    a.delete(from_time=T0H, to_time=T0H + 10 * MIN)
    left = a.select(SelectParams(name="cpu", from_time=T0H, to_time=T0H + 2 * DAY))
    assert sorted(r["value"] for r in left.collect()) == [2.0] * 5
    # server-aggregate (rollup) path must agree — no stale day-1 buckets
    q = a.querier()
    params = SelectParams(name="cpu", functions="sum,count", step="1d",
                          from_time=(T0H // DAY) * DAY, to_time=(T0H // DAY) * DAY + 2 * DAY)
    assert q._can_use_rollup(["sum"], DAY, 0, params)
    rows = q.select(params).collect()
    assert len(rows) == 1 and rows[0]["sum"] == 10.0 and rows[0]["count"] == 5


def test_compact_rollup(tmp_path, spark):
    """Compaction merges every partial column: sums add, min/max fold,
    and ``last`` is chosen by ``last_ts`` across batches, not by append
    order (the first batch holds the newest samples)."""
    a = _mk(tmp_path, spark)
    labels = {"os": "linux", "host": "a"}
    starts = (20 * MIN, 0, 10 * MIN)  # per batch, within one 1h bucket
    values = []
    for batch, start in enumerate(starts):
        pts = [(T0H + start + i * 10, batch * 10.0 + i + 0.5) for i in range(5)]
        values += pts
        a.append([{"ts": t, "name": "m", "labels": labels, "value": v} for t, v in pts])
    pre = _rollup(a).count()
    a.compact_rollup()
    post = _rollup(a).collect()
    assert len(post) == 1  # one (series, bucket)
    assert pre >= 3
    row = post[0]
    vs = [v for _, v in values]
    last_ts, last = max(values)
    assert row["count"] == 15
    assert row["sum"] == sum(vs)
    assert row["sqr"] == sum(v * v for v in vs)
    assert (row["min"], row["max"]) == (min(vs), max(vs))
    assert (row["last"], row["last_ts"]) == (last, last_ts) == (4.5, T0H + 20 * MIN + 40)
    assert dict(row["labels"]) == labels


def test_rollup_partials_merge(spark, make_samples):
    """The one algebra: a rollup or pre-aggregate built over A ∪ B
    equals the shared combine applied to its builds over A and B."""
    from v3io_tsdb_spark import rollup as ru

    gran = HOUR
    series = [
        ("cpu", {"os": "linux" if k % 2 else "win", "host": f"h{k}"},
         # distinct timestamps within each os group, so ``last`` is unique
         [(i * 7 * MIN + k * MIN, float((i * 5 + k) % 11) - 3.5) for i in range(40)])
        for k in range(4)
    ]
    a = make_samples([(n, lb, pts[::2]) for n, lb, pts in series], t0=T0H)
    b = make_samples([(n, lb, pts[1::2]) for n, lb, pts in series], t0=T0H)
    whole = a.unionByName(b)

    def rows(df):
        return sorted(
            tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v for v in r)
            for r in df.collect()
        )

    label = ru.build_label_rollup(whole, gran, ("os",))
    merged = ru.merge_partials(
        ru.build_label_rollup(a, gran, ("os",)).unionByName(ru.build_label_rollup(b, gran, ("os",)))
    )
    assert rows(merged.select(*label.columns)) == rows(label)
    assert len(rows(label)) > 4

    per_series = ru.build_rollup(whole, gran, [("os",)])
    merged = ru.merge_partials(
        ru.build_rollup(a, gran, [("os",)]).unionByName(ru.build_rollup(b, gran, [("os",)]))
    )
    assert rows(merged.select(*per_series.columns)) == rows(per_series)
    assert rows(label) == rows(per_series.where("set = 'by,os'").drop("set"))

def test_label_rollup_path_agreement(tmp_path, spark):
    """Cross-label pre-aggregate path equals client path on
    bucket-aligned group-by queries, and is actually routed
    (ref: pkg/pquerier/select.go:261-283)."""
    a = _mk(tmp_path, spark, aggregation_granularity="1h", pre_aggregates=[["os"]])
    pts = [
        {"ts": T0H + i * 7 * MIN, "name": "cpu",
         "labels": {"os": "linux" if i % 2 else "win", "host": f"h{i % 3}"},
         "value": float(i * i % 17)}
        for i in range(100)
    ]
    a.append(pts)

    q = a.querier()
    params = SelectParams(functions="sum,count,avg", step="4h", group_by="os",
                          from_time=T0H, to_time=T0H + 12 * HOUR)
    assert q._label_rollup_plan(["sum", "count", "avg"], 4 * HOUR, 0, params, ["os"]) is not None
    server = q.select(params)
    client = q.select(SelectParams(functions="sum,count,avg", step="4h", group_by="os",
                                   from_time=T0H, to_time=T0H + 12 * HOUR,
                                   use_only_client_aggr=True))
    skey = rows_to_dict(server, ["os", "t"], ["sum", "count", "avg"])
    ckey = rows_to_dict(client, ["os", "t"], ["sum", "count", "avg"])
    assert set(skey) == set(ckey) and len(skey) > 2
    for k in skey:
        assert skey[k] == pytest.approx(ckey[k])

    # filter over the subset label stays on the pre-agg path; a filter
    # over an uncovered label must fall back
    p2 = SelectParams(functions="sum", step="4h", group_by="os", filter="os=='linux'",
                      from_time=T0H, to_time=T0H + 12 * HOUR)
    assert q._label_rollup_plan(["sum"], 4 * HOUR, 0, p2, ["os"]) is not None
    p3 = SelectParams(functions="sum", step="4h", group_by="os", filter="host=='h1'",
                      from_time=T0H, to_time=T0H + 12 * HOUR)
    assert q._label_rollup_plan(["sum"], 4 * HOUR, 0, p3, ["os"]) is None
    filtered = q.select(p2)
    assert set(r["os"] for r in filtered.select("os").distinct().collect()) == {"linux"}


def test_label_rollup_rebuilt_on_delete(tmp_path, spark):
    a = _mk(tmp_path, spark, aggregation_granularity="1h", pre_aggregates=[["os"]])
    a.append([{"ts": T0H + i * MIN, "name": "cpu", "labels": {"os": "linux"},
               "value": float(i)} for i in range(10)])
    a.delete(from_time=T0H + 2 * MIN, to_time=T0H + 5 * MIN)
    q = a.querier()
    params = SelectParams(functions="sum,count", step="4h", group_by="os",
                          from_time=T0H, to_time=T0H + 4 * HOUR)
    assert q._label_rollup_plan(["sum", "count"], 4 * HOUR, 0, params, ["os"]) is not None
    row = q.select(params).collect()[0]
    assert row["count"] == 6 and row["sum"] == 0 + 1 + 6 + 7 + 8 + 9


def test_retention_sweep(tmp_path, spark):
    """Expired dt/rdt partitions disappear, fresh ones survive, label
    rollups sweep too, and queries stay consistent
    (ref: pkg/config/config.go:196-200, partmgr retentionDays)."""
    DAY = 24 * HOUR
    D0 = (T0H // DAY) * DAY  # midnight of day 0
    a = _mk(tmp_path, spark, aggregation_granularity="1h",
            pre_aggregates=(("os",),), retention_hours=24)
    a.append(
        [{"ts": D0 + d * DAY + HOUR, "name": "cpu", "labels": {"os": "linux"},
          "value": float(d)} for d in range(3)]
    )
    assert a.retention_sweep(now_ms=D0 + 10 * HOUR) == {
        "samples": [], "rollup": [], "rollup_by_os": []
    }  # nothing expired yet
    # cutoff = now - 24h = D0 + 36h: day-0 partitions (end D0+24h[+1h]) expire
    dropped = a.retention_sweep(now_ms=D0 + 2 * DAY + 12 * HOUR)
    assert len(dropped["samples"]) == 1 and dropped["samples"][0].endswith(
        __import__("datetime").datetime.utcfromtimestamp(D0 / 1000).strftime("%Y-%m-%d")
    )
    assert len(dropped["rollup"]) == 1 and len(dropped["rollup_by_os"]) == 1
    left = a.select(SelectParams(name="cpu", from_time=D0, to_time=D0 + 4 * DAY))
    assert sorted(r["value"] for r in left.collect()) == [1.0, 2.0]
    # rollup path agrees with the swept samples
    q = a.querier()
    params = SelectParams(name="cpu", functions="sum", step="1d", from_time=D0,
                          to_time=D0 + 4 * DAY)
    assert q._can_use_rollup(["sum"], DAY, 0, params)
    assert sorted(r["sum"] for r in q.select(params).collect()) == [1.0, 2.0]


def test_retention_disabled_is_noop(tmp_path, spark):
    a = _mk(tmp_path, spark)
    a.append([{"ts": T0, "name": "cpu", "labels": {}, "value": 1.0}])
    assert a.retention_sweep(now_ms=T0 + 10**12) == {}


def test_delete_rebuilds_midnight_spanning_rdt(tmp_path, spark):
    """Granularity not dividing a day: a bucket starting late on day R
    spans midnight, so deleting a day-R+1 sample must rebuild rdt=R
    from BOTH days — the r2 bug rmtree'd the whole rdt=R partition,
    losing the surviving day-R contribution."""
    DAY = 24 * HOUR
    gran = 5 * HOUR  # 86400000 % 18000000 != 0 — buckets drift daily
    # find a midnight M whose containing bucket spans it comfortably
    M = (T0H // DAY + 1) * DAY
    for _ in range(16):
        p = M % gran
        if p > HOUR // 2 and gran - p > HOUR // 2:
            break
        M += DAY
    B = M - p  # bucket [B, B+5h) straddles the midnight at M
    # validate_schema=False: the reference REJECTS non-day-dividing
    # granularities at create (schema_test.go:58-83, mirrored in
    # TSDBConfig.validate); this test exercises the engine's
    # wider-than-reference capability on purpose.
    a = TSDBAdapter(
        spark, str(tmp_path / "tsdb"), TSDBConfig(aggregation_granularity="5h")
    ).create(validate_schema=False)
    a.append(
        [
            {"ts": M - 30 * MIN, "name": "cpu", "labels": {}, "value": 1.0},  # day R
            {"ts": M + 30 * MIN, "name": "cpu", "labels": {}, "value": 2.0},  # day R+1, same bucket
            {"ts": M + 6 * HOUR, "name": "cpu", "labels": {}, "value": 4.0},  # day R+1, later bucket
        ]
    )
    a.delete(from_time=M + 15 * MIN, to_time=M + 45 * MIN)  # only the 2.0 sample
    rollup = _rollup(a)
    row = rollup.where(F.col("bucket") == B).collect()
    assert len(row) == 1 and row[0]["sum"] == 1.0 and row[0]["count"] == 1
    left = a.select(SelectParams(name="cpu", from_time=M - DAY, to_time=M + DAY))
    assert sorted(r["value"] for r in left.collect()) == [1.0, 4.0]


def test_names_catalog_metadata_lookups(tmp_path, spark):
    """metric_names and group-by validation are METADATA operations
    once the catalog exists: zero Spark jobs, as in the reference's
    names directory (ref: pkg/appender/store.go:190-203,
    pkg/pquerier/querier.go:231-255)."""
    import uuid

    a = _mk(tmp_path, spark)
    a.append(
        [
            {"ts": T0, "name": "cpu", "labels": {"os": "linux", "host": "h1"}, "value": 1.0},
            {"ts": T0, "name": "mem", "labels": {"host": "h2"}, "value": 2.0},
            {"ts": T0, "name": "disk", "labels": {}, "value": 3.0},
        ]
    )
    sc = spark.sparkContext
    grp = f"catalog-{uuid.uuid4()}"
    sc.setJobGroup(grp, "catalog metadata lookups")
    try:
        assert a.metric_names() == ["cpu", "disk", "mem"]
        q = a.querier()
        q._validate_group_by(None, ["os", "host"])  # no base needed
        with pytest.raises(Exception):
            q._validate_group_by(None, ["nope"])
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(grp)) == []  # ZERO jobs
    # and the group-by query itself works end-to-end
    res = a.select(SelectParams(name="cpu,mem", functions="sum", step="1d",
                                group_by="host", from_time=T0 - HOUR, to_time=T0 + HOUR))
    assert {r["host"] for r in res.collect()} == {"h1", "h2"}


def test_names_catalog_refreshed_on_delete(tmp_path, spark):
    a = _mk(tmp_path, spark)
    a.append(
        [
            {"ts": T0, "name": "cpu", "labels": {"os": "linux"}, "value": 1.0},
            {"ts": T0, "name": "mem", "labels": {"zone": "z1"}, "value": 2.0},
        ]
    )
    assert a.metric_names() == ["cpu", "mem"]
    a.delete(metrics=["mem"])
    assert a.metric_names() == ["cpu"]
    with pytest.raises(Exception):  # zone vanished with mem
        a.querier()._validate_group_by(None, ["zone"])


def test_names_catalog_seeded_for_pre_catalog_table(tmp_path, spark):
    """A table written before the catalog existed must be seeded from
    ALL its samples on the first post-catalog append — not just from
    that batch — or previously ingested metrics silently vanish from
    metric_names()/group-by validation."""
    import os

    a = _mk(tmp_path, spark)
    a.append([{"ts": T0, "name": "cpu", "labels": {"os": "linux"}, "value": 1.0}])
    # simulate a pre-catalog table: one with samples and no log, so the
    # log is bootstrapped from its directories, without a catalog
    import shutil

    shutil.rmtree(os.path.join(a.path, "_log"))
    a = TSDBAdapter(spark, a.path)
    assert not a.log.names
    a.append([{"ts": T0 + MIN, "name": "mem", "labels": {"zone": "z1"}, "value": 2.0}])
    assert a.metric_names() == ["cpu", "mem"]  # cpu survived the reseed
    a.querier()._validate_group_by(None, ["os"])  # cpu's label keys too


def test_group_by_validation_scoped_to_requested_metrics(tmp_path, spark):
    """The catalog check is per requested metric (the reference errors
    per queried series, pkg/pquerier/select.go:354-367): a label that
    exists only on an UNqueried metric is an error, not a silent
    NULL-key aggregation."""
    a = _mk(tmp_path, spark)
    a.append(
        [
            {"ts": T0, "name": "cpu", "labels": {"os": "linux"}, "value": 1.0},
            {"ts": T0, "name": "mem", "labels": {"zone": "z1"}, "value": 2.0},
        ]
    )
    q = a.querier()
    q._validate_group_by(None, ["zone"], ["mem"])  # zone exists on mem
    with pytest.raises(BadRequest):  # ... but not on cpu
        q._validate_group_by(None, ["zone"], ["cpu"])
    with pytest.raises(BadRequest):
        a.select(SelectParams(name="cpu", functions="sum", step="1d",
                              group_by="zone", from_time=T0 - HOUR, to_time=T0 + HOUR))


def test_compact_samples(tmp_path, spark):
    """Small-file compaction: N appends leave N file sets per dt
    partition; compaction merges to one file per date dir and changes
    neither the row set nor the rollup."""
    import os

    a = _mk(tmp_path, spark)
    for batch in range(3):
        a.append(
            [{"ts": T0H + batch * MIN + i * 10, "name": "m", "labels": {}, "value": float(i)}
             for i in range(5)]
        )
    assert len({p["dt"] for p in a.log.files["samples"].values()}) == 1
    assert len(_files(a)) >= 3
    pre_rows = sorted((r["ts"], r["value"]) for r in a._samples().collect())
    a.compact_samples()
    assert len(_files(a)) == 1
    post_rows = sorted((r["ts"], r["value"]) for r in a._samples().collect())
    assert post_rows == pre_rows
    # queries still route and agree after the swap
    res = a.select(name="m", from_time=T0H, to_time=T0H + 3 * MIN)
    assert res.count() == 15


def test_compact_samples_size_targeted(tmp_path, spark):
    """target_file_mb fans compaction out over multiple files instead
    of one-per-date, preserving the row set (the deployment knob for
    ~target-sized files)."""
    import os

    a = _mk(tmp_path, spark)
    for batch in range(3):
        a.append(
            [{"ts": T0H + batch * MIN + i * 10, "name": "m", "labels": {"i": str(i)},
              "value": float(i)} for i in range(50)]
        )
    pre_rows = sorted((r["ts"], r["value"]) for r in a._samples().collect())
    a.compact_samples(target_file_mb=1)
    assert len(_files(a)) >= 1
    post_rows = sorted((r["ts"], r["value"]) for r in a._samples().collect())
    assert post_rows == pre_rows
    # the fan-out arithmetic itself (test data is under 1 MB, so the
    # write above exercises the buckets=1 floor)
    from v3io_tsdb_spark.adapter import _compact_buckets

    mb = 1024 * 1024
    assert _compact_buckets(0, 128) == 1
    assert _compact_buckets(128 * mb, 128) == 1
    assert _compact_buckets(128 * mb + 1, 128) == 2
    assert _compact_buckets(10_000 * mb, 128) == 79  # ceil(10000/128)


def test_swap_dirs_crash_safety(tmp_path, spark, monkeypatch):
    """A compaction that dies at any point — in its write, or at its log
    commit — leaves the table answering from the old files, and the
    next compaction completes."""
    from v3io_tsdb_spark import tablelog

    a = _mk(tmp_path, spark)
    for batch in range(2):
        a.append([{"ts": T0H + batch * MIN + i * 10, "name": "m", "labels": {}, "value": 1.0}
                  for i in range(5)])
    old = _files(a)
    stage, create = TSDBAdapter._stage, tablelog.TableLog._create

    def fail(*args, **kwargs):
        raise OSError("crash")

    for target, name in ((TSDBAdapter, "_stage"), (tablelog.TableLog, "_create")):
        monkeypatch.setattr(target, name, fail)
        with pytest.raises(OSError):
            a.compact_samples()
        monkeypatch.undo()
        assert _files(a) == old
        assert a.select(name="m", from_time=T0H, to_time=T0H + HOUR).count() == 10
    a.compact_samples()
    assert len(_files(a)) == 1
    assert a.select(name="m", from_time=T0H, to_time=T0H + HOUR).count() == 10
    assert (stage, create) == (TSDBAdapter._stage, tablelog.TableLog._create)


def test_typed_variant_values_roundtrip(tmp_path, spark):
    """Typed variant kinds beyond the reference's implemented
    string-only surface (its enum reserves bool/int/blob,
    ref: pkg/chunkenc/vartype.go:32-50): bool / int64 / blob series
    ingest, persist, and come back typed through raw select; exactly
    one value column is non-null per row; mixing kinds in one series
    is rejected like float-vs-string."""
    import pytest as _pt

    from v3io_tsdb_spark.errors import BadRequest

    a = _mk(tmp_path, spark)
    a.append(
        [
            {"ts": T0, "name": "up", "labels": {"h": "a"}, "value_bool": True},
            {"ts": T0 + MIN, "name": "up", "labels": {"h": "a"}, "value_bool": False},
            {"ts": T0, "name": "restarts", "labels": {"h": "a"}, "value_int": 3},
            {"ts": T0, "name": "payload", "labels": {"h": "a"}, "value_blob": b"\x00\x01"},
            {"ts": T0, "name": "cpu", "labels": {"h": "a"}, "value": 0.5},
        ]
    )
    res = a.select(from_time=T0 - MIN, to_time=T0 + 2 * MIN)
    dt = dict(res.dtypes)
    assert dt["value_bool"] == "boolean" and dt["value_int"] == "bigint"
    assert dt["value_blob"] == "binary"
    rows = {(r["name"], r["t"]): r for r in res.collect()}
    assert rows[("up", T0)]["value_bool"] is True
    assert rows[("up", T0 + MIN)]["value_bool"] is False
    assert rows[("restarts", T0)]["value_int"] == 3
    assert bytes(rows[("payload", T0)]["value_blob"]) == b"\x00\x01"
    vcols = ("value", "value_str", "value_bool", "value_int", "value_blob")
    for r in rows.values():  # exactly one kind per row
        assert sum(r[c] is not None for c in vcols) == 1
    # a series cannot mix kinds (bool then int)
    with _pt.raises(BadRequest):
        a.append(
            [
                {"ts": T0, "name": "m", "labels": {}, "value_bool": True},
                {"ts": T0 + 1, "name": "m", "labels": {}, "value_int": 1},
            ]
        )


def test_cross_append_kind_conflict_goldens(tmp_path, spark):
    """Mirror of TestIngestDataFloatThenString / StringThenFloat (ref:
    pkg/tsdb/v3iotsdb_integration_test.go:1057-1122): a series ingested
    as one value kind rejects samples of another kind in a LATER
    append (the reference errors "Cannot append ... type metric to ...
    type metric"); same-kind re-appends stay fine, and deleting the
    series' history frees it for re-typing."""
    a = _mk(tmp_path, spark)
    a.append([{"ts": T0, "name": "cpu", "labels": {}, "value": 1.0}])
    with pytest.raises(BadRequest, match="type metric"):
        a.append([{"ts": T0 + MIN, "name": "cpu", "labels": {}, "value_str": "x"}])
    a.append([{"ts": T0 + MIN, "name": "cpu", "labels": {}, "value": 2.0}])

    b = _mk(tmp_path / "b", spark)
    b.append([{"ts": T0, "name": "log", "labels": {}, "value_str": "hello"}])
    with pytest.raises(BadRequest, match="type metric"):
        b.append([{"ts": T0 + MIN, "name": "log", "labels": {}, "value": 1.0}])
    # different LABELS = different series: a float twin of the name is
    # allowed (the reference keys its state by the full label-set hash)
    b.append([{"ts": T0, "name": "log", "labels": {"k": "v"}, "value": 3.0}])
    # deleting the string series' history frees the name+labels
    b.delete(from_time=0, to_time=9_999_999_999_999, filter="not exists(k)")
    b.append([{"ts": T0 + 2 * MIN, "name": "log", "labels": {}, "value": 4.0}])


def test_dash_in_metric_name_rejected(tmp_path, spark):
    """Mirror of TestWriteMetricWithDashInName (ref:
    pkg/tsdb/v3iotsdb_integration_test.go:379-408): Add must fail."""
    a = _mk(tmp_path, spark)
    with pytest.raises(BadRequest):
        a.append([{"ts": T0, "name": "cpu-1", "labels": {}, "value": 314.3}])


def test_time_delta_beyond_32bit(tmp_path, spark):
    """Mirror of TestIngestWithTimeDeltaBiggerThen32Bit (ref:
    pkg/tsdb/v3iotsdb_integration_test.go:261-322): two samples more
    than 2^32 ms apart in ONE batch ingest and read back exactly (the
    reference works around its chunk delta encoding; columnar storage
    has no delta limit — the behavior contract is the golden)."""
    big = 1 << 33  # ~99 days in ms
    a = _mk(tmp_path, spark)
    a.append([
        {"ts": T0, "name": "cpu", "labels": {}, "value": 1.0},
        {"ts": T0 + big, "name": "cpu", "labels": {}, "value": 2.0},
    ])
    res = a.select(SelectParams(name="cpu", from_time=0, to_time=T0 + 2 * big))
    assert sorted((r["t"], r["value"]) for r in res.collect()) == [
        (T0, 1.0), (T0 + big, 2.0),
    ]


def test_avg_seek_golden(tmp_path, spark):
    """Mirror of TestIgnoreNaNWhenSeekingAggSeries' expected values
    (ref: pkg/tsdb/v3iotsdb_integration_test.go:893-980): avg at 2m
    step over the four-point fixture -> 300.3, 100.4, 200.0."""
    base = 1532940510000
    a = _mk(tmp_path, spark)
    a.append([
        {"ts": base, "name": "cpu", "labels": {"os": "linux"}, "value": 300.3},
        {"ts": base + MIN, "name": "cpu", "labels": {"os": "linux"}, "value": 300.3},
        {"ts": base + 2 * MIN, "name": "cpu", "labels": {"os": "linux"}, "value": 100.4},
        {"ts": base + 5 * MIN, "name": "cpu", "labels": {"os": "linux"}, "value": 200.0},
    ])
    res = a.select(SelectParams(name="cpu", functions="avg", step="2m",
                                from_time=base - 60 * MIN, to_time=base + 6 * MIN))
    got = {r["t"]: r["avg"] for r in res.collect()}
    assert got == {base: pytest.approx(300.3), base + 2 * MIN: pytest.approx(100.4),
                   base + 4 * MIN: pytest.approx(200.0)}


def test_compact_samples_sorted_for_data_skipping(tmp_path, spark):
    """Compacted files are sorted by (name, ts) within each file so
    Parquet row-group min/max stats stay selective on both — the data-
    skipping property a name- or range-filtered scan relies on."""
    import os

    import pyarrow.parquet as pq

    a = _mk(tmp_path, spark)
    # two interleaved appends across two metrics -> unsorted on disk
    a.append([{"ts": T0H + i * 10, "name": "zz", "labels": {}, "value": 1.0}
              for i in range(50)])
    a.append([{"ts": T0H + 5 + i * 10, "name": "aa", "labels": {}, "value": 2.0}
              for i in range(50)])
    a.compact_samples()
    f = _files(a)[0]
    t = pq.read_table(f, columns=["name", "ts"])
    names, ts = t["name"].to_pylist(), t["ts"].to_pylist()
    assert names == sorted(names)
    for i in range(1, len(ts)):
        if names[i] == names[i - 1]:
            assert ts[i] >= ts[i - 1]


def test_different_label_sets_in_different_partitions_golden(tmp_path, spark):
    """Mirror of TestDifferentLabelSetsInDifferentPartitions (ref:
    pqueriertest/raw_query_integration_test.go:527-575): a series with
    one point in an old dt partition 1h BEFORE `from` and one at
    `basicQueryTime` — the old-partition point must not leak into the
    range result; the series still returns its in-range point."""
    DAY = 86_400_000
    HOUR = 3_600_000
    a = _mk(tmp_path, spark)
    a.append([
        {"ts": T0H - 9 * DAY - HOUR, "name": "cpu", "labels": {"os": "mac"},
         "value": 40.0},
        {"ts": T0H, "name": "cpu", "labels": {"os": "mac"}, "value": 40.0},
    ])
    res = a.select(from_time=T0H - 9 * DAY, to_time=T0H + DAY).collect()
    assert [(r["t"], r["value"]) for r in res] == [(T0H, 40.0)]


def test_different_metrics_in_different_partitions_golden(tmp_path, spark):
    """Mirror of TestDifferentMetricsInDifferentPartitions (ref:
    pqueriertest/raw_query_integration_test.go:576-627): cpu lives only
    in an old partition (out of range), diskio spans both — only
    diskio's in-range point comes back, one series total."""
    DAY = 86_400_000
    HOUR = 3_600_000
    a = _mk(tmp_path, spark)
    a.append([
        {"ts": T0H - 9 * DAY - HOUR, "name": "cpu", "labels": {"os": "linux"},
         "value": 10.0},
        {"ts": T0H - 9 * DAY - HOUR, "name": "diskio", "labels": {"os": "linux"},
         "value": 10.0},
        {"ts": T0H, "name": "diskio", "labels": {"os": "linux"}, "value": 40.0},
    ])
    res = a.select(from_time=T0H - 9 * DAY, to_time=T0H + DAY).collect()
    assert [(r["name"], r["t"], r["value"]) for r in res] == [("diskio", T0H, 40.0)]


def test_schema_hot_reload_on_external_edit(tmp_path, spark):
    """An already-open adapter must see an external _tsdb_schema.json
    edit (granularity change) at the next query planning, without
    reopen — mtime-gated like the reference's ReadAndUpdateSchema
    (ref: pkg/partmgr/partmgr.go:228-264)."""
    import json
    import os

    from v3io_tsdb_spark.config import SCHEMA_FILE

    a = _mk(tmp_path, spark, aggregation_granularity="1h")
    a.append([{"ts": T0, "name": "cpu", "labels": {}, "value": 1.0}])
    assert a.config.granularity_ms == HOUR

    # external writer edits the schema object
    schema_file = os.path.join(str(tmp_path / "tsdb"), SCHEMA_FILE)
    with open(schema_file) as f:
        d = json.load(f)
    d["aggregation_granularity"] = "10m"
    with open(schema_file, "w") as f:
        json.dump(d, f)
    # force a strictly-newer mtime even on coarse-mtime filesystems
    st = os.stat(schema_file)
    os.utime(schema_file, (st.st_atime, st.st_mtime + 2))

    a.querier()  # query planning triggers the mtime check
    assert a.config.granularity_ms == 10 * MIN

    # unchanged file -> no reload churn (mtime recorded)
    before = a.config
    a.querier()
    assert a.config is before
