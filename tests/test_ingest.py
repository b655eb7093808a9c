"""Ingest: one materialization per append.

Row dicts plan as a JVM LocalRelation; validation, the series-kind
guard and the catalog delta come from observations that the append's
one checkpoint job fills. These tests pin the job budget and the
behaviors that moved with the checks.
"""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from v3io_tsdb_spark import appender
from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.appender import normalize_samples
from v3io_tsdb_spark.catalog import NamesCatalog
from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.errors import BadRequest
from v3io_tsdb_spark.schema import read_table

T0 = 1704067200000  # 2024-01-01T00:00Z
MIN = 60_000


def _mk(spark, tmp_path, **cfg):
    return TSDBAdapter(spark, str(tmp_path / "db"), TSDBConfig(**cfg)).create()


def _scrape(k, hosts=20, minutes=5):
    return [
        {
            "ts": T0 + (k * minutes + i) * MIN,
            "name": "m1",
            "labels": {"host": f"h{h}", "dc": f"d{h % 3}"},
            "value": float(h + i),
        }
        for h in range(hosts)
        for i in range(minutes)
    ]


def _leaf_names(df):
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}


def _kinds_files(ad):
    """The series-kinds files at the table log's current version."""
    ad.log.refresh()
    return sorted(ad.log.files["kinds"])


def _kinds_table(ad):
    return read_table(ad.spark, ad._table("kinds"), appender.KINDS_SCHEMA)


def test_row_input_plans_as_local_relation(spark):
    df = normalize_samples(spark, _scrape(0))
    assert _leaf_names(df) == {"LocalRelation"}
    assert df.count() == 100


def _append_jobs(spark, ad, rows):
    """Spark jobs one append runs, counted by job group."""
    sc = spark.sparkContext
    grp = f"append-{uuid.uuid4()}"
    sc.setJobGroup(grp, "append")
    try:
        ad.append(rows)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(grp))


def test_steady_append_job_budget(spark, tmp_path):
    """A steady-state scrape append into a table with one pre-aggregate
    runs at most 5 Spark jobs: the checkpoint (one shuffle), the samples
    write, and one rollup write (aggregate + write) for every set; the
    kinds guard of known series runs none."""
    ad = _mk(spark, tmp_path, aggregation_granularity="1h", pre_aggregates=(("dc",),))
    ad.append(_scrape(0))
    jobs = _append_jobs(spark, ad, _scrape(1))
    assert 0 < jobs <= 5, jobs
    assert ad.select(name="m1", from_time=T0, to_time=T0 + 10 * MIN - 1).count() == 200


def test_append_jobs_do_not_grow_with_pre_aggregates(spark, tmp_path):
    """Every rollup set comes from one aggregate and one write, so three
    pre-aggregates cost an append no more jobs than one."""
    jobs = {}
    for n, pre in ((1, (("dc",),)), (3, (("dc",), ("host",), ("dc", "host")))):
        ad = _mk(spark, tmp_path / str(n), aggregation_granularity="1h", pre_aggregates=pre)
        ad.append(_scrape(0))
        jobs[n] = _append_jobs(spark, ad, _scrape(1))
    assert jobs[3] == jobs[1], jobs


def test_validate_false_updates_catalog(spark, tmp_path):
    ad = _mk(spark, tmp_path)
    ad.append(
        [
            {"ts": T0, "name": "cpu", "labels": {"host": "h1"}, "value": 1.0},
            {"ts": T0, "name": "mem", "labels": {}, "value": 2.0},
        ],
        validate=False,
    )
    ad.append([{"ts": T0, "name": "cpu", "labels": {"os": "x"}, "value": 3.0}], validate=False)
    assert NamesCatalog.load(ad.path).names == {"cpu": {"host", "os"}, "mem": set()}


def test_null_labels_map_frame(spark, tmp_path):
    """A DataFrame row whose labels map is null (e.g. a JSON source
    missing the field) is the series with no labels, in the catalog
    and the rollups alike."""
    ad = _mk(spark, tmp_path, aggregation_granularity="1h")
    df = spark.createDataFrame(
        [(T0, "cpu", None, 1.0), (T0 + MIN, "cpu", {"host": "h1"}, 2.0)],
        "ts long, name string, labels map<string,string>, value double",
    )
    ad.append(df)
    assert NamesCatalog.load(ad.path).names == {"cpu": {"host"}}
    rollup = spark.read.parquet(ad.rollup_path)
    assert sorted(r["count"] for r in rollup.select("count").collect()) == [1, 1]


def test_two_kinds_at_one_sample_rejected(spark, tmp_path):
    """The mixed-kind check sees the batch before the dedup, so two
    kinds at the same (series, ts) are rejected, not deduplicated."""
    ad = _mk(spark, tmp_path)
    with pytest.raises(BadRequest, match="mix value kinds"):
        ad.append(
            [
                {"ts": T0, "name": "log", "labels": {}, "value": 1.0},
                {"ts": T0, "name": "log", "labels": {}, "value_str": "x"},
            ]
        )
    assert not os.path.exists(ad.samples_path)
    assert not _kinds_files(ad)
    assert NamesCatalog.load(ad.path).names == {}


def test_no_override_conflicting_kind_older_than_watermark(spark, tmp_path):
    """With override_old=False the watermark filter drops a
    conflicting-kind row at or before the series' last sample before
    the kinds guard sees it: no error and nothing written. The same row
    past the watermark is rejected."""
    ad = _mk(spark, tmp_path, override_old=False)
    ad.append([{"ts": T0 + MIN, "name": "m", "labels": {}, "value": 1.0}])
    ad.append([{"ts": T0, "name": "m", "labels": {}, "value_str": "late"}])
    assert [r["kind"] for r in _kinds_table(ad).collect()] == ["float"]
    rows = ad.select(name="m", from_time=T0, to_time=T0 + 2 * MIN).collect()
    assert [(r["t"], r["value"]) for r in rows] == [(T0 + MIN, 1.0)]
    with pytest.raises(BadRequest, match="Cannot append str type metric to float"):
        ad.append([{"ts": T0 + 2 * MIN, "name": "m", "labels": {}, "value_str": "new"}])


def test_known_series_leave_kinds_sidecar_alone(spark, tmp_path):
    ad = _mk(spark, tmp_path)
    ad.append(_scrape(0, hosts=2))
    files = _kinds_files(ad)
    for k in range(1, 5):
        ad.append(_scrape(k, hosts=2))
    assert _kinds_files(ad) == files
    ad.append([{"ts": T0, "name": "m2", "labels": {}, "value_int": 7}])
    assert len(_kinds_files(ad)) == len(files) + 1
    kinds = _kinds_table(ad).groupBy("kind").count().collect()
    assert {r["kind"]: r["count"] for r in kinds} == {"float": 2, "int": 1}


def _kinds(spark, ad):
    rows = _kinds_table(ad).collect()
    return sorted((r["series_id"], r["kind"]) for r in rows)


def test_kinds_cache_sees_another_writers_changes(spark, tmp_path):
    """The kinds guard trusts the pairs it verified only while the
    sidecar's files are unchanged: after a second adapter deletes a
    series and re-ingests it as a string, the first adapter's float
    append of that series is rejected; re-typing after a delete works
    from either adapter."""
    ad = _mk(spark, tmp_path)
    ad.append(_scrape(0, hosts=2))
    ad.append(_scrape(1, hosts=2))  # known series: verified from the cache
    other = TSDBAdapter(spark, ad.path)
    other.delete(metrics=["m1"])
    h0 = {"host": "h0", "dc": "d0"}
    other.append([{"ts": T0, "name": "m1", "labels": h0, "value_str": "up"}])
    with pytest.raises(BadRequest, match="Cannot append float type metric to str"):
        ad.append([{"ts": T0 + MIN, "name": "m1", "labels": h0, "value": 1.0}])
    ad.delete(metrics=["m1"])
    ad.append([{"ts": T0 + MIN, "name": "m1", "labels": h0, "value": 1.0}])
    with pytest.raises(BadRequest, match="Cannot append str type metric to float"):
        other.append([{"ts": T0 + 2 * MIN, "name": "m1", "labels": h0, "value_str": "x"}])
    assert [k for _, k in _kinds(spark, ad)] == ["float"]


def test_many_series_kinds_guard_is_distributed(spark, tmp_path, monkeypatch):
    """Past DRIVER_SERIES_LIMIT the observation lists no series and the
    kinds guard joins the checkpointed batch instead, with the same
    outcomes: conflicts rejected, new series recorded once, known series
    leaving the sidecar alone, in-batch mixing still rejected."""
    monkeypatch.setattr(appender, "DRIVER_SERIES_LIMIT", 3)
    ad = _mk(spark, tmp_path)
    ad.append(_scrape(0, hosts=5))
    kinds = _kinds(spark, ad)
    assert [k for _, k in kinds] == ["float"] * 5
    files = _kinds_files(ad)
    ad.append(_scrape(1, hosts=5))
    assert _kinds_files(ad) == files
    ad.append(_scrape(2, hosts=6))
    assert len(_kinds(spark, ad)) == 6
    clash = [
        dict(r, value=None, value_str="x") if r["labels"]["host"] == "h0" else r
        for r in _scrape(3, hosts=6)
    ]
    with pytest.raises(BadRequest, match="Cannot append str type metric to float"):
        ad.append(clash)
    fresh = [dict(r, name="m9") for r in _scrape(0, hosts=5)]
    fresh[0] = dict(fresh[0], value=None, value_str="x")
    with pytest.raises(BadRequest, match="mix value kinds"):
        ad.append(fresh)
    assert len(_kinds(spark, ad)) == 6


def test_series_id_sql_matches_column_form(spark):
    """The on-disk series id is xxhash64(name, sorted k=v string):
    the SQL definition agrees with the Column-built canonical labels
    string on key order, empty maps and null maps."""
    from v3io_tsdb_spark.labels import labels_string_col, series_id_col

    df = spark.createDataFrame(
        [("m", {"b": "2", "a": "1"}), ("m", {"a": "1", "b": "2"}), ("m", {}), ("m", None)],
        "name string, labels map<string,string>",
    )
    rows = df.select(
        series_id_col().alias("sql"),
        F.xxhash64("name", labels_string_col(F.col("labels"))).alias("col"),
    ).collect()
    assert all(r["sql"] == r["col"] for r in rows)
    ids = [r["sql"] for r in rows]
    assert ids[0] == ids[1] and ids[2] == ids[3] and ids[0] != ids[2]
