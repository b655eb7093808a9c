"""One rollup table: the per-series set and every pre-aggregate set are
built by one aggregate, written by one write, and read, compacted,
rebuilt and upgraded as one table partitioned by (set, rdt)."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from v3io_tsdb_spark import rollup as ru
from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.querier import SelectParams
from v3io_tsdb_spark.schema import ROLLUP_READ_SCHEMA, read_table

T0 = 1704067200000  # 2024-01-01T00:00Z
MIN = 60_000
HOUR = 60 * MIN
DAY = 24 * HOUR


def _mk(spark, tmp_path, **cfg):
    cfg.setdefault("aggregation_granularity", "1h")
    return TSDBAdapter(spark, str(tmp_path / "db"), TSDBConfig(**cfg)).create()


def _set_rows(ad, subset=None):
    """The rows of one rollup set at the table log's current version."""
    ad.log.refresh()
    return read_table(ad.spark, ad._table("rollup", ru.set_name(subset)), ROLLUP_READ_SCHEMA)


def _batch(k, hosts=6, minutes=30):
    """Integer-valued samples, so every sum is exact in any order."""
    return [
        {
            "ts": T0 + (k * minutes + i) * MIN,
            "name": "cpu",
            "labels": {"host": f"h{h}", "dc": f"d{h % 3}", "dc_host": f"x{h % 2}"},
            "value": float((h * 7 + i) % 11),
        }
        for h in range(hosts)
        for i in range(minutes)
    ]


def _cells(df, keys):
    return sorted(tuple(r[k] for k in keys) + (r["sum"], r["count"]) for r in df.collect())


def _by_label(rows, label):
    """Per-series (labels, t, sum, count) rows summed per (label, t)."""
    out = {}
    for r in rows.collect():
        key = (r["labels"].get(label), r["t"])
        s, c = out.get(key, (0.0, 0))
        out[key] = (s + r["sum"], c + r["count"])
    return sorted(k + v for k, v in out.items())


def test_colliding_label_subsets_answer_like_raw(spark, tmp_path):
    """("dc", "host") and ("dc_host",) once shared one directory name;
    as rollup sets they are distinct, and each group-by answers exactly
    as the raw route does."""
    ad = _mk(spark, tmp_path, pre_aggregates=(("dc", "host"), ("dc_host",)))
    ad.append(_batch(0))
    ad.append(_batch(1))
    sets = sorted(os.listdir(ad.rollup_path))
    assert [d for d in sets if d.startswith("set=")] == [
        "set=by,dc,host", "set=by,dc_host", "set=series"
    ]
    for group_by in ("dc,host", "dc_host"):
        params = dict(name="cpu", functions="sum,count", step="4h", group_by=group_by,
                      from_time=T0, to_time=T0 + DAY)
        q = ad.querier()
        keys = [*group_by.split(","), "t"]
        assert q._label_rollup_plan(["sum", "count"], 4 * HOUR, 0, SelectParams(**params),
                                    group_by.split(",")) is not None
        rolled = _cells(q.select(SelectParams(**params)), keys)
        raw = _cells(q.select(SelectParams(use_only_client_aggr=True, **params)), keys)
        assert rolled == raw and len(rolled) > 1, group_by


def test_label_name_spark_escapes_keeps_its_set(spark, tmp_path):
    """A label name with a character Spark escapes in a partition
    directory (``k:x`` → ``set=by,k%3Ax``) still routes to its set."""
    ad = _mk(spark, tmp_path, pre_aggregates=(("k:x",),))
    ad.append([dict(r, labels={"k:x": r["labels"]["dc"]}) for r in _batch(0)])
    assert os.path.isdir(os.path.join(ad.rollup_path, "set=by,k%3Ax"))
    assert _set_rows(ad, ("k:x",)).count() > 0
    params = dict(name="cpu", functions="sum,count", step="4h", group_by="k:x",
                  from_time=T0, to_time=T0 + DAY)
    q = ad.querier()
    assert q._label_rollup_plan(["sum", "count"], 4 * HOUR, 0, SelectParams(**params),
                                ["k:x"]) is not None
    assert _cells(q.select(SelectParams(**params)), ["k:x", "t"]) == _cells(
        q.select(SelectParams(use_only_client_aggr=True, **params)), ["k:x", "t"]
    )


def test_interrupted_rollup_write_cannot_split_the_sets(spark, tmp_path, monkeypatch):
    """A rollup write that fails part-way (here: on a pre-aggregate
    row) commits no set, so after the next append the per-series route
    and the ``dc`` route agree on every cell."""
    ad = _mk(spark, tmp_path, pre_aggregates=(("dc",),))
    ad.append(_batch(0))
    with_rdt = ru.with_rdt

    def failing(partial):
        return with_rdt(partial).withColumn(
            "rdt", F.expr("IF(`set` = 'by,dc', raise_error('interrupted'), rdt)")
        )

    monkeypatch.setattr(ru, "with_rdt", failing)
    with pytest.raises(Exception, match="interrupted"):
        ad.append(_batch(1))
    monkeypatch.setattr(ru, "with_rdt", with_rdt)
    ad.append(_batch(2))
    q = ad.querier()
    params = dict(name="cpu", functions="sum,count", step="1d", from_time=T0, to_time=T0 + DAY)
    assert q._can_use_rollup(["sum", "count"], DAY, 0, SelectParams(**params))
    per_series = _by_label(q.select(SelectParams(**params)), "dc")
    by_dc = _cells(q.select(SelectParams(group_by="dc", **params)), ["dc", "t"])
    assert per_series == by_dc
    # the failed batch reached the samples only
    assert sum(r[-1] for r in by_dc) == 2 * len(_batch(0))


def test_compact_rollup_compacts_every_set(spark, tmp_path):
    ad = _mk(spark, tmp_path, pre_aggregates=(("dc",),))
    for k in range(3):
        ad.append(_batch(k, minutes=10))
    params = dict(name="cpu", functions="sum,count", step="1d", group_by="dc",
                  from_time=T0, to_time=T0 + DAY)
    before = _cells(ad.select(SelectParams(**params)), ["dc", "t"])
    assert _set_rows(ad, ("dc",)).count() == 3 * 3
    ad.compact_rollup()
    assert _set_rows(ad, ("dc",)).count() == 3
    assert _set_rows(ad).count() == 6
    assert _cells(ad.select(SelectParams(**params)), ["dc", "t"]) == before


def test_older_layout_rebuilt_once_from_samples(spark, tmp_path):
    """A table whose rollup sits in the older layout — the per-series
    rollup as ``rollup/rdt=…``, each pre-aggregate as
    ``rollup_by_<labels>/`` — is rebuilt in the one-table layout when an
    adapter opens it, and both rollup routes then answer like raw."""
    ad = _mk(spark, tmp_path, pre_aggregates=(("dc",),))
    ad.append(_batch(0))
    ad.append([dict(r, ts=r["ts"] + DAY) for r in _batch(1)])
    root = ad.rollup_path
    # an older table has no log: it is bootstrapped from its directories
    shutil.rmtree(os.path.join(ad.path, "_log"))
    for d in glob.glob(os.path.join(root, "set=series", "rdt=*")):
        os.rename(d, os.path.join(root, os.path.basename(d)))
    os.rename(os.path.join(root, "set=by,dc"), os.path.join(ad.path, "rollup_by_dc"))
    shutil.rmtree(os.path.join(root, "set=series"))

    reopened = TSDBAdapter(spark, ad.path)
    assert not glob.glob(os.path.join(root, "rdt=*"))
    assert not glob.glob(os.path.join(ad.path, "rollup_by_*"))
    q = reopened.querier()
    params = dict(name="cpu", functions="sum,count", step="1d", from_time=T0, to_time=T0 + 2 * DAY)
    raw = SelectParams(use_only_client_aggr=True, **params)
    assert q.has_rollup()
    assert _cells(q.select(SelectParams(**params)), ["series_id", "t"]) == _cells(
        q.select(raw), ["series_id", "t"]
    )
    grouped = dict(params, group_by="dc")
    assert _cells(q.select(SelectParams(**grouped)), ["dc", "t"]) == _cells(
        q.select(SelectParams(use_only_client_aggr=True, **grouped)), ["dc", "t"]
    )
    assert len(_cells(q.select(SelectParams(**grouped)), ["dc", "t"])) == 6
