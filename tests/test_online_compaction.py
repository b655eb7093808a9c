"""Compaction under concurrent readers, through the table log.

Every compaction is one log commit that swaps the compacted files for
the ones it read. The removed files stay on disk until the next
removing commit lands, so a query planned before the commit still
collects — the one-cycle bound — and appends made meanwhile are kept."""

import os

from pyspark.sql import functions as F

from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.config import TSDBConfig

T0 = 1704067200000
DAY = 86_400_000


def _mk(spark, path):
    ad = TSDBAdapter(spark, str(path), TSDBConfig()).create()
    for d in range(2):
        ad.append([
            {"ts": T0 + d * DAY + i * 60_000, "name": "m", "labels": {},
             "value": float(i)} for i in range(5)
        ])
    return ad


def _vals(df):
    return sorted((int(r["t"]), r["value"]) for r in df.select("t", "value").collect())


def _on_disk(ad, table):
    return {f for f in ad.log.files[table] if os.path.exists(os.path.join(ad.path, f))}


def test_online_compaction_preserves_data_and_creates_generation(spark, tmp_path):
    ad = _mk(spark, tmp_path / "db")
    before = _vals(ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY))
    version, old = ad.log.version, set(ad.log.files["samples"])
    ad.compact_samples()
    assert ad.log.version == version + 1
    assert not old & set(ad.log.files["samples"])
    after = _vals(ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY))
    assert after == before


def test_reader_planned_before_online_swap_survives(spark, tmp_path):
    """A query planned before a compaction still collects after it, and
    correctly: the files it was planned on stay for one cycle."""
    ad = _mk(spark, tmp_path / "db")
    old_reader = ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY)
    before = _vals(old_reader)
    ad.compact_samples()
    assert _vals(old_reader) == before
    assert old_reader.agg(F.sum("value")).first()[0] == \
        ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY).agg(F.sum("value")).first()[0]


def test_append_after_online_compaction_lands_in_current_generation(spark, tmp_path):
    ad = _mk(spark, tmp_path / "db")
    ad.compact_samples()
    ad.append([{"ts": T0 + 2 * DAY, "name": "m", "labels": {}, "value": 99.0}])
    got = _vals(ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY))
    assert (T0 + 2 * DAY, 99.0) in got and len(got) == 11
    assert _on_disk(ad, "samples") == set(ad.log.files["samples"])


def test_second_online_compaction_purges_flat_and_old_generations(spark, tmp_path):
    """Files a compaction removes are deleted from disk when the next
    removing commit lands, not before."""
    ad = _mk(spark, tmp_path / "db")
    first = set(ad.log.files["samples"])
    ad.compact_samples()
    assert all(os.path.exists(os.path.join(ad.path, f)) for f in first)
    second = set(ad.log.files["samples"])
    ad.compact_samples()
    assert not any(os.path.exists(os.path.join(ad.path, f)) for f in first)
    assert all(os.path.exists(os.path.join(ad.path, f)) for f in second)
    ad.compact_samples()
    assert not any(os.path.exists(os.path.join(ad.path, f)) for f in second)
    got = _vals(ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY))
    assert len(got) == 10


def test_online_rollup_compaction_keeps_server_aggregates_correct(spark, tmp_path):
    ad = _mk(spark, tmp_path / "db")
    ad.compact_rollup()
    assert len(ad.log.files["rollup"]) == 2  # one file per rdt
    agg = ad.select(name="m", functions="sum,count", step="1d",
                    from_time=T0, to_time=T0 + 3 * DAY)
    got = sorted((int(r["t"]), r["sum"], r["count"]) for r in agg.collect())
    assert got == [(T0, 10.0, 5), (T0 + DAY, 10.0, 5)]


def test_offline_compaction_still_works_flat(spark, tmp_path):
    ad = _mk(spark, tmp_path / "db")
    before = _vals(ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY))
    ad.compact_samples()
    assert {p["dt"] for p in ad.log.files["samples"].values()} == {"2024-01-01", "2024-01-02"}
    assert len(ad.log.files["samples"]) == 2  # one file per date
    assert _vals(ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY)) == before


def test_delete_after_online_compaction(spark, tmp_path):
    """delete() after both compactions: range delete + rollup recompute
    work on the compacted files."""
    ad = _mk(spark, tmp_path / "db")
    ad.compact_samples()
    ad.compact_rollup()
    ad.delete(from_time=T0 + DAY, to_time=T0 + 2 * DAY)
    got = _vals(ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY))
    assert len(got) == 5 and all(t < T0 + DAY for t, _ in got)
    agg = ad.select(name="m", functions="count", step="1d",
                    from_time=T0, to_time=T0 + 3 * DAY)
    assert sorted((int(r["t"]), r["count"]) for r in agg.collect()) == [(T0, 5)]


def test_compaction_keeps_a_concurrent_append(spark, tmp_path, monkeypatch):
    """An append that commits while a compaction is writing is kept: the
    compaction removes only the files it read."""
    ad = _mk(spark, tmp_path / "db")
    other = TSDBAdapter(spark, ad.path)
    stage = TSDBAdapter._stage

    def append_meanwhile(self, df, table, parts=()):
        out = stage(self, df, table, parts)
        if self is ad and table == "samples":
            other.append([{"ts": T0 + 2 * DAY, "name": "m", "labels": {}, "value": 99.0}])
        return out

    monkeypatch.setattr(TSDBAdapter, "_stage", append_meanwhile)
    ad.compact_samples()
    monkeypatch.undo()
    got = _vals(ad.select(name="m", from_time=T0, to_time=T0 + 3 * DAY))
    assert (T0 + 2 * DAY, 99.0) in got and len(got) == 11
