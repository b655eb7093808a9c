"""The table log: every append, compaction, delete and sweep is one
commit, checked by behaviour.

- An interrupt at any write, or at the commit, of an append, a
  compaction or a delete leaves the table as it was: the next append
  and a raw, a rollup and a pre-aggregate query equal the numpy answer.
- A batch appended twice lands once; two adapters appending to one
  path from two threads lose no batch.
- A rewrite whose inputs another commit removed raises; opening a table
  reads a bounded number of entries; a table without a log, including
  a compacted generation layout, is bootstrapped once.
"""

import os
import shutil
import threading

import numpy as np
import pytest

from v3io_tsdb_spark import tablelog
from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.querier import SelectParams
from v3io_tsdb_spark.tablelog import CommitConflict, TableLog

T0 = 1704067200000  # 2024-01-01T00:00Z
MIN = 60_000
HOUR = 60 * MIN
DAY = 24 * HOUR


def _batch(k, name="cpu", hosts=6, minutes=20):
    """Batch ``k``: ``minutes`` samples of ``hosts`` series in hour ``k``,
    integer-valued so every sum is exact in any order."""
    return [
        {"ts": T0 + k * HOUR + i * MIN, "name": name,
         "labels": {"host": f"h{h}", "dc": f"d{h % 2}"}, "value": float((h * 3 + i) % 7)}
        for h in range(hosts)
        for i in range(minutes)
    ]


def _mk(spark, tmp_path, **cfg):
    cfg = {"aggregation_granularity": "1h", "pre_aggregates": (("dc",),), **cfg}
    return TSDBAdapter(spark, str(tmp_path / "db"), TSDBConfig(**cfg)).create()


def _routes(ad, name="cpu"):
    """(raw, rollup, pre-aggregate) answers over the first day:
    (count, sum) for raw and rollup, {dc: (count, sum)} for the last."""
    span = dict(name=name, from_time=T0, to_time=T0 + DAY - 1)
    raw = [r["value"] for r in ad.select(SelectParams(**span)).collect()]
    q = ad.querier()
    agg = SelectParams(functions="count,sum", step="1d", **span)
    assert q._can_use_rollup(["count", "sum"], DAY, 0, agg)
    rolled = q.select(agg).collect()
    by_dc = q.select(SelectParams(functions="count,sum", step="1d", group_by="dc", **span))
    assert q._label_rollup_plan(["count", "sum"], DAY, 0, agg, ["dc"]) is not None
    return (
        (len(raw), sum(raw)),
        (sum(r["count"] for r in rolled), sum(r["sum"] for r in rolled)),
        {r["dc"]: (r["count"], r["sum"]) for r in by_dc.collect()},
    )


def _numpy(rows, name="cpu"):
    """The same three answers from the rows, in numpy."""
    rows = [r for r in rows if r["name"] == name and T0 <= r["ts"] < T0 + DAY]
    v = np.array([r["value"] for r in rows])
    dc = np.array([r["labels"]["dc"] for r in rows])
    total = (len(v), float(v.sum()))
    return total, total, {d: (int((dc == d).sum()), float(v[dc == d].sum())) for d in set(dc)}


DELETE = dict(from_time=T0, to_time=T0 + 10 * MIN)


def _deleted(rows):
    return [r for r in rows if not T0 <= r["ts"] <= T0 + 10 * MIN]


# (operation, what fails): a table's staged write, or the log commit
MATRIX = [
    *(("append", w) for w in ("kinds", "maxts", "samples", "rollup", "commit")),
    *(("compact_samples", w) for w in ("samples", "commit")),
    *(("compact_rollup", w) for w in ("rollup", "commit")),
    *(("delete", w) for w in ("kinds", "maxts", "samples", "rollup", "commit")),
]


@pytest.mark.parametrize("op,fails", MATRIX, ids=[f"{o}-{w}" for o, w in MATRIX])
def test_interrupt_matrix(spark, tmp_path, monkeypatch, op, fails):
    ad = _mk(spark, tmp_path, override_old=False)
    rows = _batch(0) + _batch(1)
    ad.append(_batch(0))
    ad.append(_batch(1))
    version = ad.log.version
    stage, create = TSDBAdapter._stage, TableLog._create

    def failing_stage(self, df, table, parts=()):
        out = stage(self, df, table, parts)
        if table == fails:
            raise OSError(f"interrupted after the {table} write")
        return out

    def failing_create(self, e):
        raise OSError("interrupted at the commit")

    if fails == "commit":
        monkeypatch.setattr(TableLog, "_create", failing_create)
    else:
        monkeypatch.setattr(TSDBAdapter, "_stage", failing_stage)
    # the interrupted append brings a new series, so it writes kinds
    # too; it is newer than the next append, whose samples its marks
    # would drop had they been published
    interrupted = _batch(4) + _batch(4, name="mem", hosts=1)
    with pytest.raises(OSError, match="interrupted"):
        if op == "append":
            ad.append(interrupted)
        elif op == "delete":
            ad.delete(**DELETE)
        else:
            getattr(ad, op)()
    monkeypatch.setattr(TSDBAdapter, "_stage", stage)
    monkeypatch.setattr(TableLog, "_create", create)
    ad.log.refresh()
    assert ad.log.version == version  # nothing was published

    ad.append(_batch(3))
    rows += _batch(3)
    assert _routes(ad) == _numpy(rows)
    assert ad.metric_names() == ["cpu"]
    # the interrupted operation, run again, completes once
    if op == "append":
        ad.append(interrupted)
        ad.append(interrupted)
        rows += interrupted
        assert ad.metric_names() == ["cpu", "mem"]
    elif op == "delete":
        ad.delete(**DELETE)
        rows = _deleted(rows)
    else:
        getattr(ad, op)()
    assert _routes(ad) == _numpy(rows)
    assert _routes(TSDBAdapter(spark, ad.path)) == _numpy(rows)


def test_batch_appended_twice_counts_once(spark, tmp_path):
    ad = _mk(spark, tmp_path)
    ad.append(_batch(0))
    ad.append(_batch(1))
    version = ad.log.version
    ad.append(_batch(1))
    ad.append(list(reversed(_batch(1))))  # the key ignores row order
    assert ad.log.version == version
    (raw, _), (rolled, _), by_dc = _routes(ad)
    assert raw == rolled == sum(n for n, _ in by_dc.values()) == 240
    assert _routes(ad) == _numpy(_batch(0) + _batch(1))


def test_two_adapters_appending_from_two_threads_lose_no_batch(spark, tmp_path):
    ad = _mk(spark, tmp_path)
    errors = []

    def writer(hours):
        try:
            other = TSDBAdapter(spark, ad.path)
            for k in hours:
                other.append(_batch(k))
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(hours,)) for hours in ((0, 2, 4), (1, 3, 5))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads) and not errors
    assert _routes(ad) == _numpy([r for k in range(6) for r in _batch(k)])
    assert ad.log.version == 6


@pytest.mark.parametrize("sweep", [False, True], ids=["delete", "sweep"])
def test_batch_deleted_then_appended_again_lands(spark, tmp_path, sweep):
    """A delete or retention sweep forgets the content keys: a batch
    appended, deleted and appended again counts once on every route,
    and a further retry of it is still a no-op."""
    ad = _mk(spark, tmp_path, retention_hours=24 if sweep else 0)
    late = [dict(r, ts=r["ts"] + DAY) for r in _batch(0)]  # 2024-01-02
    ad.append(_batch(0))
    ad.append(late)
    if sweep:
        # past the end of dt and rdt 2024-01-01 (rdt's ends a granularity later)
        ad.retention_sweep(now_ms=T0 + 2 * DAY + HOUR)
        assert {p["dt"] for p in ad.log.files["samples"].values()} == {"2024-01-02"}
        assert {p["rdt"] for p in ad.log.files["rollup"].values()} == {"2024-01-02"}
    else:
        ad.delete(from_time=T0, to_time=T0 + DAY - 1)
    assert _routes(ad)[0] == (0, 0)
    ad.append(_batch(0))
    version = ad.log.version
    ad.append(_batch(0))
    assert ad.log.version == version
    (raw, _), (rolled, _), by_dc = _routes(ad)
    assert raw == rolled == sum(n for n, _ in by_dc.values()) == 120
    assert _routes(ad) == _numpy(_batch(0))
    assert _routes(TSDBAdapter(spark, ad.path)) == _numpy(_batch(0))


def test_compaction_folds_the_marks(spark, tmp_path):
    """With ``override_old=False`` every append adds one high-water-mark
    file; a samples compaction folds them into one, and the monotonic
    filter still drops samples at or before each series' mark."""
    ad = _mk(spark, tmp_path, override_old=False)
    for k in range(4):
        ad.append(_batch(k))
    assert len(ad.log.files["maxts"]) == 4
    ad.compact_samples()
    assert len(ad.log.files["maxts"]) == 1
    rows = [r for k in range(4) for r in _batch(k)]
    older = [dict(r, value=r["value"] + 1) for r in _batch(3)]  # at the marks
    ad.append(older)
    assert _routes(ad) == _numpy(rows)
    ad.append(_batch(5))
    assert len(ad.log.files["maxts"]) == 3  # one more per append
    reopened = TSDBAdapter(spark, ad.path)
    reopened.compact_samples()
    assert len(reopened.log.files["maxts"]) == 1
    reopened.append(older + [dict(r, value=0.0) for r in _batch(4)])
    assert _routes(reopened) == _numpy(rows + _batch(5))


def test_racing_commits_lose_no_entry(tmp_path):
    """More committing threads than cores, each with its own log on one
    path: every commit lands at its own version, none is lost."""
    import sys

    path = str(tmp_path / "db")
    TSDBConfig().save(path)
    workers, each = 2 * (os.cpu_count() or 2), 12
    errors = []

    def writer(w):
        try:
            log = TableLog(path)
            for i in range(each):
                f = f"samples/dt=2024-01-01/part-{w}-{i}.parquet"
                assert log.commit(add={"samples": {f: {"dt": "2024-01-01"}}},
                                  merge={f"m{w}": [f"k{i}"]}, key=f"{w}-{i}")
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(w,)) for w in range(workers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    log = TableLog(path)
    log.refresh()
    assert log.version == workers * each
    assert len(log.files["samples"]) == len(log.keys) == workers * each
    assert log.names == {f"m{w}": {f"k{i}" for i in range(each)} for w in range(workers)}


def test_rewrite_of_removed_inputs_raises(spark, tmp_path, monkeypatch):
    """A compaction whose input files another writer's compaction
    removed meanwhile does not publish: it raises, and the table keeps
    the other writer's result."""
    ad = _mk(spark, tmp_path)
    ad.append(_batch(0))
    ad.append(_batch(1))
    other = TSDBAdapter(spark, ad.path)
    stage = TSDBAdapter._stage

    def compact_meanwhile(self, df, table, parts=()):
        out = stage(self, df, table, parts)
        if self is ad:
            other.compact_samples()
        return out

    monkeypatch.setattr(TSDBAdapter, "_stage", compact_meanwhile)
    with pytest.raises(CommitConflict):
        ad.compact_samples()
    monkeypatch.undo()
    assert _routes(ad) == _numpy(_batch(0) + _batch(1))


def test_opening_reads_a_bounded_number_of_entries(tmp_path, monkeypatch):
    path = str(tmp_path / "db")
    TSDBConfig().save(path)
    log = TableLog(path)
    for v in range(3 * tablelog.SNAPSHOT_EVERY + 5):
        log.commit(add={"samples": {f"samples/dt=2024-01-01/part-{v}.parquet": {"dt": "2024-01-01"}}},
                   merge={f"m{v}": ["host"]}, key=f"k{v}")
    reads = []
    read = TableLog._read
    monkeypatch.setattr(TableLog, "_read", lambda self, v: reads.append(v) or read(self, v))
    fresh = TableLog(path)
    fresh.refresh()
    assert len(reads) <= tablelog.SNAPSHOT_EVERY + 1
    assert fresh.state() == log.state()
    assert len(fresh.files["samples"]) == 3 * tablelog.SNAPSHOT_EVERY + 5
    assert "k0" in fresh.keys and fresh.names["m0"] == {"host"}


def test_generation_layout_bootstrapped_once(spark, tmp_path):
    """A table compacted into ``gen-N`` generations by an older layout
    (flat leftovers, a retained source generation, a newer complete one
    its ``_CURRENT`` pointer never named) opens at the generation the
    pointer names, once."""
    ad = _mk(spark, tmp_path)
    ad.append(_batch(0))
    root = ad.samples_path
    shutil.rmtree(os.path.join(ad.path, "_log"))
    for gen in ("gen-000001", "gen-000002", "gen-000003"):
        shutil.copytree(os.path.join(root, "dt=2024-01-01"),
                        os.path.join(root, gen, "dt=2024-01-01"))
        open(os.path.join(root, gen, "_SUCCESS"), "w").close()
    with open(os.path.join(root, "_CURRENT"), "w") as f:
        f.write("gen-000002")
    # the retained source generation and the unnamed one hold one more file
    for gen in ("gen-000001", "gen-000003"):
        shutil.copytree(os.path.join(root, "dt=2024-01-01"),
                        os.path.join(root, gen, "dt=2024-01-02"))

    reopened = TSDBAdapter(spark, ad.path)
    assert reopened.samples_path == os.path.join(root, "gen-000002")
    assert reopened.log.version == 0
    assert reopened.select(name="cpu", from_time=T0, to_time=T0 + 3 * DAY).count() == 120
    reopened.append(_batch(1))
    assert TSDBAdapter(spark, ad.path).log.version == 1
    assert reopened.select(name="cpu", from_time=T0, to_time=T0 + 3 * DAY).count() == 240


def test_retention_in_a_zone_west_of_utc(spark, tmp_path):
    """``dt``/``rdt`` are session-zone dates, so a partition's end is the
    next midnight in that zone: a sample 2 h newer than the cutoff
    survives the sweep under America/New_York."""
    key = "spark.sql.session.timeZone"
    zone = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        ad = _mk(spark, tmp_path, retention_hours=24)
        ts = 1704164400000  # 2024-01-01T22:00-05:00 (2024-01-02T03:00Z)
        ad.append([{"ts": ts, "name": "cpu", "labels": {"dc": "d0"}, "value": 1.0}])
        assert {p["dt"] for p in ad.log.files["samples"].values()} == {"2024-01-01"}
        dropped = ad.retention_sweep(now_ms=ts - 2 * HOUR + 24 * HOUR)
        assert dropped == {"samples": [], "rollup": [], "rollup_by_dc": []}
        assert ad.select(name="cpu", from_time=ts - DAY, to_time=ts + DAY).count() == 1
        # past the zone's midnight (+ the 1h granularity for rdt) it goes
        dropped = ad.retention_sweep(now_ms=ts + 3 * HOUR + 24 * HOUR)
        assert dropped == {"samples": ["dt=2024-01-01"], "rollup": ["rdt=2024-01-01"],
                           "rollup_by_dc": ["rdt=2024-01-01"]}
        assert ad.select(name="cpu", from_time=ts - DAY, to_time=ts + DAY).count() == 0
    finally:
        spark.conf.set(key, zone)
