"""OverrideOld ingest-mode parity goldens (VERDICT r7 #5).

The reference's appender, with OverrideOld disabled, silently drops any
sample at-or-before the series' last committed timestamp
(ref: pkg/appender/store.go:336-352; config knob
pkg/config/config.go:146-147). With it enabled (the default there and
here), late samples are accepted. The Spark engine's default stays
MERGE-dedup (idempotent last-write-wins within a batch); this suite
pins BOTH modes against the reference's duplicate-sample behavior.
"""

import os

import pytest
from pyspark.sql import functions as F

from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.config import TSDBConfig

T0 = 1704067200000  # 2024-01-01T00:00Z


def _mk(spark, path, **cfg):
    return TSDBAdapter(spark, str(path), TSDBConfig(**cfg)).create()


DAY = 86_400_000


def _rows(ad, name="m"):
    df = ad.select(name=name, from_time=T0, to_time=T0 + 3 * DAY)
    return sorted(
        (int(r["t"]), r["value"]) for r in df.select("t", "value").collect()
    )


def test_no_override_drops_older_and_equal(spark, tmp_path):
    """Monotonic-discard golden: after committing t0+2000, a later
    append of {older, equal, newer} keeps ONLY the newer sample —
    byte-for-byte the reference's OverrideOld=false behavior
    (store.go:336-352 drops t <= lastTime)."""
    ad = _mk(spark, tmp_path / "db", override_old=False)
    ad.append([
        {"ts": T0 + 1000, "name": "m", "labels": {}, "value": 1.0},
        {"ts": T0 + 2000, "name": "m", "labels": {}, "value": 2.0},
    ])
    ad.append([
        {"ts": T0 + 1500, "name": "m", "labels": {}, "value": 15.0},  # older
        {"ts": T0 + 2000, "name": "m", "labels": {}, "value": 99.0},  # equal
        {"ts": T0 + 3000, "name": "m", "labels": {}, "value": 3.0},   # newer
    ])
    assert _rows(ad) == [
        (T0 + 1000, 1.0), (T0 + 2000, 2.0), (T0 + 3000, 3.0)
    ]


def test_override_old_default_keeps_late_samples(spark, tmp_path):
    """Default mode (override_old=True): the same late append is
    accepted — out-of-order history merges in (the engine's documented
    idempotent-MERGE divergence, now a knob; SURVEY §7.4(6))."""
    ad = _mk(spark, tmp_path / "db")
    ad.append([{"ts": T0 + 2000, "name": "m", "labels": {}, "value": 2.0}])
    ad.append([{"ts": T0 + 1500, "name": "m", "labels": {}, "value": 15.0}])
    assert _rows(ad) == [(T0 + 1500, 15.0), (T0 + 2000, 2.0)]
    # and the sidecar is never materialized on the default path
    assert not os.path.exists(os.path.join(ad.path, "series_maxts"))


def test_no_override_is_per_series(spark, tmp_path):
    """The high-water mark is per series (name+labels), not global:
    a sample older than series A's last but newer than series B's is
    kept for B."""
    ad = _mk(spark, tmp_path / "db", override_old=False)
    ad.append([
        {"ts": T0 + 9000, "name": "m", "labels": {"h": "a"}, "value": 1.0},
        {"ts": T0 + 1000, "name": "m", "labels": {"h": "b"}, "value": 1.0},
    ])
    ad.append([
        {"ts": T0 + 5000, "name": "m", "labels": {"h": "a"}, "value": 5.0},  # drop
        {"ts": T0 + 5000, "name": "m", "labels": {"h": "b"}, "value": 5.0},  # keep
    ])
    df = ad.select(name="m", from_time=T0, to_time=T0 + DAY)
    got = sorted(
        (r["labels"]["h"], int(r["t"])) for r in df.select("labels", "t").collect()
    )
    assert got == [("a", T0 + 9000), ("b", T0 + 1000), ("b", T0 + 5000)]


def test_no_override_seeds_watermarks_from_existing_table(spark, tmp_path):
    """Flipping the knob on a pre-existing table seeds the sidecar from
    the samples already on disk (one-time scan), so history written
    before the flip still guards against older appends."""
    path = tmp_path / "db"
    ad = _mk(spark, path, override_old=True)
    ad.append([{"ts": T0 + 7000, "name": "m", "labels": {}, "value": 7.0}])
    # reopen in no-override mode (config object wins over stored schema)
    ad2 = TSDBAdapter(spark, str(path), TSDBConfig(override_old=False))
    ad2.append([
        {"ts": T0 + 4000, "name": "m", "labels": {}, "value": 4.0},  # drop
        {"ts": T0 + 8000, "name": "m", "labels": {}, "value": 8.0},  # keep
    ])
    assert _rows(ad2) == [(T0 + 7000, 7.0), (T0 + 8000, 8.0)]


def test_no_override_watermark_rebuilt_after_delete(spark, tmp_path):
    """Deleting a series' recent history lowers its high-water mark, so
    re-ingesting that range succeeds (the reference frees the series
    state the same way when its chunks go)."""
    ad = _mk(spark, tmp_path / "db", override_old=False)
    ad.append([
        {"ts": T0 + 1000, "name": "m", "labels": {}, "value": 1.0},
        {"ts": T0 + DAY + 1000, "name": "m", "labels": {}, "value": 2.0},
    ])
    # drop day 2 entirely
    ad.delete(from_time=T0 + DAY, to_time=T0 + 2 * DAY)
    ad.append([
        {"ts": T0 + DAY + 500, "name": "m", "labels": {}, "value": 9.0}
    ])
    assert _rows(ad) == [(T0 + 1000, 1.0), (T0 + DAY + 500, 9.0)]


def test_no_override_rollup_sees_only_kept_rows(spark, tmp_path):
    """The rollup partial log is fed AFTER the monotonic filter — a
    dropped sample must not leak into server aggregates."""
    ad = _mk(spark, tmp_path / "db", override_old=False,
             aggregates=("count", "sum"))
    ad.append([{"ts": T0 + 2000, "name": "m", "labels": {}, "value": 2.0}])
    ad.append([
        {"ts": T0 + 1000, "name": "m", "labels": {}, "value": 100.0},  # drop
        {"ts": T0 + 3000, "name": "m", "labels": {}, "value": 3.0},    # keep
    ])
    roll = spark.read.parquet(os.path.join(ad.path, "rollup"))
    agg = roll.agg(F.sum("sum").alias("s"), F.sum("count").alias("n")).first()
    assert agg["n"] == 2 and agg["s"] == pytest.approx(5.0)


def test_no_override_crash_between_write_and_watermark_fold(spark, tmp_path):
    """Crash-window golden (ADVICE r8): an append that dies after its
    samples and high-water-mark writes but before its commit is
    invisible — the samples and the marks publish in one log commit, so
    the marks never lag the samples — and the client's retry of the
    batch lands exactly once."""
    ad = _mk(spark, tmp_path / "db", override_old=False)
    ad.append([{"ts": T0 + 1000, "name": "m", "labels": {}, "value": 1.0}])

    batch_b = [{"ts": T0 + 2000, "name": "m", "labels": {}, "value": 2.0}]
    stage = TSDBAdapter._stage

    def crashing(self, df, table, parts=()):
        out = stage(self, df, table, parts)
        if table == "samples":
            raise OSError("crash")
        return out

    TSDBAdapter._stage = crashing
    try:
        with pytest.raises(OSError):
            ad.append(batch_b)
    finally:
        TSDBAdapter._stage = stage
    # the crashed batch is invisible
    assert _rows(ad) == [(T0 + 1000, 1.0)]

    # the ingest client retries the whole batch (at-least-once source)
    ad2 = TSDBAdapter(spark, str(tmp_path / "db"))  # fresh process
    assert ad2.config.override_old is False
    ad2.append(batch_b)
    ad2.append(batch_b)
    assert _rows(ad2) == [(T0 + 1000, 1.0), (T0 + 2000, 2.0)]  # no dup

    # and the marks are consistent: an older sample is dropped, a
    # genuinely new one lands
    ad2.append([{"ts": T0 + 1500, "name": "m", "labels": {}, "value": 9.0},
                {"ts": T0 + 3000, "name": "m", "labels": {}, "value": 3.0}])
    assert _rows(ad2) == [
        (T0 + 1000, 1.0), (T0 + 2000, 2.0), (T0 + 3000, 3.0)
    ]
