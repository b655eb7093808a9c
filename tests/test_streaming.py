"""M7: Structured Streaming ingest (watermark, dedup, foreachBatch)."""

import time

from conftest import MIN, T0

from v3io_tsdb_spark.adapter import TSDBAdapter
from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.querier import SelectParams
from v3io_tsdb_spark.streaming.ingest import start_stream_ingest


def test_stream_ingest_end_to_end(tmp_path, spark):
    a = TSDBAdapter(spark, str(tmp_path / "tsdb"), TSDBConfig()).create()
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    schema = "ts long, name string, os string, value double"

    def write_batch(fname, rows):
        import json

        (in_dir / fname).write_text("\n".join(json.dumps(r) for r in rows))

    write_batch(
        "b1.json",
        [
            {"ts": T0 + i * MIN, "name": "cpu", "os": "linux", "value": float(i)}
            for i in range(5)
        ]
        + [{"ts": T0, "name": "cpu", "os": "linux", "value": 0.0}],  # in-batch dup
    )

    from pyspark.sql import functions as F

    raw = spark.readStream.schema(schema).json(str(in_dir))
    stream = raw.select(
        "ts", "name",
        F.create_map(F.lit("os"), F.col("os")).alias("labels"),
        "value",
    )
    q = start_stream_ingest(a, stream, ckpt)
    try:
        q.processAllAvailable()  # WaitForCompletion analog
        res1 = a.select(SelectParams(name="cpu", from_time=T0, to_time=T0 + 30 * MIN))
        assert res1.count() == 5  # dup dropped

        # second micro-batch: new + late-but-within-watermark samples
        write_batch(
            "b2.json",
            [
                {"ts": T0 + 10 * MIN, "name": "cpu", "os": "linux", "value": 10.0},
                {"ts": T0 + 2 * MIN, "name": "mem", "os": "linux", "value": 1.0},
            ],
        )
        q.processAllAvailable()
        res2 = a.select(SelectParams(from_time=T0, to_time=T0 + 30 * MIN))
        assert res2.count() == 7
    finally:
        q.stop()

    # rollup partials were maintained per micro-batch
    rollup = spark.read.parquet(a.rollup_path)
    assert rollup.where("name = 'cpu'").count() >= 1
    total = rollup.groupBy("name").sum("count").collect()
    assert {r["name"]: r["sum(count)"] for r in total} == {"cpu": 6, "mem": 1}


def test_stream_monotonic_enforcement(tmp_path, spark):
    """OverrideOld=false: the stateful per-series filter drops samples
    at-or-older-than the series max across micro-batches
    (ref: pkg/appender/store.go:336-352)."""
    a = TSDBAdapter(
        spark, str(tmp_path / "tsdb"), TSDBConfig(override_old=False)
    ).create()
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "ts long, name string, value double"

    def write_batch(fname, rows):
        import json

        (in_dir / fname).write_text("\n".join(json.dumps(r) for r in rows))

    write_batch(
        "b1.json",
        [
            {"ts": T0 + 5 * MIN, "name": "cpu", "value": 5.0},
            {"ts": T0 + 1 * MIN, "name": "cpu", "value": 1.0},  # in-batch OK (sorted)
            {"ts": T0 + 5 * MIN, "name": "cpu", "value": 99.0},  # equal-ts dup dropped
        ],
    )
    raw = spark.readStream.schema(schema).json(str(in_dir))
    q = start_stream_ingest(a, raw, ckpt)
    try:
        q.processAllAvailable()
        res1 = a.select(SelectParams(name="cpu", from_time=T0, to_time=T0 + 30 * MIN))
        assert sorted(r["value"] for r in res1.collect()) == [1.0, 5.0]

        # next micro-batch: older-than-state sample must be discarded,
        # newer accepted
        write_batch(
            "b2.json",
            [
                {"ts": T0 + 3 * MIN, "name": "cpu", "value": 3.0},  # late → dropped
                {"ts": T0 + 9 * MIN, "name": "cpu", "value": 9.0},  # accepted
            ],
        )
        q.processAllAvailable()
        res2 = a.select(SelectParams(name="cpu", from_time=T0, to_time=T0 + 30 * MIN))
        assert sorted(r["value"] for r in res2.collect()) == [1.0, 5.0, 9.0]
    finally:
        q.stop()


def test_streaming_session_windows(tmp_path, spark):
    """sessionize's session_window shape runs UNCHANGED over a stream
    with a watermark — the reason it is the built-in, not a lag/cumsum
    island chain (which cannot execute incrementally)."""
    import json

    from pyspark.sql import functions as F

    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps({"ts": T0 + off, "name": "cpu", "value": 1.0})
            for off in (0, MIN, 40 * MIN)  # two sessions at gap 30m
        )
    )
    raw = spark.readStream.schema("ts long, name string, value double").json(str(in_dir))
    sessions = (
        raw.withColumn("ets", F.timestamp_millis(F.col("ts")))
        .withWatermark("ets", "1 hour")
        .groupBy(F.session_window("ets", "30 minutes").alias("w"), "name")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "name",
            F.unix_millis("w.start").alias("session_start"),
            F.unix_millis("w.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        sessions.writeStream.format("memory").queryName("sess_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    rows = {r["session_start"]: r for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert set(rows) == {T0, T0 + 40 * MIN}
    assert rows[T0]["n_events"] == 2 and rows[T0]["session_end"] == T0 + 31 * MIN
    assert rows[T0 + 40 * MIN]["n_events"] == 1


def test_stream_sessions_helper(tmp_path, spark):
    """stream_sessions emits closed sessions in append mode once the
    watermark passes their end."""
    import json

    from v3io_tsdb_spark.streaming.ingest import stream_sessions

    in_dir = tmp_path / "ss_in"
    in_dir.mkdir()
    HOUR = 60 * MIN
    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps({"ts": T0 + off, "name": "cpu", "value": 2.0})
            for off in (0, 5 * MIN, 3 * HOUR)  # closed session + open one
        )
    )
    raw = spark.readStream.schema("ts long, name string, value double").json(str(in_dir))
    sess = stream_sessions(raw, gap="30m", watermark="1 hour")
    q = (
        sess.writeStream.format("memory").queryName("ss_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM ss_out").collect()
    # only the watermark-closed first session is emitted in append mode
    assert [(r["session_start"], r["n_events"], r["sum_value"]) for r in rows] == [
        (T0, 2, 4.0)
    ]


def test_stream_counter_increase_state_across_batches(tmp_path, spark):
    """applyInPandasWithState counter→increase: deltas seed from the
    state store ACROSS micro-batches, and a counter drop is a reset
    (the new value is the whole increase)."""
    import json

    from v3io_tsdb_spark.streaming.stateful import stream_counter_increase

    in_dir = tmp_path / "ctr_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ctr_ckpt")
    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"ts": T0, "name": "req", "value": 5.0},
                {"ts": T0 + MIN, "name": "req", "value": 9.0},
                {"ts": T0, "name": "err", "value": 1.0},
            ]
        )
    )
    raw = spark.readStream.schema("ts long, name string, value double").json(str(in_dir))
    out = stream_counter_increase(raw)
    q = (
        out.writeStream.format("memory").queryName("ctr_out")
        .outputMode("append").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        # batch 2: cross-batch delta for req (9→12) and a reset (12→3);
        # err continues from state 1→4
        (in_dir / "b2.json").write_text(
            "\n".join(
                json.dumps(d)
                for d in [
                    {"ts": T0 + 2 * MIN, "name": "req", "value": 12.0},
                    {"ts": T0 + 3 * MIN, "name": "req", "value": 3.0},
                    {"ts": T0 + 2 * MIN, "name": "err", "value": 4.0},
                ]
            )
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["series_key"], r["ts"]): r["increase"]
        for r in spark.sql("SELECT * FROM ctr_out").collect()
    }
    assert rows == {
        ("req", T0 + MIN): 4.0,      # 5 → 9
        ("req", T0 + 2 * MIN): 3.0,  # 9 → 12 (cross-batch, from state)
        ("req", T0 + 3 * MIN): 3.0,  # 12 → 3: reset, increase = 3
        ("err", T0 + 2 * MIN): 3.0,  # 1 → 4 (cross-batch)
    }


def test_session_watermark_exact_tie_is_emitted(tmp_path, spark):
    """Pins the append-mode eviction boundary the oracle's closure
    predicate (`session_end <= max_ts - watermark`) relies on,
    MEASURED not assumed: a session whose end lands EXACTLY on the
    final watermark IS emitted; one ending 1 ms past it is held in
    state. If a Spark upgrade flips this to strictly-greater, this
    test fails before the driver hash-compare does."""
    from v3io_tsdb_spark.streaming.ingest import stream_sessions

    t0 = 1_700_000_000_000
    gap_ms, wm_ms = 1_800_000, 3_600_000

    def run(rows, name):
        d = tmp_path / name
        spark.createDataFrame(rows, "ts long, name string, value double") \
            .orderBy("ts").coalesce(1).write.parquet(str(d / "in"))
        raw = spark.readStream.schema("ts long, name string, value double") \
            .parquet(str(d / "in"))
        q = (
            stream_sessions(raw, gap="30m", watermark="1 hour")
            .writeStream.format("memory").queryName(f"tie_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(d / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        out = spark.sql(f"SELECT * FROM tie_{name}").collect()
        spark.catalog.dropTempView(f"tie_{name}")
        return out

    # exact tie: A.end = t0 + gap == max_ts - watermark → emitted
    tie = run([(t0, "u", 1.0), (t0 + gap_ms + wm_ms, "u", 2.0)], "exact")
    assert any(r["session_start"] == t0 for r in tie)
    # 1 ms short of the tie: A.end = watermark + 1 → still open, held
    held = run([(t0, "u", 1.0), (t0 + gap_ms + wm_ms - 1, "u", 2.0)], "held")
    assert not any(r["session_start"] == t0 for r in held)


def test_rollup_stream_matches_batch_and_tie_emitted(tmp_path, spark):
    """stream_rollup: closed tumbling buckets carry the same partials
    the batch rollup persists, and the append-mode eviction boundary
    (bucket end <= max_ts - watermark, tie EMITTED) matches the
    session-window semantics the oracle predicate assumes."""
    from v3io_tsdb_spark.streaming.ingest import stream_rollup

    hr = 3_600_000
    t0 = 1_700_000_000_000 - (1_700_000_000_000 % hr)  # hour-aligned

    def run(rows, name):
        d = tmp_path / name
        spark.createDataFrame(rows, "ts long, name string, value double") \
            .orderBy("ts").coalesce(1).write.parquet(str(d / "in"))
        raw = spark.readStream.schema("ts long, name string, value double") \
            .parquet(str(d / "in"))
        q = (
            stream_rollup(raw, step="1h", watermark="1 hour")
            .writeStream.format("memory").queryName(f"rtie_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(d / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        out = spark.sql(f"SELECT * FROM rtie_{name}").collect()
        spark.catalog.dropTempView(f"rtie_{name}")
        return out

    # bucket [t0, t0+1h): three samples; late event at t0+2h pushes the
    # watermark to exactly t0+1h -> the bucket end TIES the watermark
    rows = [(t0, "a", 3.0), (t0 + 10, "a", 1.0), (t0 + hr - 1, "a", 2.0),
            (t0 + 2 * hr, "a", 9.0)]
    out = run(rows, "exact")
    closed = [r for r in out if r["t"] == t0]
    assert len(closed) == 1
    r = closed[0]
    assert r["count"] == 3 and r["sum"] == 6.0 and r["min"] == 1.0 and r["max"] == 3.0
    # 1 ms earlier: watermark = t0 + 1h - 1 < bucket end -> held in state
    held = run(rows[:3] + [(t0 + 2 * hr - 1, "a", 9.0)], "held")
    assert not any(r["t"] == t0 for r in held)


def test_stream_bucket_zscores_cross_batch(tmp_path, spark):
    """Streaming trailing z-scores: a bucket is emitted when the NEXT
    bucket opens (close-on-advance), state (the trailing ring + open
    bucket) carries across micro-batches, and late events for closed
    buckets are dropped."""
    import json

    from v3io_tsdb_spark.streaming.stateful import stream_bucket_zscores

    H = 3_600_000
    in_dir = tmp_path / "z_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "z_ckpt")

    def write(fname, events):
        (in_dir / fname).write_text(
            "\n".join(json.dumps({"ts": t, "name": n, "value": 0.0})
                      for n, t in events)
        )

    # batch 1: hour 0 has 2 events, hour 1 has 3 (opens, stays open)
    write("b1.json", [("a", 10), ("a", 20), ("a", H), ("a", H + 1), ("a", H + 2)])
    raw = spark.readStream.schema("ts long, name string, value double").json(str(in_dir))
    out = stream_bucket_zscores(raw, step_ms=H, lookback=3, min_history=2)
    q = (
        out.writeStream.format("memory").queryName("z_out")
        .outputMode("append").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        mid = {r["t"]: r for r in spark.sql("SELECT * FROM z_out").collect()}
        assert set(mid) == {0}            # only hour 0 closed so far
        assert mid[0]["n"] == 2 and mid[0]["mean"] is None
        # batch 2: one more hour-1 event ARRIVES IN TIME (bucket still
        # open -> counted), a late hour-0 event (dropped), then hour 2
        # opens (closes hour 1) and hour 3 opens (closes hour 2)
        write("b2.json", [("a", H + 3), ("a", 30), ("a", 2 * H), ("a", 3 * H)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["t"]: r for r in spark.sql("SELECT * FROM z_out").collect()}
    assert rows[0]["n"] == 2              # late event did NOT bump it
    assert rows[H]["n"] == 4              # 3 from batch 1 + 1 in-time
    assert rows[H]["mean"] == 2.0 and rows[H]["std"] is None
    r2 = rows[2 * H]
    assert r2["n"] == 1 and r2["mean"] == 3.0
    exp_std = ((2 - 3.0) ** 2 + (4 - 3.0) ** 2) ** 0.5  # /(2-1) = 2
    assert abs(r2["std"] - (2.0) ** 0.5) < 1e-9
    assert abs(r2["z"] - (1 - 3.0) / (2.0) ** 0.5) < 1e-9
    assert set(rows) == {0, H, 2 * H}     # hour 3 still open


def test_stream_dedup_within_watermark(tmp_path, spark):
    """dropDuplicatesWithinWatermark-based ingest dedup: re-delivery of
    the same (name, ts) key — in the SAME batch or a LATER batch within
    the watermark horizon — is dropped; distinct keys all survive."""
    import json

    from v3io_tsdb_spark.streaming.ingest import stream_dedup

    in_dir = tmp_path / "dd_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "dd_ckpt")
    (in_dir / "b1.json").write_text(
        "\n".join(json.dumps(d) for d in [
            {"ts": T0, "name": "a", "value": 1.0},
            {"ts": T0, "name": "a", "value": 1.0},        # same-batch dup
            {"ts": T0 + MIN, "name": "a", "value": 2.0},
            {"ts": T0, "name": "b", "value": 3.0},
        ])
    )
    raw = spark.readStream.schema("ts long, name string, value double").json(str(in_dir))
    out = stream_dedup(raw, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("dd_out")
         .outputMode("append").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        (in_dir / "b2.json").write_text(
            "\n".join(json.dumps(d) for d in [
                {"ts": T0, "name": "a", "value": 1.0},    # cross-batch dup
                {"ts": T0 + 2 * MIN, "name": "a", "value": 4.0},
            ])
        )
        q.processAllAvailable()
    finally:
        q.stop()
    keys = sorted((r["name"], r["ts"]) for r in spark.sql("SELECT * FROM dd_out").collect())
    assert keys == [("a", T0), ("a", T0 + MIN), ("a", T0 + 2 * MIN), ("b", T0)]


class _FakeGroupState:
    """Minimal stand-in for GroupState: exists/get/update only."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_increase_fn_handles_interleaved_arrow_chunks():
    """ADVICE r6 (medium): applyInPandasWithState gives NO ordering
    across the chunk iterator — per-chunk sorting dropped in-order
    events as 'late' when a series' batch spanned chunks. The fn must
    materialize the whole group first."""
    import pandas as pd

    from v3io_tsdb_spark.streaming.stateful import _increase_fn

    # chunk 1 holds ts {100, 300}; chunk 2 holds ts {200}: the old
    # per-chunk code advanced last_ts to 300 and dropped 200.
    chunks = iter([
        pd.DataFrame({"ts": [300, 100], "value": [30.0, 10.0]}),
        pd.DataFrame({"ts": [200], "value": [20.0]}),
    ])
    state = _FakeGroupState()
    out = pd.concat(list(_increase_fn(("cpu",), chunks, state)))
    assert list(out["ts"]) == [200, 300]
    assert list(out["increase"]) == [10.0, 10.0]
    assert state.get == (300, 30.0)


def test_zscore_fn_handles_interleaved_arrow_chunks():
    """Same chunk-interleave property for the z-score fn: events of an
    earlier bucket arriving in a later chunk must not be mis-dropped
    as late, and buckets must not close early."""
    import pandas as pd

    from v3io_tsdb_spark.streaming.stateful import _make_zscore_fn

    fn = _make_zscore_fn(step_ms=100, lookback=4, min_history=1)
    # bucket 0: ts 0,10 ; bucket 100: ts 150 — but the ts-10 event
    # arrives in a second chunk AFTER the bucket-100 event.
    chunks = iter([
        pd.DataFrame({"ts": [0, 150]}),
        pd.DataFrame({"ts": [10]}),
    ])
    state = _FakeGroupState()
    out = pd.concat(list(fn(("cpu",), chunks, state)))
    # bucket 0 closes with BOTH its events counted
    assert list(out["t"]) == [0] and list(out["n"]) == [2]
    hist, cur_t, cur_n = state.get
    assert list(hist) == [2] and cur_t == 100 and cur_n == 1


def test_stream_first_seen_cross_batch_new_flag(tmp_path, spark):
    """First-seen state survives micro-batches: a user new in batch 1
    is RETURNING for a fresh day in batch 2 (is_new=0), a same-day
    repeat emits nothing, and a brand-new user in batch 2 is new. The
    monotone rule drops a late earlier-day event as already counted."""
    import json

    from v3io_tsdb_spark.streaming.stateful import stream_first_seen

    day = 86_400_000
    in_dir = tmp_path / "nr_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "nr_ckpt")
    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"ts": 10, "name": "u1", "value": 0.0},
                {"ts": 20, "name": "u1", "value": 0.0},   # same day: no row
            ]
        )
    )
    raw = spark.readStream.schema("ts long, name string, value double").json(
        str(in_dir)
    )
    out = stream_first_seen(raw, "name", day)
    q = (
        out.writeStream.format("memory").queryName("nr_out")
        .outputMode("append").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        (in_dir / "b2.json").write_text(
            "\n".join(
                json.dumps(d)
                for d in [
                    {"ts": day + 5, "name": "u1", "value": 0.0},  # returning
                    {"ts": 15, "name": "u1", "value": 0.0},       # late: drop
                    {"ts": day + 9, "name": "u2", "value": 0.0},  # new user
                ]
            )
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["user_key"], r["t"]): r["is_new"]
        for r in spark.sql("SELECT * FROM nr_out").collect()
    }
    assert rows == {
        ("u1", 0): 1,
        ("u1", day): 0,
        ("u2", day): 1,
    }


def test_stream_replayed_after_sink_failure_lands_once(tmp_path, spark):
    """``foreachBatch`` is at-least-once: a stream whose sink fails after
    its append is restarted on the same checkpoint and replays that
    micro-batch. The replay's content key is committed, so every route
    — raw, rollup and pre-aggregate — holds each sample once."""
    import json

    import pytest
    from pyspark.sql import functions as F

    a = TSDBAdapter(spark, str(tmp_path / "tsdb"), TSDBConfig(
        aggregation_granularity="1h", pre_aggregates=(("os",),))).create()
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    day = (T0 // 86_400_000) * 86_400_000
    rows = [{"ts": day + i * MIN, "name": "cpu", "os": os_name, "value": float(i)}
            for os_name in ("linux", "mac") for i in range(5)]
    (in_dir / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    raw = spark.readStream.schema("ts long, name string, os string, value double").json(str(in_dir))
    stream = raw.select("ts", "name", F.create_map(F.lit("os"), F.col("os")).alias("labels"), "value")
    ckpt = str(tmp_path / "ckpt")

    def append_then_fail(df, **kwargs):
        TSDBAdapter.append(a, df, **kwargs)
        raise RuntimeError("sink failed after its append")

    a.append = append_then_fail
    q = start_stream_ingest(a, stream, ckpt)
    try:
        with pytest.raises(Exception):
            q.processAllAvailable()
    finally:
        q.stop()
    del a.append
    q = start_stream_ingest(a, stream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    span = dict(name="cpu", from_time=day, to_time=day + 86_400_000 - 1)
    assert a.select(SelectParams(**span)).count() == 10
    q = a.querier()
    counts = SelectParams(functions="count", step="1d", **span)
    assert q._can_use_rollup(["count"], 86_400_000, 0, counts)
    assert sorted(r["count"] for r in q.select(counts).collect()) == [5, 5]  # per series
    by_os = q.select(SelectParams(functions="count", step="1d", group_by="os", **span))
    assert sorted((r["os"], r["count"]) for r in by_os.collect()) == [("linux", 5), ("mac", 5)]
