"""Self-tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import dashboard  # noqa: E402
import live  # noqa: E402
import oracle  # noqa: E402
from inputs import HOSTS, MIN_MS, T0_MS, scrape_batch, series_values, stage_parquet  # noqa: E402
from stats import covered, fingerprint, median_of_kinds, quartile_spread  # noqa: E402
from tracing import Tracer  # noqa: E402


# -- quartile spread ----------------------------------------------------------

def test_quartile_spread_matches_statistics_quantiles():
    import statistics

    vals = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.01, 1.03]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_median_of_kinds_does_not_fall_between_kinds():
    # pooled, these six would have a median of 0.55, between the kinds
    lat = {"raw": [0.30, 0.35, 0.32], "rollup": [0.75, 0.80, 0.78]}
    assert median_of_kinds(lat) == pytest.approx((0.32 + 0.78) / 2)
    assert median_of_kinds({"a": [1.0], "b": [2.0], "c": [9.0]}) == 2.0


# -- span self time --------------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_direct_children_only():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("parent") as parent:
        clock.t = 1
        with tr.span("child"):
            clock.t = 3
            with tr.span("grandchild"):
                clock.t = 4
            clock.t = 5
        clock.t = 6
        with tr.span("child"):
            clock.t = 8
        clock.t = 10
    child = tr.named("child")[0]
    assert child["parent"] == parent["id"]
    assert tr.self_time(parent) == 10 - (4 + 2)
    assert tr.self_time(child) == 4 - 1
    assert tr.self_time(tr.named("grandchild")[0]) == 1


# -- counter deltas across operations ---------------------------------------------

def test_counter_deltas_are_per_span_across_operations():
    jobs = {"jobs": 0}
    tr = Tracer(counters=lambda: dict(jobs))
    for op in ("a", "b"):
        with tr.op(op, f"op.{op}"):
            jobs["jobs"] += 1  # work in the op outside any child
            with tr.span("select"):
                jobs["jobs"] += 2 if op == "a" else 5
    ops = tr.named("op.a") + tr.named("op.b")
    selects = tr.named("select")
    assert [s["counters"]["jobs"] for s in ops] == [3, 6]
    assert [s["counters"]["jobs"] for s in selects] == [2, 5]
    assert [s["op"] for s in selects] == ["a", "b"]


def test_wrapper_records_only_when_enabled_and_restores():
    class Box:
        def f(self, x):
            return x + 1

        @classmethod
        def g(cls, x):
            return x * 2

    tr = Tracer()
    tr.wrap(Box, "f", "box.f", probe=lambda args: {"arg": args[1]})
    tr.wrap(Box, "g", "box.g")
    assert Box().f(1) == 2 and not tr.spans
    tr.enabled = True
    assert Box().f(4) == 5 and Box.g(3) == 6
    assert [s["name"] for s in tr.spans] == ["box.f", "box.g"]
    assert tr.spans[0]["counters"] == {"arg": 0}
    tr.unwrap_all()
    assert "traced" not in Box.__dict__["f"].__qualname__
    assert isinstance(Box.__dict__["g"], classmethod)


# -- seed -> identical inputs ------------------------------------------------------

def test_same_seed_same_inputs_other_seed_other_values(tmp_path):
    a, b, c = series_values(7, 4, 120), series_values(7, 4, 120), series_values(8, 4, 120)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    pa_, pb = tmp_path / "a.parquet", tmp_path / "b.parquet"
    stage_parquet(a, 0, 60, str(pa_))
    stage_parquet(b, 0, 60, str(pb))
    assert pa_.read_bytes() == pb.read_bytes()
    assert scrape_batch(a, 60, 10) == scrape_batch(b, 60, 10)


def test_staged_rows_and_batches_carry_the_generated_values(tmp_path):
    import pyarrow.parquet as pq

    v = series_values(3, 2, 30)
    p = tmp_path / "s.parquet"
    assert stage_parquet(v, 5, 10, str(p)) == 5 * 2 * 10
    t = pq.read_table(p).to_pylist()
    first = t[0]
    assert first["ts"] == T0_MS + 5 * MIN_MS and first["name"] == "m0"
    assert dict(first["labels"]) == {"host": "h0", "dc": "dc0"}
    assert first["value"] == v[0, 0, 5]
    batch = scrape_batch(v, 20, 10)
    assert len(batch) == 5 * 2 * 10
    assert batch[-1]["value"] == v[4, 1, 29]


# -- oracle and fingerprints -----------------------------------------------------

def test_windowed_cell_includes_both_ends():
    v = np.zeros((5, 1, 600))
    v[1, 0, :] = 1.0
    got = oracle.windowed_sum(v, 1, T0_MS + 300 * MIN_MS, T0_MS + 360 * MIN_MS, 60 * MIN_MS,
                              180 * MIN_MS)
    assert got[("h0", T0_MS + 300 * MIN_MS)] == (181.0,)


def test_compare_and_fingerprint_tolerate_summation_order():
    want = {("h0", 1): (0.1 + 0.2 + 0.3,)}
    got = {("h0", 1): (0.3 + 0.2 + 0.1,)}
    assert oracle.compare(got, want) is None
    assert fingerprint(got) == fingerprint(want)
    assert oracle.compare({("h0", 1): (1.0,)}, want) is not None
    assert oracle.compare({}, want) == "row count 0 != 1"


def test_live_rollup_check_counts_the_last_cell():
    # the preload's last cell starts before the first sample
    check = live._rollup_check(live.PRELOAD_MIN)
    lo, _ = live._rollup_window(live.PRELOAD_MIN)
    last = lo + 18 * 3_600_000
    assert last < T0_MS
    rows = [{"labels": {"host": h}, "t": last, "count": live.PRELOAD_MIN} for h in HOSTS]
    assert check(rows) is None
    # one cycle later the last cell holds only the new batch
    end = live.PRELOAD_MIN + live.BATCH_MIN
    check = live._rollup_check(end)
    cell = T0_MS + 60 * MIN_MS
    rows = [{"labels": {"host": h}, "t": t, "count": c}
            for h in HOSTS for t, c in ((cell - 21_600_000, 60), (cell, live.BATCH_MIN))]
    assert check(rows) is None
    rows[-1]["count"] += 1
    assert check(rows) is not None


def test_operation_counts_depend_on_seconds_only():
    assert dashboard.refreshes_for(10) == dashboard.refreshes_for(10.0) >= 1
    assert live.cycles_for(10) >= live.MIN_CYCLES
    assert dashboard.refreshes_for(60) > dashboard.refreshes_for(10)

