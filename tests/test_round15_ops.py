"""Round-15 operator pins (VERDICT r14 #1/#5/#6 + ADVICE r14).

Covers: the session-perplexity integer-only endgame (all-BIGINT
session_score_panel, mean_logp_micro contract, batch/stream/python
three-way parity), the shared-pairs single-exchange plan shape, the
pagerank 32-bit literal-folding overflow fix (>=108 states), the
engine-version diagnostic probe, and the rotation gate-time
simulation.
"""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts_ms long, event_type string, event_id long"
    )


class TestSessionScorePanel:
    def test_panel_matches_hand_model(self, spark):
        """Tiny corpus, hand-computed: one user, two sessions split by
        the gap; sum_mn is the exact integer sum of the model's
        micro-nat edge scores."""
        from v3io_tsdb_spark.functions.detmath import (
            half_away_div_py,
            q6_ratio_py,
        )
        from v3io_tsdb_spark.operators.paths import (
            markov_model_panel,
            session_score_panel,
        )

        GAP = 1_800_000
        rows = [
            # session 1: a->b->a (2 transitions)
            (1, 0, "a", 1), (1, 1000, "b", 2), (1, 2000, "a", 3),
            # gap — session 2: b->b (1 transition)
            (1, 2000 + GAP + 1, "b", 4), (1, 2000 + GAP + 2000, "b", 5),
        ]
        df = _events(spark, rows)
        model = {
            (r["from_state"], r["to_state"]): r["mn"]
            for r in markov_model_panel(df).collect()
        }
        out = {
            (r["user_id"], r["sess"]): (r["n_steps"], r["sum_mn"])
            for r in session_score_panel(df).collect()
        }
        assert out[(1, 1)] == (2, model[("a", "b")] + model[("b", "a")])
        assert out[(1, 2)] == (1, model[("b", "b")])
        # schema: all-BIGINT, no float column anywhere (the r15
        # bisection contract, VERDICT r14 #1a)
        panel = session_score_panel(df)
        assert [f.dataType.simpleString() for f in panel.schema.fields] == [
            "bigint", "bigint", "bigint", "bigint"
        ]
        # and the transition probability model is q6-exact: p6 of a->b
        # from state a (counts: a->b twice? no — a->b 1, b->a 1, b->b 1)
        assert q6_ratio_py(1, 1) == 1_000_000
        # perplexity micro = half-away mean of the integer sum
        from v3io_tsdb_spark.operators.paths import session_perplexity

        sp = {
            (r["user_id"], r["sess"]): (r["mean_logp_micro"], r["mean_logp"])
            for r in session_perplexity(df).collect()
        }
        s1 = model[("a", "b")] + model[("b", "a")]
        assert sp[(1, 1)][0] == half_away_div_py(s1, 2)
        assert sp[(1, 1)][1] == half_away_div_py(s1, 2) / 1e6

    def test_perplexity_emits_integer_contract(self, spark):
        """The operator's mean_logp_micro is BIGINT and equals the
        half-away division of the panel's sum; the display double is
        exactly micro/1e6."""
        from v3io_tsdb_spark.functions.detmath import half_away_div_py
        from v3io_tsdb_spark.operators.paths import (
            session_perplexity,
            session_score_panel,
        )

        ev = _load_events(spark)
        p = {
            (r["user_id"], r["sess"]): (r["n_steps"], r["sum_mn"])
            for r in session_score_panel(ev).collect()
        }
        out = session_perplexity(ev)
        types = dict(
            (f.name, f.dataType.simpleString()) for f in out.schema.fields
        )
        assert types["mean_logp_micro"] == "bigint"
        assert types["mean_logp"] == "double"
        for r in out.collect():
            n, s = p[(r["user_id"], r["sess"])]
            assert r["n_steps"] == n
            assert r["mean_logp_micro"] == half_away_div_py(s, n)
            assert r["mean_logp"] == r["mean_logp_micro"] / 1e6

    def test_single_user_exchange_via_reuse(self, spark):
        """VERDICT r14 #5: the scorer and the model panel share ONE
        sessionized-pairs frame, so the static planner emits exactly
        one real user-keyed Exchange plus a ReusedExchange (AQE does
        the same at stage level via its canonical-plan stage cache)."""
        import re

        from v3io_tsdb_spark.operators.paths import session_perplexity

        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            ev = _load_events(spark)
            plan = (
                session_perplexity(ev)
                ._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        assert "ReusedExchange" in plan, plan[:2000]
        # a ReusedExchange line echoes its target's description, so
        # count only lines that MATERIALIZE a user-keyed shuffle
        user_exchanges = [
            ln for ln in plan.splitlines()
            if re.search(r"Exchange hashpartitioning\(user_id", ln)
            and "ReusedExchange" not in ln
        ]
        assert len(user_exchanges) == 1, plan[:2000]

    def test_stream_twin_integer_parity(self, spark):
        """The stateful stream twin emits the same mean_logp_micro as
        the batch operator on closed sessions (and the same display
        double)."""
        from v3io_tsdb_spark.functions.detmath import half_away_div_py
        from v3io_tsdb_spark.operators.paths import (
            markov_model_panel,
            session_perplexity,
        )
        from v3io_tsdb_spark.streaming.stateful import (
            _make_session_perplexity_fn,
        )

        ev = _load_events(spark)
        model = {
            (r["from_state"], r["to_state"]): r["mn"]
            for r in markov_model_panel(ev).collect()
        }
        batch = {
            (r["user_id"], r["sess"]): r["mean_logp_micro"]
            for r in session_perplexity(ev).collect()
        }
        # drive the stateful fn directly (the python twin — the
        # pattern of test_round13b_ops): one user's full feed, then a
        # sentinel far-future event to close the last session
        import pandas as pd

        rows = (
            ev.orderBy("ts_ms", "event_type", "event_id")
            .where(F.col("user_id") == _first_user(spark, ev))
            .collect()
        )
        uid = rows[0]["user_id"]
        pdf = pd.DataFrame({
            "ts": [r["ts_ms"] for r in rows] + [rows[-1]["ts_ms"] + 10**12],
            "event_type": [r["event_type"] for r in rows] + ["zz"],
            "event_id": [r["event_id"] for r in rows] + [0],
        })
        fn = _make_session_perplexity_fn(model, 1_800_000)

        class _State:
            exists = False

            def update(self, v):
                self.exists, self._v = True, v

            @property
            def get(self):
                return self._v

        out = pd.concat(list(fn((str(uid),), iter([pdf]), _State())))
        for _, r in out.iterrows():
            key = (uid, int(r["sess"]))
            if key in batch:
                assert int(r["mean_logp_micro"]) == batch[key], key
                assert r["mean_logp"] == int(r["mean_logp_micro"]) / 1e6


def _load_events(spark):
    import __spark_entry__ as E

    return E._events_ms_clamped(spark, SF)


def _first_user(spark, ev):
    return ev.select(F.min("user_id")).collect()[0][0]


class TestPagerankOverflow:
    def test_120_states_no_wrap(self, spark):
        """ADVICE r14 #1: with >=108 states the old INT-folded
        denominator 2*10^7*n wrapped negative in non-ANSI mode,
        corrupting every rank. 120-state ring chain: all ranks must be
        positive, sum to ~1 (no dangling leak on a ring), and the
        uniform fixpoint must be preserved (a ring is doubly
        stochastic, so PageRank stays uniform: every vu identical)."""
        from v3io_tsdb_spark.operators.paths import _transition_p6, pagerank

        n = 120
        rows = []
        eid = 0
        # 40 users each walking part of a ring s0->s1->...->s119->s0:
        # every edge observed, p(next|cur) = 1
        for u in range(40):
            for step in range(2 * n // 8):
                s = (u * 7 + step) % n
                rows.append((u, step * 1000, f"s{s:03d}", eid))
                rows.append((u, step * 1000 + 500, f"s{(s + 1) % n:03d}",
                             eid + 1))
                eid += 2
        df = _events(spark, rows)
        # force a multi-state chain: use a short gap so each
        # (cur,next) burst is its own session pair
        trans = _transition_p6(df, "user_id", "ts_ms", "event_type",
                               "event_id", 600)
        out = pagerank(trans, k=3).collect()
        assert len(out) == n
        prs = [r["pr"] for r in out]
        assert all(p > 0 for p in prs), min(prs)
        assert abs(sum(prs) - 1.0) < 0.01, sum(prs)

    def test_python_twin_matches_engine_at_scale(self, spark):
        """The BIGINT update formula recomputed in pure Python for the
        120-state ring must equal the engine's vu exactly — the cross-
        engine pin that fails if any literal folds in 32-bit."""
        from v3io_tsdb_spark.functions.detmath import q6_ratio_py
        from v3io_tsdb_spark.operators.paths import pagerank

        n = 120
        rows = [(f"s{i:03d}", f"s{(i + 1) % n:03d}", 1, 1_000_000)
                for i in range(n)]
        trans = spark.createDataFrame(
            rows, "from_state string, to_state string, c long, p6 long"
        ).withColumn("p", F.col("p6") / F.lit(1e6))
        out = {r["state"]: r["pr"] for r in pagerank(trans, k=3).collect()}
        # python twin
        v = {f"s{i:03d}": max(q6_ratio_py(1, n), 1) for i in range(n)}
        for _ in range(3):
            t = {f"s{(i + 1) % n:03d}": v[f"s{i:03d}"] * 1_000_000
                 for i in range(n)}
            num = {s: 3 * 10**12 + 17 * n * t.get(s, 0) for s in v}
            den = 2 * 10**7 * n
            v = {s: (2 * num[s] + den) // (2 * den) for s in v}
        for s, vu in v.items():
            assert out[s] == vu / 1e6, (s, out[s], vu)


def _ppm(w, h, raster):
    return f"P6\n{w} {h}\n255\n".encode() + bytes(raster)


class TestImageAhash:
    def _fp(self, spark, images):
        from v3io_tsdb_spark.functions.multimodal import image_ahash

        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in images],
            "doc_id long, payload binary",
        )
        return {r["doc_id"]: r for r in image_ahash(df).collect()}

    def test_hash_matches_hand_computation(self, spark):
        """8x8 image, left half dark (0) / right half bright (300 gray
        = 100,100,100): bright cells sit above the global mean, dark
        below — hash is 0x0F0F0F0F in both halves; gray_total exact."""
        row = [0, 0, 0] * 4 + [100, 100, 100] * 4
        img = _ppm(8, 8, row * 8)
        fp = self._fp(spark, [(1, img)])[1]
        assert fp["height"] == 8
        assert fp["gray_total"] == 300 * 4 * 8
        assert fp["ahash_hi"] == 0x0F0F0F0F
        assert fp["ahash_lo"] == 0x0F0F0F0F

    def test_short_and_wrong_width_images_drop(self, spark):
        out = self._fp(spark, [
            (1, _ppm(8, 7, [1, 2, 3] * 8 * 7)),    # h < 8: no 8 bands
            (2, _ppm(7, 8, [1, 2, 3] * 7 * 8)),    # w != 8 (ADVICE r15
            (3, _ppm(16, 8, [1, 2, 3] * 16 * 8)),  # #2: the case the
        ])                                          # test name promised)
        assert out == {}

    def test_pairs_exact_multi_index(self, spark):
        """Identical images pair at hamming 0; a 2-bit corruption
        pairs at <= 3; an inverted image (hamming 64) never surfaces
        — and the radius-4 request is rejected (the pigeonhole
        guarantee only covers <= 3 with 4 chunks)."""
        import pytest as _pytest

        from v3io_tsdb_spark.functions.multimodal import (
            image_ahash,
            image_ahash_pairs,
        )

        row = [0, 0, 0] * 4 + [100, 100, 100] * 4
        base = _ppm(8, 8, row * 8)
        # flip the two leading dark cells of the first band to bright
        r2 = ([100, 100, 100] * 2 + [0, 0, 0] * 2 + [100, 100, 100] * 4)
        corrupted = _ppm(8, 8, r2 + row * 7)
        inverted = _ppm(8, 8, ([100, 100, 100] * 4 + [0, 0, 0] * 4) * 8)
        df = spark.createDataFrame(
            [(1, bytearray(base)), (2, bytearray(base)),
             (3, bytearray(corrupted)), (4, bytearray(inverted))],
            "doc_id long, payload binary",
        )
        fp = image_ahash(df)
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in image_ahash_pairs(fp, max_hamming=3).collect()}
        assert pairs[(1, 2)] == 0
        assert pairs[(1, 3)] == 2 and pairs[(2, 3)] == 2
        assert not any(4 in k for k in pairs)
        with _pytest.raises(ValueError):
            image_ahash_pairs(fp, max_hamming=4)

    def test_pairs_match_bruteforce_on_testdata(self, spark):
        """Multi-index search == brute-force quadratic scan on the real
        corpus (the exactness claim, not just hand-built cases): the
        sf0.001 documents carry an exact-copy band, so real hamming-0
        pairs exist and both enumerations must agree exactly."""
        import __spark_entry__ as E
        from v3io_tsdb_spark.functions.multimodal import image_ahash_pairs

        fp = E.queries()["mm_image_ahash"](spark, SF).localCheckpoint(
            eager=True
        )
        fast = {(r["id_a"], r["id_b"]): r["hamming"]
                for r in image_ahash_pairs(fp, max_hamming=3).collect()}
        rows = [(r["doc_id"], r["ahash_hi"], r["ahash_lo"])
                for r in fp.collect()]
        brute = {}
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = rows[i], rows[j]
                hm = (bin(a[1] ^ b[1]).count("1")
                      + bin(a[2] ^ b[2]).count("1"))
                if hm <= 3:
                    k = (min(a[0], b[0]), max(a[0], b[0]))
                    brute[k] = hm
        assert fast == brute
        assert len(brute) > 0  # the exact-copy band is really there

    def test_property_matches_python_reference(self, spark):
        """Property pin: for random rasters the operator's fingerprint
        equals an independent pure-Python recompute of the same
        contract (band = (row*8) div h, bit = cell_sum*n_px >
        total*cell_n, MSB-first packing into unsigned-32 halves)."""
        import random

        rng = random.Random(1503)
        images = []
        expected = {}
        for doc_id in range(1, 21):
            h = rng.randrange(8, 40)
            raster = [rng.randrange(256) for _ in range(3 * 8 * h)]
            images.append((doc_id, _ppm(8, h, raster)))
            gray = [sum(raster[3 * i:3 * i + 3]) for i in range(8 * h)]
            total, n_px = sum(gray), 8 * h
            cells = {}
            for row in range(h):
                b = (row * 8) // h
                for col in range(8):
                    s, n = cells.get((b, col), (0, 0))
                    cells[(b, col)] = (s + gray[row * 8 + col], n + 1)
            hi = lo = 0
            for (b, col), (s, n) in cells.items():
                bit = int(s * n_px > total * n)
                k = b * 8 + col
                if k < 32:
                    hi |= bit << (31 - k)
                else:
                    lo |= bit << (63 - k)
            expected[doc_id] = (h, total, hi, lo)
        got = self._fp(spark, images)
        for doc_id, (h, total, hi, lo) in expected.items():
            r = got[doc_id]
            assert (r["height"], r["gray_total"], r["ahash_hi"],
                    r["ahash_lo"]) == (h, total, hi, lo), doc_id

    def test_registry_row_green_on_testdata(self, spark):
        """The gated row emits all-BIGINT fingerprints on real docs."""
        import __spark_entry__ as E

        df = E.queries()["mm_image_ahash"](spark, SF)
        kinds = {f.dataType.simpleString() for f in df.schema.fields}
        assert kinds == {"bigint"}
        rows = df.collect()
        assert len(rows) > 0
        for r in rows[:50]:
            assert 0 <= r["ahash_hi"] < 2**32
            assert 0 <= r["ahash_lo"] < 2**32


class TestUniformCatalog:
    def test_group_by_validation_runs_zero_jobs(self, spark):
        """The '*' uniform-schema catalog marker answers group-by label
        existence as METADATA: building a grouped select over the
        events feed launches no Spark job (the limit(1) probe scan is
        the no-catalog fallback only)."""
        import __spark_entry__ as E
        from v3io_tsdb_spark.datasets import events_as_samples
        from v3io_tsdb_spark.querier import Querier, SelectParams

        feed = events_as_samples(spark, SF)
        feed.limit(1).write.format("noop").mode("overwrite").save()
        st = spark.sparkContext.statusTracker()
        q = Querier(spark, feed, catalog=E.EVENTS_CATALOG)
        before = len(st.getJobIdsForGroup(None))
        q.select(SelectParams(functions="sum", step="1d", group_by="uid",
                              from_time=E.F0, to_time=E.T1))
        assert len(st.getJobIdsForGroup(None)) == before

    def test_group_by_missing_label_still_errors(self, spark):
        import pytest as _pytest

        import __spark_entry__ as E
        from v3io_tsdb_spark.datasets import events_as_samples
        from v3io_tsdb_spark.errors import BadRequest
        from v3io_tsdb_spark.querier import Querier, SelectParams

        q = Querier(spark, events_as_samples(spark, SF),
                    catalog=E.EVENTS_CATALOG)
        with _pytest.raises(BadRequest, match="does not exist"):
            q.select(SelectParams(functions="sum", step="1d",
                                  group_by="nope",
                                  from_time=E.F0, to_time=E.T1))


class TestDiagAndRotation:
    def test_diag_row_encodes_pyspark_version(self, spark):
        import pyspark

        import __spark_entry__ as E

        maj, mi, pa = (int(x) for x in pyspark.__version__.split(".")[:3])
        df = E.queries()["diag_engine_versions"](spark, SF)
        n = df.count()
        assert n == maj * 10000 + mi * 100 + pa
        assert df.select("ver_code").distinct().collect()[0][0] == n

    def test_diag_oracle_encodes_duckdb_version(self):
        import duckdb

        import __spark_entry__ as E

        con = duckdb.connect()
        n = len(con.sql(E.oracle_sql()["diag_engine_versions"]).df())
        maj, mi, pa = (int(x) for x in duckdb.__version__.split(".")[:3])
        assert n == maj * 10000 + mi * 100 + pa

    def test_rotation_simulation_green(self):
        """The committed head-50 must satisfy the rotation invariant
        both now and at gate time (VERDICT r14 #2: a head plan that
        only passes 'now' is not a plan)."""
        r = subprocess.run(
            [sys.executable, "tools/check_rotation.py", "--simulate"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True,
        )
        assert r.returncode == 0, r.stdout + r.stderr

    def test_gated_registry_rows_integer_only(self, spark):
        """No gated row of the session-perplexity family carries a
        float column anymore (VERDICT r14 #1d)."""
        import __spark_entry__ as E

        for name in ("events_session_perplexity", "events_session_score_panel"):
            df = E.queries()[name](spark, SF)
            kinds = {f.dataType.simpleString() for f in df.schema.fields}
            assert kinds <= {"bigint"}, (name, kinds)
