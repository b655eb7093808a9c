"""Round-16 pins: the perplexity control matrix (VERDICT r15 #1), the
uncast-`sess` dtype root cause, and the two row-count-channel probes.

The r16 diagnosis in one place: five consecutive driver hash-reds on
the session-perplexity family came from the oracle SQL's `sess` column
— a DuckDB window ``sum()`` returns HUGEINT, which the pandas bridge
renders as float64 (``3.0``) while Spark emits int64 (``3``). The
local tolerance compare passed the value-equal frames; the driver's
TYPED value hash did not. The model half (events_markov_transitions)
never had a passthrough window sum, which is exactly why it gated
green while every session-grain row stayed red. These tests pin the
fix (sess is int64 on BOTH sides of every family oracle) and the new
control rows that make any future seam observable in one artifact.
"""

import math

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _mn_py(lnp: float) -> int:
    """Python twin of __spark_entry__._mn_sql / text.micro_nats: round
    half-away-from-zero of lnp·1e6 in the repo-wide floor form."""
    e = lnp * 1e6
    return int(math.floor(e + 0.5)) if e >= 0 else -int(math.floor(-e + 0.5))


@pytest.fixture(scope="module")
def oracle_con():
    import __spark_entry__ as E  # noqa: F401  (path bootstrap)
    from v3io_tsdb_spark.datasets import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


class TestSessDtypeRootCause:
    def test_family_oracle_sess_is_int64(self, oracle_con):
        """THE r16 fix: every session-grain family oracle must hand the
        pandas bridge an int64 `sess`, not a HUGEINT→float64. A
        regression here is invisible to value compares and red on the
        driver's typed hash — fail it by dtype."""
        import __spark_entry__ as E

        sqls = E.oracle_sql()
        for name in ("events_session_perplexity",
                     "events_session_score_panel",
                     "stream_session_perplexity",
                     "events_session_digest"):
            df = oracle_con.sql(sqls[name]).df()
            assert str(df["sess"].dtype) == "int64", (name, df.dtypes)
            # nothing else in the hashed frame may be float either —
            # the family contract is integer-only end-to-end
            kinds = {d.kind for d in df.dtypes}
            assert "f" not in kinds, (name, df.dtypes)

    def test_hugeint_window_sum_is_float64_via_pandas(self):
        """Documents the engine behavior the fix guards against: an
        uncast DuckDB window sum over integers reaches pandas as
        float64. If a DuckDB upgrade changes this, the guard (and the
        CAST) become no-ops — this test names the day."""
        con = duckdb.connect()
        df = con.sql(
            "SELECT sum(x) OVER (ORDER BY x) AS s FROM (VALUES (1), (2)) t(x)"
        ).df()
        assert df["s"].dtype.kind == "f", df.dtypes

    def test_spark_family_sess_is_long(self, spark):
        import __spark_entry__ as E

        for name in ("events_session_perplexity",
                     "events_session_score_panel",
                     "events_session_digest"):
            df = E.queries()[name](spark, SF)
            types = dict((f.name, f.dataType.simpleString())
                         for f in df.schema.fields)
            assert types["sess"] == "bigint", (name, types)


class TestDetMnProbe:
    def test_probe_matches_python_reference(self, spark):
        """(p6, mn) over the literal sweep must equal the pure-Python
        det_ln — every engine executes the same staged-IEEE ladder, so
        any drift is a real cross-engine seam, not tolerance noise."""
        import __spark_entry__ as E
        from v3io_tsdb_spark.functions.detmath import det_ln_py

        rows = E.queries()["det_mn_probe"](spark, SF).collect()
        assert len(rows) == E._PROBE_P6_SWEEP_N + len(E._PROBE_P6_LITERALS)
        for r in rows:
            expect = _mn_py(det_ln_py(r["p6"] / 1e6))
            assert r["mn"] == expect, (r["p6"], r["mn"], expect)

    def test_probe_oracle_identical_frames(self, spark, oracle_con):
        """Spark and DuckDB probe frames must be IDENTICAL — values and
        dtypes — because the probe certifies the driver's det_ln with
        a hash, not a tolerance."""
        import __spark_entry__ as E

        s = (E.queries()["det_mn_probe"](spark, SF).toPandas()
             .sort_values(["p6", "mn"]).reset_index(drop=True))
        o = (oracle_con.sql(E.oracle_sql()["det_mn_probe"]).df()
             .sort_values(["p6", "mn"]).reset_index(drop=True))
        assert list(s.dtypes) == list(o.dtypes)
        pd.testing.assert_frame_equal(s, o)

    def test_probe_covers_ln1_and_model_p6s(self, spark):
        """The sweep must include the ln(1)=0 endpoint (p6=10⁶ → mn=0)
        and the sf0.01 model's actual p6 values as literals — the
        inputs a family red would implicate first."""
        import __spark_entry__ as E

        assert 1_000_000 in E._PROBE_P6_LITERALS
        got = {r["p6"]: r["mn"] for r in
               E.queries()["det_mn_probe"](spark, SF).collect()}
        assert got[1_000_000] == 0
        for v in E._PROBE_P6_LITERALS:
            assert v in got


class TestSessionDigest:
    def test_digest_grain_matches_panel(self, spark):
        """The digest's (user, sess) keys and n_steps must equal the
        score panel's exactly — same sessionization, so a driver split
        between the two rows isolates the model join."""
        import __spark_entry__ as E

        dig = {(r["user_id"], r["sess"]): r["n_steps"] for r in
               E.queries()["events_session_digest"](spark, SF).collect()}
        pan = {(r["user_id"], r["sess"]): r["n_steps"] for r in
               E.queries()["events_session_score_panel"](spark, SF).collect()}
        assert dig == pan

    def test_digest_oracle_identical_frames(self, spark, oracle_con):
        import __spark_entry__ as E

        cols = ["user_id", "sess", "n_steps", "min_t", "max_t"]
        s = (E.queries()["events_session_digest"](spark, SF).toPandas()
             [cols].sort_values(cols).reset_index(drop=True))
        o = (oracle_con.sql(E.oracle_sql()["events_session_digest"]).df()
             [cols].sort_values(cols).reset_index(drop=True))
        assert [d.kind for d in s.dtypes] == [d.kind for d in o.dtypes]
        pd.testing.assert_frame_equal(s, o, check_dtype=False)

    def test_digest_bounds_are_consistent(self, spark):
        import __spark_entry__ as E

        for r in E.queries()["events_session_digest"](spark, SF).collect():
            assert r["min_t"] <= r["max_t"]
            assert r["n_steps"] >= 1
            # a session spans at most gap_ms per step
            assert r["max_t"] - r["min_t"] <= r["n_steps"] * 1_800_000


class TestRowCountChannelProbes:
    def test_session_config_code_green_locally(self, spark, oracle_con):
        """Under the pinned-UTC test session with Spark 4.x defaults
        (ANSI on, AQE on) the config fingerprint is 1111 on the Spark
        side and the oracle pins the same constant — the row is fully
        GREEN when driver config matches this environment."""
        import __spark_entry__ as E

        sdf = E.queries()["diag_session_config"](spark, SF)
        assert sdf.count() == 1111
        assert sdf.select("cfg_code").distinct().collect()[0][0] == 1111
        odf = oracle_con.sql(E.oracle_sql()["diag_session_config"]).df()
        assert len(odf) == 1111

    def test_det_mn_code_matches_engines_and_reference(
            self, spark, oracle_con):
        """The checksum row-count must agree across Spark, DuckDB and
        the pure-Python reference — so on the driver, equal counts
        certify det_ln and unequal counts print both checksums."""
        import __spark_entry__ as E
        from v3io_tsdb_spark.functions.detmath import det_ln_py

        p6s = ([1 + 97 * k for k in range(E._PROBE_P6_SWEEP_N)]
               + list(E._PROBE_P6_LITERALS))
        ref = sum(_mn_py(det_ln_py(p / 1e6)) * ((p % 97) + 1) for p in p6s)
        expect = abs(ref) % 9973 + 1
        assert E.queries()["diag_det_mn_code"](spark, SF).count() == expect
        assert len(oracle_con.sql(
            E.oracle_sql()["diag_det_mn_code"]).df()) == expect


def test_head_contains_control_matrix():
    """r16 pinned the control-matrix rows into the head so ONE driver
    run gated them (VERDICT r15 next-round #1/#3), and r17 pinned its
    rotation plan (the two then never-gated rows and the r13 evidence
    cohort). Both gated: CORRECTNESS_r16 has the matrix hash-green and
    CORRECTNESS_r17 has every r17-head row hash-green. The r18 head
    ROTATES again (the rotation contract in the queries() docstring):
    this pin now guards the r18 plan — the standing environment probe,
    the r14 evidence cohort and the two r15 rows must sit in slots 0-49
    so the r18 gate clears the stale set check_rotation --simulate
    models, and every r17-head row that leaves must be r17-green."""
    import json
    import os

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    head = list(E.queries())[:50]
    for name in ("diag_session_config", "doc_normalized_dedup",
                 "tsdb_irate_daily", "events_value_heatmap",
                 "stream_cms_sketch", "doc_classifier_score",
                 "tsdb_slo_burn", "emb_mmr_topk",
                 "tpch_q10_returned_items", "events_pagerank"):
        assert name in head, name
    # the r17 head really is r17-green (the reason its rows may leave)
    with open(os.path.join(repo, "CORRECTNESS_r17.json")) as f:
        art17 = json.load(f)
    leaving = [q for q in art17 if q not in head]
    assert {"doc_calibration", "doc_dsir_scores"} <= set(leaving)
    for name in leaving:
        assert art17[name]["hash_match"] is True, name
    # and the r16 matrix really is r16-green
    with open(os.path.join(repo, "CORRECTNESS_r16.json")) as f:
        art = json.load(f)
    for name in ("diag_det_mn_code", "det_mn_probe",
                 "events_session_digest", "events_markov_transitions",
                 "events_session_score_panel", "events_session_perplexity",
                 "stream_session_perplexity", "mm_image_ahash"):
        assert art[name]["hash_match"] is True, name


class TestCalibrationBuckets:
    def test_invariants_and_oracle(self, spark, oracle_con):
        import __spark_entry__ as E

        s = (E.queries()["doc_calibration"](spark, SF).toPandas()
             .sort_values("bucket").reset_index(drop=True))
        o = (oracle_con.sql(E.oracle_sql()["doc_calibration"]).df()
             .sort_values("bucket").reset_index(drop=True))
        pd.testing.assert_frame_equal(s, o, check_dtype=False)
        assert {d.kind for d in s.dtypes} == {"i"}  # all-BIGINT contract
        assert s["bucket"].between(0, 9).all()
        assert (s["n_pos"] <= s["n_docs"]).all()
        assert (s["gap_micro"]
                == (s["mean_score_micro"] - s["pos_rate_micro"]).abs()).all()

    def test_mass_conservation(self, spark):
        """Every (scored ∩ labeled) doc lands in exactly one bucket."""
        import __spark_entry__ as E
        from v3io_tsdb_spark.functions.classifier import classifier_score
        from v3io_tsdb_spark.datasets import load_table

        docs = load_table(spark, SF, "documents")
        n_scored = classifier_score(docs).count()
        total = (E.queries()["doc_calibration"](spark, SF)
                 .agg(F.sum("n_docs")).collect()[0][0])
        assert total == n_scored


class TestDsirScores:
    def test_oracle_identical(self, spark, oracle_con):
        import __spark_entry__ as E

        s = (E.queries()["doc_dsir_scores"](spark, SF).toPandas()
             .sort_values("doc_id").reset_index(drop=True))
        o = (oracle_con.sql(E.oracle_sql()["doc_dsir_scores"]).df()
             .sort_values("doc_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(s, o, check_dtype=False)
        assert {d.kind for d in s.dtypes} == {"i"}

    def test_matches_python_reference_on_tiny_corpus(self, spark):
        """Hand-built 3-doc corpus, the full DSIR pipeline recomputed
        in pure Python (same md5 bucket hash, same q6/add-one
        smoothing, det_ln_py, micro-nat quantization) — pins every
        stage against an engine-free reference."""
        import hashlib
        import math

        from v3io_tsdb_spark.functions.classifier import dsir_scores
        from v3io_tsdb_spark.functions.detmath import (
            det_ln_py,
            half_away_div_py,
            q6_ratio_py,
        )

        B = 4096
        corpus = [
            (1, "en", "the cat sat on the mat"),
            (2, "en", "a dog ran fast"),
            (3, "fr", "le chat dort sur le tapis"),
        ]
        df = spark.createDataFrame(corpus, "doc_id long, lang string, text string")
        got = {r["doc_id"]: (r["n_features"], r["dsir_micro"])
               for r in dsir_scores(df).collect()}

        def buckets(text):
            toks = text.lower().strip().split()
            return [int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:15], 16)
                    % B for a, b in zip(toks, toks[1:])]

        ct, cr = {}, {}
        for _, lang, text in corpus:
            for b in buckets(text):
                cr[b] = cr.get(b, 0) + 1
                if lang == "en":
                    ct[b] = ct.get(b, 0) + 1
        nt, nr = sum(ct.values()), sum(cr.values())

        def mn_of(p6):
            lnp = det_ln_py(p6 / 1e6)
            e = lnp * 1e6
            return (int(math.floor(e + 0.5)) if e >= 0
                    else -int(math.floor(-e + 0.5)))

        def mn_diff(b):
            p6 = max(q6_ratio_py(ct.get(b, 0) + 1, nt + B), 1)
            q6 = max(q6_ratio_py(cr.get(b, 0) + 1, nr + B), 1)
            return mn_of(p6) - mn_of(q6)

        for doc_id, _, text in corpus:
            bs = buckets(text)
            sm = sum(mn_diff(b) for b in bs)
            assert got[doc_id] == (len(bs), half_away_div_py(sm, len(bs))), doc_id
        # the English docs must score above the French one: that is
        # the operator's PURPOSE (target-domain likelihood ratio)
        assert got[1][1] > got[3][1] and got[2][1] > got[3][1]

    def test_short_docs_drop(self, spark):
        from v3io_tsdb_spark.functions.classifier import dsir_scores

        df = spark.createDataFrame(
            [(1, "en", "single"), (2, "en", ""), (3, "en", "two tokens")],
            "doc_id long, lang string, text string",
        )
        got = {r["doc_id"] for r in dsir_scores(df).collect()}
        assert got == {3}
