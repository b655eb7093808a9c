"""Round-17 localrel tests: ``values_frame`` must be a drop-in,
bit-exact twin of ``createDataFrame`` for the small-literal frames the
operators build, take the JVM LocalRelation fast path when it claims
to, and fall back safely on anything it cannot emit exactly."""

import math
import struct

import pytest

from pyspark.sql import functions as F

from v3io_tsdb_spark.functions.localrel import values_frame


def _plan_root(df):
    return df._jdf.queryExecution().optimizedPlan().nodeName()


def _rows_bitexact(a, b):
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert len(ra) == len(rb)

    def eq(x, y):
        if isinstance(x, float):
            return struct.pack("d", x) == struct.pack("d", y)
        if isinstance(x, list):
            return len(x) == len(y) and all(eq(p, q) for p, q in zip(x, y))
        return x == y

    for r1, r2 in zip(ra, rb):
        assert len(r1) == len(r2)
        assert all(eq(x, y) for x, y in zip(r1, r2)), (r1, r2)


CASES = [
    ([(int(v),) for v in (1, 98, 999974, -7)], "p6 long"),
    (
        [(i, [float(x) / 7 for x in range(64)]) for i in range(16)],
        "cluster int, cv array<double>",
    ),
    ([(float(q),) for q in (0.5, 0.95, 0.99)], "q double"),
    (
        [(1, 5, 0.25, 0.5, -0.125), (2, 3, 1.0, 0.999999, 1e-6)],
        "rank long, vec_id long, relevance double, max_sim double, "
        "mmr_score double",
    ),
    (
        [("view", 0.04, 1), ("add-to-cart", 0.01, 2)],
        "state string, pr double, rank long",
    ),
    # float edge values: shortest-repr round-trip, signed zero, denormal,
    # max double
    (
        [(0.1 + 0.2,), (1e-300,), (-0.0,), (1.7976931348623157e308,),
         (5e-324,)],
        "x double",
    ),
    ([(True,), (False,)], "b boolean"),
]


def test_values_frame_parity_and_fast_path(spark):
    """Content bit-exact, ANALYZED schema identical (incl. nullability
    and array containsNull), and the plan really is a LocalRelation —
    zero tasks, no Python workers."""
    for rows, ddl in CASES:
        a = spark.createDataFrame(rows, ddl)
        b = values_frame(spark, rows, ddl)
        assert a.schema == b.schema, ddl
        assert _plan_root(b) == "LocalRelation", ddl
        _rows_bitexact(a, b)


def test_values_frame_union_shape(spark):
    """The det_mn_probe shape: unionAll(range-sweep, literals) keeps
    the same analyzed schema as with the createDataFrame side."""
    sweep = spark.range(5).select(
        (F.lit(1) + F.col("id") * 97).cast("long").alias("p6")
    )
    old = sweep.unionAll(spark.createDataFrame([(3,)], "p6 long"))
    new = sweep.unionAll(values_frame(spark, [(3,)], "p6 long"))
    assert old.schema == new.schema
    assert sorted(r.p6 for r in old.collect()) == sorted(
        r.p6 for r in new.collect()
    )


def test_values_frame_fallbacks(spark):
    """Non-emittable inputs (NaN/Inf, None, unsafe strings, empty row
    list, oversized payloads) silently take the createDataFrame path
    with identical content."""
    nan = values_frame(spark, [(float("nan"),), (float("inf"),)], "x double")
    got = [r.x for r in nan.collect()]
    assert math.isnan(got[0]) or math.isnan(got[1])
    assert _plan_root(nan) != "LocalRelation"  # NaN/Inf cannot be emitted

    none = values_frame(spark, [(None,), (1.5,)], "x double")
    assert {r.x for r in none.collect()} == {None, 1.5}

    quote = values_frame(spark, [("it's",), ("a\\b",), ("c\nd",)], "s string")
    assert sorted(r.s for r in quote.collect()) == ["a\\b", "c\nd", "it's"]

    empty = values_frame(spark, [], "x double")
    assert empty.collect() == []
    assert empty.schema == spark.createDataFrame([], "x double").schema

    big = values_frame(
        spark, [(i, "x" * 200) for i in range(3000)], "i long, s string"
    )
    assert big.count() == 3000


def test_values_frame_out_of_range_ints_fall_back(spark):
    """Integers outside the declared type's range cannot be emitted as
    that type: they take the createDataFrame path, which rejects them
    exactly as it would have without the fast path."""
    from pyspark.errors import PySparkValueError

    for v, ddl in ((2**40, "x int"), (2**70, "x long"), (-(2**15) - 1, "x smallint")):
        with pytest.raises(PySparkValueError) as e:
            values_frame(spark, [(v,)], ddl)
        assert "VALUE_OUT_OF_BOUNDS" in str(e.value), ddl
    # the extremes of each range still take the fast path
    edge = [(2**63 - 1, 2**31 - 1, 2**15 - 1), (-(2**63), -(2**31), -(2**15))]
    ddl = "l long, i int, s smallint"
    df = values_frame(spark, edge, ddl)
    assert _plan_root(df) == "LocalRelation"
    _rows_bitexact(spark.createDataFrame(edge, ddl), df)


def test_values_frame_oversize_falls_back(spark):
    """Past the SQL-size budget the helper must NOT emit a giant VALUES
    string; it returns the createDataFrame form instead."""
    rows = [(i, "x" * 200) for i in range(3000)]  # ~600 KiB > budget
    df = values_frame(spark, rows, "i long, s string")
    assert _plan_root(df) != "LocalRelation"
    assert df.count() == 3000
