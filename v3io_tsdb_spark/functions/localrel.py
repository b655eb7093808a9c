"""JVM-only small literal frames: ``SELECT ... FROM VALUES``.

``spark.createDataFrame(rows, schema)`` on a plain Python list builds a
Python-RDD-backed local relation: ``sc.parallelize`` splits even a
23-row list into ``defaultParallelism`` partitions, and EVERY consumer
of the frame (including each broadcast build) runs one Python-worker
round trip per partition — measured ~230–250 ms of idle task time per
use at local[32] (guide §4: eliminate the JVM↔Python boundary). A SQL
``VALUES`` list parses to a ``LocalRelation`` instead: zero tasks, no
Python workers, and a broadcast side materializes driver-locally.

:func:`values_frame` is the drop-in twin for the small-literal frames
the operators build (probe sweeps, centroid matrices, quantile lists,
driver-computed result panels). Emission is exact by construction:

- integral types emit the decimal digits (``L``-suffixed for BIGINT);
  a value outside the type's range falls back;
- doubles emit ``repr(x)`` + ``D`` — the shortest round-tripping
  decimal parsed by correctly-rounded ``Double.parseDouble``, so the
  stored double is bit-identical to ``F.lit(float(x))`` (the
  :func:`~v3io_tsdb_spark.functions.similarity.query_vec_lit` rule,
  bit-identity edge-tested in round 16);
- strings emit single-quoted only over a conservative safe charset;
- anything else (None, NaN/Inf, exotic types, oversized payloads)
  falls back to ``createDataFrame`` — correctness never depends on the
  fast path being taken.

Each output column is wrapped ``IF(TRUE, c, NULL)`` so the ANALYZED
schema carries ``nullable=True`` exactly like ``createDataFrame``'s
(VALUES columns of non-null literals are otherwise non-nullable, which
would flip union/consumer schemas); the optimizer folds the wrapper
away and the plan stays a ``LocalRelation``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Keep emitted SQL bounded: a VALUES list is parsed on the driver, and
# parse time grows with payload. 256 KiB covers every operator site
# (largest: a 32x64 centroid matrix ~ 45 KiB) with 5x headroom; larger
# payloads take the createDataFrame path where RDD chunking is the
# right tool.
_MAX_SQL_BYTES = 256 * 1024
_SAFE_STR = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " _.:,/+=@#()[]{}<>|!?*&^%$~-"
)


_INT_BITS = {T.LongType: 64, T.IntegerType: 32, T.ShortType: 16}


def _fits(v: int, dt) -> bool:
    half = 1 << (_INT_BITS[type(dt)] - 1)
    return -half <= v < half


def _emit(v, dt) -> str | None:
    """SQL literal for ``v`` as ``dt``, or None when not exactly
    emittable (drives the createDataFrame fallback)."""
    if v is None:
        return None
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType)):
        # out of range for the type: createDataFrame raises its own error
        if isinstance(v, bool) or not isinstance(v, int) or not _fits(v, dt):
            return None
        if isinstance(dt, T.LongType):
            return "%dL" % v
        return "CAST(%d AS %s)" % (v, dt.simpleString().upper())
    if isinstance(dt, T.DoubleType):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        x = float(v)
        if not math.isfinite(x):
            return None
        return repr(x) + "D"
    if isinstance(dt, T.BooleanType):
        if not isinstance(v, bool):
            return None
        return "TRUE" if v else "FALSE"
    if isinstance(dt, T.StringType):
        if not isinstance(v, str) or not set(v) <= _SAFE_STR:
            return None
        return "'%s'" % v
    if isinstance(dt, T.ArrayType):
        if not isinstance(v, (list, tuple)):
            return None
        parts = [_emit(x, dt.elementType) for x in v]
        if any(p is None for p in parts):
            return None
        if not parts:
            return "CAST(array() AS %s)" % dt.simpleString()
        # cast so containsNull matches the declared element type (a
        # bare array(...) of non-null literals is containsNull=false)
        return "CAST(array(%s) AS %s)" % (", ".join(parts), dt.simpleString())
    return None


def values_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` twin backed by a JVM
    ``VALUES`` LocalRelation when every value is exactly emittable;
    falls back to ``createDataFrame`` otherwise. ``schema`` is a DDL
    string or StructType; ``rows`` is a list of tuples/lists."""
    rows = list(rows)
    st = (
        T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    if not rows or not isinstance(st, T.StructType):
        return spark.createDataFrame(rows, schema)
    fields = st.fields
    out_rows = []
    budget = _MAX_SQL_BYTES
    for r in rows:
        if len(r) != len(fields):
            return spark.createDataFrame(rows, schema)
        parts = []
        for v, f in zip(r, fields):
            lit = _emit(v, f.dataType)
            if lit is None:
                return spark.createDataFrame(rows, schema)
            parts.append(lit)
        row_sql = "(%s)" % ", ".join(parts)
        budget -= len(row_sql) + 2
        if budget < 0:
            return spark.createDataFrame(rows, schema)
        out_rows.append(row_sql)
    cols = ", ".join("c%d" % i for i in range(len(fields)))
    sel = ", ".join(
        "IF(TRUE, c%d, NULL) AS `%s`" % (i, f.name)
        for i, f in enumerate(fields)
    )
    sql = "SELECT %s FROM VALUES %s AS t(%s)" % (
        sel, ", ".join(out_rows), cols
    )
    return spark.sql(sql)
