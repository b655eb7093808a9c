"""Core table schemas.

Long-format samples table + rollup table, per SURVEY.md §7.1 and the
reference's data model (ref: pkg/aggregate/aggregate.go:68-79 for the
rollup fields; pkg/appender/appender.go:194-208 for the sample shape).

All timestamps are int64 Unix milliseconds (``ts`` / ``bucket``),
matching the reference and avoiding timezone ambiguity; a derived
``dt`` (yyyy-MM-dd) partitions the storage table so time-range
predicates prune Parquet partitions (``rdt`` the rollup table, whose
rollup sets are partitioned by ``set`` above it).
The engine opens its tables with the declared read schemas below, as
the reference keeps its table schema in memory (ref:
pkg/partmgr/partmgr.go:228-264), so opening a table runs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType(), False),  # unix ms
        T.StructField("name", T.StringType(), False),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("series_id", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
        # Variant metrics: one typed column per on-disk variant kind the
        # reference's enum reserves (ref: pkg/chunkenc/vartype.go:32-50
        # varTypeString/Bool/Int*/Blob — its appender implements only
        # string+nil, vartype.go:119-132; here each reserved kind is a
        # real typed column). Sparse columns are near-free in Parquet
        # (null runs compress away; unread kinds never leave the
        # footer), and exactly ONE of the value columns is non-null per
        # row — a series is float XOR one variant kind (appender
        # validation).
        T.StructField("value_str", T.StringType(), True),
        T.StructField("value_bool", T.BooleanType(), True),
        T.StructField("value_int", T.LongType(), True),
        T.StructField("value_blob", T.BinaryType(), True),
    ]
)

ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),  # unix ms, floor(ts/gran)*gran
        T.StructField("name", T.StringType(), False),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("series_id", T.LongType(), True),
        T.StructField("count", T.LongType(), True),
        T.StructField("sum", T.DoubleType(), True),
        T.StructField("sqr", T.DoubleType(), True),  # sum(v*v)
        T.StructField("min", T.DoubleType(), True),
        T.StructField("max", T.DoubleType(), True),
        T.StructField("last", T.DoubleType(), True),
        T.StructField("last_ts", T.LongType(), True),
    ]
)


def _read_schema(fields, partition: str) -> T.StructType:
    """All-nullable fields plus the DATE partition column: how Spark
    reads any Parquet table, so an empty frame and a scan agree."""
    return T.StructType(
        [T.StructField(f.name, f.dataType) for f in fields]
        + [T.StructField(partition, T.DateType())]
    )


SAMPLES_READ_SCHEMA = _read_schema(SAMPLES_SCHEMA.fields, "dt")
# the rollup table's partition column naming a row's rollup set
SET_COL = "set"
# one rollup set's subtree; the whole rollup table adds its set column
ROLLUP_READ_SCHEMA = _read_schema(ROLLUP_SCHEMA.fields, "rdt")
ROLLUP_TABLE_READ_SCHEMA = T.StructType(
    [*ROLLUP_READ_SCHEMA.fields, T.StructField(SET_COL, T.StringType())]
)


def read_table(spark: SparkSession, table: tuple, schema) -> DataFrame:
    """Open the ``(base directory, files)`` of one engine table version
    with its declared schema — no footer read, so no Spark job. The
    files are read with ``basePath``, so their directories still give
    the partition columns; no files read as an empty frame of the same
    schema (an empty TSDB answers queries with empty results,
    ref: pkg/pquerier/querier.go Select over empty partitions)."""
    base, files = table
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", base).parquet(*files)
