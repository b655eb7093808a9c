"""Batch ingest — the Spark analog of the reference's appender.

The reference's Add/AddFast + async ingest pipeline (per-metric pending
lists, elastic queues, UpdateItem expressions; ref:
pkg/appender/appender.go:194-287, pkg/appender/ingest.go:38-146,
pkg/appender/store.go:292-484) collapses on Spark into: normalize (row
dicts become an Arrow table, i.e. a JVM ``LocalRelation``) → one
shuffle by series → observe → dedup + layout, materialized ONCE by the
append's eager checkpoint.
That one job also fills the batch's :func:`observe_batch` facts —
validation counters, per-series kinds, per-name label keys — so
validation, the series-kind guard and the catalog delta run no Spark
job of their own (a batch of more than :data:`DRIVER_SERIES_LIMIT`
series runs the kinds guard as distributed joins instead). Then one
partitioned, sorted Parquet append + one rollup partial append that
holds every rollup set. The
state machine, LRU cache, and expression builder have no Spark
counterpart because the write path is a bulk columnar append rather
than a per-item read-modify-write.

Row-dict input needs ``pyarrow``; DataFrame input does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.errors import BadRequest
from v3io_tsdb_spark.labels import series_id_sql
from v3io_tsdb_spark.timeutils import MAX_TIME_MS, MIN_TIME_MS

# typed variant columns, one per reserved on-disk kind
# (ref: pkg/chunkenc/vartype.go:32-50; string is the only kind the
# reference appender implements, vartype.go:119-132 — the rest are
# implemented here as real typed columns)
VARIANT_COLS = (
    ("value_str", "string"),
    ("value_bool", "boolean"),
    ("value_int", "long"),
    ("value_blob", "binary"),
)

# per-row value kind: the first non-null value column (a valid row has
# exactly one), and the bit mask of all its non-null value columns
_VALUE_KINDS = (("value", "float"),) + tuple((c, c.removeprefix("value_")) for c, _ in VARIANT_COLS)
# SQL text, not Column calls: the observation is built on every append,
# and one parsed expression costs a fraction of the Py4J round trips
_KIND_SQL = (
    "CASE "
    + " ".join(f"WHEN {c} IS NOT NULL THEN '{k}'" for c, k in _VALUE_KINDS)
    + " END"
)
_MASK_SQL = " | ".join(f"IF({c} IS NULL, 0, {1 << i})" for i, (c, _) in enumerate(_VALUE_KINDS))
_NAME_RE = "^[a-zA-Z_:][a-zA-Z0-9_:]*$"

# the series-kind sidecar, read with this declared schema
KINDS_SCHEMA = T.StructType(
    [T.StructField("series_id", T.LongType()), T.StructField("kind", T.StringType())]
)

# largest |ts| in ms whose microseconds fit a long (timestamp_millis),
# less a year of headroom for the floor of a rollup bucket
_TS_MS_LIMIT = (2**63 - 1) // 1000 - 366 * 86_400_000

# the most distinct series whose kinds an append brings to the driver;
# a larger batch runs the kinds guard as distributed joins
DRIVER_SERIES_LIMIT = 10_000

_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("value", T.DoubleType()),
        T.StructField("value_str", T.StringType()),
        T.StructField("value_bool", T.BooleanType()),
        T.StructField("value_int", T.LongType()),
        T.StructField("value_blob", T.BinaryType()),
    ]
)


def normalize_samples(spark: SparkSession, data) -> DataFrame:
    """Accept a DataFrame or rows of dicts ``{ts, name, labels, value}``
    and normalize to the samples schema (ts → int64 ms, series_id
    computed JVM-side via xxhash64). Row dicts travel as one Arrow
    table, so the frame plans as a JVM ``LocalRelation``: no Python
    worker runs when the batch is read."""
    if isinstance(data, DataFrame):
        df = data
    else:
        df = _local_frame(spark, _row_columns(data), _INPUT_SCHEMA)

    # SQL text: building these as Column calls costs a Py4J round trip
    # per expression node, ~50 ms on every append
    dtypes = dict(df.dtypes)
    ts = "unix_millis(ts)" if dtypes.get("ts", "").startswith("timestamp") else "CAST(ts AS BIGINT)"
    labels = "labels" if "labels" in dtypes else "CAST(map() AS MAP<STRING, STRING>)"
    value = "CAST(value AS DOUBLE)" if "value" in dtypes else "CAST(NULL AS DOUBLE)"
    variants = [vc if vc in dtypes else f"CAST(NULL AS {vt}) AS {vc}" for vc, vt in VARIANT_COLS]
    df = df.selectExpr(f"{ts} AS ts", "name", f"{labels} AS labels", f"{value} AS value", *variants)
    return df.selectExpr(
        "ts",
        "name",
        "labels",
        f"{series_id_sql()} AS series_id",
        "value",
        *[vc for vc, _ in VARIANT_COLS],
    )


def _local_frame(spark: SparkSession, cols: dict, schema: T.StructType) -> DataFrame:
    """Columns of Python values → a JVM ``LocalRelation``, via Arrow."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(pa.table(cols, schema=to_arrow_schema(schema)), schema)


def _row_columns(data) -> dict:
    """Row dicts → one list per input-schema column."""
    cols = {f.name: [] for f in _INPUT_SCHEMA.fields}
    for r in data:
        cols["ts"].append(int(r["ts"]))
        cols["name"].append(r["name"])
        cols["labels"].append(dict(r.get("labels") or {}))
        cols["value"].append(None if r.get("value") is None else float(r["value"]))
        cols["value_str"].append(r.get("value_str"))
        cols["value_bool"].append(r.get("value_bool"))
        cols["value_int"].append(None if r.get("value_int") is None else int(r["value_int"]))
        cols["value_blob"].append(r.get("value_blob"))
    return cols


def series_kinds(df: DataFrame) -> DataFrame:
    """Distinct (series_id, kind) pairs of a frame — tiny (one row per
    series), the content of the series-kind sidecar."""
    return (
        df.selectExpr("series_id", f"{_KIND_SQL} AS kind")
        .where(F.col("kind").isNotNull())
        .distinct()
    )


def kinds_frame(spark: SparkSession, kinds: list) -> DataFrame:
    """``(series_id, kind)`` pairs as a JVM ``LocalRelation``."""
    cols = {"series_id": [k[0] for k in kinds], "kind": [k[1] for k in kinds]}
    return _local_frame(spark, cols, KINDS_SCHEMA)


def observe_batch(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the ingest facts to ``df`` as an observation. The job
    that first runs the plan (the append's eager checkpoint) fills it;
    reading it runs no job. It gathers:

    - ``bad_ts`` / ``bad_name``: samples outside [1970, 2400]
      (ref: pkg/appender/appender.go:289-294) and with an invalid
      metric name (ref: pkg/appender/appender.go:213-215);
    - ``unwritable_ts``: samples whose ``ts`` no layout column can hold
      (see :data:`_TS_MS_LIMIT`);
    - ``multi_valued``, ``n_series``, ``n_pairs``: whether a row sets
      more than one value column, and the distinct series and
      ``(series, kind)`` pairs among rows with a value — a series of
      two kinds makes ``n_pairs > n_series``;
    - ``series``: per kind, the ids of its series — the input of the
      kinds guard — cut after :data:`DRIVER_SERIES_LIMIT` ids. The sets
      are merged in the driver JVM; Python gets at most that many ids
      per kind;
    - ``names``: the distinct ``(name, label keys)`` — the catalog
      delta (ref: pkg/appender/store.go:190-203).
    """
    # long sets, not sets of structs: an observation's aggregates run
    # interpreted, and a struct set costs several times a long set
    has_value = f"({_MASK_SQL}) != 0"
    listed = ", ".join(
        f"'{k}', slice(collect_set(IF({c} IS NULL, NULL, series_id)), 1, {DRIVER_SERIES_LIMIT + 1})"
        for c, k in _VALUE_KINDS
    )
    obs = Observation()
    observed = df.observe(
        obs,
        F.expr(f"sum(CAST(NOT ts BETWEEN {MIN_TIME_MS} AND {MAX_TIME_MS} AS BIGINT)) AS bad_ts"),
        F.expr(f"sum(CAST(NOT rlike(name, '{_NAME_RE}') AS BIGINT)) AS bad_name"),
        F.expr(f"sum(CAST(NOT ts BETWEEN -{_TS_MS_LIMIT} AND {_TS_MS_LIMIT} AS BIGINT)) AS unwritable_ts"),
        F.expr(f"max(bit_count({_MASK_SQL})) > 1 AS multi_valued"),
        F.expr(f"size(collect_set(IF({has_value}, series_id, NULL))) AS n_series"),
        # a (series, kind) pair is hashed like the series id itself
        F.expr(
            f"size(collect_set(IF({has_value}, xxhash64(series_id, {_MASK_SQL}), NULL))) AS n_pairs"
        ),
        F.expr(f"named_struct({listed}) AS series"),
        F.expr(
            "collect_set(struct(name, coalesce(array_sort(map_keys(labels)), array()) AS keys))"
            " AS names"
        ),
    )
    return observed, obs


def observe_key(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the batch's content key (:func:`content_key`) to ``df``
    as an observation: ``bit_xor`` of a per-row ``xxhash64`` and the row
    count — independent of row order, and no overflow under ANSI mode.
    Observe the deduplicated batch: xor cancels equal rows."""
    cols = ", ".join(["ts", "series_id", "name", "value", *(c for c, _ in VARIANT_COLS)])
    obs = Observation()
    return df.observe(obs, F.expr(f"bit_xor(xxhash64({cols})) AS x"), F.expr("count(1) AS n")), obs


def content_key(facts: dict) -> str:
    """The content key of a batch's observed :func:`observe_key` facts."""
    return f"{(facts['x'] or 0) & (2**64 - 1):016x}-{facts['n']}"


def validate_samples(facts: dict) -> None:
    """Engine-level ingest validation over a batch's observed facts
    (:func:`observe_batch`); runs no Spark job.

    - timestamps must be within [1970, 2400]
      (ref: pkg/appender/appender.go:289-294)
    - metric names must be valid (ref: pkg/appender/appender.go:213-215)
    - a series is exclusively ONE value kind — float or a single
      variant type (ref: pkg/appender/appender.go:244-254 float-vs-
      variant; kinds per pkg/chunkenc/vartype.go:32-50)
    """
    if facts["bad_ts"]:
        raise BadRequest(f"{facts['bad_ts']} samples outside valid time range (1970..2400)")
    if facts["bad_name"]:
        raise BadRequest(f"{facts['bad_name']} samples with invalid metric name")
    if facts["multi_valued"] or facts["n_pairs"] > facts["n_series"]:
        raise BadRequest("series cannot mix value kinds (float/str/bool/int/blob)")


def check_writable(facts: dict) -> None:
    """Reject a batch with a ``ts`` the layout cannot hold — also
    under ``validate=False``, before anything durable is written."""
    if facts["unwritable_ts"]:
        raise BadRequest(f"{facts['unwritable_ts']} samples with a timestamp out of range")


def batch_kinds(facts: dict) -> list | None:
    """The ``(series_id, kind)`` pairs of a batch's observed facts, or
    None when the batch has too many series to list them."""
    if facts["n_series"] > DRIVER_SERIES_LIMIT:
        return None
    return sorted((i, k) for k, ids in facts["series"].asDict().items() for i in ids)


def batch_names(facts: dict) -> dict:
    """``{name: label keys}`` of a batch's observed facts."""
    out: dict = {}
    for r in facts["names"]:
        out.setdefault(r["name"], set()).update(r["keys"])
    return out


def by_series(df: DataFrame) -> DataFrame:
    """Hash-partition a batch by ``series_id``: the one shuffle of an
    append. The dedup of :func:`prepare_for_write` and the samples
    write reuse it, and the batch's observations go above it: Spark's
    adaptive planner drops an empty shuffle stage, and any observation
    inside it, when an aggregate reads that stage."""
    return df.repartition(F.col("series_id"))


def prepare_for_write(df: DataFrame, config: TSDBConfig) -> DataFrame:
    """Dedup + layout for the storage table, over a batch clustered by
    :func:`by_series` (no shuffle of their own).

    Dedup on (series_id, ts) replicates the reference's
    duplicate-sample policy as idempotent last-write-wins
    (ref: pkg/appender/store.go:336-352, OverrideOld
    pkg/config/config.go:146-147). A series' rows sit in one task, so
    no date becomes one giant task and each file's row groups are
    series-clustered. Rows are sorted within partitions by
    (dt, name, series_id, ts): the ``dt``-partitioned write needs no
    sort of its own, and Parquet row-group min/max statistics prune
    both name and time predicates (ref analog: per-series KV items +
    sharding keys, pkg/partmgr/partmgr.go:459-487). The dedup groups
    by the same four columns — ``dt`` follows from ``ts`` and ``name``
    from ``series_id`` — so one sort serves it and the layout.
    """
    # no dt for a ts whose microseconds overflow a long: the ANSI
    # overflow would fail the checkpoint job before the append reads
    # its observed counters (which reject such a batch before any write)
    fits = F.col("ts").between(-_TS_MS_LIMIT, _TS_MS_LIMIT)
    df = df.withColumn(
        "dt", F.when(fits, F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd"))
    )
    layout = ["dt", "name", "series_id", "ts"]
    return df.dropDuplicates(layout).sortWithinPartitions(*layout)
