"""Rollup (pre-aggregate) table maintenance.

The reference maintains per-series, per-bucket aggregate arrays
(count/sum/sqr/min/max/last) updated by server-side expressions at
ingest time (ref: pkg/aggregate/aggregate.go:68-79,
pkg/aggregate/functions.go:30-151, pkg/appender/store.go:374-397); one
``Add`` updates the series item and every ``agg/<labels>`` pre-aggregate
item (ref: pkg/appender/appender.go:220-231).

Spark-first design: the rollup is ONE **append-only partial-aggregate
log** for every rollup set — the per-series set and one set per declared
cross-label pre-aggregate, partitioned by ``set`` (:func:`set_name`) and
``rdt``. A batch appends one partial row per (set key, bucket), every
set from one ``GROUPING SETS`` aggregate (:func:`build_rollup`). All
rows share ``schema.ROLLUP_SCHEMA``; a pre-aggregate row's ``labels``
holds only its label subset and its ``series_id`` is null. Readers and
the compactor merge partials with one algebra, :func:`combine_sql`:

    count=Σcount, sum=Σsum, sqr=Σsqr, min=min(min), max=max(max),
    last=argmax(last, last_ts)

No read-modify-write at ingest (no MERGE on plain Parquet), and one
map-side-combinable aggregate per batch, whatever the number of sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from v3io_tsdb_spark.labels import labels_map_sql, labels_string_sql
from v3io_tsdb_spark.operators.aggregates import RAW_AGGREGATES, raw_agg_sql
from v3io_tsdb_spark.schema import SET_COL
from v3io_tsdb_spark.sqltext import lit, views

ROLLUP_AGG_COLS = RAW_AGGREGATES + ("last_ts",)
_MERGE = {"count": "sum", "sum": "sum", "sqr": "sum", "min": "min", "max": "max", "last_ts": "max"}


def set_name(subset=None) -> str:
    """The ``set`` partition value: ``series`` for the per-series set
    (``subset`` None), ``by,<label>,...`` over the sorted labels for a
    pre-aggregate. Distinct subsets get distinct names, since a label
    key holds no comma (the canonical labels string separates its pairs
    with commas)."""
    return "series" if subset is None else ",".join(["by", *sorted(subset)])


def combine_sql(cols=ROLLUP_AGG_COLS) -> list[str]:
    """Merge expressions (SQL text) combining partial rows into one, per
    column (ref: pkg/aggregate/functions.go:48-79)."""
    return [
        ("max_by(`last`, `last_ts`)" if c == "last" else f"{_MERGE[c]}(`{c}`)") + f" AS `{c}`"
        for c in cols
    ]


def with_rdt(partial: DataFrame) -> DataFrame:
    """Add the ``rdt`` partition column: the date of the bucket start in
    the session time zone (like ``dt``, see ``appender.prepare_for_write``)."""
    return partial.withColumn(
        "rdt", F.date_format(F.timestamp_millis(F.col("bucket")), "yyyy-MM-dd")
    )


def _build(samples: DataFrame, gran_ms: int, subsets: list) -> DataFrame:
    """Partial rows of the given rollup sets (None = the per-series set)
    over float samples, in one ``GROUPING SETS`` aggregate: the
    per-series set groups by ``(name, series_id, labels string,
    bucket)``, a pre-aggregate by ``(name, <its labels>, bucket)``. The
    labels map rides through the per-series grouping as its string
    (constant per series_id): a map-typed key would force SortAggregate."""
    subsets = list(dict.fromkeys(None if s is None else tuple(sorted(s)) for s in subsets))
    col = {k: f"_l{i}" for i, k in enumerate(sorted({k for s in subsets if s for k in s}))}

    def keys_of(s):
        if s is None:
            return ["name", "series_id", "_lstr", "bucket"]
        return ["name", *(col[k] for k in s), "bucket"]

    keys = list(dict.fromkeys(k for s in subsets for k in keys_of(s)))

    def gid(s):  # grouping_id() of the set: a bit per key it leaves out
        return sum(1 << (len(keys) - 1 - i) for i, k in enumerate(keys) if k not in keys_of(s))

    pairs = ", ".join(f"{lit(k)}, {c}" for k, c in col.items())
    pre = f"map_filter(map({pairs}), (k, v) -> v IS NOT NULL)"
    labels, sid = labels_map_sql("_lstr"), "series_id"
    if None not in subsets:
        labels, sid = pre, "CAST(NULL AS BIGINT) AS series_id"
    elif col:
        labels = f"IF(grouping(series_id) = 0, {labels}, {pre})"
    inputs = ", ".join([
        f"CAST(floor(ts / {gran_ms}) * {gran_ms} AS BIGINT) AS bucket",
        f"{labels_string_sql('labels')} AS _lstr",
        *(f"element_at(labels, {lit(k)}) AS {c}" for k, c in col.items()),
    ])
    aggs = ", ".join([*raw_agg_sql(list(RAW_AGGREGATES)), "max(ts) AS last_ts"])
    names = " ".join(f"WHEN {gid(s)} THEN {lit(set_name(s))}" for s in subsets)
    sets = ", ".join("(" + ", ".join(keys_of(s)) + ")" for s in subsets)
    with views(samples) as (src,):
        return samples.sparkSession.sql(
            f"SELECT bucket, name, {labels} AS labels, {sid}, {aggs}, "
            f"CASE grouping_id() {names} END AS `{SET_COL}` "
            f"FROM (SELECT name, series_id, ts, value, {inputs} FROM {src} "
            f"WHERE value IS NOT NULL) GROUP BY {', '.join(keys)} GROUPING SETS ({sets})"
        )


def build_rollup(samples: DataFrame, gran_ms: int, pre_aggregates=()) -> DataFrame:
    """Partial rows of every rollup set of a batch of samples — the
    per-series set, then one set per pre-aggregate label subset — with
    their ``set`` column, from one aggregate (float metrics only)."""
    return _build(samples, gran_ms, [None, *pre_aggregates])


def build_label_rollup(samples: DataFrame, gran_ms: int, label_subset: tuple) -> DataFrame:
    """The rows of one cross-label pre-aggregate set, without the
    ``set`` column (ref: pkg/partmgr/partmgr.go:472-485 agg/<labels>/)."""
    return _build(samples, gran_ms, [tuple(label_subset)]).drop(SET_COL)


def merge_partials(rollup: DataFrame) -> DataFrame:
    """Compact partial rollup rows to one row per (set, series or label
    subset, bucket)."""
    sets = [f"`{SET_COL}`"] if SET_COL in rollup.columns else []
    out = ["bucket", "name", f"{labels_map_sql('_lstr')} AS labels", "series_id", *combine_sql()]
    with views(rollup) as (src,):
        return rollup.sparkSession.sql(
            f"SELECT {', '.join(out + sets)} "
            f"FROM (SELECT *, {labels_string_sql('labels')} AS _lstr FROM {src}) "
            f"GROUP BY {', '.join([*sets, 'name', 'series_id', '_lstr', 'bucket'])}"
        )
