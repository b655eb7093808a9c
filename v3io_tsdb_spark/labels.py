"""Label-set utilities: canonical string codec and series identity.

The reference identifies a series by the xxhash of its sorted label set
and encodes labels as ``"k1=v1,k2=v2"``
(ref: pkg/utils/labels.go:39-95, GetKey/Hash). We keep the same model:
a ``name`` column + a ``labels MAP<STRING,STRING>`` column, and a
``series_id`` computed JVM-side with ``xxhash64`` over the canonical
string — so series identity is stable, shuffle-balanced, and never
computed in Python.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from v3io_tsdb_spark.errors import BadRequest

METRIC_NAME_RE = re.compile(r"^[a-zA-Z_:][a-zA-Z0-9_:]*$")


def validate_metric_name(name: str) -> None:
    """ref: pkg/utils/validators.go (IsValidMetricName)"""
    if not METRIC_NAME_RE.match(name or ""):
        raise BadRequest(f"invalid metric name {name!r}")


def labels_to_string(labels: dict | None) -> str:
    """``{"b":"2","a":"1"} -> "a=1,b=2"`` (sorted, canonical).

    ref: pkg/utils/labels.go:73-95 (GetKey)
    """
    if not labels:
        return ""
    return ",".join(f"{k}={v}" for k, v in sorted(labels.items()))


def labels_from_string(s: str | None) -> dict:
    """Inverse of :func:`labels_to_string`."""
    if not s:
        return {}
    out = {}
    for part in s.split(","):
        if "=" not in part:
            raise BadRequest(f"invalid labels string {s!r}")
        k, v = part.split("=", 1)
        out[k] = v
    return out


def labels_string_col(labels_col: Column) -> Column:
    """Canonical sorted ``k1=v1,k2=v2`` string from a map column (JVM-side)."""
    keys = F.array_sort(F.map_keys(labels_col))
    kv = F.transform(keys, lambda k: F.concat(k, F.lit("="), F.element_at(labels_col, k)))
    return F.concat_ws(",", kv)


def labels_string_sql(col_name: str) -> str:
    """SQL-string twin of :func:`labels_string_col`: the identical
    expression tree (default array_sort comparator, element_at map
    lookup) emitted as ONE parseable payload for builders that would
    otherwise pay per-node py4j round-trips constructing it."""
    return (
        "concat_ws(',', transform(array_sort(map_keys(`%s`)), "
        "k -> concat(k, '=', element_at(`%s`, k))))" % (col_name, col_name)
    )


def labels_map_sql(col_name: str) -> str:
    """Inverse of :func:`labels_string_sql`, as SQL text.

    Used to carry a map-typed labels column THROUGH a groupBy as part
    of the group key: ``first(map)`` in an aggregate forces Spark into
    SortAggregate (two extra sorts per aggregation), while a string
    group key keeps hash aggregation — measured on every agg path.
    """
    return (
        "CASE WHEN length(`%s`) = 0 THEN CAST(map() AS MAP<STRING,STRING>) "
        "ELSE str_to_map(`%s`, ',', '=') END" % (col_name, col_name)
    )


def series_id_sql(name_col: str = "name", labels_col: str = "labels") -> str:
    """Series identity = xxhash64(name, canonical labels string), as
    SQL text: the one definition, parsed once (see
    :func:`labels_string_sql`).

    Same identity model as the reference's label-set hash
    (ref: pkg/utils/labels.go Hash; pkg/appender/appender.go:211), with
    Spark's built-in xxhash64 as the hash.
    """
    return "xxhash64(`%s`, %s)" % (name_col, labels_string_sql(labels_col))


def series_id_col(name_col: str = "name", labels_col: str = "labels") -> Column:
    """:func:`series_id_sql` as a Column over the named columns."""
    return F.expr(series_id_sql(name_col, labels_col))
