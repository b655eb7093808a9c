"""SQL-text query stages.

A query stage built Column by Column pays one or more Py4J round trips
per expression node; the same stage written as SQL text is parsed in
the JVM in one call. The querier therefore builds every route as SQL
text: ``where("…")``, ``selectExpr(…)`` or one ``spark.sql`` statement
over the stage's input frames, registered as temporary views for the
statement (:func:`views`).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """A backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(value: str | None) -> str:
    """A SQL string literal (NULL for None)."""
    if value is None:
        return "NULL"
    esc = value.replace("\\", "\\\\").replace("'", "\\'").replace("\x00", "\\u0000")
    return f"'{esc}'"


def in_list(col: str, values: list) -> str:
    """``col IN (values...)`` as SQL; ``false`` for no values."""
    return f"{col} IN ({', '.join(lit(v) for v in values)})" if values else "false"


@contextmanager
def views(*frames: DataFrame):
    """Register ``frames`` as uniquely named temporary views for one
    ``spark.sql`` statement and yield their names; the views are dropped
    on exit (the statement's DataFrame is analyzed by then and keeps the
    plans it read)."""
    names = [f"_q{uuid.uuid4().hex}" for _ in frames]
    for df, n in zip(frames, names):
        df.createOrReplaceTempView(n)
    try:
        yield names
    finally:
        catalog = frames[0].sparkSession.catalog
        for n in names:
            catalog.dropTempView(n)
