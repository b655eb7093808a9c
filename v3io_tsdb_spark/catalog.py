"""Names/labels catalog — ingest-maintained metric metadata.

The reference maintains a names directory at append time (one item per
metric name, ref: pkg/appender/store.go:190-203) and serves
metric-name listings from it rather than scanning data
(ref: pkg/pquerier/querier.go:231-255 getMetricNames). The Spark
analog is part of the table log's state (``tablelog.py``): each name
with the union of its label keys, ``{"cpu": {"host", "os"}}``.

Lookups that are metadata in the reference — "what metrics exist",
"does label X exist" (group-by validation) — stay metadata here: no
Spark job at query time, at any corpus size. Each append's commit
carries its batch's observed ``(name, label keys)`` (filled by the
append's checkpoint job, so no job of its own); a delete or sweep
commits the catalog rebuilt from the surviving samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from v3io_tsdb_spark.tablelog import TableLog


class NamesCatalog:
    def __init__(self, base_path: str, names: dict | None = None):
        self.base_path = base_path
        self._exists = names is not None
        # {name: set(label_keys)}
        self.names = {k: set(v) for k, v in (names or {}).items()}

    @classmethod
    def load(cls, base_path: str, log: TableLog | None = None) -> "NamesCatalog":
        """The catalog at the current version of the table's log (an
        open ``log``, else the log at ``base_path``)."""
        log = log or TableLog(base_path)
        log.refresh()
        return cls(base_path, log.names)

    def exists(self) -> bool:
        """False for a table whose samples predate the catalog."""
        return self._exists

    # -- maintenance -------------------------------------------------------

    def merge(self, names: dict) -> "NamesCatalog":
        """Fold ``{name: label keys}`` into the catalog — the
        ingest-side bookkeeping the reference does per name handle
        (ref: pkg/appender/store.go:190-203)."""
        for name, keys in names.items():
            self.names.setdefault(name, set()).update(keys)
        return self

    def merge_batch(self, batch: DataFrame) -> "NamesCatalog":
        """Fold a frame's (name → label keys): one small aggregate."""
        rows = (
            batch.select(
                "name", F.explode_outer(F.map_keys(F.col("labels"))).alias("k")
            )
            .groupBy("name")
            .agg(F.collect_set("k").alias("ks"))
            .collect()
        )
        return self.merge({r["name"]: r["ks"] for r in rows})

    @classmethod
    def rebuild(cls, base_path: str, samples: DataFrame) -> "NamesCatalog":
        """Recompute from surviving samples (after delete / retention)."""
        return cls(base_path, {}).merge_batch(samples)

    # -- metadata lookups (no Spark jobs) ----------------------------------

    def metric_names(self) -> list:
        return sorted(self.names)

    def label_keys(self) -> set:
        out: set = set()
        for ks in self.names.values():
            out |= ks
        return out

    def has_label(self, key: str) -> bool:
        return any(key in ks for ks in self.names.values())


def label_cardinality(df: DataFrame, labels_col: str = "labels") -> DataFrame:
    """Per label key: distinct-value count, total tagged samples, and
    the most frequent value with its count — the cardinality-explosion
    debugging report every TSDB operation eventually needs (the
    reference surfaces label keys via the names directory,
    pkg/appender/store.go:190-203; this adds the value-level profile
    Prometheus ecosystems get from `tsdb analyze`).

    Plan shape: explode the labels map once, then two map-side-
    combinable hash aggregates — (key, value) counts (output bounded by
    the cardinality being measured, which is the point of the report)
    and the per-key summary whose argmax resolves via ``max_by`` inside
    the aggregate (deliberately NOT a per-key window: a uid-style key
    would put millions of distinct values in one sorted partition). Tie
    break: larger count, then lexicographically larger value.
    """
    kv = df.select(F.explode(F.col(labels_col)).alias("k", "v"))
    per_kv = kv.groupBy("k", "v").agg(F.count("*").alias("n"))
    return (
        per_kv.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_values"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max_by("v", F.struct(F.col("n"), F.col("v"))).alias("top_value"),
            F.max("n").cast("long").alias("top_count"),
        )
    )
