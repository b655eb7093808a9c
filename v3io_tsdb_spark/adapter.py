"""TSDBAdapter — create / append / query / delete, the top-level API.

Mirrors the reference's V3ioAdapter surface
(ref: pkg/tsdb/v3iotsdb.go:80-120 CreateTSDB, 268-270 QuerierV2,
273-477 DeleteDB, 786-805 CountMetrics) on a Parquet-backed layout:

    <path>/_tsdb_schema.json      config (the ".schema" analog)
    <path>/_log/                  the table log: the files below that make
                                  up each version (tablelog.py)
    <path>/samples/               long table, partitioned by dt
    <path>/rollup/                partial-aggregate log, partitioned by set
                                  and rdt: set=series/ holds the per-series
                                  rollup, set=by,<labels>/ each declared
                                  cross-label pre-aggregate
    <path>/series_kinds/          (series_id, kind) of every series
    <path>/series_maxts/          per-series last ts (override_old=False)

Every change writes new files, then publishes them in one log commit.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from v3io_tsdb_spark import appender as app
from v3io_tsdb_spark import rollup as ru
from v3io_tsdb_spark.catalog import NamesCatalog
from v3io_tsdb_spark.config import SCHEMA_FILE, TSDBConfig
from v3io_tsdb_spark.errors import BadRequest, SchemaError
from v3io_tsdb_spark.querier import Querier, SelectParams
from v3io_tsdb_spark.schema import ROLLUP_TABLE_READ_SCHEMA, SAMPLES_READ_SCHEMA, read_table
from v3io_tsdb_spark.sql.filters import translate_filter
from v3io_tsdb_spark.sqltext import lit
from v3io_tsdb_spark.tablelog import TableLog, partition_values
from v3io_tsdb_spark.timeutils import str2unix_ms

DAY_MS = 86_400_000
# the per-series high-water marks, read with this declared schema
_MAXTS_SCHEMA = "series_id long, max_ts long"


def _raise_kind_conflict(conflicts: list) -> None:
    """Reject a batch given its (kind, old) conflicts with the sidecar."""
    if conflicts:
        r = conflicts[0]
        raise BadRequest(f"Cannot append {r['kind']} type metric to {r['old']} type metric.")


def _date_shift(day: str, days: int) -> str:
    from datetime import datetime, timedelta

    return (datetime.strptime(day, "%Y-%m-%d") + timedelta(days=days)).strftime("%Y-%m-%d")


def _compact_buckets(total_bytes: int, target_mb: int) -> int:
    """ceil(total / target), min 1 — the shuffle fan-out that yields
    ~target-sized compacted files."""
    return max(1, -(-total_bytes // (target_mb * 1024 * 1024)))


def _marks(df: DataFrame) -> DataFrame:
    """Per-series high-water marks (series_id, max_ts) of samples or marks."""
    ts = "max_ts" if "max_ts" in df.columns else "ts"
    return df.groupBy("series_id").agg(F.max(ts).alias("max_ts"))


class TSDBAdapter:
    def __init__(self, spark: SparkSession, path: str, config: TSDBConfig | None = None):
        self.spark = spark
        self.path = path
        self.log = TableLog(path)
        # (log version, (series_id, kind) pairs verified at that
        # version), see _check_series_kinds
        self._kinds_seen: tuple = (None, frozenset())
        self._schema_mtime: float | None = None
        schema_file = os.path.join(path, SCHEMA_FILE)
        if os.path.exists(schema_file):
            if config is None:
                config = TSDBConfig.load(path)
            # explicit config wins NOW; only edits made after this
            # point trigger a reload
            self._schema_mtime = os.path.getmtime(schema_file)
        self.config = config or TSDBConfig()
        if os.path.exists(schema_file):
            self.log.refresh()
            self._upgrade_rollup()

    @property
    def samples_path(self) -> str:
        """The samples table's directory, the base of its partitions."""
        return os.path.join(self.path, self.log.roots["samples"])

    @property
    def rollup_path(self) -> str:
        return os.path.join(self.path, self.log.roots["rollup"])

    def _table(self, table: str, set_name: str | None = None, files=None) -> tuple:
        """(base directory, files) of ``table`` at the log's current
        version (or of ``files``); of one rollup set with ``set_name``,
        based at its directory so that ``rdt`` is its one partition."""
        base = os.path.join(self.path, self.log.roots[table])
        files = [
            f for f, p in (self.log.files[table] if files is None else files).items()
            if set_name is None or p["set"] == set_name
        ]
        if set_name is not None and files:
            base = os.path.join(base, os.path.relpath(files[0], self.log.roots[table]).split(os.sep)[0])
        return base, [os.path.join(self.path, f) for f in files]

    def _stage(self, df: DataFrame, table: str, parts=()) -> dict:
        """Write ``df`` as new, unpublished files of ``table``: {file:
        partition values}. Written to a fresh ``_``-prefixed directory,
        which listings skip, so no other writer's files are mistaken for
        its own, then moved into their partition directories."""
        root = self.log.roots[table]
        stage = os.path.join(self.path, root, f"_stage-{uuid.uuid4().hex}")
        df.write.partitionBy(*parts).parquet(stage)
        out = {}
        for d, _, names in os.walk(stage):
            rel = os.path.relpath(d, stage)
            for n in names:
                if n.startswith("part-"):
                    f = os.path.normpath(os.path.join(root, rel, n))
                    os.makedirs(os.path.dirname(os.path.join(self.path, f)), exist_ok=True)
                    os.rename(os.path.join(d, n), os.path.join(self.path, f))
                    out[f] = partition_values(rel)
        shutil.rmtree(stage, ignore_errors=True)
        return out

    def _maybe_reload_schema(self) -> None:
        """Hot-reload the on-disk schema before query planning, so a
        long-lived session sees another writer's config edit. Mtime-gated
        like the reference's ReadAndUpdateSchema
        (ref: pkg/partmgr/partmgr.go:228-264)."""
        schema_file = os.path.join(self.path, SCHEMA_FILE)
        try:
            mtime = os.path.getmtime(schema_file)
        except OSError:
            return  # no schema object yet (pre-create adapter)
        if self._schema_mtime is None or mtime > self._schema_mtime:
            self.config = TSDBConfig.load(self.path)
            self._schema_mtime = mtime

    # -- lifecycle ---------------------------------------------------------

    def create(
        self, if_not_exists: bool = False, validate_schema: bool = True
    ) -> "TSDBAdapter":
        """ref: pkg/tsdb/v3iotsdb.go:80-120 (CreateTSDB). Validation
        mirrors the reference's create-time rules (granularity divides/
        divided-by a day, rate format — schema.go:54,69);
        ``validate_schema=False`` opts out for the engine's own
        wider-than-reference capabilities (midnight-spanning rollup
        buckets work here, see test_delete_rebuilds_midnight_spanning_rdt)."""
        schema_file = os.path.join(self.path, SCHEMA_FILE)
        if os.path.exists(schema_file):
            if if_not_exists:
                return self
            raise SchemaError(f"TSDB already exists at {self.path}")
        if validate_schema:
            self.config.validate()
        self.config.save(self.path)
        self._schema_mtime = os.path.getmtime(schema_file)
        # version 0: no files, and an empty names catalog from day one
        self.log.refresh()
        return self

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, SCHEMA_FILE))

    def delete_db(self) -> None:
        """Delete-all (ref: pkg/tsdb/v3iotsdb.go:273-290 DeleteAll path)."""
        shutil.rmtree(self.path, ignore_errors=True)
        self.log, self._kinds_seen = TableLog(self.path), (None, frozenset())

    # -- ingest ------------------------------------------------------------

    def append(self, data, validate: bool = True, update_rollup: bool = True) -> None:
        """Batch append samples; maintains the rollup log.

        ref: pkg/appender/appender.go:194-287 + SURVEY §3.3 — normalize →
        shuffle by series → observe → dedup, materialized by ONE
        checkpoint job that also fills the observations (validation,
        kinds and catalog deltas, content key) → the samples and every
        rollup set, written unpublished → one log commit. An interrupted
        append leaves nothing visible; one whose content key is
        committed (a retry, a replayed micro-batch) changes nothing.
        """
        self.log.refresh()
        df, seen = app.observe_batch(app.by_series(app.normalize_samples(self.spark, data)))
        kept = seen
        if not self.config.override_old:
            # validation counts every row; the kinds and catalog deltas
            # only the rows the watermark filter keeps
            wm = self._watermarks()
            seed = wm if not self.log.files["maxts"] else None
            df, kept = app.observe_batch(self._monotonic_filter(df, wm))
        # Materialize the normalize/dedup pipeline ONCE: the same job
        # fills the observations, and the writes below reuse the
        # checkpointed batch instead of recomputing the write plan.
        out, key = app.observe_key(app.prepare_for_write(df, self.config))
        out = out.localCheckpoint(eager=True)
        seen_facts = seen.get
        if validate:
            app.validate_samples(seen_facts)
        app.check_writable(seen_facts)
        key = app.content_key(key.get)
        if key in self.log.keys:
            return
        facts, version, add = kept.get, self.log.version, {}
        if validate:
            add["kinds"], verified = self._check_series_kinds(app.batch_kinds(facts), out)
        if not self.config.override_old:
            # the batch's marks, and the seed of a table that had none
            marks = _marks(out) if seed is None else _marks(out).unionByName(seed)
            add["maxts"] = self._stage(marks.coalesce(1), "maxts")
        add["samples"] = self._stage(out, "samples", ["dt"])
        if update_rollup:
            # every rollup set from the checkpointed batch, in one
            # aggregate (ref: pkg/appender/appender.go:220-231)
            add["rollup"] = self._stage(
                self._rollup_partials(out.drop("dt")), "rollup", [ru.SET_COL, "rdt"]
            )
        # ingest-side names directory (ref: pkg/appender/store.go:190-203)
        names = app.batch_names(facts)
        if NamesCatalog.load(self.path, self.log).exists():
            names = {"merge": names}
        else:  # a table from before the catalog: seed it from every sample
            names = {"names": NamesCatalog.rebuild(self.path, self._samples()).merge(names).names}
        ok = self.log.commit(add=add, key=key, **names) and self.log.version == version + 1
        if validate:
            self._kinds_seen = (self.log.version if ok else None, verified)

    def _rollup_partials(self, samples: DataFrame) -> DataFrame:
        """Partial rows of every rollup set over ``samples``, with their
        ``set`` and ``rdt`` partition columns."""
        return ru.with_rdt(
            ru.build_rollup(samples, self.config.granularity_ms, self.config.pre_aggregates)
        )

    def _upgrade_rollup(self) -> None:
        """Rebuild from the samples, once, a rollup in the older layout
        (``rollup/rdt=…`` plus a ``rollup_by_<labels>/`` table per
        pre-aggregate); the old directories go after the commit, so an
        interrupted upgrade is redone."""
        old = glob.glob(os.path.join(self.rollup_path, "rdt=*")) + glob.glob(
            os.path.join(self.path, "rollup_by_*")
        )
        if not old:
            return
        dts = sorted({p["dt"] for p in self.log.files["samples"].values()})
        if dts:
            target_rdts, source_dts = self._rollup_rebuild_scope(dts, [])
            add, gone = self._rebuild_rollup_for_dates(source_dts, target_rdts, self._samples())
            self.log.commit(add={"rollup": add}, remove={"rollup": gone})
        for d in old:
            shutil.rmtree(d, ignore_errors=True)

    def start_time(self) -> int | None:
        """Earliest queryable sample time in ms, or None for an empty
        table. The reference hardcodes now-1000d with a TODO
        (ref: pkg/tsdb/v3iotsdb.go:250-253); here it is the true
        minimum — partition pruning makes it cheap: only the earliest
        ``dt`` partition is scanned."""
        self.log.refresh()
        days = sorted({p["dt"] for p in self.log.files["samples"].values()})
        if not days:
            return None
        df = self._samples().where(F.col("dt") == days[0])
        row = df.agg(F.min("ts").alias("m")).collect()[0]
        return None if row["m"] is None else int(row["m"])

    def compact_samples(self, target_file_mb: int | None = None) -> None:
        """Merge small append files inside each ``dt=`` partition: every
        ``append`` adds one file set per partition, and at ingest
        frequency × days the scan becomes listing/footer-bound. Analog
        of the reference's chunk consolidation on UpdateItem (ref:
        pkg/appender/store.go:374-397).

        Without ``target_file_mb``: one output file per date. With it:
        ``ceil(on_disk_bytes / target)`` shuffle buckets spread WITHIN
        each date (salt on series_id) — ~target-sized files, the knob a
        100 TB table needs. Output is sorted within each write task by
        (name, ts), so Parquet row-group stats prune name and range
        predicates (the analog of the reference's per-metric KV layout,
        pkg/pquerier/querier.go:195-206).

        Safe under concurrent readers and writers: one log commit swaps
        the compacted files for the ones read, which stay on disk until
        the next removing commit; files appended meanwhile are kept. It
        folds the high-water marks into one file."""
        self.log.refresh()
        live = dict(self.log.files["samples"])
        if not live:
            return
        df = self._samples()
        if target_file_mb:
            total = sum(os.path.getsize(os.path.join(self.path, f)) for f in live)
            buckets = _compact_buckets(total, target_file_mb)
            part = df.repartition(
                int(buckets), F.col("dt"), F.pmod(F.col("series_id"), F.lit(int(buckets)))
            )
        else:
            part = df.repartition(F.col("dt"))
        part = part.sortWithinPartitions("dt", "name", "ts")
        add, remove = {}, {"samples": live}
        if len(self.log.files["maxts"]) > 1:  # fold the marks each append adds
            add["maxts"] = self._stage(self._watermarks().coalesce(1), "maxts")
            remove["maxts"] = dict(self.log.files["maxts"])
        add["samples"] = self._stage(part, "samples", ["dt"])
        self.log.commit(add=add, remove=remove)

    def compact_rollup(self) -> None:
        """Merge partial rollup rows of every rollup set (optional
        maintenance), published like :meth:`compact_samples`."""
        self.log.refresh()
        live = dict(self.log.files["rollup"])
        if not live:
            return
        rows = read_table(self.spark, self._table("rollup"), ROLLUP_TABLE_READ_SCHEMA).drop("rdt")
        merged = ru.with_rdt(ru.merge_partials(rows))
        self.log.commit(
            add={"rollup": self._stage(merged, "rollup", [ru.SET_COL, "rdt"])}, remove={"rollup": live}
        )

    # -- query -------------------------------------------------------------

    def querier(self) -> Querier:
        self._maybe_reload_schema()
        self.log.refresh()
        rollup = self._table("rollup", ru.set_name())
        label_rollups = {
            tuple(subset): t
            for subset in self.config.pre_aggregates
            if (t := self._table("rollup", ru.set_name(subset)))[1]
        }
        cat = NamesCatalog.load(self.path, self.log)
        return Querier(
            self.spark, self._table("samples"), rollup=rollup if rollup[1] else None,
            config=self.config, label_rollups=label_rollups,
            catalog={k: sorted(v) for k, v in cat.names.items()} if cat.exists() else None,
        )

    def select(self, params: SelectParams | None = None, **kwargs) -> DataFrame:
        return self.querier().select(params, **kwargs)

    # -- info --------------------------------------------------------------

    def count_metrics(self) -> int:
        """ref: pkg/tsdb/v3iotsdb.go:786-805 (CountMetrics)"""
        self.log.refresh()
        return self._samples().select("series_id").distinct().count()

    def metric_names(self) -> list:
        """Served from the names catalog when present — a metadata read,
        no Spark job, as in the reference's names-directory listing
        (ref: pkg/pquerier/querier.go:231-255 getMetricNames,
        pkg/appender/store.go:190-203). Falls back to a distinct scan
        for pre-catalog tables."""
        cat = NamesCatalog.load(self.path, self.log)
        if cat.exists():
            return cat.metric_names()
        return [r["name"] for r in self._samples().select("name").distinct().orderBy("name").collect()]

    def _samples(self, files: dict | None = None) -> DataFrame:
        """The samples of the log's version (or of ``files``) with the
        declared schema; none read as an empty frame, so a full-range
        delete leaves a queryable table, like the reference's delete-all
        (ref: pkg/tsdb/delete_integration_test.go:97-127)."""
        return read_table(self.spark, self._table("samples", files=files), SAMPLES_READ_SCHEMA)

    # -- delete ------------------------------------------------------------

    def delete(
        self,
        metrics: list | None = None,
        filter: str | None = None,
        from_time=None,
        to_time=None,
        delete_all: bool = False,
    ) -> None:
        """Delete by time range / metric / filter, then recompute the
        rollup for affected dates.

        ref: pkg/tsdb/v3iotsdb.go:273-477 (DeleteDB) — the partial-chunk
        surgical rewrite becomes: rewrite only the affected dt
        partitions, rebuild the rollup partials for those dates (analog
        of the aggregate-bucket recompute, v3iotsdb.go:722-783), and
        swap both in with one log commit.
        """
        if delete_all:
            self.delete_db()
            return
        from_ms = str2unix_ms(from_time) if from_time is not None else None
        to_ms = str2unix_ms(to_time) if to_time is not None else None

        cond = F.lit(True)
        if metrics:
            cond = cond & F.col("name").isin(list(metrics))
        if filter:
            cond = cond & F.expr(translate_filter(filter))
        if from_ms is not None:
            cond = cond & (F.col("ts") >= F.lit(from_ms))
        if to_ms is not None:
            cond = cond & (F.col("ts") <= F.lit(to_ms))
        # SQL three-valued logic: a label filter over rows lacking that
        # label is NULL, and ~NULL is NULL — which would drop rows that
        # did NOT match the delete condition. Pin NULL to "not deleted".
        cond = F.coalesce(cond, F.lit(False))

        self.log.refresh()
        live = self.log.files["samples"]
        df = self._samples()
        # one pass over the doomed rows: their dt partitions and the rdt
        # partitions their buckets land in (bucket-date can differ from
        # sample-date when granularity doesn't divide a day)
        gran = self.config.granularity_ms
        pairs = df.where(cond).select(
            "dt",
            F.date_format(
                F.timestamp_millis(F.col("ts") - F.col("ts") % F.lit(gran)), "yyyy-MM-dd"
            ).alias("rdt"),
        ).distinct().collect()
        affected = sorted({r["dt"] for r in pairs})
        if not affected:
            return
        doomed_rdts = sorted({r["rdt"] for r in pairs})
        kept = df.where(F.col("dt").isin(affected)).where(~cond)
        # dt reads back as a DATE — ISO strings for the partition values
        days = [str(d) for d in affected]
        remove = {"samples": [f for f, p in live.items() if p["dt"] in days]}
        add = {"samples": self._stage(kept, "samples", ["dt"])}
        after = {f: p for f, p in live.items() if p["dt"] not in days}
        samples = self._samples({**after, **add["samples"]})
        if self.log.files["rollup"]:
            target_rdts, source_dts = self._rollup_rebuild_scope(days, doomed_rdts)
            add["rollup"], remove["rollup"] = self._rebuild_rollup_for_dates(
                source_dts, target_rdts, samples
            )
        self._commit_rewrite(add, remove, samples)

    def _monotonic_filter(self, df, wm):
        """``override_old=False`` ingest mode: drop samples at-or-before
        each series' last committed timestamp — the reference's
        OverrideOld-disabled discard (ref: pkg/appender/store.go:336-352,
        pkg/config/config.go:146-147) — by joining the per-series marks
        ``wm`` (O(series) rows). Within a batch, equal-timestamp rows
        collapse via ``prepare_for_write``'s dedup (SURVEY §7.4(6)). The
        marks commit with their samples, so they never lag them."""
        if wm is None:
            return df
        return (
            df.join(wm.withColumnRenamed("max_ts", "_wm"), "series_id", "left")
            .where(F.col("_wm").isNull() | (F.col("ts") > F.col("_wm")))
            .drop("_wm")
        )

    def _watermarks(self) -> DataFrame | None:
        """Per-series high-water marks: folded from the marks each
        append adds, or seeded from the samples of a table that predates
        the flag flip; None while the table has no samples."""
        if self.log.files["maxts"]:
            return _marks(read_table(self.spark, self._table("maxts"), _MAXTS_SCHEMA))
        return _marks(self._samples()) if self.log.files["samples"] else None

    def _check_series_kinds(self, kinds: list | None, batch) -> tuple:
        """Cross-APPEND type-conflict guard: a series that was ever
        ingested as one value kind rejects samples of another kind in
        every later batch — the durable analog of the reference's
        in-memory MetricState check (ref: pkg/appender/appender.go:
        244-254, "Cannot append %v type metric to %v type metric";
        goldens: pkg/tsdb/v3iotsdb_integration_test.go:1057-1122
        TestIngestDataFloatThenString / StringThenFloat), over the
        (series_id, kind) table. The batch's observed ``kinds`` join it
        once: the matches give the conflicts, the rest are new series.
        A batch with more series than the observation lists (``kinds``
        None) runs it as distributed joins over the checkpointed
        ``batch``. Deletes rebuild the table from surviving samples, so
        a deleted series' name+labels may be re-typed. Pairs verified
        (up to ``DRIVER_SERIES_LIMIT``) skip the join while the log
        stays at their version: a steady batch runs no job.

        Returns the new series' staged kinds file, and the pairs verified."""
        cached, seen = self._kinds_seen
        if cached != self.log.version:
            seen = frozenset()
        if kinds is not None:
            kinds = [k for k in kinds if k not in seen]
            if not kinds:
                return {}, seen
        known = None
        if self.log.files["kinds"]:
            known = read_table(self.spark, self._table("kinds"), app.KINDS_SCHEMA)
        if kinds is None:
            new = app.series_kinds(batch)
            if known is not None:
                _raise_kind_conflict(
                    new.join(known.withColumnRenamed("kind", "old"), "series_id")
                    .where(F.col("kind") != F.col("old"))
                    .limit(1)
                    .collect()
                )
                new = new.join(known, "series_id", "left_anti")
                if new.isEmpty():
                    return {}, frozenset()
            return self._stage(new.coalesce(1), "kinds"), frozenset()
        if known is not None:
            # broadcast the batch side: the kinds table holds every
            # series ever seen and only streams through the join
            matched = (
                F.broadcast(app.kinds_frame(self.spark, kinds))
                .join(known.withColumnRenamed("kind", "old"), "series_id")
                .collect()
            )
            _raise_kind_conflict([r for r in matched if r["kind"] != r["old"]])
            known_ids = {r["series_id"] for r in matched}
            seen |= {k for k in kinds if k[0] in known_ids}
            kinds = [k for k in kinds if k[0] not in known_ids]
        files = {}
        if kinds:
            files = self._stage(app.kinds_frame(self.spark, kinds).coalesce(1), "kinds")
            seen |= set(kinds)
        return files, seen if len(seen) <= app.DRIVER_SERIES_LIMIT else frozenset()

    def _commit_rewrite(self, add: dict, remove: dict, samples: DataFrame) -> None:
        """Commit a delete or sweep, with the names catalog, series kinds
        and (when kept) high-water marks recomputed from the ``samples``
        it leaves: names vanish with their last samples, marks drop, and
        content keys are forgotten, so a deleted batch can land again."""
        derived = {"kinds": app.series_kinds(samples)}
        if self.log.files["maxts"]:
            derived["maxts"] = _marks(samples)
        for table, df in derived.items():
            add[table] = self._stage(df.coalesce(1), table)
            remove[table] = list(self.log.files[table])
        names = NamesCatalog.rebuild(self.path, samples).names
        self.log.commit(add=add, remove=remove, names=names, forget=True)

    def _rollup_rebuild_scope(self, affected_dts: list, doomed_rdts: list) -> tuple:
        """(rdt partitions to rewrite, dt dates whose samples feed them).

        When granularity divides a day, buckets nest in days and the
        scope is just the affected dates. Otherwise a bucket starting
        late on day R sources samples from up to ``ceil(gran/day)``
        following days, so every rdt an affected date feeds is rewritten,
        each from ALL its source dates (unaffected neighbors included);
        the rebuilt partial is filtered to exactly the target rdts."""
        gran = self.config.granularity_ms
        span = 0 if DAY_MS % gran == 0 else -(-gran // DAY_MS)  # ceil
        target = set(doomed_rdts or []) | set(affected_dts)
        for d in affected_dts:
            for k in range(1, span + 1):
                target.add(_date_shift(d, -k))  # earlier buckets spilling into d
        source = set(target)
        for r in target:
            for k in range(1, span + 1):
                source.add(_date_shift(r, k))  # later days feeding bucket of r
        return sorted(target), sorted(source)

    def _rebuild_rollup_for_dates(self, source_dts: list, target_rdts: list, samples) -> tuple:
        """The ``target_rdts`` partitions of every rollup set rebuilt
        from the ``samples`` of ``source_dts``, in one aggregate and one
        write: (staged files, rollup files they replace)."""
        # DATE literals for the DATE partition column, so the IN stays a
        # partition-pruning predicate (no column cast)
        src = [date.fromisoformat(s) for s in source_dts]
        fresh = samples.where(F.col("dt").isin(src)).drop("dt")
        partial = self._rollup_partials(fresh).where(F.col("rdt").isin(target_rdts))
        gone = [f for f, p in self.log.files["rollup"].items() if p["rdt"] in target_rdts]
        return self._stage(partial, "rollup", [ru.SET_COL, "rdt"]), gone

    # -- retention ---------------------------------------------------------

    def retention_sweep(self, now_ms: int | None = None) -> dict:
        """Drop date partitions wholly past ``retention_hours`` — the
        analog of the reference's partition expiry
        (ref: pkg/config/config.go:196-200 SampleRetention/
        LayerRetentionTime; pkg/partmgr/partmgr.go:330,357,390-411
        retentionDays carried per partition).

        One log commit removing expired partitions' files, never a data
        rewrite. A dt partition covers its day in the session time zone
        (the zone ``dt`` is written in) and expires when its END passes
        the cutoff; an rdt partition's buckets START on rdt, so its end
        is shifted by the granularity. Returns {table: [partitions]}.
        """
        hours = self.config.retention_hours
        if not hours:
            return {}
        if now_ms is None:
            import time

            now_ms = int(time.time() * 1000)
        cutoff_ms = now_ms - hours * 3_600_000
        self.log.refresh()
        files = {t: dict(self.log.files[t]) for t in ("samples", "rollup")}
        # a day ends at the next midnight in the session time zone
        days = ", ".join({f"({lit(p.get('dt') or p['rdt'])})" for fs in files.values() for p in fs.values()})
        ends = dict(self.spark.sql(
            "SELECT d, unix_millis(CAST(date_add(CAST(d AS DATE), 1) AS TIMESTAMP)) "
            f"FROM VALUES {days} AS t(d)").collect()) if days else {}
        slack = {"samples": 0, "rollup": self.config.granularity_ms}
        remove = {
            t: {f: p for f, p in fs.items() if ends[p.get("dt") or p["rdt"]] + slack[t] <= cutoff_ms}
            for t, fs in files.items()
        }
        if remove["samples"]:
            kept = {f: p for f, p in files["samples"].items() if f not in remove["samples"]}
            self._commit_rewrite({}, remove, self._samples(kept))
        elif remove["rollup"]:
            self.log.commit(remove=remove)
        # keyed "rollup", or "rollup_by_<labels>" for a pre-aggregate
        out = {"samples": {f"dt={p['dt']}" for p in remove["samples"].values()}}
        for s in [None, *self.config.pre_aggregates]:
            out["_".join(["rollup", *(() if s is None else ("by", *s))])] = {
                f"rdt={p['rdt']}" for p in remove["rollup"].values() if p["set"] == ru.set_name(s)
            }
        return {t: sorted(d) for t, d in out.items()}
