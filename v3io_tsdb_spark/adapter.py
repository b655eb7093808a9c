"""TSDBAdapter — create / append / query / delete, the top-level API.

Mirrors the reference's V3ioAdapter surface
(ref: pkg/tsdb/v3iotsdb.go:80-120 CreateTSDB, 268-270 QuerierV2,
273-477 DeleteDB, 786-805 CountMetrics) on a Parquet-backed layout:

    <path>/_tsdb_schema.json      config (the ".schema" analog)
    <path>/samples/               long table, partitioned by dt
    <path>/rollup/                partial-aggregate log, partitioned by set
                                  and rdt: set=series/ holds the per-series
                                  rollup, set=by,<labels>/ each declared
                                  cross-label pre-aggregate

"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from v3io_tsdb_spark import appender as app
from v3io_tsdb_spark import rollup as ru
from v3io_tsdb_spark.catalog import NamesCatalog
from v3io_tsdb_spark.config import SCHEMA_FILE, TSDBConfig
from v3io_tsdb_spark.errors import BadRequest, SchemaError
from v3io_tsdb_spark.querier import Querier, SelectParams
from v3io_tsdb_spark.schema import ROLLUP_TABLE_READ_SCHEMA, SAMPLES_READ_SCHEMA, read_table
from v3io_tsdb_spark.sql.filters import translate_filter
from v3io_tsdb_spark.timeutils import str2unix_ms

DAY_MS = 86_400_000
# characters Spark writes as %XX in a partition directory name
# (ExternalCatalogUtils.escapePathName)
_PATH_ESCAPED = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(1, 32)}
# the per-series high-water-mark sidecar, read with this declared schema
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


def _write_token(path: str, token: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(token)
    os.replace(tmp, path)


def _read_token(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def _gen_resolve(root: str) -> str:
    """Live data dir for ``root``: ``root/<gen>`` when an online-
    compaction pointer exists, else ``root`` itself (flat layout)."""
    cur = os.path.join(root, "_CURRENT")
    try:
        with open(cur) as f:
            return os.path.join(root, f.read().strip())
    except OSError:
        return root


def _gen_publish(root: str, new_gen: str, source: str) -> None:
    """Atomically point ``root/_CURRENT`` at ``new_gen``, then purge
    every generation except the new one and its source. The source is
    retained exactly ONE compaction cycle, so the concurrent-reader
    guarantee is BOUNDED: a query whose file index was resolved against
    the source keeps reading existing files only until the NEXT online
    compaction publishes (a reader still running across two publishes
    can hit deleted files). That bound fits the stated maintenance
    cadence (compaction is an occasional offline-hours CLI command, not
    a continuous background process); a cadence where readers routinely
    outlive two compactions needs the snapshot-isolated table format
    (Delta/Iceberg) documented in SCALE.md §6 — offline ``_swap_dirs``
    gives no concurrent-reader window at all. When the source was the flat layout,
    its ``dt=``/``rdt=`` dirs are the retained 'previous generation'
    and are purged on the NEXT online compaction."""
    tmp = os.path.join(root, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(new_gen)
    os.replace(tmp, os.path.join(root, "_CURRENT"))
    keep = {new_gen, os.path.basename(source)}
    for d in os.listdir(root):
        full = os.path.join(root, d)
        if d.startswith("gen-") and d not in keep:
            shutil.rmtree(full, ignore_errors=True)
        # flat-layout leftovers: purge once the source is a generation
        # (i.e. the flat data already survived one full cycle)
        elif (
            os.path.basename(source).startswith("gen-")
            and os.path.isdir(full)
            and "=" in d
        ):
            shutil.rmtree(full, ignore_errors=True)


def _gen_next(root: str) -> str:
    n = 0
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d.startswith("gen-"):
                try:
                    n = max(n, int(d.split("-", 1)[1]))
                except ValueError:
                    pass
    return f"gen-{n + 1:06d}"


def _swap_dirs(live: str, staged: str) -> None:
    """Crash-safe table-directory swap for the compactors: rename the
    live dir ASIDE first, promote the staged one, then delete the old
    copy. A crash at any point leaves either the old or the new data
    under the live path — never neither (the delete-first version left
    the table with NO data and a rerun silently no-oping on the
    missing-path guard). Renames within one filesystem are atomic;
    stale ``_old`` leftovers from a crash after promotion are swept on
    the next swap."""
    old = live + "_old"
    shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
    os.rename(live, old)
    os.rename(staged, live)
    shutil.rmtree(old)


def _replace_sidecar(df: DataFrame, path: str) -> None:
    """Write ``df`` as one file to a staging dir, then move it into
    place (crash-safe swap when ``path`` already exists)."""
    tmp = path + "_staging"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        _swap_dirs(path, tmp)
    else:
        os.rename(tmp, path)


def _escape_path(value: str) -> str:
    """A partition value as Spark writes it in a directory name."""
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in value)


def _overwrite_partitions(df: DataFrame, keys: list, path: str, targets) -> None:
    """Rewrite only the ``keys`` partitions present in ``df`` (dynamic
    overwrite, set on this write alone), then remove the ``targets``
    partitions (value tuples) the write left without rows, which a
    dynamic overwrite leaves in place. The written partitions come from
    an observation the write itself fills: no extra job."""
    obs = Observation()
    df.observe(obs, F.expr(f"collect_set(struct({', '.join(keys)})) AS parts")).write.option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").partitionBy(*keys).parquet(path)
    written = {tuple(map(str, p)) for p in obs.get["parts"]}
    for t in targets:
        if tuple(map(str, t)) not in written:
            parts = [f"{k}={_escape_path(str(v))}" for k, v in zip(keys, t)]
            shutil.rmtree(os.path.join(path, *parts), ignore_errors=True)


def _publish_compacted(df: DataFrame, root: str, src: str, keys: list, online: bool) -> None:
    """Write a compacted copy of the table at ``src`` and publish it:
    online, as a new generation under ``root`` behind the ``_CURRENT``
    pointer; offline, by swapping it into ``src``'s place."""
    dest = os.path.join(root, _gen_next(root)) if online else src + "_compacting"
    df.write.mode("overwrite").partitionBy(*keys).parquet(dest)
    if online:
        _gen_publish(root, os.path.basename(dest), src)
    else:
        _swap_dirs(src, dest)


class TSDBAdapter:
    def __init__(self, spark: SparkSession, path: str, config: TSDBConfig | None = None):
        self.spark = spark
        self.path = path
        self._samples_root = os.path.join(path, "samples")
        self._rollup_root = os.path.join(path, "rollup")
        self.kinds_path = os.path.join(path, "series_kinds")
        self.maxts_path = os.path.join(path, "series_maxts")
        # write-ahead sync tokens for the maxts sidecar: `pending` is
        # stamped BEFORE a no-override samples write, `synced` after
        # the watermark fold commits; inequality on the next append
        # means a crash landed between the two (samples durable,
        # watermark stale-low) and the sidecar must be reseeded before
        # the monotonic filter trusts it — otherwise a retry of the
        # crashed batch would pass the filter and duplicate rows
        self._maxts_pending = os.path.join(path, "series_maxts.pending")
        self._maxts_synced = os.path.join(path, "series_maxts.synced")
        # (series_kinds/ file listing, (series_id, kind) pairs verified
        # against those files), see _check_series_kinds
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
            self._upgrade_rollup()

    @property
    def samples_path(self) -> str:
        """Current samples data directory, resolved through the
        generation pointer when online compaction has created one
        (``samples/_CURRENT`` names the live ``gen-N`` dir); the flat
        pre-compaction layout otherwise. Every reader and writer in
        the adapter goes through this property, so a pointer swap is
        the single publication point."""
        return _gen_resolve(self._samples_root)

    @property
    def rollup_path(self) -> str:
        return _gen_resolve(self._rollup_root)

    def _maybe_reload_schema(self) -> None:
        """Hot-reload the on-disk schema before query planning: a
        long-lived session picks up an external config change (e.g. a
        granularity edit by another writer) without reopening the
        adapter. Mtime-gated exactly like the reference's
        ReadAndUpdateSchema (ref: pkg/partmgr/partmgr.go:228-264) — the
        stat is the only cost on the unchanged path."""
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
        # Fresh table → empty catalog from day one, so the pre-catalog
        # rebuild path in append() only ever fires for tables created
        # before the catalog feature existed.
        NamesCatalog(self.path).save()
        return self

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, SCHEMA_FILE))

    def delete_db(self) -> None:
        """Delete-all (ref: pkg/tsdb/v3iotsdb.go:273-290 DeleteAll path)."""
        shutil.rmtree(self.path, ignore_errors=True)

    # -- ingest ------------------------------------------------------------

    def append(self, data, validate: bool = True, update_rollup: bool = True) -> None:
        """Batch append samples; maintains the rollup log.

        ref: pkg/appender/appender.go:194-287 + SURVEY §3.3 — the whole
        async pipeline becomes normalize → shuffle by series → observe →
        dedup, materialized by ONE checkpoint job that also fills the
        observation → validate + kinds check + catalog delta from the
        observation → samples write + one rollup write for every set.
        """
        df, seen = app.observe_batch(app.by_series(app.normalize_samples(self.spark, data)))
        kept = seen
        if not self.config.override_old:
            # validation counts every row; the kinds and catalog deltas
            # only the rows the watermark filter keeps
            df, kept = app.observe_batch(self._monotonic_filter(df))
        # Materialize the normalize/dedup pipeline ONCE: the same job
        # fills the observations, and the write, watermark fold and
        # rollup builds below reuse the checkpointed batch instead of
        # recomputing the whole write plan per consumer.
        out = app.prepare_for_write(df, self.config).localCheckpoint(eager=True)
        seen_facts = seen.get
        if validate:
            app.validate_samples(seen_facts)
        app.check_writable(seen_facts)
        facts = kept.get
        # Pre-catalog table? (data written before the catalog existed)
        # Seed from ALL existing samples, not just this batch, or the
        # catalog would silently hide previously ingested metrics.
        needs_seed = not NamesCatalog.load(self.path).exists() and os.path.exists(
            self.samples_path
        )
        if validate:
            self._check_series_kinds(app.batch_kinds(facts), out)
        if not self.config.override_old:
            # stamp the write-ahead token BEFORE samples become durable:
            # if we crash after the write but before the watermark fold,
            # the next append sees pending != synced and reseeds
            token = uuid.uuid4().hex
            _write_token(self._maxts_pending, token)
        out.write.mode("append").partitionBy("dt").parquet(self.samples_path)
        if not self.config.override_old:
            self._update_maxts(out)
            _write_token(self._maxts_synced, token)
        # ingest-side names directory (ref: pkg/appender/store.go:190-203)
        if needs_seed:
            NamesCatalog.rebuild(self.path, self._samples()).save()
        else:
            NamesCatalog.load(self.path).merge(app.batch_names(facts)).save()
        if update_rollup:
            # every rollup set from the checkpointed batch, in one
            # aggregate and one write (ref: pkg/appender/appender.go:
            # 220-231), so an interrupted append cannot leave one set
            # ahead of another
            self._rollup_partials(out.drop("dt")).write.mode("append").partitionBy(
                ru.SET_COL, "rdt"
            ).parquet(self.rollup_path)

    def _rollup_partials(self, samples: DataFrame) -> DataFrame:
        """Partial rows of every rollup set over ``samples``, with their
        ``set`` and ``rdt`` partition columns."""
        return ru.with_rdt(
            ru.build_rollup(samples, self.config.granularity_ms, self.config.pre_aggregates)
        )

    def _set_path(self, subset=None) -> str:
        """The subtree of one rollup set (``subset`` None: per-series),
        its name escaped as Spark escapes a partition value."""
        return os.path.join(self.rollup_path, f"{ru.SET_COL}={_escape_path(ru.set_name(subset))}")

    def _upgrade_rollup(self) -> None:
        """Rebuild from the samples, once, a rollup in the older layout
        (``rollup/rdt=…`` plus a ``rollup_by_<labels>/`` table per
        pre-aggregate); the old directories go after the rebuild, so an
        interrupted upgrade is redone."""
        old = glob.glob(os.path.join(self.rollup_path, "rdt=*")) + glob.glob(
            os.path.join(self.path, "rollup_by_*")
        )
        if not old:
            return
        dts = [p.split("=", 1)[1] for p in glob.glob(os.path.join(self.samples_path, "dt=*"))]
        if dts:
            target_rdts, source_dts = self._rollup_rebuild_scope(dts, [])
            self._rebuild_rollup_for_dates(source_dts, target_rdts)
        for d in old:
            shutil.rmtree(d, ignore_errors=True)

    def start_time(self) -> int | None:
        """Earliest queryable sample time in ms, or None for an empty
        table. The reference hardcodes now-1000d with a TODO
        (ref: pkg/tsdb/v3iotsdb.go:250-253); here it is the true
        minimum — partition pruning makes it cheap: only the earliest
        ``dt=`` directory is scanned."""
        if not os.path.exists(self.samples_path):
            return None
        parts = sorted(
            d for d in os.listdir(self.samples_path) if d.startswith("dt=")
        )
        if not parts:
            return None
        df = self._samples().where(F.col("dt") == parts[0].split("=", 1)[1])
        row = df.agg(F.min("ts").alias("m")).collect()[0]
        return None if row["m"] is None else int(row["m"])

    def compact_samples(
        self, target_file_mb: int | None = None, online: bool = False
    ) -> None:
        """Merge small append files inside each ``dt=`` partition (the
        maintenance twin of :meth:`compact_rollup`): every ``append``
        adds one file set per partition, and at ingest frequency × days
        the scan becomes listing/footer-bound. Crash-safe swap like the
        rollup compactor. Analog of the reference's chunk consolidation
        on UpdateItem (ref: pkg/appender/store.go:374-397).

        Without ``target_file_mb``: one shuffle keyed on the partition
        column → one output file per date dir (right locally / for
        small tables). With it: output fans out over
        ``ceil(on_disk_bytes / target)`` shuffle buckets spread WITHIN
        each date (salt on series_id), so a deployment gets
        ~target-sized files per partition instead of one giant file —
        the size knob a 100 TB table needs (one file per day would be
        a multi-GB single write task).

        Output is sorted WITHIN each write task by (name, ts) — a free
        task-local sort, no extra shuffle — so Parquet row-group min/max
        stats become selective on both columns and a name- or
        range-filtered scan skips row groups instead of decoding them
        (the analog of the reference's per-metric KV layout making
        name-equality a seek, pkg/pquerier/querier.go:195-206).

        ``online=True`` makes the rewrite safe under CONCURRENT
        READERS (the default swap assumes a maintenance window,
        SCALE.md): the compacted copy lands in a fresh ``gen-N`` dir,
        an atomic ``_CURRENT`` pointer swap publishes it, and the
        source generation is retained one full cycle so queries
        planned before the swap keep reading existing files — the
        same manifest-pointer discipline Delta/Iceberg use, minus the
        transaction log (single-writer compaction assumed either
        way)."""
        if not glob.glob(os.path.join(self.samples_path, "dt=*")):
            return
        src = self.samples_path
        df = self._samples()
        if target_file_mb:
            total = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(src)
                for f in fs if f.endswith(".parquet")
            )
            buckets = _compact_buckets(total, target_file_mb)
            part = df.repartition(
                int(buckets), F.col("dt"), F.pmod(F.col("series_id"), F.lit(int(buckets)))
            )
        else:
            part = df.repartition(F.col("dt"))
        part = part.sortWithinPartitions("dt", "name", "ts")
        _publish_compacted(part, self._samples_root, src, ["dt"], online)

    def compact_rollup(self, online: bool = False) -> None:
        """Merge partial rollup rows of every rollup set (optional
        maintenance). ``online=True`` publishes via the generation
        pointer exactly like :meth:`compact_samples` — safe under
        concurrent readers."""
        if not glob.glob(os.path.join(self.rollup_path, f"{ru.SET_COL}=*", "rdt=*")):
            return
        src = self.rollup_path
        rows = read_table(self.spark, src, ROLLUP_TABLE_READ_SCHEMA).drop("rdt")
        merged = ru.merge_partials(rows)
        _publish_compacted(ru.with_rdt(merged), self._rollup_root, src, [ru.SET_COL, "rdt"], online)

    # -- query -------------------------------------------------------------

    def querier(self) -> Querier:
        self._maybe_reload_schema()
        rollup = self._set_path()
        label_rollups = {
            tuple(subset): self._set_path(subset)
            for subset in self.config.pre_aggregates
            if os.path.exists(self._set_path(subset))
        }
        cat = NamesCatalog.load(self.path)
        return Querier(
            self.spark, self.samples_path, rollup=rollup if os.path.exists(rollup) else None,
            config=self.config, label_rollups=label_rollups,
            catalog={k: sorted(v) for k, v in cat.names.items()} if cat.exists() else None,
        )

    def select(self, params: SelectParams | None = None, **kwargs) -> DataFrame:
        return self.querier().select(params, **kwargs)

    # -- info --------------------------------------------------------------

    def count_metrics(self) -> int:
        """ref: pkg/tsdb/v3iotsdb.go:786-805 (CountMetrics)"""
        return self._samples().select("series_id").distinct().count()

    def metric_names(self) -> list:
        """Served from the names catalog when present — a metadata read,
        no Spark job, as in the reference's names-directory listing
        (ref: pkg/pquerier/querier.go:231-255 getMetricNames,
        pkg/appender/store.go:190-203). Falls back to a distinct scan
        for pre-catalog tables."""
        cat = NamesCatalog.load(self.path)
        if cat.exists():
            return cat.metric_names()
        return [r["name"] for r in self._samples().select("name").distinct().orderBy("name").collect()]

    def _samples(self) -> DataFrame:
        """All stored samples, read with the declared schema: a table
        never written, or whose every partition has been deleted, reads
        as an empty frame of the same schema — a full-range delete must
        leave a queryable (empty) table, like the reference's delete-all
        (ref: pkg/tsdb/delete_integration_test.go:97-127)."""
        return read_table(self.spark, self.samples_path, SAMPLES_READ_SCHEMA)

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
        partitions (dynamic partition overwrite), then rebuild rollup
        partials for those dates (analog of the aggregate-bucket
        recompute, v3iotsdb.go:722-783).
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
        affected_dts = sorted({r["dt"] for r in pairs})
        if not affected_dts:
            return
        doomed_rdts = sorted({r["rdt"] for r in pairs})
        kept = df.where(F.col("dt").isin(affected_dts)).where(~cond)
        _overwrite_partitions(kept, ["dt"], self.samples_path, [(d,) for d in affected_dts])
        if os.path.exists(self.rollup_path):
            # dt reads back as a DATE — normalize to ISO strings for
            # the scope set-math, re-typing at the filter boundary
            target_rdts, source_dts = self._rollup_rebuild_scope(
                [str(d) for d in affected_dts], doomed_rdts
            )
            self._rebuild_rollup_for_dates(source_dts, target_rdts)
        self._refresh_catalog()

    def _monotonic_filter(self, df):
        """``override_old=False`` ingest mode: drop samples at-or-before
        each series' last committed timestamp — the reference's
        OverrideOld-disabled discard (ref: pkg/appender/store.go:336-352
        "got older sample ... - dropping", pkg/config/config.go:146-147).
        The per-series high-water mark lives in a (series_id, max_ts)
        parquet sidecar — O(series) rows, same class as the kinds
        sidecar — joined against the batch (broadcast-sized vs any
        realistic batch; AQE picks the strategy). A table that predates
        the flag flip seeds the sidecar once from existing samples.
        Within a batch, equal-timestamp rows still collapse via
        ``prepare_for_write``'s dedup (a DataFrame has no arrival order
        to make "first sample wins" meaningful; SURVEY §7.4(6)).

        Crash safety: samples must become durable BEFORE the watermark
        fold (the reverse order could drop data: watermark high, rows
        missing), so a crash between the two leaves the sidecar
        stale-LOW and a naive retry of the same batch would re-pass the
        filter and duplicate committed rows. The write-ahead token pair
        stamped around the append detects exactly that window here and
        reseeds the sidecar from committed samples before filtering."""
        pending = _read_token(self._maxts_pending)
        if (
            pending is not None
            and pending != _read_token(self._maxts_synced)
            and glob.glob(os.path.join(self.samples_path, "dt=*"))
        ):
            self._rebuild_maxts(self._samples())
        if not os.path.exists(self.maxts_path):
            if glob.glob(os.path.join(self.samples_path, "dt=*")):
                self._rebuild_maxts(self._samples())
            else:
                return df
        wm = self.spark.read.schema(_MAXTS_SCHEMA).parquet(self.maxts_path).withColumnRenamed(
            "max_ts", "_wm"
        )
        return (
            df.join(wm, "series_id", "left")
            .where(F.col("_wm").isNull() | (F.col("ts") > F.col("_wm")))
            .drop("_wm")
        )

    def _update_maxts(self, batch) -> None:
        """Fold a written batch into the high-water-mark sidecar
        (crash-safe staged swap, like the kinds rebuild)."""
        new = batch.groupBy("series_id").agg(F.max("ts").alias("max_ts"))
        if os.path.exists(self.maxts_path):
            old = self.spark.read.schema(_MAXTS_SCHEMA).parquet(self.maxts_path)
            new = (
                old.unionByName(new)
                .groupBy("series_id")
                .agg(F.max("max_ts").alias("max_ts"))
            )
        _replace_sidecar(new, self.maxts_path)

    def _rebuild_maxts(self, samples) -> None:
        _replace_sidecar(
            samples.groupBy("series_id").agg(F.max("ts").alias("max_ts")), self.maxts_path
        )
        # a full rebuild reflects every committed sample, so whatever
        # append the pending token came from is now folded in
        pending = _read_token(self._maxts_pending)
        if pending is not None:
            _write_token(self._maxts_synced, pending)

    def _check_series_kinds(self, kinds: list | None, batch) -> None:
        """Cross-APPEND type-conflict guard: a series that was ever
        ingested as one value kind rejects samples of another kind in
        every later batch — the durable analog of the reference's
        in-memory MetricState check (ref: pkg/appender/appender.go:
        244-254, "Cannot append %v type metric to %v type metric";
        goldens: pkg/tsdb/v3iotsdb_integration_test.go:1057-1122
        TestIngestDataFloatThenString / StringThenFloat). The state is
        a (series_id, kind) parquet sidecar — one row per series ever
        seen. The batch's observed ``kinds`` join it once: the matches
        give the conflicts, the rest are the new series, appended only
        when there are any. A batch with more series than the
        observation lists (``kinds`` None) runs the same check as
        distributed joins over the checkpointed ``batch``, so its
        series never pass through the driver. Rebuilt from surviving
        samples after deletes, so deleting a series' history frees its
        name+labels for re-typing. Pairs this adapter verified (up to
        ``DRIVER_SERIES_LIMIT``) skip the join while the sidecar's file
        listing is unchanged, so a steady batch of known series runs no
        job; any writer's change to the sidecar empties that cache."""
        listing = self._kinds_listing()
        cached, seen = self._kinds_seen
        if listing is None or listing != cached:
            seen = frozenset()
        if kinds is not None:
            kinds = [k for k in kinds if k not in seen]
            if not kinds:
                return
        known = None
        if listing is not None:
            known = self.spark.read.schema(app.KINDS_SCHEMA).parquet(self.kinds_path)
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
                    return
            new.coalesce(1).write.mode("append").parquet(self.kinds_path)
            return
        if known is not None:
            # broadcast the batch side: the sidecar holds every series
            # ever seen and only streams through the join
            matched = (
                F.broadcast(app.kinds_frame(self.spark, kinds))
                .join(known.withColumnRenamed("kind", "old"), "series_id")
                .collect()
            )
            _raise_kind_conflict([r for r in matched if r["kind"] != r["old"]])
            known_ids = {r["series_id"] for r in matched}
            seen |= {k for k in kinds if k[0] in known_ids}
            kinds = [k for k in kinds if k[0] not in known_ids]
        if kinds:
            app.kinds_frame(self.spark, kinds).coalesce(1).write.mode("append").parquet(
                self.kinds_path
            )
            seen |= set(kinds)
            after = self._kinds_listing()
            # the new listing vouches for the pairs only if its one new file is ours
            listing = after if len(after - (listing or frozenset())) == 1 else None
        self._kinds_seen = (listing, seen if len(seen) <= app.DRIVER_SERIES_LIMIT else frozenset())

    def _kinds_listing(self) -> frozenset | None:
        """The series-kind sidecar's data files, None when it is absent."""
        try:
            return frozenset(f for f in os.listdir(self.kinds_path) if f.startswith("part-"))
        except OSError:
            return None

    def _refresh_catalog(self) -> None:
        """Names may vanish when their last samples go — recompute the
        catalog (and the series-kind sidecar) from the surviving data."""
        NamesCatalog.rebuild(self.path, self._samples()).save()
        try:
            _replace_sidecar(app.series_kinds(self._samples()), self.kinds_path)
        except Exception:
            shutil.rmtree(self.kinds_path, ignore_errors=True)
        # deletes can LOWER a series' high-water mark; a stale sidecar
        # would wrongly discard re-ingested history in no-override mode
        if os.path.exists(self.maxts_path):
            try:
                self._rebuild_maxts(self._samples())
            except Exception:
                shutil.rmtree(self.maxts_path, ignore_errors=True)

    def _rollup_rebuild_scope(self, affected_dts: list, doomed_rdts: list) -> tuple:
        """(rdt partitions to rewrite, dt dates whose samples feed them).

        When granularity divides a day, buckets nest in days and the
        scope is just the affected dates. Otherwise a bucket starting
        late on day R sources samples from up to ``ceil(gran/day)``
        following days, so (a) every rdt an affected date contributes
        to must be rewritten, and (b) every rewritten rdt must be
        rebuilt from ALL its source dates — including unaffected
        neighbors — or the dynamic overwrite would drop their
        contributions. The rebuilt partial is then filtered to exactly
        the target rdts so no partition is rewritten from a partial
        source set."""
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

    def _rebuild_rollup_for_dates(self, source_dts: list, target_rdts: list) -> None:
        """Rewrite the ``target_rdts`` partitions of every rollup set
        from the samples of ``source_dts``, in one aggregate and one
        write."""
        from datetime import date

        # DATE literals for the DATE partition column, so the IN stays a
        # partition-pruning predicate (no column cast)
        src = [date.fromisoformat(s) for s in source_dts]
        fresh = self._samples().where(F.col("dt").isin(src)).drop("dt")
        partial = self._rollup_partials(fresh).where(F.col("rdt").isin(target_rdts))
        sets = [ru.set_name(s) for s in [None, *self.config.pre_aggregates]]
        _overwrite_partitions(
            partial, [ru.SET_COL, "rdt"], self.rollup_path,
            [(n, r) for n in sets for r in target_rdts],
        )

    # -- retention ---------------------------------------------------------

    def retention_sweep(self, now_ms: int | None = None) -> dict:
        """Drop date partitions wholly past ``retention_hours`` — the
        analog of the reference's partition expiry
        (ref: pkg/config/config.go:196-200 SampleRetention/
        LayerRetentionTime; pkg/partmgr/partmgr.go:330,357,390-411
        retentionDays carried per partition).

        Partition-level directory drops only — a metadata operation at
        any scale, never a data rewrite. A dt partition covers
        [dt, dt+1d) and expires when its END passes the cutoff; an rdt
        partition holds buckets STARTING on rdt, whose coverage can
        extend ``granularity`` past the day end, so its expiry is
        shifted by the granularity. Returns {table: [dropped dirs]}.
        """
        hours = self.config.retention_hours
        if not hours:
            return {}
        if now_ms is None:
            import time

            now_ms = int(time.time() * 1000)
        cutoff_ms = now_ms - hours * 3_600_000
        gran = self.config.granularity_ms
        dropped = {"samples": self._drop_expired(self.samples_path, "dt", cutoff_ms, 0)}
        for subset in [None, *self.config.pre_aggregates]:
            # keyed "rollup", or "rollup_by_<labels>" for a pre-aggregate
            table = "_".join(["rollup", *(() if subset is None else ("by", *subset))])
            dropped.setdefault(table, []).extend(
                self._drop_expired(self._set_path(subset), "rdt", cutoff_ms, gran)
            )
        if dropped["samples"]:
            self._refresh_catalog()
        return dropped

    @staticmethod
    def _drop_expired(path: str, key: str, cutoff_ms: int, slack_ms: int) -> list:
        """rmtree ``key=YYYY-MM-DD`` partition dirs whose coverage end
        (day end + slack) is at or before the cutoff."""
        from datetime import datetime, timezone

        if not os.path.exists(path):
            return []
        out = []
        for entry in sorted(os.listdir(path)):
            if not entry.startswith(f"{key}="):
                continue
            day = entry.split("=", 1)[1]
            try:
                start = datetime.strptime(day, "%Y-%m-%d").replace(tzinfo=timezone.utc)
            except ValueError:
                continue
            end_ms = int(start.timestamp() * 1000) + DAY_MS + slack_ms
            if end_ms <= cutoff_ms:
                shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
                out.append(entry)
        return out
