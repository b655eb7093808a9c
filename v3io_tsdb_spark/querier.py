"""Query engine — Select over the samples (and rollup) tables.

This is the Spark-first re-expression of the reference's query
lifecycle (ref: pkg/pquerier/querier.go:128-206 baseSelectQry;
pkg/pquerier/select.go:70-135): validation and time-range resolution,
a small planner choosing the rollup ("server aggregates") path vs the
raw ("client aggregates") path, then ONE lazy DataFrame whose physical
execution (scan pushdown, partial aggregation, shuffle, codegen) is
left to Catalyst/Tungsten — replacing the reference's worker channels
and collector goroutines.

Building a select runs no Spark job: the route is chosen first, then
only the table it reads is opened, with its declared schema (a
group-by without a names catalog still probes label existence).

Every route is built from SQL text: the scan is one ``where`` over the
opened table, and each later stage is one ``selectExpr`` or one
``spark.sql`` statement over its input (``sqltext.views``). A Column
tree costs one or more Py4J round trips per node; SQL text is parsed in
the JVM in one call, so a build makes tens of round trips, not hundreds.

Result shapes (long-format; see operators.frames.to_wide_frame for the
columnar view):

- raw:           (name, labels, series_id, t, value)
- downsample:    (name, labels, series_id, t, value)
- aggregate:     (name, labels, series_id, t, <func>...)
- group_by:      (name, <label>..., t, <func>...)
- cross-series:  (name, t, <func>...)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from v3io_tsdb_spark import schema
from v3io_tsdb_spark import rollup as ru
from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.errors import BadRequest
from v3io_tsdb_spark.labels import labels_map_sql, labels_string_sql, series_id_col
from v3io_tsdb_spark.operators import aggregates as agg
from v3io_tsdb_spark.operators.bucketing import sliding_buckets_sql, tumbling_bucket_sql
from v3io_tsdb_spark.operators.interpolate import align_to_grid
from v3io_tsdb_spark.sql.filters import translate_filter
from v3io_tsdb_spark.sqltext import ident, in_list, lit, views
from v3io_tsdb_spark.timeutils import get_time_range, str2duration_ms


def _group_keeping_labels(cells: str, keys: list, aggs: list) -> str:
    """SQL of a GROUP BY ``keys`` over ``cells`` that carries the
    ``labels`` map through as the serialized group key ``_lstr``
    (functionally dependent on series_id, so groups are unchanged)
    instead of ``first(labels)`` — a map-typed aggregate forces
    SortAggregate (two extra sorts); a string key keeps HashAggregate.
    ``labels_map_sql('_lstr')`` restores the map."""
    k = ", ".join([*keys, "_lstr"])
    return (
        f"SELECT {k}, {', '.join(aggs)} FROM ("
        f"SELECT *, {labels_string_sql('labels')} AS _lstr FROM ({cells})) GROUP BY {k}"
    )


def _date(ms: int) -> str:
    """The session-time-zone date of ``ms`` (the zone ``dt``/``rdt`` are
    written in), as constant SQL: the optimizer folds it to a DATE
    literal, so it prunes partitions like one."""
    return f"CAST(timestamp_millis({ms}) AS DATE)"


@dataclass
class RequestedColumn:
    """A requested output column (ref: pkg/pquerier/types.go:56-92)."""

    metric: str
    function: str = ""
    interpolator: str = ""
    tolerance: str | int | None = None
    alias: str = ""


@dataclass
class SelectParams:
    """Query parameters (ref: pkg/pquerier/querier.go:60-96 SelectParams)."""

    name: str | None = None  # comma-separated metric names; None/'' = all
    functions: str | None = None  # e.g. "sum,max" or "sum_all"
    step: str | int = 0
    from_time: object = None
    to_time: object = None
    filter: str | None = None  # v3io filter dialect or Spark SQL predicate
    group_by: str | None = None  # comma-separated label names
    aggregation_window: str | int = 0
    interpolator: str = ""  # for downsample / cross-series alignment
    tolerance: str | int | None = None
    use_only_client_aggr: bool = False
    # None → inherit TSDBConfig.disable_client_aggr
    disable_client_aggr: bool | None = None
    columns: list = field(default_factory=list)  # list[RequestedColumn]
    # v1 overlapping windows: aggregate the last w×step for each w
    # (ref: pkg/querier/querier.go:99-115 SelectOverlap)
    overlapping_windows: list = field(default_factory=list)


class Querier:
    """Query facade over a samples table and optional rollup sets, each a
    DataFrame or the ``(base directory, files)`` of a table version
    (``schema.read_table``).

    ref: pkg/pquerier/querier.go:40-58 (NewV3ioQuerier).
    """

    def __init__(
        self,
        spark: SparkSession,
        samples,
        rollup=None,
        config: TSDBConfig | None = None,
        label_rollups: dict | None = None,
        catalog: dict | None = None,
    ):
        self.spark = spark
        self.config = config or TSDBConfig()
        self._samples = samples
        self._rollup = rollup
        # cross-label pre-aggregate sets: {(label, ...): table}
        # (ref: pkg/appender/appender.go:220-231, select.go:261-283)
        self._label_rollups = {
            tuple(sorted(k)): v for k, v in (label_rollups or {}).items()
        }
        # names catalog {name: [label keys]} — metadata lookups (label
        # existence) answered without a Spark job when provided
        # (ref: pkg/appender/store.go:190-203 names directory)
        self._catalog = catalog

    # -- inputs ------------------------------------------------------------

    def samples_df(self) -> DataFrame:
        df = self._samples
        if not isinstance(df, DataFrame):
            return schema.read_table(self.spark, df, schema.SAMPLES_READ_SCHEMA)
        if "series_id" not in df.columns:
            df = df.withColumn("series_id", series_id_col())
        return df

    def has_rollup(self) -> bool:
        """Whether a per-series rollup is attached, without opening it."""
        return self._rollup is not None

    def rollup_df(self, subset=None) -> DataFrame | None:
        """The per-series rollup set, or the pre-aggregate set of the
        labels ``subset``, opened with the one ``ROLLUP_SCHEMA`` of
        every set."""
        v = self._rollup if subset is None else self._label_rollups.get(tuple(sorted(subset)))
        if v is not None and not isinstance(v, DataFrame):
            return schema.read_table(self.spark, v, schema.ROLLUP_READ_SCHEMA)
        return v

    # -- public API --------------------------------------------------------

    def label_values(self, label_key: str, filter: str | None = None) -> DataFrame:
        """Distinct values of one label key, one ``value`` column
        (ref: pkg/pquerier/querier.go:215-317 LabelValues).

        ``__name__`` dispatches to metric names, mirroring the
        reference's special case (querier.go:217-219, where it reads
        the names directory). Otherwise a column-pruned distinct: the
        scan reads only the labels column (plus filter columns), and
        the distinct is a map-side-combinable aggregate — the
        reference's per-item label-string parse loop becomes one hash
        aggregate."""
        df = self.samples_df()
        if filter:
            df = df.where(translate_filter(filter))
        if label_key == "__name__":
            return df.selectExpr("name AS value").distinct()
        return (
            df.selectExpr(f"labels[{lit(label_key)}] AS value")
            .where("value IS NOT NULL")
            .distinct()
        )

    def label_names(self, filter: str | None = None) -> DataFrame:
        """Distinct label KEYS across all series, one ``name`` column.

        The reference declares this API but stubs it to nil
        (ref: pkg/pquerier/querier.go:227-229); here it is real —
        explode the pruned labels-keys array, distinct, done."""
        df = self.samples_df()
        if filter:
            df = df.where(translate_filter(filter))
        return df.selectExpr("explode(map_keys(labels)) AS name").distinct()

    def get_label_sets(self, metric: str | None = None, filter: str | None = None) -> DataFrame:
        """All distinct label sets, with the metric name carried as the
        ``__name__`` label (ref: pkg/pquerier/querier.go:320-378
        GetLabelSets; name-into-labels per the reference's expected
        output in pqueriertest/get_labelsets_integration_test.go:97-99).

        Returns ``(name, labels_str, labels)`` — distinct computed on
        the canonical sorted string (Spark cannot hash a map), map
        reconstructed after. The reference scans only the LAST TWO
        partitions as a performance concession; here the distinct is a
        partial-aggregate over two pruned columns, so the exact full
        range costs less than the concession saved."""
        df = self.samples_df()
        if metric:
            df = df.where(in_list("name", [m.strip() for m in metric.split(",") if m.strip()]))
        if filter:
            df = df.where(translate_filter(filter))
        sets = df.selectExpr("name", f"{labels_string_sql('labels')} AS labels_str").distinct()
        return sets.selectExpr(
            "*", f"map_concat({labels_map_sql('labels_str')}, map('__name__', name)) AS labels"
        )

    def select(self, params: SelectParams | None = None, **kwargs) -> DataFrame:
        """Build the lazy DataFrame for a select query."""
        if params is None:
            params = SelectParams(**kwargs)
        # duplicate (metric, function) column specs are an error, as in
        # the reference's createColumnSpecs (ref: pkg/pquerier/
        # selectQueryContext_test.go TestNegativeCreateColumnSpecs —
        # including whitespace variants like "count" vs "  count ")
        seen_cols: set = set()
        for c in params.columns or []:
            key = (c.metric, (c.function or "").strip().lower())
            if key in seen_cols:
                raise BadRequest(
                    f"column {key[1] or 'raw'}({key[0]}) requested more than once"
                )
            seen_cols.add(key)
        from_ms, to_ms = get_time_range(params.from_time, params.to_time)
        step_ms = str2duration_ms(params.step or 0)
        window_ms = str2duration_ms(params.aggregation_window or 0)
        funcs, cross_series = agg.parse_functions(params.functions)
        # column-spec functions JOIN the executed set (ref:
        # pkg/pquerier/select.go:177-181 metricsAggregatesToString — the
        # reference builds each metric's aggregation from its column
        # specs, not from a global list). Routing and execution must see
        # the same functions; unrequested (metric, function) cells are
        # masked after aggregation so each metric only answers its own
        # requested columns.
        # ordered-unique: the same function on DIFFERENT metrics is legal
        # (cpu count + disk count); parse_functions rejects literal dups
        col_funcs = ",".join(dict.fromkeys(
            f.strip().lower()
            for c in (params.columns or []) if c.function
            for f in c.function.split(",") if f.strip()
        ))
        if col_funcs:
            merged, col_cross = agg.parse_functions(col_funcs)
            funcs += [f for f in merged if f not in funcs]
            cross_series = cross_series or col_cross
        group_by = [g.strip() for g in (params.group_by or "").split(",") if g.strip()]

        # DisableClientAggr routing (ref: pkg/pquerier/select.go:183-256):
        # clamp the step to the rollup granularity (results can only come
        # at rollup resolution when the client may not re-aggregate) ...
        dca = self._dca(params)
        if funcs and dca and step_ms > self.config.granularity_ms:
            step_ms = self.config.granularity_ms

        def scan() -> DataFrame:
            # the samples scan, built only on routes that read raw samples
            return self._scan(params, from_ms, to_ms, window_ms)

        if params.overlapping_windows:
            return self._overlapping(scan(), params, funcs, from_ms, to_ms, step_ms)
        # ... and fall back to ALL-raw when any requested metric cannot be
        # served from rollups (cross-series, uncovered functions, fine
        # steps) — a query must never silently mix exact and rolled-up
        # answers per metric (ref: select.go:228-256 forceRawQuery)
        if funcs and dca and self._force_raw(params, funcs, cross_series, step_ms, window_ms):
            return self._raw(scan())
        if funcs and cross_series:
            return self._cross_series(scan(), params, funcs, from_ms, to_ms, step_ms, group_by)
        # column specs may MIX aggregate and raw columns: a
        # function-less RequestedColumn next to function'd ones (with no
        # bare ``functions`` param) asks for its metric's interpolated
        # downsample alongside the aggregates — one series per requested
        # column in the reference (ref: pkg/pquerier/select.go:177-181;
        # golden: pqueriertest/server_aggregates_integration_test.go:
        # 292-347 sum + next_val raw column in one select)
        raw_cols = [c for c in (params.columns or []) if not c.function]
        if (
            funcs and raw_cols and step_ms and not params.functions
            and not group_by and not window_ms
        ):
            return self._mixed_agg_raw(scan(), params, funcs, from_ms, to_ms, step_ms)
        if funcs:
            res = self._aggregate(None, params, funcs, from_ms, to_ms, step_ms, window_ms, group_by)
            return self._mask_unrequested(res, params, funcs)
        if step_ms:
            return self._downsample(scan(), params, from_ms, to_ms, step_ms)
        return self._raw(scan())

    def _dca(self, params: SelectParams) -> bool:
        if params.disable_client_aggr is not None:
            return params.disable_client_aggr
        return self.config.disable_client_aggr

    @staticmethod
    def _metric_interp(params: SelectParams) -> dict:
        """Per-metric interpolator inheritance: a column WITHOUT an
        explicit interpolator inherits the one any sibling column of
        the SAME metric declared (ref: pkg/pquerier/
        selectQueryContext_test.go TestCreateColumnSpecs — "cpu sum
        linear + cpu count" ⇒ count is linear too; first declared
        wins)."""
        per: dict = {}
        for c in params.columns or []:
            if c.interpolator and c.metric not in per:
                per[c.metric] = c.interpolator
        return per

    def _per_metric_funcs(self, params: SelectParams, funcs: list) -> dict:
        """Requested functions per metric: column specs may request
        different functions for different metrics; bare ``functions``
        applies to every requested metric (ref:
        pkg/pquerier/select.go:177-179 metricsAggregatesToString)."""
        per = {}
        for c in params.columns or []:
            fs = per.setdefault(c.metric, [])
            if c.function and c.function not in fs:
                fs.append(c.function)
        if not per:
            for m in self._requested_names(params) or [None]:
                per[m] = list(funcs)
        return per

    def _mask_unrequested(self, res: DataFrame, params: SelectParams, funcs: list) -> DataFrame:
        """With per-column functions, a metric answers ONLY its own
        requested functions — other function cells become NULL, the
        DataFrame analog of the reference emitting one series per
        requested column (ref: pkg/pquerier/select.go:177-181). A column
        spec without a function inherits the bare ``functions`` list."""
        if not any(c.function for c in params.columns or []):
            return res
        bare = agg.parse_functions(params.functions)[0]
        per: dict = {}
        wild: set = set()
        for c in params.columns:
            fs_req = agg.parse_functions(c.function)[0] if c.function else bare
            if c.metric == "*":
                # function-over-wildcard is a column TEMPLATE applying to
                # every metric in the response (ref: pkg/pquerier/
                # sql_parser.go:77-80, frames.go:160-165 columnsTemplates;
                # golden: query_sql_integration_test.go:293-347
                # "select max(*), min(cpu)")
                wild.update(fs_req)
                continue
            fs = per.setdefault(c.metric, [])
            for f in fs_req:
                if f not in fs:
                    fs.append(f)
        masked = {
            f: in_list("name", [m for m, fs in per.items() if f in fs]) for f in funcs if f not in wild
        }
        return res.selectExpr(*[
            f"CASE WHEN {masked[c]} THEN {ident(c)} END AS {ident(c)}" if c in masked else ident(c)
            for c in res.columns
        ])

    def _force_raw(
        self, params: SelectParams, funcs, cross_series: bool, step_ms: int, window_ms: int
    ) -> bool:
        """With client aggregation disabled, serve raw data unless EVERY
        requested metric can be answered from the rollup (cross-series
        aggregates never can). Mixed capability forces all-raw rather
        than mixing per-metric plans (ref: select.go:228-256)."""
        if cross_series or not self.has_rollup():
            return True
        caps = [
            bool(fs) and self._rollup_step_ok(fs, step_ms, window_ms, params)
            for fs in self._per_metric_funcs(params, funcs).values()
        ]
        return not all(caps)

    def _overlapping(self, base, params, funcs, from_ms, to_ms, step_ms) -> DataFrame:
        """Overlapping windows: one aggregate cell per window w covering
        (maxAligned − w·step, maxAligned), maxAligned = ⌊to/step⌋·step.
        Strict bounds replicate the v1 collector
        (ref: pkg/querier/seriesset.go:187-217 chunks2WindowedAggregates,
        pkg/aggregate/iterator.go:149-171).
        """
        if not funcs:
            raise BadRequest("overlapping windows require aggregate functions")
        if not step_ms:
            raise BadRequest("overlapping windows require a step")
        if "rate" in funcs:
            raise BadRequest("rate is not defined for overlapping windows")
        windows = sorted({int(w) for w in params.overlapping_windows}, reverse=True)
        max_aligned = (to_ms // step_ms) * step_ms
        outs = [
            f"{agg.derived_sql(f)} AS {f}" if f in ("avg", "stddev", "stdvar") else ident(f)
            for f in funcs
        ]
        with views(base) as (src,):
            cells = (
                f"SELECT * FROM (SELECT *, explode(array({', '.join(map(str, windows))})) "
                f"AS `window` FROM {src} WHERE value IS NOT NULL AND ts < {max_aligned}) "
                f"WHERE ts > {max_aligned} - `window` * {step_ms}"
            )
            grouped = _group_keeping_labels(
                cells, ["name", "series_id", "`window`"], agg.raw_agg_sql(agg.required_raw(funcs))
            )
            return self.spark.sql(
                f"SELECT name, {labels_map_sql('_lstr')} AS labels, series_id, `window`, "
                f"{max_aligned} - `window` * {step_ms} AS t, {', '.join(outs)} FROM ({grouped})"
            )

    # -- scan --------------------------------------------------------------

    def _scan(self, params: SelectParams, from_ms: int, to_ms: int, window_ms: int) -> DataFrame:
        """Time/name/filter-pruned scan: one ``where`` over the samples.

        The time-range predicate reaches the Parquet scan (plus ``dt``
        partition pruning when present); this is the analog of the
        reference's partition pruning + attribute projection
        (ref: pkg/pquerier/querier.go:195-206, select.go:583-606).
        """
        df = self.samples_df()
        cols = df.columns
        lo = from_ms - window_ms  # ref: PartsForRange(from - aggWindow, to)
        preds = [f"ts >= {lo} AND ts <= {to_ms}"]
        # When the source keeps its native timestamp column alongside the
        # derived ms one (events feed), mirror the clamp onto it: a plain
        # column predicate reaches the Parquet scan (PushedFilters) where
        # the derived-ms predicate cannot. ts_ms = ns div 1e6, so
        # ts_ms ∈ [lo, to]  ⟺  ns ∈ [lo·1e6, (to+1)·1e6).
        if "_ts_raw_ns" in cols:
            preds.append(
                f"_ts_raw_ns >= {lo * 1_000_000} AND _ts_raw_ns < {(to_ms + 1) * 1_000_000}"
            )
        elif "_ts_raw_ts" in cols:
            preds.append(
                f"_ts_raw_ts >= timestamp_millis({lo}) AND _ts_raw_ts < timestamp_millis({to_ms + 1})"
            )
        if "dt" in cols:
            preds.append(f"dt BETWEEN {_date(lo)} AND {_date(to_ms)}")
        names = self._requested_names(params)
        if names:
            # name-equality fast path → partition/row-group pruning
            # (ref: pkg/pquerier/select.go:579-581 sharding-key range scan)
            preds.append(in_list("name", names))
        if params.filter:
            preds.append(translate_filter(params.filter))
        return df.where(" AND ".join(f"({p})" for p in preds))

    def _requested_names(self, params: SelectParams) -> list[str]:
        """Empty list = unbounded (all metrics). A ``*`` column — raw
        wildcard or a function-over-wildcard template (ref:
        pkg/pquerier/sql_parser.go:77-80) — widens the response to
        every metric, so no name filter may apply."""
        names = []
        if params.name:
            names += [n.strip() for n in str(params.name).split(",") if n.strip()]
        for c in params.columns or []:
            if c.metric == "*":
                return []
            if c.metric and c.metric not in names:
                names.append(c.metric)
        return names

    # -- paths -------------------------------------------------------------

    def _raw(self, base: DataFrame) -> DataFrame:
        """Raw samples; variant metrics ride along in their typed
        columns (ref: pkg/chunkenc/vartype.go — a series is float XOR
        one variant kind, so exactly one value column is non-null per
        row; unrequested kinds prune out of the Parquet scan)."""
        from v3io_tsdb_spark.appender import VARIANT_COLS

        return base.selectExpr(
            "name", "labels", "series_id", "ts AS t", "value",
            *[c for c, _ in VARIANT_COLS if c in base.columns],
        )

    def _mixed_agg_raw(self, base, params, funcs, from_ms, to_ms, step_ms) -> DataFrame:
        """Aggregate columns + function-less raw columns in ONE select:
        aggregates answer their functions, each function-less column
        contributes its metric's downsample (per-column interpolator/
        tolerance) on the same step grid, full-outer joined into one
        frame — the DataFrame analog of the reference emitting one
        series per requested column."""
        agg_res = self._aggregate(base, params, funcs, from_ms, to_ms, step_ms, 0, [])
        agg_res = self._mask_unrequested(agg_res, params, funcs)
        raw = self._align_columns(
            base, params, [c for c in params.columns if not c.function], from_ms, to_ms, step_ms
        )
        with views(agg_res, raw) as (a, r):
            return self.spark.sql(
                f"SELECT name, coalesce(a.labels, r.labels) AS labels, series_id, t, "
                f"{', '.join(ident(f) for f in funcs)}, value "
                f"FROM {a} a FULL OUTER JOIN {r} r USING (name, series_id, t)"
            )

    def _downsample(self, base, params, from_ms, to_ms, step_ms) -> DataFrame:
        """Step without functions → per-cell seek+interpolate value
        (ref: pkg/pquerier/collector.go:236-281 downsampleRawData).
        With column specs, each column aligns with its own interpolator
        (sibling-inherited per metric, see _metric_interp); a bare
        query aligns everything with the query-level interpolator."""
        if params.columns:
            return self._align_columns(base, params, params.columns, from_ms, to_ms, step_ms)
        tol = str2duration_ms(params.tolerance) if params.tolerance else None
        return align_to_grid(
            base.where("value IS NOT NULL"), from_ms, to_ms, step_ms,
            interp=params.interpolator or "next_val",
            tolerance_ms=tol,
        )

    def _align_columns(self, base, params, cols, from_ms, to_ms, step_ms) -> DataFrame:
        """Each column spec's metric aligned to the step grid with its own
        interpolator (sibling-inherited per metric, see _metric_interp)
        and tolerance, unioned into one frame."""
        src = base.where("value IS NOT NULL")
        metric_interp = self._metric_interp(params)
        out = None
        for c in cols:
            tol_src = c.tolerance if c.tolerance is not None else params.tolerance
            part = align_to_grid(
                src.where(f"name = {lit(c.metric)}"), from_ms, to_ms, step_ms,
                interp=c.interpolator or metric_interp.get(c.metric)
                or params.interpolator or "next_val",
                tolerance_ms=str2duration_ms(tol_src) if tol_src else None,
            )
            out = part if out is None else out.unionByName(part)
        return out

    def _validate_group_by(
        self, base: DataFrame, group_by: list[str], names: list | None = None
    ) -> None:
        """GroupBy on a nonexistent label is an error, as in the
        reference (ref: pkg/pquerier/select.go:354-367).

        With a names catalog, existence is a METADATA lookup — zero
        Spark jobs, the reference's names-directory behavior. The check
        is scoped to the REQUESTED metrics' label-key sets (the
        reference errors per queried series, not globally) — a label
        that exists only on an unqueried metric is still an error here.
        Without a catalog, existence is probed with ``limit(1)`` per
        label over the filtered query base: when the label exists (the
        common case) the scan short-circuits after the first matching
        chunk instead of aggregating the whole input."""
        if self._catalog is not None:
            known: set = set()
            # "*" = label keys carried by EVERY metric in this source
            # (a uniform-schema marker for feeds whose labels are fixed
            # by construction, e.g. datasets.events_as_samples builds
            # labels{uid} for every series) — metadata, not a scan
            known.update(self._catalog.get("*", ()))
            requested = [n for n in (names or []) if n in self._catalog]
            for ks in (
                (self._catalog[n] for n in requested)
                if requested
                else self._catalog.values()
            ):
                known.update(ks)
            missing = [g for g in group_by if g not in known]
            if missing:
                raise BadRequest(
                    f"group-by label {missing[0]!r} does not exist in the data"
                )
            return
        for g in group_by:
            probe = base.where(f"element_at(labels, {lit(g)}) IS NOT NULL").limit(1)
            if probe.isEmpty():
                raise BadRequest(f"group-by label {g!r} does not exist in the data")

    def _aggregate(self, base, params, funcs, from_ms, to_ms, step_ms, window_ms, group_by) -> DataFrame:
        """Route, then aggregate; ``base`` (the samples scan) is built
        here, if None, only when the route reads raw samples."""
        if not step_ms:
            step_ms = to_ms - from_ms or 1  # single bucket over the range
        if group_by:
            if base is None and self._catalog is None:
                # no catalog: the label-existence probe reads the samples
                base = self._scan(params, from_ms, to_ms, window_ms)
            self._validate_group_by(base, group_by, self._requested_names(params))

        # router order mirrors the reference: a pre-aggregated label-set
        # table matching GroupBy wins over the per-series rollup
        # (ref: pkg/pquerier/select.go:261-283 parsePreAggregateLabels)
        pred = self._label_rollup_plan(funcs, step_ms, window_ms, params, group_by)
        if pred is not None:
            return self._aggregate_from_rollup(
                self.rollup_df(group_by), pred,
                params, funcs, from_ms, to_ms, step_ms, window_ms, group_by,
            )
        if self._can_use_rollup(funcs, step_ms, window_ms, params):
            return self._aggregate_from_rollup(
                self.rollup_df(), translate_filter(params.filter) if params.filter else "",
                params, funcs, from_ms, to_ms, step_ms, window_ms, group_by,
            )
        if base is None:
            base = self._scan(params, from_ms, to_ms, window_ms)

        # numeric aggregates are float-only, but count covers EVERY
        # sample kind — a variant (string) series answers count like
        # the reference (ref: pqueriertest/variant_type_query_
        # integration_test.go:177-245); numeric aggs skip the nulls
        from v3io_tsdb_spark.appender import VARIANT_COLS

        presence = "value IS NOT NULL"
        for vc, _ in VARIANT_COLS:
            if vc in base.columns:
                presence = f"({presence}) OR {vc} IS NOT NULL"
        aggs = agg.raw_agg_sql(agg.required_raw(funcs), count_presence="true")
        with views(base) as (src,):
            present = f"SELECT * FROM {src} WHERE {presence}"
            if window_ms:
                cells = sliding_buckets_sql(present, "ts", from_ms, to_ms, step_ms, window_ms)
            else:
                t = tumbling_bucket_sql("ts", from_ms, step_ms)
                cells = f"SELECT * FROM (SELECT *, {t} AS t FROM ({present})) WHERE t <= {to_ms}"
            return self._finish_aggregate(cells, aggs, funcs, step_ms, group_by)

    def _finish_aggregate(self, cells, aggs, funcs, step_ms, group_by, cross=False) -> DataFrame:
        """Aggregate ``cells`` (SQL of rows tagged with their cell time
        ``t``) per series, per group-by label set, or — ``cross`` —
        across series; then derived columns + projection, in one
        statement. Empty buckets are naturally absent (count==0
        suppression, ref: pkg/aggregate/iterator.go:361-364)."""
        if group_by or cross:
            keys = [f"element_at(labels, {lit(g)})" for g in group_by]
            named = [f"{k} AS {ident(g)}" for k, g in zip(keys, group_by)]
            grouped = (
                f"SELECT {', '.join(['name', *named, 't', *aggs])} FROM ({cells}) "
                f"GROUP BY {', '.join(['name', *keys, 't'])}"
            )
            head = ["name", *map(ident, group_by), "t"]
            part = ["name", *group_by]
        else:
            keys = ["name", "series_id", "t"]
            raws = [ident(r) for r in agg.required_raw(funcs)]
            grouped = (
                f"SELECT {', '.join(keys + raws)}, {labels_map_sql('_lstr')} AS labels "
                f"FROM ({_group_keeping_labels(cells, keys, aggs)})"
            )
            head = ["name", "labels", "series_id", "t"]
            part = ["name", "series_id"]
        outs = []
        for f in funcs:
            if f == "rate":
                outs.append(f"{agg.rate_sql(step_ms, part)} AS rate")
            elif f in ("avg", "stddev", "stdvar"):
                outs.append(f"{agg.derived_sql(f)} AS {f}")
            else:
                outs.append(ident(f))
        return self.spark.sql(f"SELECT {', '.join(head + outs)} FROM ({grouped})")

    def _cross_series(self, base, params, funcs, from_ms, to_ms, step_ms, group_by) -> DataFrame:
        """``*_all`` aggregation: align each series to the step grid
        with interpolation, then aggregate across series per bucket
        (ref: pkg/pquerier/collector.go:283-338).
        """
        if not step_ms:
            step_ms = to_ms - from_ms or 1
        if group_by:
            self._validate_group_by(base, group_by, self._requested_names(params))
        tol = str2duration_ms(params.tolerance) if params.tolerance else None
        aligned = align_to_grid(
            base.where("value IS NOT NULL"), from_ms, to_ms, step_ms,
            interp=params.interpolator or "next_val",
            tolerance_ms=tol,
        )
        aggs = agg.raw_agg_sql(agg.required_raw(funcs), value_col="value", ts_col="series_id")
        with views(aligned) as (src,):
            return self._finish_aggregate(
                f"SELECT * FROM {src}", aggs, funcs, step_ms, group_by, cross=True
            )

    # -- rollup ("server aggregates") routing ------------------------------

    def _rollup_step_ok(self, funcs, step_ms, window_ms, params: SelectParams) -> bool:
        """Shared router predicate: aggregates covered by the rollup
        config AND step coarse enough —
        ``step / granularity > coefficient`` (default 3)
        (ref: pkg/aggregate/aggregationParams.go:67-77,
        pkg/pquerier/select.go:183-226).
        """
        if not funcs:
            return False
        if params.use_only_client_aggr or self.config.use_only_client_aggr:
            return False
        if self.config.use_precise_aggregations:
            # exact-results override: always aggregate from raw samples
            # (ref: pkg/config/config.go:172-173)
            return False
        gran = self.config.granularity_ms
        if window_ms and window_ms < gran:
            # CanAggregate: aggregationWindow must cover ≥ one rollup
            # bucket (ref: pkg/aggregate/aggregationParams.go:76-77)
            return False
        if "rate" in funcs:
            pass  # rate derives from 'last', which rollups carry
        needed = set(agg.required_raw(funcs))
        if not needed.issubset(set(self.config.aggregates)):
            return False
        if step_ms / gran > self.config.use_server_aggregate_coefficient:
            return True
        # step clamped to the granularity under DisableClientAggr still
        # qualifies (ref: aggregationParams.go:75)
        return step_ms == gran and self._dca(params)

    def _can_use_rollup(self, funcs, step_ms, window_ms, params: SelectParams) -> bool:
        """The ~100-line query router (SURVEY §4): use the materialized
        per-series rollup iff it exists and _rollup_step_ok holds."""
        return self.has_rollup() and self._rollup_step_ok(funcs, step_ms, window_ms, params)

    def _label_rollup_plan(
        self, funcs, step_ms, window_ms, params: SelectParams, group_by
    ) -> str | None:
        """Choose a cross-label pre-aggregate set when GroupBy exactly
        matches a declared label subset and the filter only references
        those labels (ref: pkg/pquerier/select.go:261-283). Returns the
        filter ('' for none), or None when the route declines."""
        if not group_by or self._label_rollups.get(tuple(sorted(group_by))) is None:
            return None
        if not self._rollup_step_ok(funcs, step_ms, window_ms, params):
            return None
        pred = translate_filter(params.filter) if params.filter else ""
        rest = pred
        for g in group_by:
            rest = rest.replace(f"labels['{g}']", "")
        # a pre-aggregate row's labels map holds only its own labels
        return None if "labels[" in rest else pred

    def _rollup_cells(self, src, from_ms, to_ms, step_ms, window_ms) -> str:
        """SQL mapping the rollup rows of ``src`` to query cells by
        bucket **median** time (computed once, as ``_median``).

        No window: truncating-division cell with a one-step inclusion
        margin (ref: pkg/pquerier/collector.go:210-234). With an
        aggregation window: each bucket contributes to every cell of the
        from-anchored grid whose window covers its median — round-up
        first cell, fan-out ``explode(sequence)`` when window > step
        (ref: collector.go:219-223 bottomMargin=window,
        collector.go:366-383 windowAggregationWithServerAggregates).
        """
        bottom = window_ms if window_ms else step_ms
        r = (
            f"SELECT * FROM (SELECT *, bucket + {self.config.granularity_ms // 2} AS _median "
            f"FROM {src}) WHERE _median >= {from_ms - bottom} AND _median <= {to_ms + step_ms}"
        )
        if not window_ms:
            cell = f"CAST((_median - {from_ms}) div {step_ms} * {step_ms} + {from_ms} AS BIGINT)"
            r = f"SELECT *, {cell} AS t FROM ({r})"
        elif window_ms > step_ms:
            r = sliding_buckets_sql(r, "_median", from_ms, to_ms, step_ms, window_ms)
        else:
            # window <= step: round-up cell only (ref: collector.go:380-382)
            cell = f"CAST(ceil((_median - {from_ms}) / {step_ms}) * {step_ms} + {from_ms} AS BIGINT)"
            r = f"SELECT *, {cell} AS t FROM ({r})"
        return f"SELECT * FROM ({r}) WHERE t >= {from_ms} AND t <= {to_ms}"

    def _aggregate_from_rollup(
        self, r, pred, params, funcs, from_ms, to_ms, step_ms, window_ms, group_by
    ) -> DataFrame:
        """Re-bucket rollup rows into query cells by bucket **median**
        time (see :meth:`_rollup_cells`), replicating the reference's
        mapping (ref: pkg/pquerier/collector.go:187-234
        aggregateServerAggregates), and combine them with the rollup
        merge algebra. ``r`` is the per-series rollup set or a
        pre-aggregate set, whose ``labels`` hold the group-by labels;
        ``pred`` is its SQL filter, '' for none.

        The scan reads only the ``rdt`` partitions the cells can use:
        the medians kept lie in [from − bottom, to + step], so the
        bucket starts lie half a granule below that."""
        names = self._requested_names(params)
        preds = [in_list("name", names)] if names else []
        if pred:
            preds.append(pred)
        if "rdt" in r.columns:
            half = self.config.granularity_ms // 2
            bottom = window_ms if window_ms else step_ms
            preds.append(
                f"rdt BETWEEN {_date(from_ms - bottom - half)} AND {_date(to_ms + step_ms - half)}"
            )
        if preds:
            r = r.where(" AND ".join(f"({p})" for p in preds))
        with views(r) as (src,):
            return self._finish_aggregate(
                self._rollup_cells(src, from_ms, to_ms, step_ms, window_ms),
                ru.combine_sql(agg.required_raw(funcs)), funcs, step_ms, group_by,
            )
