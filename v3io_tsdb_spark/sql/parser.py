"""TSDB SQL dialect → SelectParams.

The reference parses a restricted MySQL-style SELECT with TSDB
pseudo-functions (ref: pkg/pquerier/sql_parser.go:39-198):

    SELECT <cols> FROM <table> [WHERE <filter>] [GROUP BY <labels>]

where <cols> is ``*`` | ``metric`` | ``func(metric)`` |
``interp(metric)`` | ``func(interp(metric, 'tolerance'))``, each with
an optional ``AS alias``. No joins/subqueries/HAVING/ORDER BY/LIMIT —
exactly like the reference (full Spark SQL remains available by
registering the samples table as a view; this dialect is the
compatibility surface).

Dialect extension (``extensions=True``): Spark gives ORDER BY / LIMIT
for free, so ``parse_query``/``run_sql`` optionally accept trailing
``ORDER BY col [ASC|DESC], ...`` and ``LIMIT n`` clauses over the
OUTPUT frame columns. Off by default — the reference's parser rejects
both (pkg/pquerier/sql_parser.go), and fidelity is the default
contract; opt in per call (CLI: ``--sql-ext``).

``run_sql`` executes the parsed query through the Querier and pivots
to the reference's wide-frame shape: ``time`` index + one column per
requested (metric × function), heterogeneous per-metric function sets
included (handled by melt + pair filter, not separate scans).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from v3io_tsdb_spark.errors import BadRequest
from v3io_tsdb_spark.operators.aggregates import ALL_AGGREGATES
from v3io_tsdb_spark.operators.frames import pivot_first, to_series_sql
from v3io_tsdb_spark.operators.interpolate import INTERPOLATORS
from v3io_tsdb_spark.querier import RequestedColumn, SelectParams
from v3io_tsdb_spark.sqltext import ident, in_list, lit, views

_INTERP_NAMES = {"none", "nan", "prev_val", "prev", "next_val", "next", "linear", "lin"}
# FROM is optional: the reference's vitess-based ParseQuery accepts a
# bare ``select cpu,diskio`` (FROM defaults to dual), and its golden
# suites use that form (dataframe_query_integration_test.go:213)
_SELECT_RE = re.compile(
    # table: bare identifier, or quoted path — the reference accepts
    # `from 'my/table'` (slash paths, sql_parser_test.go TestParseQuery)
    r"^\s*select\s+(?P<cols>.+?)(?:\s+from\s+(?P<table>'[^']*'|\"[^\"]*\"|[\w./-]+))?"
    r"(?:\s+where\s+(?P<where>.+?))?"
    r"(?:\s+group\s+by\s+(?P<groupby>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COL_RE = re.compile(
    r"^(?:(?P<f1>\w+)\s*\(\s*)?(?:(?P<f2>\w+)\s*\(\s*)?(?P<metric>\*|\w+)"
    r"(?:\s*,\s*'(?P<tol>[^']*)')?\s*\)?\s*\)?"
    r"(?:\s+as\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)


_ORDER_LIMIT_RE = re.compile(
    r"(?:\s+order\s+by\s+(?P<order>\w+(?:\s+(?:asc|desc))?"
    r"(?:\s*,\s*\w+(?:\s+(?:asc|desc))?)*))?"
    r"(?:\s+limit\s+(?P<limit>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)


@dataclass
class ParsedQuery:
    table: str
    columns: list  # list[RequestedColumn]
    filter: str | None
    group_by: str | None
    wildcard: bool = False
    # dialect extensions (extensions=True only)
    order_by: list | None = None  # list[(col, descending)]
    limit: int | None = None


def _split_cols(cols: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in cols:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [c for c in out if c]


def parse_query(sql: str, extensions: bool = False) -> ParsedQuery:
    order_by, limit = None, None
    if extensions:
        tail = _ORDER_LIMIT_RE.search(sql)
        if tail and (tail.group("order") or tail.group("limit")):
            if tail.group("order"):
                order_by = []
                for part in tail.group("order").split(","):
                    toks = part.split()
                    order_by.append((toks[0], len(toks) > 1 and toks[1].lower() == "desc"))
            if tail.group("limit"):
                limit = int(tail.group("limit"))
            sql = sql[: tail.start()]
    m = _SELECT_RE.match(sql)
    if not m:
        raise BadRequest(f"unsupported SQL (expected SELECT ... FROM ...): {sql!r}")
    for kw in ("join", "having", "order by", "limit"):
        if re.search(rf"\b{kw}\b", sql, re.IGNORECASE):
            hint = "" if extensions else " (pass extensions=True / --sql-ext for ORDER BY/LIMIT)"
            raise BadRequest(f"{kw.upper()} is not supported by the TSDB dialect{hint}")
    cols_raw = _split_cols(m.group("cols"))
    columns, seen, wildcard = [], set(), False
    for raw in cols_raw:
        if raw == "*":
            wildcard = True
            continue
        cm = _COL_RE.match(raw)
        if not cm:
            raise BadRequest(f"cannot parse column {raw!r}")
        f1, f2, metric = cm.group("f1"), cm.group("f2"), cm.group("metric")
        func, interp = "", ""
        for f in (f1, f2):
            if not f:
                continue
            lf = f.lower()
            if lf in _INTERP_NAMES:
                interp = lf
            elif lf in ALL_AGGREGATES or (lf.endswith("_all") and lf[:-4] in ALL_AGGREGATES):
                func = lf
            else:
                raise BadRequest(f"unknown function {f!r} in column {raw!r}")
        col = RequestedColumn(
            metric=metric, function=func, interpolator=interp,
            tolerance=cm.group("tol"), alias=cm.group("alias") or "",
        )
        key = (col.metric, col.function)
        if key in seen:
            raise BadRequest(f"duplicate column {raw!r}")
        seen.add(key)
        columns.append(col)
    # alias rules (ref: pkg/pquerier/sql_parser.go:178-198 +
    # TestNegativeParseQuery): duplicate aliases are an error, an alias
    # on a '*' column template is an error, and an alias shadowing a
    # metric name is an error
    seen_alias: set = set()
    for c in columns:
        if not c.alias:
            continue
        if c.metric == "*":
            raise BadRequest("cannot alias a '*' column")
        if c.alias in seen_alias:
            raise BadRequest(f"duplicate alias {c.alias!r}")
        seen_alias.add(c.alias)
    aliases = {c.alias for c in columns if c.alias}
    for c in columns:
        if c.metric in aliases:
            raise BadRequest(f"alias shadows metric name {c.metric!r}")
    where = m.group("where")
    return ParsedQuery(
        table=(m.group("table") or "tsdb").strip("\"'"),
        columns=columns,
        filter=where.strip() if where else None,
        group_by=(m.group("groupby") or "").strip() or None,
        wildcard=wildcard,
        order_by=order_by,
        limit=limit,
    )


def to_select_params(parsed: ParsedQuery, **overrides) -> SelectParams:
    metrics, funcs = [], []
    interp, tol = "", None
    for c in parsed.columns:
        if c.metric not in metrics and c.metric != "*":
            metrics.append(c.metric)
        if c.function and c.function not in funcs:
            funcs.append(c.function)
        if c.interpolator and not interp:
            interp = c.interpolator
        if c.tolerance and tol is None:
            tol = c.tolerance
    # a '*' metric (raw wildcard or a func(*) column template) widens the
    # scan to every metric — concrete metrics no longer bound the response
    has_star = parsed.wildcard or any(c.metric == "*" for c in parsed.columns)
    params = SelectParams(
        name=",".join(metrics) if (metrics and not has_star) else None,
        functions=",".join(funcs) if funcs else None,
        filter=parsed.filter,
        group_by=parsed.group_by,
        interpolator=interp,
        tolerance=tol,
        columns=parsed.columns,
    )
    for k, v in overrides.items():
        setattr(params, k, v)
    return params


def _apply_extensions(df: DataFrame, parsed: ParsedQuery) -> DataFrame:
    """ORDER BY / LIMIT over the output frame — native Spark operators
    (a TakeOrdered / CollectLimit the optimizer pushes as far as the
    plan allows), only reachable with ``extensions=True``."""
    if parsed.order_by:
        missing = [c for c, _ in parsed.order_by if c not in df.columns]
        if missing:
            raise BadRequest(f"ORDER BY column(s) not in result: {missing}")
        df = df.orderBy(
            *[F.col(c).desc() if d else F.col(c).asc() for c, d in parsed.order_by]
        )
    if parsed.limit is not None:
        df = df.limit(parsed.limit)
    return df


def run_sql(querier, sql: str, extensions: bool = False, **overrides) -> DataFrame:
    """Parse + execute; returns the wide frame (time + one column per
    requested metric×function, named ``alias`` or ``func(metric)``).
    ``extensions=True`` additionally accepts trailing ORDER BY / LIMIT
    (see module docstring)."""
    parsed = parse_query(sql, extensions=extensions)
    params = to_select_params(parsed, **overrides)
    from v3io_tsdb_spark.operators.aggregates import parse_functions

    funcs, _ = parse_functions(params.functions)
    res = querier.select(params)

    if not funcs:  # raw / downsample → pivot values by metric
        from v3io_tsdb_spark.appender import VARIANT_COLS
        from v3io_tsdb_spark.operators.frames import to_wide_frame

        # a REQUESTED metric with no in-range data still gets its (all-
        # NaN) column — the request defines the frame, not the surviving
        # rows (ref: pqueriertest/dataframe_query_integration_test.go:
        # 176-266 Test2Series1EmptySelectDataframe); passing the explicit
        # pivot keys also skips pivot's distinct-values pre-pass
        vals = (
            [m.strip() for m in params.name.split(",") if m.strip()]
            if (params.name and not parsed.wildcard)
            else None
        )
        return _apply_extensions(
            to_wide_frame(
                res.drop(*[c for c, _ in VARIANT_COLS]), time_col="t", values=vals
            ),
            parsed,
        )

    group_cols = [g.strip() for g in (parsed.group_by or "").split(",") if g.strip()]
    keys = None  # pivot keys, when the request alone defines them
    if not parsed.wildcard:
        # keep only requested (metric, function) pairs; name columns by alias
        names = {}
        star_fns = set()
        for c in parsed.columns:
            fn = c.function[:-4] if c.function.endswith("_all") else c.function
            if not fn and funcs:
                continue
            if c.metric == "*" and fn:
                # column template: one output column per metric in the
                # response (ref: pkg/pquerier/frames.go:160-165)
                star_fns.add(fn)
                continue
            names[(c.metric, fn)] = c.alias or (f"{fn}({c.metric})" if fn else c.metric)
        conds = [f"name = {lit(m)} AND aggregate = {lit(fn)}" for m, fn in names]
        conds += [f"aggregate = {lit(fn)}" for fn in sorted(star_fns)]
        cond = ""
        for p in conds:
            cond = f"({cond}) OR ({p})" if cond else f"({p})"
        ckey = (
            "map({})[concat_ws({}, name, aggregate)]".format(
                ", ".join(f"{lit(m + chr(0) + fn)}, {lit(a)}" for (m, fn), a in names.items()),
                lit(chr(0)),
            )
            if names else "CAST(NULL AS STRING)"
        )
        if star_fns:
            ckey = (
                f"coalesce({ckey}, CASE WHEN {in_list('aggregate', sorted(star_fns))} "
                f"THEN concat(aggregate, '(', name, ')') END)"
            )
        if names and not star_fns:
            # as for raw queries: a requested column with no in-range
            # data still gets its (all-null) column, and the pivot skips
            # its distinct-values pre-pass (sorted, Spark's own order)
            keys = sorted(set(names.values()))
    else:
        cond, ckey = "", "concat(aggregate, '(', name, ')')"
    rows = ["time", *(ident(g) for g in group_cols)]
    with views(res) as (src,):
        melted = to_series_sql(src, res.columns, funcs)
        if cond:
            melted = f"SELECT * FROM ({melted}) WHERE {cond}"
        cells = (
            f"SELECT t AS time, {', '.join(rows[1:] + ['_ckey', 'value'])} "
            f"FROM (SELECT *, {ckey} AS _ckey FROM ({melted}))"
        )
        wide = pivot_first(querier.spark, cells, rows, keys)
    return _apply_extensions(wide, parsed)
