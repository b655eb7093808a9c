"""Aggregation functions.

The reference's aggregate set (ref: pkg/aggregate/aggregate.go:34-66):
raw = count, sum, sqr (Σv²), min, max, last; derived = avg = sum/count,
stddev/stdvar = (n·Σv² − (Σv)²)/(n·(n−1)), rate = Δlast/step_seconds.
Requesting a derived aggregate implicitly computes its hidden raw
dependencies (ref: pkg/aggregate/aggregate.go:151-173,
pkg/pquerier/select.go:447-494). ``*_all`` suffixes request
cross-series aggregation (ref: pkg/pquerier/types.go:64-71).

All expressions are SQL text over built-in Spark SQL functions —
parsed JVM-side in one call, run inside whole-stage codegen, with
map-side partial aggregation for free.
stddev/stdvar are computed from (count, sum, sqr) with the reference's
exact formula rather than Spark's ``stddev`` so results bit-match the
reference/oracle independent of per-partition association order.
"""

from __future__ import annotations

from v3io_tsdb_spark.errors import BadRequest

RAW_AGGREGATES = ("count", "sum", "sqr", "min", "max", "last")
DERIVED_AGGREGATES = ("avg", "stddev", "stdvar", "rate")
ALL_AGGREGATES = RAW_AGGREGATES + DERIVED_AGGREGATES

# hidden raw dependencies per aggregate
# ref: pkg/aggregate/aggregate.go:151-173 (count always added),
#      pkg/pquerier/select.go:447-494 (avg -> count+sum, stddev -> +sqr)
_DEPS = {
    "count": {"count"},
    "sum": {"sum", "count"},
    "sqr": {"sqr", "count"},
    "min": {"min", "count"},
    "max": {"max", "count"},
    "last": {"last", "count"},
    "avg": {"sum", "count"},
    "stddev": {"count", "sum", "sqr"},
    "stdvar": {"count", "sum", "sqr"},
    "rate": {"last", "count"},
}


def parse_functions(functions: str | list | None) -> tuple[list[str], bool]:
    """Parse ``"sum,max"`` / ``"sum_all,avg_all"`` → (funcs, cross_series).

    Mixing per-series and cross-series aggregates in one request is an
    error, as in the reference (ref: pkg/pquerier/select.go:427-441).
    """
    if not functions:
        return [], False
    if isinstance(functions, str):
        funcs = [f.strip().lower() for f in functions.split(",") if f.strip()]
    else:
        funcs = [str(f).strip().lower() for f in functions]
    if "*" in funcs:  # all aggregates (ref: aggregate.go:51,60 aggrTypeAll)
        funcs = [f for f in funcs if f != "*"] + [
            f for f in ALL_AGGREGATES if f not in funcs
        ]
    cross = [f.endswith("_all") for f in funcs]
    if any(cross) and not all(cross):
        raise BadRequest("cannot mix per-series and cross-series (_all) aggregates")
    cross_series = all(cross) and bool(funcs)
    funcs = [f[:-4] if f.endswith("_all") else f for f in funcs]
    # explicit duplicates are an error, as in the reference's column
    # specs (ref: pkg/pquerier/selectQueryContext_test.go
    # TestNegativeCreateColumnSpecs "count, count")
    if len(set(funcs)) != len(funcs):
        dup = next(f for f in funcs if funcs.count(f) > 1)
        raise BadRequest(f"aggregate {dup!r} requested more than once")
    for f in funcs:
        if f not in ALL_AGGREGATES:
            raise BadRequest(f"unsupported aggregate {f!r}; supported: {ALL_AGGREGATES}")
    return funcs, cross_series


def required_raw(funcs: list[str]) -> list[str]:
    """Raw aggregates needed to answer ``funcs`` (ordered, deduped)."""
    need = set()
    for f in funcs:
        need |= _DEPS[f]
    return [r for r in RAW_AGGREGATES if r in need]


def raw_agg_sql(
    raws: list[str],
    value_col: str = "value",
    ts_col: str = "ts",
    count_presence: str | None = None,
) -> list[str]:
    """SQL aggregate expressions (``<agg> AS <name>``) for the raw
    aggregate set.

    ``last`` = value at max ts within the group (ref:
    pkg/aggregate/functions.go:107-128 LastAggregate keeps the
    latest-time value). ``count_presence``: optional boolean SQL
    predicate counted instead of non-null ``value`` — lets ``count``
    cover variant (non-float) samples, which the reference's count
    aggregation includes (ref: pqueriertest/variant_type_query_
    integration_test.go:177-245 TestCountAggregationForVariantType);
    the numeric aggregates still skip nulls, so variant rows are
    transparent to them.
    """
    v, t = f"`{value_col}`", f"`{ts_col}`"
    cnt = f"count(CASE WHEN {count_presence} THEN true END)" if count_presence else f"count({v})"
    exprs = {
        "count": cnt,
        "sum": f"sum({v})",
        "sqr": f"sum({v} * {v})",
        "min": f"min({v})",
        "max": f"max({v})",
        "last": f"max_by({v}, {t})",
    }
    return [f"{exprs[r]} AS `{r}`" for r in raws]


def derived_sql(func: str) -> str:
    """SQL expression for a derived aggregate over raw agg columns.

    - avg = sum/count (ref: pkg/aggregate/aggregate.go:363-370)
    - stdvar = (n·Σv²−(Σv)²)/(n(n−1)), stddev = sqrt(stdvar)
      (ref: pkg/aggregate/aggregate.go:371-388 — sample formula)
    - rate is bucket-to-bucket (:func:`rate_sql`; needs a window over
      buckets; ref: pkg/aggregate/iterator.go:327-334)
    """
    var = "(`count` * `sqr` - `sum` * `sum`) / (`count` * (`count` - 1))"
    if func == "avg":
        return "`sum` / `count`"
    if func == "stdvar":
        return f"CASE WHEN `count` > 1 THEN {var} END"
    if func == "stddev":
        return f"CASE WHEN `count` > 1 THEN sqrt({var}) END"
    raise BadRequest(f"not a derived aggregate: {func}")


def rate_sql(step_ms: int, partition_by: list[str]) -> str:
    """rate = (last[i] − last[i−1]) / (step/1000) per-second delta, over
    each series' (or group's) buckets in time order.

    Literal replication of the reference's rate (bucket-to-bucket last
    delta, not Prometheus rate; ref: pkg/aggregate/iterator.go:327-334).
    """
    keys = ", ".join(f"`{k}`" for k in partition_by)
    return (
        f"(`last` - lag(`last`) OVER (PARTITION BY {keys} ORDER BY `t`)) / {step_ms / 1000.0!r}D"
    )
