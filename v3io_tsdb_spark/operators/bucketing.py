"""Step-bucket expressions.

Query buckets are anchored at the query ``from`` time — cell index is
``(t - from) / step`` (ref: pkg/pquerier/collector.go:383-391,
getRelativeCell). Rollup buckets are wall-aligned —
``floor(ts / granularity) * granularity`` (ref:
pkg/partmgr/partmgr.go:564-569 TimeToChunkID analog).

Sliding (AggregationWindow) semantics (ref:
pkg/pquerier/collector.go:345-381 windowAggregation): buckets sit on
the ``from``-anchored grid, right-aligned (round-up cell); a sample at
``t`` contributes to every bucket ``b`` on the grid with
``b − window <= t <= b`` (closed interval when window > step; when
window < step the right-aligned bucket is used iff ``t >= b − window``;
window == step degenerates to the tumbling round-up bucket).

The sliding fan-out is expressed as ``explode(sequence(...))`` — each
sample row expands to its (few) covered buckets and the aggregation
stays a plain shuffle-on-bucket groupBy, which scales linearly and
never materializes per-bucket sample lists.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tumbling_bucket_sql(ts: str, from_ms: int, step_ms: int) -> str:
    """from-anchored floor bucket time (ms) of the SQL expression ``ts``."""
    return f"CAST(floor(({ts} - {from_ms}) / {step_ms}) * {step_ms} + {from_ms} AS BIGINT)"


def tumbling_bucket(ts_col: str, from_ms: int, step_ms: int) -> Column:
    """:func:`tumbling_bucket_sql` of the named column, as a Column."""
    return F.expr(tumbling_bucket_sql(f"`{ts_col}`", from_ms, step_ms))


def wall_bucket(ts_col: str, gran_ms: int) -> Column:
    """Wall-aligned rollup bucket time (ms) of the named column."""
    return F.expr(f"CAST(floor(`{ts_col}` / {gran_ms}) * {gran_ms} AS BIGINT)")


def sliding_buckets_sql(rows: str, ts: str, from_ms: int, to_ms: int, step_ms: int, window_ms: int) -> str:
    """SQL of ``rows`` (a SELECT) exploded to one row per bucket time
    ``t`` its timestamp expression ``ts`` contributes to under an
    aggregation window. The first and last cell index are computed once
    per row, as ``_kf``/``_kl``, and the bucket array reads them.

    k_first = ceil((t-from)/step) — the right-aligned cell.
    window >  step: k_last = floor((t-from+window)/step)   (closed [b-w, b])
    window <= step: contributes to k_first iff t >= from + k_first*step - window.
    Buckets outside [from, to] are clipped.
    """
    rel = f"({ts} - {from_ms})"
    k_first = f"CAST(ceil({rel} / {step_ms}) AS BIGINT)"
    if window_ms > step_ms:
        k_last = f"CAST(floor(({rel} + {window_ms}) / {step_ms}) AS BIGINT)"
    else:
        ok = f"{rel} >= ({k_first} * {step_ms} - {window_ms})"
        k_last = f"CASE WHEN {ok} THEN {k_first} ELSE {k_first} - 1 END"
    k_max = (to_ms - from_ms) // step_ms
    bounds = f"greatest({k_first}, 0) AS _kf, least({k_last}, {int(k_max)}) AS _kl"
    buckets = (
        f"CASE WHEN _kl >= _kf THEN "
        f"transform(sequence(_kf, _kl), k -> CAST(k * {step_ms} + {from_ms} AS BIGINT)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return (
        f"SELECT *, explode(_buckets) AS t FROM (SELECT *, {buckets} AS _buckets "
        f"FROM (SELECT *, {bounds} FROM ({rows})))"
    )
