"""Query → DataFrame compiler — the engine core.

Lowers the logical ``Query`` (zx_spark.model) to a declarative DataFrame plan
and lets Catalyst do physical planning. The reference executes the same
pipeline imperatively in ``run_unsorted`` (src/lib.rs:191-218):

    scan(time range) → filter* → project → group → window → aggregate

Here each stage is the obvious Catalyst construct, so the reference's four
hand-coded optimizations (SURVEY §4: time pruning, predicate pushdown, column
pruning, late materialization) come from the optimizer:

- time range   → ``ts BETWEEN`` on a native timestamp column → Parquet
  row-group min/max stat pruning + partition pruning when partitioned by time
- conditions   → pushed-down predicates
- projection   → ColumnPruning prunes the Parquet ReadSchema
- group/window → hash aggregate with map-side partial aggregation
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zx_spark.model import NIL, Query
from zx_spark.operators.aggregates import agg_expr, is_numeric_result
from zx_spark.operators.filters import apply_conditions
from zx_spark.operators.windows import (
    WINDOW_END_TS,
    WINDOW_NO,
    WINDOW_START_TS,
    with_aligned_windows,
    with_faithful_windows,
    with_session_windows,
)

GROUP_PREFIX = "g_"
WINDOW_START = "window_start"
WINDOW_END = "window_end"


def group_alias(col: str) -> str:
    return GROUP_PREFIX + col.replace(".", "_")


def _scan(df: DataFrame, q: Query, ts_col: str) -> DataFrame:
    """Time-range scan S1 (reference get_ids_in_range, src/lib.rs:305-331):
    inclusive [t_start, t_end] on the event timestamp."""
    ts = F.col(f"`{ts_col}`")
    if q.t_start is not None:
        df = df.filter(ts >= F.timestamp_seconds(F.lit(float(q.t_start))))
    if q.t_end is not None:
        df = df.filter(ts <= F.timestamp_seconds(F.lit(float(q.t_end))))
    return df


def _group_keys(df: DataFrame, q: Query) -> tuple[DataFrame, list[str]]:
    """Materialize group-by keys; missing value → the literal "__nil"
    (reference src/lib.rs:547-551). Group keys are strings, as in the
    reference's SparseData model."""
    keys = []
    for c in q.group_by:
        a = group_alias(c)
        df = df.withColumn(a, F.coalesce(F.col(f"`{c}`").cast("string"), F.lit(NIL)))
        keys.append(a)
    return df, keys


def compile_query(
    df: DataFrame,
    q: Query,
    id_col: str = "id",
    ts_col: str = "ts",
    rate_col: str | None = "sample_rate",
    empty_sentinels: bool = True,
    sort: bool = False,
) -> DataFrame:
    """Compile a windowed grouped-aggregate query (run_unsorted equivalent,
    reference src/lib.rs:191-218).

    Output columns: one ``g_<col>`` string per group-by key, then
    ``window_start``/``window_end`` (unix seconds of first/last event in the
    window, reference src/lib.rs:702-708), then one column per select aliased
    ``<agg>__<col>``.
    """
    if rate_col is not None and rate_col not in df.columns:
        rate_col = None
    df = _scan(df, q, ts_col)
    df = apply_conditions(df, q.conditions)
    df, keys = _group_keys(df, q)

    grouping = list(keys)
    faithful = False
    if q.granularity_s is not None:
        if q.window_mode == "faithful":
            df = with_faithful_windows(df, keys, id_col, ts_col, q.granularity_s)
            faithful = True
        elif q.window_mode == "session":
            df = with_session_windows(df, keys, id_col, ts_col, q.granularity_s)
        elif q.window_mode == "aligned":
            df = with_aligned_windows(df, ts_col, q.granularity_s)
        else:
            # A typo'd mode must not silently fall back to different
            # window semantics.
            raise ValueError(
                f"unknown window_mode {q.window_mode!r} "
                "(expected 'aligned', 'session', or 'faithful')"
            )
        grouping.append(WINDOW_NO)

    ts_unix = F.col(f"`{ts_col}`").cast("double")
    if faithful:
        # Reference-exact report timestamps (src/lib.rs:702-712): first-row-
        # in-id-order ts (a dropped breaking row's ts after a break) and
        # last-kept-row-in-id-order ts, emitted by the segmenter.
        start_expr = F.first(F.col(WINDOW_START_TS)).alias(WINDOW_START)
        end_expr = F.first(F.col(WINDOW_END_TS)).alias(WINDOW_END)
    else:
        start_expr = F.min(ts_unix).alias(WINDOW_START)
        end_expr = F.max(ts_unix).alias(WINDOW_END)
    aggs = [start_expr, end_expr] + [
        agg_expr(s, rate_col=rate_col, empty_sentinels=empty_sentinels) for s in q.selects
    ]

    if grouping:
        out = df.groupBy(*grouping).agg(*aggs)
    else:
        out = df.agg(*aggs)
    for helper in (WINDOW_NO, WINDOW_START_TS, WINDOW_END_TS):
        if helper in out.columns:
            out = out.drop(helper)
    out = apply_having(out, q)
    if sort:
        # Opt-in: a global range sort of the result is an extra exchange —
        # wasted at 100 TB when the consumer is order-insensitive (the
        # reference returns an unordered HashMap, src/lib.rs:191-194).
        out = out.orderBy(*keys, WINDOW_START)
    return out


def run_query(
    df: DataFrame,
    q: Query,
    **kwargs,
) -> DataFrame:
    """Alias of compile_query — evaluation is lazy; callers collect."""
    return compile_query(df, q, **kwargs)


_HAVING_OPS = {
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def apply_having(out: DataFrame, q: Query) -> DataFrame:
    """Post-aggregation predicates (beyond-reference HAVING): each
    (alias, op, value) triple filters the aggregate's OUTPUT column — a
    plain Catalyst filter after the agg, nothing re-shuffles. Aliases
    resolve against the query's selects (the shim already validated the
    spelling and numeric-ness); an unknown alias fails loudly — a
    silently dropped HAVING is a wrong answer."""
    if not q.having:
        return out
    aliases = {s.alias for s in q.selects}
    for alias, op, val in q.having:
        if alias not in aliases:
            raise ValueError(
                f"HAVING references {alias!r}, which is not in the SELECT list"
            )
        out = out.filter(_HAVING_OPS[op](F.col(f"`{alias}`"), F.lit(val)))
    return out


def run_sorted(
    df: DataFrame,
    q: Query,
    id_col: str = "id",
    ts_col: str = "ts",
    rate_col: str | None = "sample_rate",
) -> DataFrame:
    """Aggregate-then-sort / top-groups (O1; reference run_sorted +
    sort_group, src/lib.rs:222-246, 735-784).

    Each group aggregates to ONE value per select (no windows,
    src/lib.rs:744); non-numeric (list-valued) aggregates are dropped from
    ordering (src/lib.rs:746); groups are multi-key sorted asc/desc. The
    reference parses ORDER BY but never wires it to SQL (src/lib.rs:840) —
    here it works, and generalizes to Spark's orderBy at any scale.
    """
    if rate_col is not None and rate_col not in df.columns:
        rate_col = None
    work = _scan(df, q, ts_col)
    work = apply_conditions(work, q.conditions)
    work, keys = _group_keys(work, q)

    numeric = [s for s in q.selects if is_numeric_result(s)]
    aggs = [agg_expr(s, rate_col=rate_col) for s in numeric]
    out = work.groupBy(*keys).agg(*aggs) if keys else work.agg(*aggs)
    out = apply_having(out, q)

    by_key = {s.key: s.alias for s in numeric}
    # Bare group-by columns are valid ORDER BY keys too — after the agg
    # they only exist under their g_<col> alias.
    for c in q.group_by:
        by_key.setdefault(c, group_alias(c))
    order = []
    used = set()
    for key, asc in q.order_by:
        alias = by_key.get(key, key)
        used.add(alias)
        col = F.col(f"`{alias}`")
        order.append(col.asc() if asc else col.desc())
    if order:
        # group keys close the order to a TOTAL one — without them a
        # LIMIT cut at a tie would return an arbitrary subset
        for c in q.group_by:
            if group_alias(c) not in used:
                order.append(F.col(f"`{group_alias(c)}`").asc())
        out = out.orderBy(*order)
    return out

