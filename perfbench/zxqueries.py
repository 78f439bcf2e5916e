"""The dashboard query mix: seeded zx-dialect queries and their DuckDB twins.

Eight templates cover time ranges (``$T_START``/``$T_END``), comparators,
``__nil`` group keys, aligned windows at several granularities,
``p50``/``heatmap``, CUBE, ORDER BY ... LIMIT and HAVING. Each op carries
the zx text sent to ``ZX.sql`` and DuckDB SQL generated from the same
parameters; ``check`` reshapes the DuckDB rows into the shape ``ZX.sql``
returns and compares with a float tolerance. The twins read a table
named ``events``.
"""

from __future__ import annotations

import json

import numpy as np

import datagen

DAY = 86400
F64_MAX = 1.7976931348623157e308

_GKEY = "coalesce(CAST({c} AS VARCHAR), '__nil')"


def _range(r) -> tuple[int, int]:
    """A seeded start and a fixed six-day length, so every seed scans and
    groups about the same number of rows."""
    a = datagen.EV_T0 + int(r.integers(0, 20)) * DAY + int(r.integers(0, DAY))
    return a, a + 6 * DAY


def _ts_range_sql(a, b) -> str:
    return f"epoch_us(ts) >= {a * 1_000_000} AND epoch_us(ts) <= {b * 1_000_000}"


def _windowed(group: str, gran: int, aggs: list[tuple[str, str]], where: str = "TRUE",
              having: str = "") -> str:
    """DuckDB twin of an aligned-window grouped aggregate: one row per
    (group, bucket) with the first/last event second of the window."""
    sel = ", ".join(f"{sql} AS \"{key}\"" for key, sql in aggs)
    return (
        f"SELECT {_GKEY.format(c=group)} AS g, epoch_us(min(ts)) / 1e6 AS ws, "
        f"epoch_us(max(ts)) / 1e6 AS we, {sel} FROM events WHERE {where} "
        f"GROUP BY g, floor(epoch_us(ts) / {gran * 1_000_000}) "
        f"{'HAVING ' + having if having else ''}"
    )


SUM = "coalesce(sum(coalesce(value, 0.0)), 0.0)"
CNT = "CAST(count(value) AS DOUBLE)"
MEAN = "sum(value) / count(value)"


def templates(r, et: str, tag: str) -> list[dict]:
    """The eight zx templates for one cycle. Each gives the zx text, the
    DuckDB twin and how to compare. The seed picks values; each template
    keeps its granularity, range length and about its selectivity, so
    the work (rows scanned, groups returned) hardly depends on the seed."""
    a, b = _range(r)
    v = round(float(r.uniform(40, 60)), 1)
    out = [
        {"name": "window_stats",
         "zx": f"select sum(value), count(value), mean(value) where $T_START >= {a} "
               f"and $T_END <= {b} group by event_type granularity 3600",
         "duck": _windowed("event_type", 3600, [("$$sum(value)", SUM), ("$$count(value)", CNT),
                                             ("$$mean(value)", MEAN)], _ts_range_sql(a, b)),
         "group": "event_type", "shape": "windowed"},
        {"name": "minmax_nil",
         "zx": f"select min(value), max(value) where value > {v} group by tag granularity 6h",
         "duck": _windowed("tag", 6 * 3600, [
             ("$$min(value)", f"coalesce(min(value), {F64_MAX!r})"),
             ("$$max(value)", f"coalesce(max(value), {-F64_MAX!r})")], f"value > {v}"),
         "group": "tag", "shape": "windowed"},
        {"name": "p50_heatmap",
         "zx": f"select p50(value), heatmap(value) where $T_START >= {a} and $T_END <= {b} "
               "group by event_type granularity 1d",
         "duck": _windowed("event_type", DAY, [
             ("$$p50(value)", "quantile_cont(value, 0.5)"),
             ("$$heatmap(value)", "[" + ", ".join(
                 f"CAST(count(*) FILTER (WHERE value IS NOT NULL AND "
                 f"least(greatest(floor(value / 100.0), 0), 9) = {i}) AS DOUBLE)"
                 for i in range(10)) + "]")], _ts_range_sql(a, b)),
         "group": "event_type", "shape": "windowed"},
        {"name": "distinct_users",
         "zx": f"select count_distinct(user_id), count(value) where event_type = '{et}' "
               "group by tag granularity 6h",
         "duck": _windowed("tag", 6 * 3600, [
             ("$$count_distinct(user_id)",
              "CAST(count(DISTINCT user_id) + max(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)"
              " AS DOUBLE)"),
             ("$$count(value)", CNT)], f"event_type = '{et}'"),
         "group": "tag", "shape": "windowed"},
        {"name": "per_user",
         "zx": f"select sum(value), count(value) where $T_START >= {a} and $T_END <= {a + 5 * DAY} "
               "group by user_id granularity 1d",
         "duck": _windowed("user_id", DAY, [("$$sum(value)", SUM), ("$$count(value)", CNT)],
                           _ts_range_sql(a, a + 5 * DAY)),
         "group": "user_id", "shape": "windowed"},
        {"name": "cube",
         "zx": f"select sum(value), count(value) where $T_START >= {a} group by cube(event_type, tag)",
         "duck": (
             f"SELECT {_GKEY.format(c='event_type')} AS g_event_type, "
             f"{_GKEY.format(c='tag')} AS g_tag, "
             f"GROUPING(g_event_type, g_tag) AS grouping_id, "
             f"coalesce(sum(coalesce(value, 0.0)), 0.0) AS sum__value, {CNT} AS count__value "
             f"FROM events WHERE epoch_us(ts) >= {a * 1_000_000} "
             "GROUP BY CUBE (g_event_type, g_tag)"),
         "shape": "rows"},
        {"name": "top_users",
         "zx": f"select mean(value), count(value) where value > {v} group by user_id "
               f"order by mean(value) desc limit {int(r.integers(5, 50))}",
         "shape": "ordered"},
        {"name": "having",
         "zx": f"select count(value), sum(value) where tag != '{tag}' group by event_type, tag "
               f"granularity 1d having count(value) > {int(r.integers(10, 20))}",
         "shape": "windowed2"},
    ]
    top = out[6]
    k = int(top["zx"].rsplit(" ", 1)[1])
    top["duck"] = (
        f"SELECT {_GKEY.format(c='user_id')} AS g_user_id, {MEAN} AS mean__value, "
        f"{CNT} AS count__value FROM events WHERE value > {v} GROUP BY g_user_id "
        f"ORDER BY mean__value DESC, g_user_id ASC LIMIT {k}")
    hv = out[7]
    n = int(hv["zx"].rsplit(" ", 1)[1])
    hv["duck"] = (
        f"SELECT {_GKEY.format(c='event_type')} AS g1, {_GKEY.format(c='tag')} AS g2, "
        f"epoch_us(min(ts)) / 1e6 AS ws, epoch_us(max(ts)) / 1e6 AS we, "
        f"{CNT} AS \"$$count(value)\", {SUM} AS \"$$sum(value)\" FROM events "
        f"WHERE tag != '{tag}' GROUP BY g1, g2, floor(epoch_us(ts) / {DAY * 1_000_000}) "
        f"HAVING count(value) > {n}")
    return out


def make_ops(seed: int, cycle: int) -> list[dict]:
    """The read ops of one cycle, in a fixed order; the seed picks every
    parameter, so the same seed gives the same list."""
    r = np.random.default_rng([seed, 77, cycle])
    et = str(r.choice(datagen.EVENT_TYPES))
    tag = str(r.choice(datagen.TAGS))
    return templates(r, et, tag)


def _num(v):
    return int(v) if v is not None and float(v).is_integer() else v


def shape_duck(op: dict, cols: list[str], rows: list) -> object:
    """DuckDB rows → the shape ``ZX.sql`` returns for this op."""
    if op["shape"] in ("rows", "ordered"):
        return [dict(zip(cols, r)) for r in rows]
    ngroups = 2 if op["shape"] == "windowed2" else 1
    names = ["event_type", "tag"] if ngroups == 2 else [op["group"]]
    rows = sorted(rows, key=lambda r: tuple(str(x) for x in r[:ngroups]) + (r[ngroups],))
    out: dict = {}
    for r in rows:
        gk = json.dumps(dict(zip(names, r[:ngroups])), sort_keys=True)
        slot = out.setdefault(gk, {})
        for key, val in zip(cols[ngroups + 2:], r[ngroups + 2:]):
            agg = slot.setdefault(key, {"data": [], "window_starts": [], "window_ends": []})
            agg["data"].append(list(val) if isinstance(val, (list, tuple)) else val)
            agg["window_starts"].append(_num(r[ngroups]))
            agg["window_ends"].append(_num(r[ngroups + 1]))
    return out


def _canon_rows(rows: list[dict]) -> list[dict]:
    return sorted(rows, key=lambda d: json.dumps(d, sort_keys=True, default=str))


def check(op: dict, got, con) -> str | None:
    from checks import close

    cur = con.execute(op["duck"])
    want = shape_duck(op, [d[0] for d in cur.description], cur.fetchall())
    if op["shape"] == "rows":
        got, want = _canon_rows(got), _canon_rows(want)
    if op["shape"] == "ordered":
        # ties on the order key may come back in either order
        key = lambda d: (-round(d["mean__value"], 6), d["g_user_id"])  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    if not close(got, want):
        return f"{op['name']}: result differs from DuckDB"
    return None


def verify(recs: list[dict], con, failures: list[str]) -> None:
    """Check each op record's result; a wrong answer fails the op."""
    for rec in recs:
        problem = check(rec["spec"], rec.pop("result"), con)
        if problem:
            rec["ok"] = False
            failures.append(problem)
