"""Output checks against DuckDB, run once per run outside the timed window."""

from __future__ import annotations

import math


def duck(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def close(a, b, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    """Recursive equality with a float tolerance (Spark and DuckDB sum
    floats in different orders)."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k], rel, abs_) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(close(x, y, rel, abs_) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)
    return a == b


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "timestamp"):
        return round(v.timestamp(), 6)
    return v


def rowset(cols: list[str], rows) -> list[str]:
    """Order-insensitive exact row multiset, columns matched by name (the
    registry's own oracle comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)


def same_rows(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when equal, else a short description of the difference."""
    if len(spark_rows) != len(duck_rows):
        return f"rows {len(spark_rows)} vs {len(duck_rows)}"
    if sorted(spark_cols) != sorted(duck_cols):
        return f"cols {sorted(spark_cols)} vs {sorted(duck_cols)}"
    a, b = rowset(spark_cols, spark_rows), rowset(duck_cols, duck_rows)
    if a != b:
        return f"values differ, e.g. {[(x, y) for x, y in zip(a, b) if x != y][:2]}"
    return None
