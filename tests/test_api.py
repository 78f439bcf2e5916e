"""ZX facade tests — command-level parity (ZX.SQL / ZX.I / flushall / ZX.T)
and GRANULARITY duration units."""

from __future__ import annotations

import json

import pytest

from zx_spark.api import ZX
from zx_spark.sqlshim import parse_zx_sql
from zx_spark.sqlshim.translate import ZxSqlError
from zx_spark.storage import zx_fixture


def test_sql_returns_reference_json_shape(spark):
    zx = ZX(spark, events_df=zx_fixture(spark), granularity_s=15)
    out = zx.sql("select sum(foo) group by y")
    assert out[json.dumps({"y": "9"})]["$$sum(foo)"]["data"] == [1400.0]
    assert set(out) == {json.dumps({"y": v}) for v in ("1", "9", "__nil")}


def test_sql_raw_and_ordered_return_rows(spark):
    zx = ZX(spark, events_df=zx_fixture(spark), granularity_s=15)
    raw = zx.sql("select foo where foo > 800")
    assert sorted(r["foo"] for r in raw) == ["1000", "900"]
    ordered = zx.sql("select mean(foo) group by y order by mean(foo) desc")
    assert [r["mean__foo"] for r in ordered] == [700.0, 571.4285714285714, 100.0]


def test_insert_flush_roundtrip(spark, tmp_path):
    path = str(tmp_path / "store")
    zx = ZX(spark, events_path=path, rate_col=None)
    zx.i(ts=100.0, foo="1", y="a")
    zx.i(ts=101.0, foo="2", y="a")
    out = zx.sql("select sum(foo) group by y")
    assert out[json.dumps({"y": "a"})]["$$sum(foo)"]["data"] == [3.0]
    ids = {r["id"] for r in zx.events().select("id").collect()}
    assert ids == {1, 2}  # INCR LAST-ID analog
    zx.flushall(schema=zx.events().schema)
    assert zx.events().count() == 0


def test_insert_into_day_partitioned_store(spark, tmp_path):
    """ZX.i appends in the store's own layout: into a write_events store
    (event_date= directories) the row lands in its day directory, where
    reads and compact_store see it — a root-level part file beside the
    partition directories would be silently ignored by both."""
    import datetime as dt

    from zx_spark.storage import compact_store, write_events

    path = str(tmp_path / "day_store")
    t0 = dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)
    base = spark.createDataFrame(
        [(i, t0 + dt.timedelta(days=i % 2), str(i)) for i in range(1, 5)],
        "id long, ts timestamp, foo string",
    )
    write_events(base, path)
    zx = ZX(spark, events_path=path, rate_col=None)
    zx.i(ts=(t0 + dt.timedelta(days=2)).timestamp(), foo="7")

    def n_rows():
        res = zx.sql("select count(foo) granularity 1d")
        return sum(sum(v["$$count(foo)"]["data"]) for v in res.values())

    assert n_rows() == 5
    assert compact_store(spark, path)["rows"] == 5
    assert n_rows() == 5
    assert {r["foo"] for r in zx.events().collect()} == {"1", "2", "3", "4", "7"}


def test_session_skips_dataframe_debugging(spark):
    """get_spark() turns off PySpark's per-Column call-site capture (a
    stack walk and several JVM round trips per F.* call)."""
    from zx_spark.session import get_spark

    assert get_spark().conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_t_golden_selfcheck(spark):
    assert ZX(spark, events_df=zx_fixture(spark)).t() == "OK"


def test_granularity_units():
    assert parse_zx_sql("select count(x) granularity 5m").granularity_s == 300.0
    assert parse_zx_sql("select count(x) granularity 1h").granularity_s == 3600.0
    assert parse_zx_sql("select count(x) granularity 500ms").granularity_s == 0.5
    assert parse_zx_sql("select count(x) granularity 15").granularity_s == 15.0
    with pytest.raises(ZxSqlError):
        parse_zx_sql("select count(x) granularity soon")


def test_insert_casts_to_store_types(spark, tmp_path):
    """An insert whose inferred type disagrees with the store column
    (int into a STRING column) must be CAST on write — appending the raw
    int64 file would make every later mergeSchema read of the store fail."""
    path = str(tmp_path / "cast_store")
    zx = ZX(spark, events_path=path, rate_col=None)
    zx.i(ts=100.0, foo="1")        # store establishes foo STRING
    zx.i(ts=101.0, foo=2)          # int literal -> must be cast to STRING
    vals = {r["foo"] for r in zx.events().select("foo").collect()}
    assert vals == {"1", "2"}


def test_flushall_preserves_store_schema(spark, tmp_path):
    """flushall() without a schema must keep the store's OWN columns, not
    replace them with the fixture schema."""
    path = str(tmp_path / "custom_store")
    zx = ZX(spark, events_path=path, rate_col=None)
    zx.i(ts=100.0, my_custom_col="v")
    zx.flushall()
    cols = set(zx.events().columns)
    assert "my_custom_col" in cols
    assert zx.events().count() == 0


def test_sparse_insert_columns_survive(spark, tmp_path):
    # A column present only in earlier files must not vanish when later
    # sparse inserts append files without it (ADVICE r2: mergeSchema +
    # null-filled insert rows).
    path = str(tmp_path / "sparse_store")
    zx = ZX(spark, events_path=path, rate_col=None)
    zx.i(ts=100.0, foo="1", rare="only_here")
    zx.i(ts=101.0, foo="2")
    cols = set(zx.events().columns)
    assert "rare" in cols
    vals = {r["rare"] for r in zx.events().select("rare").collect()}
    assert vals == {"only_here", None}


def test_sql_cube_returns_row_dicts(spark):
    """r7 review: ZX.sql() used to route CUBE/ROLLUP queries into
    shape_result, which reads row["window_start"] — a column the
    multidim frame doesn't have -> ValueError. group_mode queries must
    take the row-dict path like RAW/ordered queries do."""
    zx = ZX(spark, events_df=zx_fixture(spark), granularity_s=15)
    rows = zx.sql("select sum(foo) group by cube(x, y)")
    assert isinstance(rows, list) and rows
    assert set(rows[0]) == {"g_x", "g_y", "grouping_id", "sum__foo"}
    # grand total row present (grouping_id == 3 for 2 dims)
    assert any(r["grouping_id"] == 3 for r in rows)
    # and the plain-dialect JSON shape is unaffected
    shaped = zx.sql("select sum(foo) group by y")
    assert isinstance(shaped, dict)
