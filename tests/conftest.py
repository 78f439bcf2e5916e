"""Shared Spark session for the test suite (one JVM for the whole run)."""

from __future__ import annotations

import os

import pytest

from zx_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("ZX_SHUFFLE_PARTITIONS", "4")
    s = get_spark("zx_spark_tests")
    yield s


@pytest.fixture(scope="session")
def registry_frames(spark):
    """Session-memoized driver-registry (+ bench-compat) DataFrames at
    sf0.01 — the registry PLAN sweeps (broadcast attestation audit,
    broadcast bound audit) each need every query's frame, and several
    builders run eager construction jobs (IVF store fits, profile
    collects, tmp-store stream drains) that cost tens of seconds per
    sweep. Building each name ONCE per session instead of once per
    sweeping test cut the r14 VERIFY budget blowout (~36 min suite;
    VERDICT r14 item 1). Plan analysis on a shared frame is pure —
    sweeps only read queryExecution, never mutate."""
    import __spark_entry__ as entry

    qs = dict(entry.queries())
    for k, v in entry.BENCH_COMPAT.items():
        qs.setdefault(k, v)
    cache: dict = {}

    def get(name: str):
        if name not in cache:
            cache[name] = qs[name](spark, "/root/testdata/sf0.01")
        return cache[name]

    get.names = sorted(qs)
    return get


def drain_memory_sink(out, name: str, checkpoint_dir: str, output_mode: str = "append", timeout_s: int = 120):
    """Shared availableNow drain into a memory table (the streaming test
    pattern repeated across test files — one definition here)."""
    (
        out.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(timeout_s)
    )
    return out.sparkSession.table(name)


def count_jobs(spark, group: str, fn):
    """Run ``fn()`` under a DEDICATED job group and return ``(jobs, result)``.
    Counting the global job list flakes under the full suite when an
    unrelated background job lands mid-test (the r9 full-run flake)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        # setJobGroup("", "") would SET the group to "" (Scala only
        # clears on null), leaving every later job in group "" and
        # invisible to other tests' getJobIdsForGroup(None) counts
        # (test_spans' no-eager-jobs assertion) — clear ALL THREE
        # properties setJobGroup sets with real nulls instead
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    return len(sc.statusTracker().getJobIdsForGroup(group) or []), result


def pin_file_mtimes_by_event_time(src: str, ts_col: str = "ts") -> None:
    """Order a file-source directory's trigger sequence by EVENT time:
    part-file names don't reflect append order, so maxFilesPerTrigger
    tests pin mtimes from each file's min timestamp. One shared
    definition — the driver-arm staging uses the same helper."""
    from zx_spark.util import pin_file_mtimes_by_min_value

    pin_file_mtimes_by_min_value(src, ts_col)
