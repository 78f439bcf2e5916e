"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that also
matter on a real cluster (AQE, adaptive skew join, Arrow for the few Pandas-UDF
operators, UTC session time for oracle comparability). Shuffle partitioning is
sized by ``ZX_SHUFFLE_PARTITIONS`` (default: number of local cores) — at 100 TB
a deployment would raise it (or rely on AQE coalescing, which is enabled).

``spark.python.sql.dataFrameDebugging.enabled`` is off. PySpark 4.1 turns it
on by default, and then every ``F.*`` call and Column operator records its
Python call site: a stack walk plus about four extra JVM round trips
(active-session lookup, a class lookup, a conf read, origin set/clear).
Building the ``dedup_minhash_pairs_v3`` row at sf0.01 takes about 9.6k
py4j calls with it on and about 3.6k with it off, and driver-side plan
construction is the largest layer of the curation rows. The cost of
turning it off: an AnalysisException's query context no longer names the
Python line that built the failing expression (the message and error
class are unchanged).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "zx_spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    shuffle = os.environ.get("ZX_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Stats-based optimization: with ANALYZEd catalog tables
        # (storage.register_views with_stats) CostBasedJoinReorder owns
        # the join order of passthrough SQL regardless of how the user
        # wrote the FROM clause (SCALE.md r11/r12: the dim-first Q5
        # cliff). No-ops on plans without rowCount statistics.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata stores INT64 TIMESTAMP(NANOS) parquet; Spark reads
        # it as bigint nanos with this flag (storage.read_table normalizes to
        # a micros TIMESTAMP, matching DuckDB's nanos→micros truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive-micros parquet timestamps (isAdjustedToUTC=false) read as
        # plain TimestampType (session tz = UTC) instead of TIMESTAMP_NTZ:
        # no cast nodes in plans, epoch casts legal, DuckDB-identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("ZX_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # static conf: no per-Column Python call-site capture (module
        # docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
