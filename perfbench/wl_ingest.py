"""``ingest``: appends, a streaming rollup and inserts beside dashboard reads.

Set-up stages a base of 50k events twice: into a day-partitioned raw
store through ``storage.write_events``, and through the rollup stream.
One cycle is one out-of-order micro-batch of 2,500 events:

- ``append``: the batch lands as a file in the stream's source
  directory and is appended to the raw store with ``write_events``;
- ``drain``: a ``rollup_sink`` stream (available-now trigger) drains the
  new file into an epoch-keyed rollup store;
- ``query``: a zx query on the raw store (``ZX.sql``) must count every
  appended row;
- ``rollup_read``: ``read_merged_rollup`` must count every drained row;
- an ``insert`` op (``ZX.i``) into a separate unpartitioned store;
- four of the eight seeded dashboard queries of ``zxqueries`` on the raw
  store (the other four in the next pass);
- ``compact``: ``compact_store`` on the raw store, so every pass does
  about the same work.

Freshness is the time from the start of a batch's append until both
reads include it. Counts and value sums are checked against the batches
the client generated, and once more with DuckDB at the end; each
dashboard query is checked with DuckDB on the exact files the store held
when it ran (the base and the batches appended so far).
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import zxqueries

BASE_ROWS = 50_000
BATCH_ROWS = 2_500
CYCLES = 3
SCHEMA = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
          "value DOUBLE, props STRING, tag STRING")
QUERY = (f"select count(value), sum(value) where $T_START >= {datagen.EV_T0} "
         "group by event_type granularity 1d")


class Ingest:
    def __init__(self, h, data_dir: str):
        self.h, self.data = h, data_dir
        self.store = os.path.join(h.work, "store")
        self.inserts = os.path.join(h.work, "inserts")
        self.landing = os.path.join(h.work, "landing")
        self.rollup = os.path.join(h.work, "rollup")
        self.ckpt = os.path.join(h.work, "ckpt")
        self.fresh: list[float] = []
        self.appended = 0

    def generate(self) -> None:
        datagen.write({"base": datagen.events(self.h.seed, BASE_ROWS, tag=True)}, self.data)

    def batch(self, k: int):
        """Batch ``k``: new ids after the base, random (unsorted) ts."""
        t = datagen.events(self.h.seed, BATCH_ROWS, first_id=BASE_ROWS + k * BATCH_ROWS,
                           tag=True, part=k + 1)
        order = np.random.default_rng([self.h.seed, 5, k]).permutation(BATCH_ROWS)
        return t.take(order)

    def stage(self, h) -> None:
        from zx_spark.api import ZX
        from zx_spark.storage import write_events

        for d in (self.store, self.inserts, self.landing, self.rollup, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.landing)
        shutil.copy(f"{self.data}/base.parquet", f"{self.landing}/base.parquet")
        with h.setup_part("storage.append"):
            write_events(h.spark.read.parquet(f"{self.landing}/base.parquet"), self.store)
        with h.setup_part("streaming.drain"):
            self.drain()
        self.zx = ZX(h.spark, events_path=self.store, id_col="event_id", rate_col=None)
        self.zx_ins = ZX(h.spark, events_path=self.inserts, id_col="event_id", rate_col=None)

    def run(self) -> tuple[float, float]:
        self.h.setup(self.stage)
        self.expect_rows, self.expect_sum = BASE_ROWS, float(
            pq.read_table(f"{self.data}/base.parquet", columns=["value"])["value"]
            .to_numpy().sum())
        self.drained, self.drained_sum = self.expect_rows, self.expect_sum
        self.n_inserts = 0
        if self.h.trace_run:
            self.h.trace_zx()
        return self.h.run_cycles(self.cycle, min_cycles=CYCLES)

    def cycle(self, k: int) -> None:
        from pyspark.sql import functions as F

        from zx_spark.operators.rollup import read_merged_rollup
        from zx_spark.storage import compact_store, write_events

        h, spark = self.h, self.h.spark
        batch = self.batch(k)
        vsum = float(batch["value"].to_numpy().sum())
        t_start = time.perf_counter()
        with h.op("append"):
            path = f"{self.landing}/batch-{k:05d}.parquet"
            pq.write_table(batch, path)
            with h.span("storage.append"):
                write_events(spark.read.parquet(path), self.store)
            if not h.warming:
                self.appended += BATCH_ROWS
        self.expect_rows += BATCH_ROWS
        self.expect_sum += vsum

        with h.op("drain") as rec:
            with h.span("streaming.drain"):
                q = self.drain()
            rec["extra_groups"] = [str(q.runId)]
            prog = q.recentProgress
            h.count("stream_batch_s", sum(p["durationMs"].get("triggerExecution", 0)
                                          for p in prog) / 1e3)
            h.count("stream_rows", sum(p["numInputRows"] for p in prog))
        self.drained += BATCH_ROWS
        self.drained_sum += vsum

        with h.op("query") as rec:
            res = self.zx.sql(QUERY)
            n = sum(sum(v["$$count(value)"]["data"]) for v in res.values())
            s = sum(sum(v["$$sum(value)"]["data"]) for v in res.values())
            rec["ok"] = self._match(n, s, self.expect_rows, self.expect_sum, "raw store")

        with h.op("rollup_read") as rec:
            with h.span("streaming.rollup_read"):
                row = read_merged_rollup(spark, self.rollup, ["event_type"]).agg(
                    F.sum("n_rows").alias("n"), F.sum("value__sum_wx").alias("s")).collect()[0]
            rec["ok"] = self._match(row["n"], row["s"], self.drained, self.drained_sum, "rollup")
        if not h.warming:
            self.fresh.append(time.perf_counter() - t_start)

        r = np.random.default_rng([self.h.seed, 9, k])
        with h.op("insert"):
            with h.span("storage.insert"):
                self.zx_ins.i(
                    ts=float(datagen.EV_T0 + int(r.integers(0, datagen.EV_DAYS * 86400))),
                    event_type=str(r.choice(datagen.EVENT_TYPES)),
                    value=round(float(r.uniform(0, 100)), 2),
                    user_id=int(r.integers(0, 1500)), props='{"k": 1}')
        self.n_inserts += 1

        # half of the eight templates per timed pass (the halves alternate
        # and cost about the same), so three timed passes fit in a run; the
        # warm-up pass runs all eight
        specs = zxqueries.make_ops(self.h.seed, k)
        for spec in specs if h.warming else specs[k % 2::2]:
            with h.op(spec["name"]) as rec:
                rec["result"], rec["spec"], rec["batches"] = self.zx.sql(spec["zx"]), spec, k + 1

        with h.op("compact") as rec:
            with h.span("storage.compact"):
                out = compact_store(spark, self.store, target_file_mb=8.0)
            h.count("rewrite_mb", out["bytes"] / 2**20)
            rec["ok"] = out["rows"] == self.expect_rows

    def drain(self):
        """Drain every new landing file into the rollup store."""
        from zx_spark.operators.rollup import rollup_sink
        from zx_spark.streaming.windowed import stream_events

        q = rollup_sink(stream_events(self.h.spark, self.landing, SCHEMA), self.rollup,
                        ["value"], ["event_type"], granularity_s=3600, rate_col=None,
                        checkpoint_dir=self.ckpt, available_now=True)
        q.awaitTermination()
        return q

    def _match(self, n, s, want_n, want_s, what: str) -> bool:
        if n == want_n and abs(s - want_s) <= 1e-9 * abs(want_s) + 1e-6:
            return True
        self.h.failures.append(f"{what}: {n} rows / sum {s}, expected {want_n} / {want_s}")
        return False

    def verify(self) -> None:
        """DuckDB re-reads the stores from disk, and re-runs every
        dashboard query on the files the store held when it ran."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        checks = [
            (f"SELECT count(*), sum(value) FROM read_parquet('{self.store}/**/*.parquet', "
             "hive_partitioning = true)", self.expect_rows, self.expect_sum, "raw store"),
            (f"SELECT sum(n_rows), sum(value__sum_wx) FROM read_parquet('{self.rollup}/**/*.parquet')",
             self.drained, self.drained_sum, "rollup store"),
        ]
        for sql, want_n, want_s, what in checks:
            n, s = con.execute(sql).fetchone()
            if not self._match(n, s, want_n, want_s, f"duckdb {what}"):
                self.h.ops[-1]["ok"] = False
        n, ids = con.execute(
            f"SELECT count(*), count(DISTINCT event_id) FROM read_parquet('{self.inserts}/*.parquet')"
        ).fetchone()
        if n != self.n_inserts or ids != n:
            self.h.failures.append(f"inserts: {n} rows, {ids} ids, expected {self.n_inserts}")
            self.h.ops[-1]["ok"] = False
        reads = [r for r in self.h.ops if "spec" in r and r["ok"]]
        for k in sorted({r["batches"] for r in reads}):
            files = [f"{self.landing}/base.parquet"] + [
                f"{self.landing}/batch-{i:05d}.parquet" for i in range(k)]
            con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet({files})")
            zxqueries.verify([r for r in reads if r["batches"] == k], con, self.h.failures)

    def layer_metrics(self, window) -> dict:
        return {
            "ingest_rows_per_s": (self.appended / (window[1] - window[0]), "1/s"),
            "freshness_p50_s": (statistics.median(self.fresh), "s"),
            "storage.files": (
                len(glob.glob(f"{self.store}/**/*.parquet", recursive=True)), "count"),
        }
