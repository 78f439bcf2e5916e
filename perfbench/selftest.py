"""Self-tests of the benchmark itself (not of zx_spark).

    python3 perfbench/selftest.py

Run from the repository root; takes about a minute at local[<cores>].
Checks that:

- the same seed gives the same operation lists and inputs, and another
  seed gives different ones;
- every timed action keeps all output columns: the optimized plan of
  each timed frame outputs ``len(df.columns)`` attributes (a ``.count()``
  would prune it to one);
- ``spark.task_s`` is summed executorRunTime: a 32-partition scan at
  local[<cores>] gives task time >= its wall time;
- an injected wrong answer is counted as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback


def seed_determinism(h, work) -> None:
    import datagen
    import zxqueries
    from wl_ingest import Ingest

    assert zxqueries.make_ops(1, 0) == zxqueries.make_ops(1, 0)
    assert zxqueries.make_ops(1, 0) != zxqueries.make_ops(2, 0)
    for make in (lambda s: datagen.events(s, 2000, tag=True),
                 lambda s: datagen.documents(s, 300)):
        assert make(1).equals(make(1)) and not make(1).equals(make(2))
    b1 = Ingest(h, work).batch(3)
    assert b1.equals(Ingest(h, work).batch(3))
    h.seed = 2
    assert not b1.equals(Ingest(h, work).batch(3))
    h.seed = 1


def _events_zx(h, work):
    """A read-only ZX over a small seeded events table, and DuckDB on it."""
    import datagen
    from checks import duck
    from zx_spark.api import ZX

    datagen.write({"events": datagen.events(1, 5000, tag=True)}, f"{work}/ev")
    ev = h.spark.read.parquet(f"{work}/ev/events.parquet")
    return ZX(h.spark, events_df=ev, id_col="event_id", rate_col=None), duck(f"{work}/ev", ["events"])


def full_materialization(h, work) -> None:
    import wl_curation
    import zxqueries

    cur = wl_curation.Curation(h, f"{work}/cur")
    cur.sf = 0.001
    cur.generate()
    frames = [(n, fn(h.spark, cur.data)) for n, fn in wl_curation.registry().items()]
    zx, _ = _events_zx(h, work)
    frames += [(op["name"], zx.df(op["zx"])) for op in zxqueries.make_ops(1, 0)]
    for name, df in frames:
        out = df._jdf.queryExecution().optimizedPlan().output().size()
        assert out == len(df.columns), f"{name}: plan outputs {out} of {len(df.columns)}"
        counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().output().size()
        assert counted == 1, name


def task_time(h, work) -> None:
    from pyspark.sql import functions as F

    h.trace_run = h.traced = True
    df = h.spark.range(0, 8_000_000, numPartitions=32).select(
        F.sum(F.xxhash64(F.sha2(F.col("id").cast("string"), 256)) % 7).alias("s"))
    with h.op("scan32") as rec:
        t0 = time.perf_counter()
        df.repartition(32).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    h.trace_run = h.traced = False
    assert rec["ok"], h.failures
    task_s = rec["spark"]["task_s"]
    assert rec["spark"]["tasks"] >= 32, rec["spark"]
    assert task_s >= wall, f"task_s {task_s:.2f} < wall {wall:.2f}"


def wrong_answer_counted(h, work) -> None:
    import zxqueries

    zx, con = _events_zx(h, work)
    h.ops, h.failures = [], []
    for op in zxqueries.make_ops(1, 0)[:2]:
        with h.op(op["name"]) as rec:
            rec["result"], rec["spec"] = zx.sql(op["zx"]), op
    first = next(iter(h.ops[0]["result"].values()))
    first[next(iter(first))]["data"][0] += 1.0  # the injected wrong answer
    zxqueries.verify(h.ops, con, h.failures)
    assert [o["ok"] for o in h.ops] == [False, True], h.failures
    assert sum(not o["ok"] for o in h.ops) == 1


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("ZX_DRIVER_MEMORY", "2g")
    from harness import Harness

    h = Harness("selftest", 1, 1.0, False, work)
    failed = 0
    try:
        h.start_session()
        for test in (seed_determinism, full_materialization, task_time, wrong_answer_counted):
            try:
                test(h, work)
                print(f"PASS {test.__name__}")
            except Exception:
                failed += 1
                print(f"FAIL {test.__name__}")
                traceback.print_exc()
    finally:
        h.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
