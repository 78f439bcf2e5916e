"""Run loop, timing and tracing shared by the workloads.

One closed-loop client: operations run one after another on the calling
thread. Each operation gets its own Spark job group, so the jobs it
launched (eager construction jobs included) can be read back from the
status store afterwards.

Untraced runs time whole operations only. A traced run additionally
records spans (name, start, end, parent, operation id) at each layer
boundary, reads per-stage task metrics for every operation's job group,
and wraps the public entry points that ``ZX.sql`` calls internally
(``parse_zx_sql``, ``ZX.df``, ``ZX.events``, ``shape_result``,
``DataFrame.collect``) so their time is attributed from outside. Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import resource
import statistics
import subprocess
import time
from collections import defaultdict

_PY_RUN_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Harness:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace_run = self.traced = traced
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS", self.nproc))  # Spark's local[N]
        self.spark = None
        self.ops: list[dict] = []        # every timed operation
        self.cycles: list[dict] = []     # one record per pass over the op list
        self.setups: list[dict] = []
        self.warmup_s = 0.0  # the untimed warm-up pass
        self.warming = False
        self.spans: list[tuple] = []     # (name, start, end, parent, op_id)
        self.counters: dict[str, float] = defaultdict(float)
        self.failures: list[str] = []
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._unpatch: list = []

    # ------------------------------------------------------------ session

    def start_session(self):
        """(Re)start the Spark session. The JVM survives ``stop()``, so
        only the first start pays the JVM launch."""
        from zx_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        local = os.path.join(self.work, "spark-local")
        self.spark = get_spark(f"perfbench-{self.workload}", {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
        return self.spark

    def stop(self):
        """Stop Spark, then the JVM (it exits when its stdin closes), and
        wait for it to end."""
        from pyspark import SparkContext

        for undo in self._unpatch:
            undo()
        self._unpatch = []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()
            proc.wait(timeout=60)

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the JVM (VmHWM)."""
        mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024.0
        return mb

    # ------------------------------------------------------------ timing

    def setup(self, stage, repeats: int = 3) -> None:
        """Run ``stage(harness)`` ``repeats`` times, each after a fresh
        session start; setup_s reports the median."""
        for _ in range(repeats):
            self.setups.append({})
            t0 = time.perf_counter()
            with self.span("session.start"):
                self.start_session()
            self.setups[-1]["session"] = time.perf_counter() - t0
            stage(self)
            self.setups[-1]["total"] = time.perf_counter() - t0

    @contextlib.contextmanager
    def setup_part(self, name: str):
        """Time one named part of the current set-up (and span it)."""
        t0 = time.perf_counter()
        with self.span(name):
            yield
        self.setups[-1][name] = time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self._op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextlib.contextmanager
    def op(self, kind: str, **info):
        """One timed operation. The body may set ``rec["ok"] = False`` or
        raise; either way the op counts as failed."""
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.ops)}"
        sc.setJobGroup(group, f"{self.workload}:{kind}")
        rec = {"kind": kind, "ok": True, "group": group, "traced": self.traced, **info}
        self._op_id = len(self.ops)
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield rec
        except Exception as e:  # counted, reported, and the run goes on
            rec["ok"] = False
            self.failures.append(f"{kind} {info}: {type(e).__name__}: {str(e)[:300]}")
        rec["wall"] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        self._op_id = None
        self.ops.append(rec)
        if self.traced:
            jobs = set(self.jobs(group))
            for g in rec.pop("extra_groups", []):
                jobs |= set(self.jobs(g))
            eager = set(rec.pop("eager_jobs", []))
            rec["spark"] = self.stage_stats(jobs)
            self.counters["eager_jobs"] += len(eager)
            self.counters["exec_task_s"] += self.stage_stats(jobs - eager)["task_s"]

    def count(self, key: str, value: float) -> None:
        """Add to a per-layer counter; counted in traced cycles only."""
        if self.traced:
            self.counters[key] += value

    def run_cycles(self, make_cycle, min_cycles: int = 1) -> tuple[float, float]:
        """Run one untimed warm-up pass over the op list (its ops are
        checked but left out of the metrics), then repeat whole passes
        (at least ``min_cycles``) until ``seconds`` have elapsed. A
        traced run makes at least four timed passes,
        untraced-traced-traced-untraced, so the tracing overhead is
        measured in the same run with warm-up drift cancelled.
        Returns (window start, window end)."""
        self.traced, self.warming = False, True
        c0 = time.perf_counter()
        make_cycle(0)
        self.warmup_s = time.perf_counter() - c0
        for o in self.ops:
            o["warm"] = True
        self.warming = False
        start = time.perf_counter()
        while len(self.cycles) < max(min_cycles, 4 if self.trace_run else 1) \
                or time.perf_counter() - start < self.seconds:
            self.traced = self.trace_run and len(self.cycles) % 4 in (1, 2)
            n0 = len(self.ops)
            c0 = time.perf_counter()
            make_cycle(len(self.cycles) + 1)
            self.cycles.append({"wall": time.perf_counter() - c0,
                                "ops": range(n0, len(self.ops)), "traced": self.traced})
        self.traced = self.trace_run
        return start, time.perf_counter()

    # ------------------------------------------------------------ spark stats

    def jobs(self, group: str | None = None) -> list[int]:
        """Job ids of a job group (default: the running op's group)."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        group = group or sc.getLocalProperty("spark.jobGroup.id")
        return list(sc.statusTracker().getJobIdsForGroup(group))

    def stage_stats(self, jobs: set[int]) -> dict:
        """Sum per-stage task metrics over the given jobs
        (executorRunTime, not executor-busy wall time)."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = dict.fromkeys(
            ["stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_mb",
             "spill_mb", "input_mb"], 0.0)
        out["jobs"] = len(jobs)
        seen = set()
        for jid in sorted(jobs):
            try:
                sids = store.job(jid).stageIds()
            except Exception:
                continue
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                out["input_mb"] += st.inputBytes() / 2**20
        out["py_eval_s"] = self._python_eval_s(jobs)
        return out

    def _python_eval_s(self, jobs: set[int]) -> float:
        """The "time to run Python workers" SQL metric of the Python-eval
        plan nodes (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas,
        ...) of the SQL executions that ran the given jobs."""
        if not jobs:
            return 0.0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        execs = sql.executionsList(max(0, n - 64), 64)
        total = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = ex.jobs().keySet()
            it = ex_jobs.iterator()
            if not any(int(it.next()) in jobs for _ in range(ex_jobs.size())):
                continue
            values = ex.metricValues()
            if values is None:
                continue
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for j in range(nodes.size()):
                ms = nodes.apply(j).metrics()
                for m in range(ms.size()):
                    met = ms.apply(m)
                    if met.name() != _PY_RUN_METRIC:
                        continue
                    v = values.get(met.accumulatorId())
                    if v.isDefined():
                        total += _parse_total(v.get())
        return total

    # ------------------------------------------------------------ patches

    def trace_zx(self):
        """Attribute the layers inside ``ZX.sql``/``ZX.i`` from outside:
        span the public functions they call."""
        import zx_spark.api as api
        import zx_spark.result as result

        self.patch(api, "parse_zx_sql", "sqlshim.parse")
        self.patch(api.ZX, "df", "compiler.build")
        self.patch(api.ZX, "events", "storage.schema")
        self.patch(result, "shape_result", "result.shape")
        self.trace_collect()

    def patch(self, owner, attr: str, span_name: str):
        """Wrap ``owner.attr`` in a span for the rest of the run."""
        orig = getattr(owner, attr)
        h = self

        def wrapped(*a, **k):
            with h.span(span_name):
                return orig(*a, **k)

        setattr(owner, attr, wrapped)
        self._unpatch.append(lambda: setattr(owner, attr, orig))

    def trace_collect(self):
        """Split every ``DataFrame.collect`` into planning (forcing the
        executed plan) and execution, and count the rows it returns."""
        cls = type(self.spark.range(1))
        orig = cls.collect
        h = self

        def collect(df):
            with h.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with h.span("spark.exec"):
                rows = orig(df)
            h.count("result_rows", len(rows))
            return rows

        cls.collect = collect
        self._unpatch.append(lambda: setattr(cls, "collect", orig))

    # ------------------------------------------------------------ metrics

    def layer_self_times(self, ops: set[int]) -> dict[str, float]:
        """Self time per span name, over the spans of the given ops."""
        child = defaultdict(float)
        for name, s, e, parent, op_id in self.spans:
            if parent is not None and op_id in ops:
                child[parent] += e - s
        out = defaultdict(float)
        for i, (name, s, e, parent, op_id) in enumerate(self.spans):
            if op_id in ops:
                out[name] += (e - s) - child[i]
        return out

    def end_to_end(self, window: tuple[float, float]) -> dict:
        done = [o for o in self.ops if o["ok"] and not o.get("warm")]
        lat = [o["wall"] for o in done] or [float("nan")]
        elapsed = window[1] - window[0]
        setup = [s["total"] for s in self.setups]
        # medians over passes and set-ups, so a short stall on a shared
        # host moves one sample, not the result
        m = {
            "setup_s": (statistics.median(setup), "s"),
            "job_s": (statistics.median(c["wall"] for c in self.cycles), "s"),
        }
        # Single-op latencies move with the host from run to run more than
        # a whole pass does (p90 also has too few samples beyond it), and
        # ops/s is ops per pass / job_s: they are reported per layer or in
        # the run record, not bounded.
        self.op_p50_s, self.op_p90_s = quantile(lat, 0.5), quantile(lat, 0.9)
        self.ops_per_s = len(done) / elapsed
        self.samples = {"op_p50_s": len(lat), "op_p90_s": len(lat),
                        "job_s": len(self.cycles), "setup_s": len(setup)}
        return m

    def per_layer(self, extra: dict) -> dict:
        """Per-layer metrics of the traced passes, per pass; ``extra``
        holds the workload's own (the rest default to 0)."""
        traced = [c for c in self.cycles if c["traced"]]
        untraced_job_s = statistics.median(c["wall"] for c in self.cycles if not c["traced"])
        ops = {i for c in traced for i in c["ops"]}
        n = len(traced)
        st = self.layer_self_times(ops)
        spark = defaultdict(float)
        for i in ops:
            for k, v in self.ops[i].get("spark", {}).items():
                spark[k] += v
        wall = sum(self.ops[i]["wall"] for i in ops)
        named = sum(v for k, v in st.items() if not k.startswith("op."))
        exec_s = st.get("spark.exec", 0.0)
        job_s = statistics.median(c["wall"] for c in traced)
        attempted = len(self.ops)
        c = self.counters
        m = {
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
            "op_p50_s": (self.op_p50_s, "s"),
            "op_p90_s": (self.op_p90_s, "s"),
            "session.start_s": (statistics.median(s["session"] for s in self.setups), "s"),
            "storage.views_s": (statistics.median(s.get("storage.views", 0.0) for s in self.setups),
                                "s"),
            "sqlshim.parse_s": (st.get("sqlshim.parse", 0.0) / n, "s"),
            "compiler.build_s": (st.get("compiler.build", 0.0) / n, "s"),
            "spark.plan_s": (st.get("spark.plan", 0.0) / n, "s"),
            "spark.exec_s": (exec_s / n, "s"),
            "spark.jobs": (spark["jobs"] / n, "count"),
            "spark.stages": (spark["stages"] / n, "count"),
            "spark.tasks": (spark["tasks"] / n, "count"),
            "spark.task_s": (spark["task_s"] / n, "s"),
            "spark.cpu_s": (spark["cpu_s"] / n, "s"),
            "spark.gc_s": (spark["gc_s"] / n, "s"),
            "spark.parallel_eff": (
                c["exec_task_s"] / (exec_s * self.cores) if exec_s else 0.0, "ratio"),
            "spark.shuffle_mb": (spark["shuffle_mb"] / n, "MB"),
            "spark.spill_mb": (spark["spill_mb"] / n, "MB"),
            "spark.input_mb": (spark["input_mb"] / n, "MB"),
            "functions.py_eval_s": (spark["py_eval_s"] / n, "s"),
            "result.shape_s": (st.get("result.shape", 0.0) / n, "s"),
            "result.rows": (c["result_rows"] / n, "count"),
            "storage.append_s": (st.get("storage.append", 0.0) / n, "s"),
            "storage.insert_s": (st.get("storage.insert", 0.0) / n, "s"),
            "storage.schema_s": (st.get("storage.schema", 0.0) / n, "s"),
            "storage.compact_s": (st.get("storage.compact", 0.0) / n, "s"),
            "streaming.batch_s": (c["stream_batch_s"] / n, "s"),
            "streaming.rollup_read_s": (st.get("streaming.rollup_read", 0.0) / n, "s"),
            "operators.build_s": (st.get("operators.build", 0.0) / n, "s"),
            "operators.eager_jobs": (c["eager_jobs"] / n, "count"),
            "trace.attributed_frac": (named / wall if wall else 0.0, "ratio"),
            "trace.overhead_s": (job_s - untraced_job_s, "s"),
            "failed_frac": ((attempted - sum(o["ok"] for o in self.ops)) / max(1, attempted),
                            "ratio"),
            "streaming.rows_per_s": (
                c["stream_rows"] / c["stream_batch_s"] if c["stream_batch_s"] else 0.0, "1/s"),
            "storage.rewrite_mb": (c["rewrite_mb"] / n, "MB"),
            "storage.files": (0, "count"),
            "ingest_rows_per_s": (0.0, "1/s"),
            "freshness_p50_s": (0.0, "s"),
        }
        m.update(extra)
        return m

    def record(self) -> dict:
        """Host/run identity printed beside the result, so runs from
        different hosts or commits are not compared by mistake."""
        import pyspark

        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                    text=True, timeout=10, check=False).stdout.strip()
        except OSError:
            commit = ""
        return {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "traced": self.traced, "nproc": self.nproc,
            "spark_parallelism": self.spark.sparkContext.defaultParallelism,
            "pyspark": pyspark.__version__, "commit": commit or "unknown",
            "samples": getattr(self, "samples", {}),
            "ops_per_s": round(getattr(self, "ops_per_s", 0.0), 4),
            "cycles": len(self.cycles), "ops": len(self.ops),
            "setups_s": [round(s["total"], 3) for s in self.setups],
            "setup_parts_s": [{k: round(v, 3) for k, v in s.items()} for s in self.setups],
            "warmup_s": round(self.warmup_s, 3),
            "cycles_s": [round(c["wall"], 3) for c in self.cycles],
            "ops_s": [(o["kind"], round(o["wall"], 3)) for o in self.ops
                      if not o.get("warm")][:80],
            "failures": self.failures[:20],
        }


def _parse_total(text: str) -> float:
    """Seconds from a formatted SQL timing metric: a plain duration, or
    ``total (min, med, max ...)\\n<total> (<min>, ...)``."""
    line = text.split("\n", 1)[-1]
    m = _DURATION.search(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def emit(result: dict, record: dict) -> None:
    print("# run " + json.dumps(record, sort_keys=True))
    print(json.dumps(result))
