"""zx-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``ingest`` (appends, a
streaming rollup, inserts and compaction beside the seeded dashboard
query mix) and ``curation`` (registry curation rows, fully
materialized). Inputs are generated from ``--seed`` into
``.perfbench_work/`` under the current directory, which is removed at
exit. Spark runs at ``local[<cores / 2>]``.

Each run sets up three times (session start, staging, view
registration) and reports the median as ``setup_s``. It then makes
one untimed warm-up pass over the workload's seeded operation list (JIT
and codegen caches fill), then a fixed number of timed passes (more while
``--seconds`` have not elapsed). It checks every result against DuckDB
outside the timed window, and prints a ``# run {...}`` record (host,
commit, sample counts) and then the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` mixes
untraced and traced passes and reports the per-layer metrics, including
the tracing overhead (traced minus untraced pass time).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

WORKLOADS = {"ingest": "wl_ingest.Ingest", "curation": "wl_curation.Curation"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "zx_spark")):
        print("run from the repository root (zx_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # half the cores: the JVM's own threads (JIT, GC, driver) and the
    # client keep the rest, so stage times do not wait on a descheduled task
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ.setdefault("ZX_DRIVER_MEMORY", "2g")

    import importlib

    from harness import Harness, emit

    h = Harness(args.workload, args.seed, args.seconds, bool(args.trace), work)
    mod, cls = WORKLOADS[args.workload].split(".")
    wl = getattr(importlib.import_module(mod), cls)(h, os.path.join(work, "data"))
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        window = wl.run()
        metrics = h.end_to_end(window)
        t0 = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t0
        if args.trace:
            metrics = h.per_layer(wl.layer_metrics(window))
            # the spans, kept in memory during the run, written out once
            print("# spans " + json.dumps(h.spans), file=sys.stderr)
        record = h.record()
        record.update(generate_s=round(gen_s, 3), verify_s=round(verify_s, 3))
    finally:
        h.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    failed = sum(not o["ok"] for o in h.ops)
    emit({"correct": failed == 0, "attempted": len(h.ops), "failed": failed,
          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}, record)
    return 0


if __name__ == "__main__":
    sys.exit(main())
