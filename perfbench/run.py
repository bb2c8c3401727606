#!/usr/bin/env python3
"""Benchmark of the forget-table engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed, measures, checks the outputs, and prints two lines: a detail object
(sample counts, per-route and per-entry numbers, the checks, the core
count, Spark version and scale factor), then the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` the per-layer metrics, and writes
the spans to ``.perfbench/trace-<workload>-seed<n>.json``.

Workloads: ``serve_read``, ``serve_rw``, ``batch_suite``,
``stream_ingest`` (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

STARTED = time.perf_counter()

import common  # noqa: E402
import gen  # noqa: E402

#: End-to-end metrics: name -> unit. Every workload reports each one.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
}

#: Per-layer metrics of the traced run: name -> unit. A layer the
#: workload leaves idle reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "proc.peak_rss_mb": "MB",
    "server.self_ms.p50": "ms",
    "api.plan_ms.p50": "ms",
    "exec.collect_ms.p50": "ms",
    "exec.jobs_per_read": "count",
    "exec.stages_per_read": "count",
    "exec.tasks_per_read": "count",
    "plan.exchanges_per_read": "count",
    "plan.scan_leaves_per_read": "count",
    "plan.scan_leaves_max": "count",
    "api.incr_ms.p50": "ms",
    "serve.appends": "count",
    "serve.checkpoints": "count",
    "serve.dist_p50_ms": "ms",
    "serve.get_p50_ms": "ms",
    "serve.nmost_p50_ms": "ms",
    "serve.incr_p50_ms": "ms",
    "suite.build_s": "s",
    "suite.execute_s": "s",
    "suite.jobs": "count",
    "suite.build_jobs": "count",
    "suite.stages": "count",
    "suite.tasks": "count",
    "suite.shuffle_bytes": "bytes",
    "suite.spill_bytes": "bytes",
    "suite.task_skew.max": "ratio",
    "suite.spine_build_s": "s",
    "suite.codebook_train_s": "s",
    "sources.load_ms": "ms",
    "sources.load_jobs": "count",
    "stream.trigger_ms.p50": "ms",
    "stream.add_batch_ms.p50": "ms",
    "stream.planning_ms.p50": "ms",
    "stream.wal_commit_ms.p50": "ms",
    "stream.state_rows": "count",
    "txn.versions": "count",
    "txn.segments": "count",
    "trace.overhead_frac": "ratio",
}

WORKLOADS = ("serve_read", "serve_rw", "batch_suite", "stream_ingest")


def run_workload(name: str, seed: int, seconds: float, trace: bool, workdir: str) -> common.Result:
    if name in ("serve_read", "serve_rw"):
        import serve

        return serve.run(name, seed, seconds, trace, workdir, STARTED)
    if name == "batch_suite":
        import suite

        return suite.run(seed, trace, workdir, STARTED)
    import stream

    return stream.run(seed, trace, workdir, STARTED)


def result_line(res: common.Result, trace: bool) -> dict:
    names = PER_LAYER if trace else END_TO_END
    source = res.layers if trace else res.metrics
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in names.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not common.program_present():
        print(f"perfbench: forgettable_spark not found under {common.ROOT}", file=sys.stderr)
        return 2

    workdir = os.path.join(common.OUT_DIR, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    ticks = common.cpu_ticks()
    try:
        common.confine_to(workdir)
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    trace_spans = res.detail.pop("spans", None)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": common.CORES,
        "spark": common.spark_version(),
        "scale": f"sf{gen.SF01.sf}",
        "cpu_steal_frac": common.steal_frac(ticks, common.cpu_ticks()),
        "samples": res.samples,
        "end_to_end": res.metrics,
        **({"per_layer": res.layers} if args.trace else {}),
        "detail": res.detail,
    }
    if args.trace:
        path = os.path.join(common.OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({**detail, "spans": trace_spans or []}, fh)
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps(result_line(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
