"""Server process of the serve workloads.

    python3 perfbench/serve_proc.py '<config json>'

Starts Spark, builds the ``ForgetTable`` over the generated event log
(``distribution := 'u' || user_id % 1000``, ``bin := event_type``),
reads each route once, and serves it through ``ForgetHTTPServer``. It
prints one JSON line with the port and the session start time, then
serves. A ``measure`` line on stdin marks
the start of the timed window (a traced run drops what it recorded
during the warm-up); a ``finish`` line makes it write its result (peak
RSS, and in a traced run the per-layer numbers and spans) to
``config["result_path"]`` and stop.

In a traced run the spans come from wrappers installed here, around the
program's public calls: the request handler, the ``ForgetTable`` read
methods, ``ForgetHTTPServer.apply_incr`` and ``DataFrame.collect`` on
handler threads. Each read's ``collect()`` runs in its own Spark job
group; job, stage and task counts are read per group after serving ends.
"""

from __future__ import annotations

import json
import sys
import time
from urllib.parse import urlparse

import common
import spans

READ_ROUTES = {"/dist": "dist", "/get": "get", "/nmostprobable": "nmost"}


def instrument(tracer: spans.Tracer, server, spark) -> tuple[dict, list[dict]]:
    """Install the traced run's wrappers; returns the append and
    checkpoint counters and the per-read records the wrappers fill in."""
    from forgettable_spark.api import ForgetTable

    sc = spark.sparkContext
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    reads: list[dict] = []
    state = {"appends": 0, "checkpoints": 0}

    handler = server._httpd.RequestHandlerClass
    inner_get = handler.do_GET

    def do_get(self):
        route = urlparse(self.path).path
        with tracer.span("server.request", new_request=True, route=route):
            return inner_get(self)

    handler.do_GET = do_get
    for method in ("dist", "get", "n_most_probable"):
        tracer.wrap(ForgetTable, method, "api.plan")

    inner_incr = server.apply_incr

    def apply_incr(*args, **kwargs):
        with tracer.span("api.incr"):
            out = inner_incr(*args, **kwargs)
        state["appends"] += 1
        return out

    server.apply_incr = apply_incr

    inner_collect = DataFrame.collect

    def collect(df):
        req = tracer.current()
        if req is None or req.name not in ("server.request", "api.plan"):
            return inner_collect(df)
        group = f"read-{req.request}"
        with tracer.span("trace"):
            record = {"group": group, "route": READ_ROUTES.get(req.attrs.get("route")),
                      "appends": state["appends"]}
        with tracer.job_group(sc, group):
            with tracer.span("exec.collect"):
                rows = inner_collect(df)
        with tracer.span("trace"):
            record.update(spans.plan_shape(df))
            reads.append(record)
        return rows

    DataFrame.collect = collect

    inner_checkpoint = DataFrame.localCheckpoint

    def local_checkpoint(df, *args, **kwargs):
        state["checkpoints"] += 1
        return inner_checkpoint(df, *args, **kwargs)

    DataFrame.localCheckpoint = local_checkpoint
    return state, reads


def layers(tracer: spans.Tracer, state: dict, reads: list[dict], spark) -> dict:
    counters = spans.SparkCounters(spark.sparkContext)
    counters.drain()
    for r in reads:
        r.update(counters.group(r["group"]))
    read_requests = [s for s in tracer.by_name("server.request")
                     if s.attrs.get("route") in READ_ROUTES]
    own = spans.self_times(tracer.spans)
    n = max(len(reads), 1)
    timed = sum(s.duration for s in tracer.by_name("server.request"))
    overhead = tracer.overhead_s + sum(s.duration for s in tracer.by_name("trace"))
    return {
        "server.self_ms.p50": spans.p50(own[s.span_id] * 1e3 for s in read_requests),
        "api.plan_ms.p50": spans.p50(s.duration * 1e3 for s in tracer.by_name("api.plan")),
        "exec.collect_ms.p50": spans.p50(s.duration * 1e3 for s in tracer.by_name("exec.collect")),
        "exec.jobs_per_read": sum(r["jobs"] for r in reads) / n,
        "exec.stages_per_read": sum(r["stages"] for r in reads) / n,
        "exec.tasks_per_read": sum(r["tasks"] for r in reads) / n,
        "plan.exchanges_per_read": sum(r["exchanges"] for r in reads) / n,
        "plan.scan_leaves_per_read": sum(r["scan_leaves"] for r in reads) / n,
        "plan.scan_leaves_max": max((r["scan_leaves"] for r in reads), default=0),
        "api.incr_ms.p50": spans.p50(s.duration * 1e3 for s in tracer.by_name("api.incr")),
        "serve.appends": state["appends"],
        "serve.checkpoints": state["checkpoints"],
        "trace.overhead_frac": overhead / timed if timed else 0.0,
    }


def main(cfg: dict) -> None:
    t0 = time.perf_counter()
    common.confine_to(cfg["workdir"])
    spark = common.start_spark(cfg["workdir"])
    session_s = time.perf_counter() - t0

    from pyspark.sql import functions as F

    from forgettable_spark.api import ForgetTable
    from forgettable_spark.server import ForgetHTTPServer
    from forgettable_spark.sources import load_forget_events

    now = cfg["now_us"]
    events = load_forget_events(
        spark,
        cfg["data_dir"],
        distribution=F.concat(F.lit("u"), (F.col("user_id") % 1000).cast("string")),
        bin=F.col("event_type"),
    )
    table = ForgetTable(spark, events, rate=cfg["rate"])
    table.dist("u0", now=now).collect()
    table.get("u0", ["click"], now=now).collect()
    table.n_most_probable("u0", 10, now=now).collect()
    tracer = spans.Tracer(cfg["trace"])
    server = ForgetHTTPServer(table)
    state, reads = instrument(tracer, server, spark) if cfg["trace"] else ({}, [])
    host, port = server.start()
    print(json.dumps({"port": port, "session_s": session_s}), flush=True)
    try:
        for line in sys.stdin:
            if line.strip() == "finish":
                break
            if line.strip() == "measure" and cfg["trace"]:
                tracer.reset()
                reads.clear()
        server.stop()
        out = {"rss_mb": common.peak_rss_mb()}
        if cfg["trace"]:
            out["layers"] = layers(tracer, state, reads, spark)
            out["reads"] = reads
            out["spans"] = tracer.dump()
        with open(cfg["result_path"], "w") as fh:
            json.dump(out, fh)
    finally:
        common.stop_spark(spark)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
