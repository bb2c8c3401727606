"""The ``batch_suite`` workload: registered queries, timed one by one.

The steps are a fixed selection of the 53 entries ``bench.py`` times: the
``entrypoints.queries()`` entries plus ``spine_build`` (the corpus
postings spine the token-family queries share), ``codebook_train`` (the
trained ANN codebook the codebook-fed queries share) and
``layout_bucketed_get_dist`` (``get_dist`` over a catalog-bucketed copy
of the log, written untimed at set-up). The selection is the entries
with the largest share of a measured whole-registry pass that fit the
run's time budget (``registry_pass.py`` measures that pass; see the
README). After the benchmark's own warm-up (:func:`common.warm_session`)
each step is built (the registered function), then executed into the
no-op sink, with ``clearCache`` before every step. No retries.
Afterwards each entry's DataFrame is collected again, untimed, and
compared with its registered DuckDB oracle.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time

import common
import gen
import spans

#: The timed steps, in the order ``bench.py`` runs them: the shared
#: builds first, then the registry entries in sorted order, then the
#: layout entry. ``registry_pass.py --seed 2`` chose them on
#: four cores: 18.0 s of a 79.9 s whole-registry pass (22%).
ENTRIES = (
    "spine_build",
    "codebook_train",
    "ann_recall_signature",
    "bm25_search",
    "dedup_chunk_exact",
    "layout_bucketed_get_dist",
)
#: Steps that are not ``entrypoints.queries()`` entries.
SHARED_BUILDS = ("spine_build", "codebook_train")
LAYOUT = "layout_bucketed_get_dist"
#: Steps every selection keeps: the shared builds (their consumers
#: would otherwise pay them inline) and the layout entry (the only step
#: that reaches ``sources.layout``).
ALWAYS = (*SHARED_BUILDS, LAYOUT)
BUCKETED_TABLE = "perfbench_events_bucketed"


def _trace_loads(tracer: spans.Tracer, sc, current_entry: list[str], loads: list[dict]) -> None:
    """Wrap ``sources.load_table`` (and every module's imported binding
    of it) in a span and a job group of its own."""
    import forgettable_spark.sources.tables as tables

    inner = tables.load_table

    @functools.wraps(inner)
    def load_table(*args, **kwargs):
        group = f"{current_entry[0]}:load{len(loads)}"
        loads.append({"entry": current_entry[0], "group": group})
        with tracer.job_group(sc, group), tracer.span("sources.load"):
            return inner(*args, **kwargs)

    for name, module in list(sys.modules.items()):
        if name.startswith("forgettable_spark") and getattr(module, "load_table", None) is inner:
            module.load_table = load_table


def prepare(spark, data_dir: str, names) -> None:
    """Untimed set-up some steps need: the bucketed copy of the log."""
    if LAYOUT in names:
        from forgettable_spark.sources import load_forget_events
        from forgettable_spark.sources.layout import save_events_bucketed

        save_events_bucketed(load_forget_events(spark, data_dir), BUCKETED_TABLE, buckets=common.CORES)


def steps(spark, data_dir: str, names) -> list[tuple]:
    """``(name, build, sink)`` per step, in ``names`` order. ``build``
    returns the DataFrame to execute into ``sink``, or, for a shared
    build (``sink`` None), does all its work itself."""
    from forgettable_spark import entrypoints as ep
    from forgettable_spark import entrypoints_ext as ext
    from forgettable_spark import operators as ops
    from forgettable_spark.sources.layout import read_events_bucketed

    def bucketed_get_dist():
        snap = ops.snapshot(read_events_bucketed(spark, BUCKETED_TABLE))
        return ops.get_dist(snap, now_us=ep._now_us(spark, data_dir), rate=ep.RATE_SLOW)

    special = {
        "spine_build": lambda: ext._doc_spine(spark, data_dir),
        "codebook_train": lambda: ext._codebook_for(spark, data_dir, ext.KMEANS_CELLS),
        LAYOUT: bucketed_get_dist,
    }
    registry = ep.queries()
    return [
        (name, special[name], None if name in SHARED_BUILDS else "noop") if name in special
        else (name, functools.partial(registry[name], spark, data_dir), "noop")
        for name in names
    ]


def run(seed: int, trace: bool, workdir: str, started: float) -> common.Result:
    data_dir = os.path.join(workdir, "data")
    gen.write_tables(seed, gen.SF01, data_dir)
    t_session = time.perf_counter()
    spark = common.start_spark(workdir)
    session_s = time.perf_counter() - t_session
    try:
        return _measure(spark, data_dir, trace, started, session_s)
    finally:
        common.stop_spark(spark)


def _measure(spark, data_dir: str, trace: bool, started: float, session_s: float) -> common.Result:
    res = common.Result()
    sc = spark.sparkContext
    t_warm = time.perf_counter()
    common.warm_session(spark, data_dir)
    prepare(spark, data_dir, ENTRIES)
    res.detail["warmup_s"] = time.perf_counter() - t_warm
    tracer = spans.Tracer(trace)
    current = ["setup"]
    loads: list[dict] = []
    if trace:
        _trace_loads(tracer, sc, current, loads)
    todo = steps(spark, data_dir, ENTRIES)
    res.set_up(started)

    with common.busy_cores():
        timings, frames = _pass(spark, todo, tracer, current)
    current[0] = "check"
    t_check = time.perf_counter()
    checks = _check(spark, data_dir, frames)
    res.detail["check_s"] = time.perf_counter() - t_check
    res.attempted = len(todo)
    res.failed = len(todo) - len(timings) + sum(not ok for ok in checks.values())
    totals = [t["total_s"] for t in timings.values()]
    res.metrics["op_p50_ms"] = statistics.median(totals) * 1e3
    res.samples["op_p50_ms"] = len(totals)
    res.metrics["ops_per_s"] = len(totals) / sum(totals)
    res.samples["ops_per_s"] = len(totals)
    rss = common.peak_rss_mb()
    res.detail.update(suite_total_s=sum(totals), entries=timings, checks=checks,
                      session_s=session_s, peak_rss_mb=rss)
    if trace:
        res.layers.update(_layers(tracer, sc, timings, loads))
        res.layers.update({"session.start_s": session_s, "proc.peak_rss_mb": rss})
        res.detail["spans"] = tracer.dump()
    return res


def _pass(spark, steps: list, tracer: spans.Tracer, current: list[str]) -> tuple[dict, dict]:
    """Run every step once: build, then execute into the no-op sink.
    Returns step name -> build/execute/total seconds, and entry name ->
    built DataFrame; a step that raises is missing from both."""
    sc = spark.sparkContext
    timings, frames = {}, {}
    for name, build, sink in steps:
        current[0] = name
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            with tracer.span("suite.entry", new_request=True, entry=name):
                with tracer.job_group(sc, f"{name}:build"):
                    with tracer.span("suite.build"):
                        df = build()
                t1 = time.perf_counter()
                if sink:
                    with tracer.job_group(sc, f"{name}:exec"):
                        with tracer.span("suite.execute"):
                            df.write.format("noop").mode("overwrite").save()
                    frames[name] = df
        except Exception as exc:  # a failing step is a failed op, not a crash
            print(f"perfbench: step {name} raised {exc!r}", file=sys.stderr)
            continue
        t2 = time.perf_counter()
        timings[name] = {"build_s": t1 - t0, "execute_s": t2 - t1, "total_s": t2 - t0}
    return timings, frames


def _check(spark, data_dir: str, frames: dict, seconds: dict | None = None,
           cap_s: float | None = None) -> dict[str, bool]:
    """Untimed: every timed entry against its registered DuckDB oracle
    (the layout entry against ``get_dist_all``'s, the same pipeline over
    the plain log). ``seconds``, when given, receives each check's time;
    with ``cap_s`` an oracle query still running after that long is
    interrupted and its check fails."""
    import threading

    import duckdb

    from forgettable_spark import entrypoints as ep
    from oracle import rows_match

    oracles = ep.oracle_sql(data_dir)
    oracles[LAYOUT] = oracles["get_dist_all"]
    out = {}
    with duckdb.connect() as con:
        for table in ("events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data_dir}/{table}.parquet')"
            )
        for name, df in frames.items():
            t0 = time.perf_counter()
            timer = threading.Timer(cap_s, con.interrupt) if cap_s else None
            try:
                rows = df.collect()
                if timer:
                    timer.start()
                out[name] = rows_match(df.columns, rows, con.sql(oracles[name]))
            except Exception as exc:  # a failed check is a failed entry, not a crash
                print(f"perfbench: check of {name} raised {exc!r}", file=sys.stderr)
                out[name] = False
            finally:
                if timer:
                    timer.cancel()
            if seconds is not None:
                seconds[name] = time.perf_counter() - t0
    return out


def _layers(tracer: spans.Tracer, sc, timings: dict, loads: list[dict]) -> dict:
    counters = spans.SparkCounters(sc)
    counters.drain()
    per_entry = {}
    for name in timings:
        build = counters.group(f"{name}:build", detail=True)
        execute = counters.group(f"{name}:exec", detail=True)
        load = [counters.group(l["group"], detail=True) for l in loads if l["entry"] == name]
        parts = [build, execute, *load]
        per_entry[name] = {
            **{k: sum(p[k] for p in parts) for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")},
            "build_jobs": build["jobs"] + sum(p["jobs"] for p in load),
            "task_skew": max(p["task_skew"] for p in parts),
            "load_jobs": sum(p["jobs"] for p in load),
        }
        timings[name].update(per_entry[name])
    timed = sum(s.duration for s in tracer.by_name("suite.entry"))
    overhead = tracer.overhead_s
    total = lambda k: sum(e[k] for e in per_entry.values())  # noqa: E731
    return {
        "suite.build_s": sum(t["build_s"] for t in timings.values()),
        "suite.execute_s": sum(t["execute_s"] for t in timings.values()),
        "suite.jobs": total("jobs"),
        "suite.build_jobs": total("build_jobs"),
        "suite.stages": total("stages"),
        "suite.tasks": total("tasks"),
        "suite.shuffle_bytes": total("shuffle_bytes"),
        "suite.spill_bytes": total("spill_bytes"),
        "suite.task_skew.max": max(e["task_skew"] for e in per_entry.values()),
        "suite.spine_build_s": timings.get("spine_build", {}).get("total_s", 0.0),
        "suite.codebook_train_s": timings.get("codebook_train", {}).get("total_s", 0.0),
        "sources.load_ms": sum(s.duration for s in tracer.by_name("sources.load")) * 1e3,
        "sources.load_jobs": total("load_jobs"),
        "trace.overhead_frac": overhead / timed if timed else 0.0,
    }
