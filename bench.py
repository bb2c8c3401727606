#!/usr/bin/env python
"""Benchmark harness: run the engine's headline queries at a scale factor
and print a compact final JSON line for the driver.

    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default 32)
    SPARK_GRAFT_ONLY     comma-separated query names: time only these
                         (dev loop for single-query investigation; the
                         bucketed-layout entry is skipped unless named)

Each query is forced end-to-end with the no-op sink (computes every output
column, no driver collect — honest timing, no column-pruning shortcuts).

Output contract (VERDICT r8 #1): the driver captures only the LAST ~2 KB
of stdout and parses the FINAL line — r8's line, carrying the per-query
dict plus 20 retries plus stale_floors, outgrew the window and the round's
driver bench record came back unparseable. The final line is therefore a
compact summary (metric/value/unit/sf/n_queries, bounded ≤1 KB by
tests/test_bench_report.py); the per-query timings, retries, and
stale-floor diagnostics are printed on their own EARLIER stdout line and
written to the BENCH_DETAIL.json sidecar.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Hard budget for the final stdout line. The driver's tail capture is
#: ~2 KB; staying at half that leaves room for a partial earlier line
#: preceding it in the window.
FINAL_LINE_MAX_BYTES = 1024


def emit_report(
    timings: dict[str, float],
    retries: dict[str, list[float]],
    stale_floors: dict[str, dict[str, float]],
    sf: float,
    detail_path: str | list[str] | None = None,
) -> str:
    """Print the bench report and return the final line.

    Two stdout lines: first the full diagnostics payload (own line, can
    be arbitrarily long — anything the driver's tail truncates is still
    in the sidecar), then the compact driver-facing summary. Keeping the
    final line tiny is the whole contract — never append per-query maps
    to it.

    ``detail_path`` may be a list: the driver runs the bench at several
    core counts back to back and a single sidecar name means the later
    run clobbers the earlier one's per-query detail (VERDICT r12 #2) —
    main() passes both the compatibility name and a per-cpus name.
    """
    total = round(sum(timings.values()), 4)
    detail: dict = {
        "total": total,
        "sf": sf,
        "queries": timings,
        "retries": retries,
    }
    if stale_floors:
        detail["stale_floors"] = stale_floors
    paths = [detail_path] if isinstance(detail_path, str) else (detail_path or [])
    for p in paths:
        try:
            with open(p, "w") as fh:
                json.dump(detail, fh, indent=1, sort_keys=True)
        except OSError:
            pass  # diagnostics sidecar is best-effort; the summary still prints
    print(json.dumps({"bench_detail": detail}))
    final = json.dumps(
        {
            "metric": "forget_table_ops_runtime",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": len(timings),
        }
    )
    print(final)
    return final


def warm_session(spark, sf_dir: str, cpus: str) -> None:
    """Untimed session warmup shared by bench.py and the scale scripts:
    source-table footers + a dedicated non-registry plan exercising the
    machinery classes every timed query compiles (shuffle/broadcast
    join, window, explode+agg, md5/array/HOF codegen), sized from the
    corpus parquet footers (VERDICT r10 #4)."""
    # Warm the JVM/parquet reader and each source table's footer/codegen
    # path outside the timed region (the first query to touch a table
    # otherwise pays ~2s of one-time engine warm-up that has nothing to do
    # with its plan — measured on the alphabetically-first query). Only the
    # tables a registered query reads are warmed.
    from forgettable_spark import entrypoints as _ep
    from forgettable_spark.sources import load_table as _lt

    _ep.queries()["db_size"](spark, sf_dir).collect()
    for _t in ("documents", "embeddings"):
        _lt(spark, sf_dir, _t).count()
    # The scan warmup above does NOT warm the join/window/codegen+JIT
    # machinery: four rounds of driver BENCH data showed the
    # alphabetically-first timed query reading ~2.5x its isolated time
    # (r3 ann_bucketed_topk 4.40 vs 2.30 s; r4 ann_multiprobe_topk 3.31
    # vs 1.35 s). Warm with a DEDICATED non-registry plan exercising the
    # same machinery classes (shuffle join, broadcast join, window,
    # explode+agg, md5/array codegen) — pre-running a specific timed
    # query would also seed Spark's per-plan generated-code cache for
    # that one query, an advantage no other timed entry gets.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    # Warmup block size scales WITH the corpus (VERDICT r10 #4): the
    # fixed 200k-row block stopped amortizing the first HOF-fold wave
    # once the corpus outgrew it (sf30: 600k embeddings, first
    # sequential-fold evaluation 61.1 s vs 3.94 s steady — SCALING.md
    # r10). Size from the larger of the two corpus tables' parquet
    # footers (no data read; the ONE shared footer reader — the same
    # function the corpus-aware signature sizing derives b from); floor
    # 200k keeps the small-sf behavior identical, cap 2M bounds
    # one-time warmup cost at silly scales.
    def _footer_rows(name: str) -> int:
        from forgettable_spark.entrypoints_ext import table_footer_rows

        try:
            return table_footer_rows(sf_dir, name)
        except (OSError, ValueError, ImportError):
            # ImportError: table_footer_rows needs pyarrow.dataset — on a
            # box without it the warmup must degrade to the floor like
            # the generated-oracle path does, not raise (ADVICE r11).
            return 0  # warmup sizing degrades to the floor, never raises

    _warm_rows = min(
        2_000_000,
        max(200_000, _footer_rows("documents"), _footer_rows("embeddings")),
    )
    _wb = spark.range(0, _warm_rows, 1, int(cpus)).select(
        "id",
        _F.md5(_F.col("id").cast("string")).alias("h"),
        (_F.col("id") % 97).alias("k"),
        _F.array_sort(
            _F.array(_F.col("id") % 7, _F.col("id") % 11, _F.col("id") % 13)
        ).alias("arr"),
        # text-family shapes: split → slice/transform (shingle-ish),
        # conv/substr hashing, bit arithmetic (SimHash/phash-ish)
        _F.split(_F.repeat(_F.concat(_F.col("id").cast("string"), _F.lit(" t")), 8), " ").alias("toks"),
        _F.conv(_F.substring(_F.md5(_F.col("id").cast("string")), 1, 15), 16, 10)
        .cast("bigint").alias("hk"),
        # embedding-family shape: a 64-wide double array for the
        # sequential dot/cosine fold codegen
        _F.transform(_F.sequence(_F.lit(1), _F.lit(64)), lambda i: (i * _F.col("id") % 17).cast("double")).alias("vec"),
    )
    _agg = _wb.groupBy("k").agg(_F.count(_F.lit(1)).alias("c"))
    (
        _wb.join(_agg, "k")
        .join(_F.broadcast(_agg.limit(10).withColumnRenamed("c", "bc")), "k", "left")
        .withColumn("e", _F.explode("arr"))
        .withColumn("gram", _F.concat_ws(" ", _F.slice("toks", 1, 2)))
        .withColumn(
            "fold",
            _F.aggregate("vec", _F.lit(0.0), lambda a, x: a + x),
        )
        .withColumn("bits", _F.shiftright(_F.col("hk"), 4).bitwiseAND(_F.lit(15)))
        .withColumn(
            "rn", _F.row_number().over(_W.partitionBy("k").orderBy(_F.desc("h")))
        )
        .filter(_F.col("rn") <= 5)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # a separate explode+agg pass over token arrays (the shingle →
    # groupBy shape every text/dedup query compiles)
    (
        _wb.select("id", _F.explode("toks").alias("t"))
        .groupBy("t").agg(_F.count(_F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    spark.catalog.clearCache()



def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    except ValueError:
        sf = 0.0  # non-sf<N> dir name: the value is only echoed in the report

    from forgettable_spark.session import get_spark
    from forgettable_spark import entrypoints as ep

    # local[N] runs N executor threads in ONE JVM, so the driver heap
    # carries the whole suite: 8g is right at sf<=0.1 but measured
    # GC-bound at sf3 (row-local queries went 4-7x for 3x rows; 24g
    # restored ~3x — SCALING.md sf3 section). Scale the default with SF;
    # SPARK_GRAFT_DRIVER_MEM still overrides. Applied at session launch,
    # so it must be set here, not after getOrCreate.
    default_mem = "24g" if sf >= 1 else "8g"
    spark = get_spark(
        app_name="forgettable-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    all_qs = ep.queries()
    qs = all_qs
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        names = {n.strip() for n in only.split(",") if n.strip()}
        unknown = names - set(all_qs) - {"layout_bucketed_get_dist"}
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_ONLY: unknown queries {sorted(unknown)}")
        qs = {n: f for n, f in all_qs.items() if n in names}
    warm_session(spark, sf_dir, cpus)

    timings: dict[str, float] = {}
    retries: dict[str, list[float]] = {}

    # Host-noise defense: this box has documented external-load windows
    # (SCALING.md — BENCH_r06 caught one mid-round: 19 untouched queries
    # read 1.3-2.0x their own floors while nothing in their code
    # changed). The engine can't control the box, but the bench can
    # defend the number: BENCH_FLOORS.json records each query's best
    # known isolated time at its sf; a timed entry exceeding its floor
    # by >1.5x re-runs ONCE (same clearCache isolation) and keeps the
    # minimum, logging both attempts under "retries" so a genuine
    # regression (two slow runs) is distinguishable from a load spike
    # (second run at the floor). Queries without a recorded floor (new
    # rotations, other sfs) never retry.
    floors: dict[str, float] = {}
    floors_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOORS.json")
    if not only and os.path.exists(floors_path):
        try:
            with open(floors_path) as fh:
                rec = json.load(fh)
            if rec.get("sf") == sf:
                floors = rec.get("floors", {})
        except (OSError, ValueError):
            floors = {}

    def timed(name: str, run) -> None:
        """Time one entry with cache isolation; retry once on a floor
        outlier (floor policy above)."""
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        run()
        dt = time.perf_counter() - t0
        floor = floors.get(name)
        if floor and dt > 1.5 * floor:
            spark.catalog.clearCache()
            t1 = time.perf_counter()
            run()
            dt2 = time.perf_counter() - t1
            retries[name] = [round(dt, 4), round(dt2, 4)]
            dt = min(dt, dt2)
        timings[name] = round(dt, 4)

    # Combined corpus spine (extensions/postings.py
    # materialized_corpus_spine): ALL FIVE spine tables — the token
    # family's postings/doc_stats/bigrams plus the dedup family's
    # shingled/simhash — built from ONE corpus-text scan (r7; was two
    # separate builds costing three text scans). In production this is a
    # TABLE maintained incrementally by the admission loop, not
    # something every query rebuilds — so the build is timed ONCE as its
    # own transparent entry and the nine spine-fed queries then measure
    # the steady-state read path. In SPARK_GRAFT_ONLY mode the entry is
    # skipped and a named family query pays the build inline
    # (single-query investigation shows the worst case) — unless
    # SPARK_GRAFT_SPINE_ENTRY=1 restores the separate timed build
    # (isolated steady-state scale runs).
    if not only or os.environ.get("SPARK_GRAFT_SPINE_ENTRY") == "1":
        from forgettable_spark import entrypoints_ext as _ext

        _t0 = time.perf_counter()
        _ext._doc_spine(spark, sf_dir)
        timings["spine_build"] = round(time.perf_counter() - _t0, 4)
        spark.catalog.clearCache()
        # Same accounting for the trained ANN codebook: a MODEL built
        # once per corpus (bounded-sample Lloyd — extensions/codebook.py),
        # memoized for the session exactly like the spine files, so
        # ann_kmeans_topk below measures the steady-state search path and
        # the training cost is its own transparent line. In ONLY mode a
        # named kmeans query pays training inline (worst case), matching
        # the spine policy.
        _t0 = time.perf_counter()
        _ext._codebook_for(spark, sf_dir, _ext.KMEANS_CELLS)
        timings["codebook_train"] = round(time.perf_counter() - _t0, 4)
    for name, fn in sorted(qs.items()):
        # Isolation between timed queries (the clearCache in timed(),
        # untimed): a fresh driver session would start with empty
        # storage, so each query must not benefit from (or pay LRU
        # pressure for) a neighbor's leftovers. Registered queries
        # release their own caches (run_released); this guards the
        # measurement against any future regression of that contract.
        timed(
            name,
            lambda fn=fn: fn(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

    # Layout variant: the flagship read path over a catalog-bucketed log.
    # The bucketed write is setup (untimed); the timed read demonstrates
    # the zero-exchange claim end-to-end (tests/test_layout.py asserts the
    # plan; this entry shows the wall-clock consequence vs `get_dist_all`,
    # which runs the identical pipeline over plain parquet).
    from forgettable_spark import entrypoints as ep_mod
    from forgettable_spark import operators as ops
    from forgettable_spark.sources import load_forget_events
    from forgettable_spark.sources.layout import read_events_bucketed, save_events_bucketed

    if only and "layout_bucketed_get_dist" not in only:
        emit_report(timings, retries, {}, sf)  # dev loop: no sidecar churn
        spark.stop()
        return

    table = "bench_events_bucketed"
    save_events_bucketed(load_forget_events(spark, sf_dir), table, buckets=int(cpus))
    now_us = ep_mod._now_us(spark, sf_dir)

    def _run_bucketed() -> None:
        snap = ops.snapshot(read_events_bucketed(spark, table))
        ops.get_dist(snap, now_us=now_us, rate=ep_mod.RATE_SLOW).write.format(
            "noop"
        ).mode("overwrite").save()

    timed("layout_bucketed_get_dist", _run_bucketed)
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    # Stale-floor check (VERDICT r7 #7): a floor sitting ABOVE a better
    # observed run is no defense — it lets a real regression up to the
    # stale floor pass unretried. Report every beaten floor so the
    # per-round refresh (scripts/update_floors.py) can lower it; only
    # meaningful deltas (>2%) to keep timer jitter out of the field.
    stale = {
        n: {"floor": floors[n], "ran": timings[n]}
        for n in timings
        if n in floors and timings[n] < floors[n] * 0.98
    }
    # Two sidecars (VERDICT r12 #2): the unsuffixed name for existing
    # tooling, plus a per-core-count name so a c8+c32 driver pair leaves
    # BOTH per-query details on disk instead of the later run clobbering
    # the earlier one's.
    _root = os.path.dirname(os.path.abspath(__file__))
    emit_report(
        timings,
        retries,
        stale,
        sf,
        detail_path=[
            os.path.join(_root, "BENCH_DETAIL.json"),
            os.path.join(_root, f"BENCH_DETAIL_c{cpus}.json"),
        ],
    )
    spark.stop()


if __name__ == "__main__":
    main()
