"""The ``stream_ingest`` workload: the event log through the streaming
write path.

The sf0.1 ``events`` log, projected to ``forget_events`` (``distribution
:= event_type``, ``bin := user_id % 100``), is staged untimed into
micro-batch files by a seeded split, then drained with ``available_now``
through ``streaming_forget_table`` -> ``publish_stream_to_table`` into a
``ManifestTable``. One micro-batch file is one trigger. A one-file stream
of the log's first rows into a separate table runs first, untimed, so that
the timed stream does not pay the session's first-trigger set-up.

Check: the published table holds exactly one row per live
``(distribution, bin)`` key with the log's event count for that key (the
decay rate is 1e-12/s, so nothing decays over the 30-day log).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common
import gen

BATCHES = 4
RATE = 1e-12
#: The untimed warm-up stream: one file of this many rows of the log.
WARM_ROWS = 12_500


def forget_events(events: pa.Table) -> pa.Table:
    return pa.table({
        "distribution": events["event_type"],
        "bin": pa.array((events["user_id"].to_numpy() % 100).astype(str)),
        "n": pa.array(np.ones(events.num_rows, dtype=np.int64)),
        "ts": events["ts"],
    })


def stage(table: pa.Table, split: np.ndarray, out_dir: str) -> None:
    """One parquet file per micro-batch, mtimes staggered so the file
    source takes them in batch order."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for b in range(int(split.max()) + 1):
        path = os.path.join(out_dir, f"batch-{b:03d}.parquet")
        pq.write_table(table.filter(pa.array(split == b)), path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))


def expected_state(table: pa.Table) -> set[tuple[str, str, int]]:
    grouped = table.group_by(["distribution", "bin"]).aggregate([("n", "sum")])
    return set(zip(grouped["distribution"].to_pylist(), grouped["bin"].to_pylist(),
                   grouped["n_sum"].to_pylist()))


def drain(spark, src: str, root: str):
    from forgettable_spark.sources.txn import ManifestTable
    from forgettable_spark.streaming import (
        publish_stream_to_table,
        read_increment_stream,
        streaming_forget_table,
    )

    table = ManifestTable(os.path.join(root, "table"))
    query = publish_stream_to_table(
        streaming_forget_table(read_increment_stream(spark, src), rate=RATE),
        table,
        os.path.join(root, "checkpoint"),
        available_now=True,
    )
    query.awaitTermination()
    return query, table


def run(seed: int, trace: bool, workdir: str, started: float) -> common.Result:
    log = forget_events(gen.events_table(seed, gen.SF01))
    split = gen.batch_split(seed, log.num_rows, BATCHES)
    src = os.path.join(workdir, "src")
    warm_src = os.path.join(workdir, "warm-src")
    stage(log.slice(0, WARM_ROWS), np.zeros(WARM_ROWS, dtype=np.int64), warm_src)
    t_session = time.perf_counter()
    spark = common.start_spark(workdir)
    session_s = time.perf_counter() - t_session
    try:
        drain(spark, warm_src, os.path.join(workdir, "warm"))
        stage(log, split, src)
        res = common.Result()
        res.set_up(started)

        with common.busy_cores():
            t0 = time.perf_counter()
            query, table = drain(spark, src, os.path.join(workdir, "timed"))
            wall = time.perf_counter() - t0

        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        published = {(r["distribution"], r["bin"], r["n"]) for r in table.read(spark).collect()}
        state_ok = published == expected_state(log)
        res.attempted = len(progress)
        res.failed = 0 if state_ok and len(progress) == BATCHES else len(progress) or 1
        triggers = [p["durationMs"]["triggerExecution"] for p in progress]
        res.metrics["op_p50_ms"] = statistics.median(triggers)
        res.samples["op_p50_ms"] = len(triggers)
        res.metrics["ops_per_s"] = log.num_rows / wall
        res.samples["ops_per_s"] = log.num_rows
        rss = common.peak_rss_mb()
        res.detail.update(
            peak_rss_mb=rss, rows=log.num_rows, batches=len(progress), wall_s=wall, state_ok=state_ok,
            state_rows=len(published), session_s=session_s,
            triggers=[{"batch": p["batchId"], "rows": p["numInputRows"], **p["durationMs"]}
                      for p in progress],
        )
        if trace:
            def p50_of(key: str) -> float:
                return statistics.median(p["durationMs"].get(key, 0) for p in progress)

            state_ops = query.lastProgress["stateOperators"]
            res.layers.update({
                "session.start_s": session_s,
                "proc.peak_rss_mb": rss,
                "stream.trigger_ms.p50": p50_of("triggerExecution"),
                "stream.add_batch_ms.p50": p50_of("addBatch"),
                "stream.planning_ms.p50": p50_of("queryPlanning"),
                "stream.wal_commit_ms.p50": p50_of("walCommit"),
                "stream.state_rows": state_ops[0]["numRowsTotal"] if state_ops else 0,
                "txn.versions": len(table.versions()),
                "txn.segments": table.segment_count(),
                "trace.overhead_frac": 0.0,
            })
        return res
    finally:
        common.stop_spark(spark)
