"""Write path (W1) and the events→state snapshot.

The reference's ``/incr`` mutates three Redis keys atomically
(``goforget/redis_utils.go:222-233``: ZINCRBY + INCRBY _Z + SETNX _T).
Event-sourced equivalent: an increment is **one appended row**; the
snapshot (Redis ZSET + _T analogue) is a derived aggregation, and _Z is
never materialized at all (always ``sum(count) over distribution``).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forgettable_spark.functions.cache import local_frame

#: forget_events schema (FIXTURES.md A1).
FORGET_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("distribution", T.StringType(), False),
        T.StructField("bin", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def incr_events(
    spark: SparkSession,
    distribution: str,
    fields: list[str],
    ts: datetime,
    n: int = 1,
) -> DataFrame:
    """Rows for one ``/incr?distribution=d&field=f…&N=n`` call.

    One row per field, each of weight ``n`` — the reference adds ``n`` to
    every named field and ``n·len(fields)`` to Z (``goforget/forget.go:
    31-69``); here Z is derived so only the per-bin rows exist. A naive
    ``ts`` is UTC, as everywhere in the API (``api._to_us``).
    """
    rows = [(distribution, f, n, ts) for f in fields]
    return local_frame(spark, rows, FORGET_EVENTS_SCHEMA)


def incr(events: DataFrame, new_events: DataFrame) -> DataFrame:
    """Append increments to the log. Pure union — the snapshot picks up the
    new mass on next evaluation; no read-repair needed (SURVEY.md §2.1 D4)."""
    return events.unionByName(new_events.select("distribution", "bin", "n", "ts"))


def snapshot(events: DataFrame) -> DataFrame:
    """Derive ``forget_state``: (distribution, bin, count, t).

    ``count = Σ n`` per (distribution, bin); ``t = max(ts)`` per
    *distribution* — the reference keeps one ``_T`` per distribution and
    decays all bins against it (``goforget/distribution.go:153-175``).

    Scale shape: the groupBy shuffles **partially aggregated** (distribution,
    bin) pairs (map-side combine collapses the raw log), and the per-
    distribution ``t`` window then reshuffles only that much smaller
    snapshot. Hot distributions skew the window's hash — acceptable because
    the snapshot is already collapsed to unique bins; AQE handles residual
    skew.
    """
    snap = events.groupBy("distribution", "bin").agg(
        F.sum("n").alias("count"),
        F.max("ts").alias("t_bin"),
    )
    w = Window.partitionBy("distribution")
    return snap.select(
        "distribution",
        "bin",
        "count",
        F.max("t_bin").over(w).alias("t"),
    )
