"""User-facing facade: the reference's HTTP API, verb for verb, as a
Python class over the event-sourced engine.

Reference endpoints → methods (goforget/forget.go:258-266):

    GET /incr?distribution=d&field=f&N=k   → ForgetTable.incr(d, [f], n=k)
    GET /dist?distribution=d&rate=r        → ForgetTable.dist(d, rate=r)
    GET /get?distribution=d&field=f        → ForgetTable.get(d, [f])
    GET /nmostprobable?distribution=d&N=n  → ForgetTable.n_most_probable(d, n)
    GET /dbsize                            → ForgetTable.db_size()
    /ping (pyforget)                       → ForgetTable.ping()

Differences by design: every read takes an explicit ``now`` (defaulting to
the wall clock) because decay-at-read over immutable events is pure —
there is no write-back, no read-repair, and no stored ``Z`` to drift.
``json=True`` returns the reference's response payload shape.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from forgettable_spark import operators as ops
from forgettable_spark.functions.decay import GOFORGET_DEFAULT_RATE
from forgettable_spark.functions.expiry import DEFAULT_SIGMA
from forgettable_spark.operators.snapshot import FORGET_EVENTS_SCHEMA


def _to_us(now: datetime | int | None) -> int:
    if now is None:
        return time.time_ns() // 1_000
    if isinstance(now, datetime):
        # A naive datetime is interpreted as UTC, matching the engine's
        # pinned UTC session timezone — .timestamp() on a naive datetime
        # would silently use the host's local timezone and skew every
        # decay interval by the UTC offset.
        if now.tzinfo is None:
            now = now.replace(tzinfo=timezone.utc)
        return int(now.timestamp() * 1_000_000)
    return int(now)


class ForgetTable:
    """A forget-table over an increment log.

    ``events`` is any DataFrame with the ``forget_events`` shape
    (distribution, bin, n, ts) — a parquet read, a Delta table, or the
    output of a previous :meth:`compact`. The instance is cheap: it holds
    plans, not data — except a table returned by :meth:`materialize`,
    which holds a persisted snapshot and whose ``events`` is a projection
    of it. That projection is snapshot-equivalent, not the raw log:
    every read, :meth:`incr` and :meth:`compact` answer as over the raw
    log, but an as-of or replay read over it does not.
    """

    def __init__(
        self,
        spark: SparkSession,
        events: DataFrame | str,
        rate: float = GOFORGET_DEFAULT_RATE,
        prune: bool = True,
        law: str = "linear",
        decay_mode: str = "expected",
        seed: int = 0,
    ):
        self.spark = spark
        if isinstance(events, str):
            events = spark.read.parquet(events)
        self.events = events.select("distribution", "bin", "n", "ts")
        self.rate = rate
        self.prune = prune
        self.law = law
        self.decay_mode = decay_mode
        self.seed = seed
        self._snap: DataFrame | None = None

    # -- write path (W1) ---------------------------------------------------

    def incr(
        self,
        distribution: str,
        fields: list[str],
        n: int = 1,
        ts: datetime | None = None,
    ) -> "ForgetTable":
        """Append increments; returns a new ForgetTable over the grown log
        (immutable semantics — the old instance still answers as before).

        Validation mirrors the reference handler's 400s
        (``goforget/forget.go:32-57``): distribution and every field must
        be non-empty, N must be a positive integer.
        """
        if not distribution:
            raise ValueError("distribution must be non-empty")
        if not fields or any(not f for f in fields):
            raise ValueError("fields must be a non-empty list of non-empty names")
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        ts = ts or datetime.now(timezone.utc)
        new = ops.incr_events(self.spark, distribution, fields, ts, n)
        return self._with_events(ops.incr(self.events, new))

    def append_events(self, more: DataFrame) -> "ForgetTable":
        return self._with_events(ops.incr(self.events, more))

    # -- read path (R1-R4) -------------------------------------------------

    def dist(
        self,
        distribution: str,
        rate: float | None = None,
        now: datetime | int | None = None,
        json: bool = False,
    ) -> DataFrame:
        """R1 ``/dist``: every bin of one distribution, decayed+normalized."""
        rate = self.rate if rate is None else rate
        now_us = _to_us(now)
        out = ops.get_dist(
            self._snapshot(),
            now_us=now_us,
            distribution=distribution,
            rate=rate,
            prune=self.prune,
            law=self.law,
            mode=self.decay_mode,
            seed=self.seed,
        )
        return ops.to_json_payload(out, rate, self.prune, now_us) if json else out

    def get(
        self,
        distribution: str,
        fields: list[str],
        rate: float | None = None,
        now: datetime | int | None = None,
        compat_partial_z: bool = False,
    ) -> DataFrame:
        """R2 ``/get``: named bins with probabilities (full-Z by default;
        ``compat_partial_z`` reproduces the reference's stored-Z quirk)."""
        rate = self.rate if rate is None else rate
        return ops.get_field(
            self._snapshot(),
            fields=fields,
            now_us=_to_us(now),
            distribution=distribution,
            rate=rate,
            prune=self.prune,
            law=self.law,
            mode=self.decay_mode,
            seed=self.seed,
            compat_partial_z=compat_partial_z,
        )

    def n_most_probable(
        self,
        distribution: str,
        n: int = 10,
        rate: float | None = None,
        now: datetime | int | None = None,
    ) -> DataFrame:
        """R3 ``/nmostprobable``: top-N bins (N defaults to 10 as in
        goforget/forget.go:195-196)."""
        rate = self.rate if rate is None else rate
        return ops.n_most_probable(
            self._snapshot(),
            n=n,
            now_us=_to_us(now),
            distribution=distribution,
            rate=rate,
            prune=self.prune,
            law=self.law,
            mode=self.decay_mode,
            seed=self.seed,
        )

    def db_size(self, approx: bool = False) -> int:
        """R4 ``/dbsize``: number of stored distributions."""
        return int(ops.db_size(self.events, approx=approx).first()["db_size"])

    def ping(self) -> bool:
        """S2 ``/ping``."""
        return self.spark.sql("SELECT 1").first()[0] == 1

    def shutdown(self) -> None:
        """S2 ``/exit``: the reference drains its write-back workers and
        exits (``goforget/forget.go:217-224``); here there is nothing to
        drain — stop the session."""
        self.spark.stop()

    # -- maintenance (D3/D4) -----------------------------------------------

    def compact(
        self,
        now: datetime | int | None = None,
        sigma: float = DEFAULT_SIGMA,
        apply_expiry: bool = True,
    ) -> "ForgetTable":
        """Collapse the log into a decayed baseline (the scheduled batch
        replacement for the reference's per-read write-back)."""
        from forgettable_spark.operators.compact import compact as _compact

        base = _compact(
            self.events,
            _to_us(now),
            rate=self.rate,
            prune=self.prune,
            law=self.law,
            sigma=sigma,
            apply_expiry=apply_expiry,
            mode=self.decay_mode,
            seed=self.seed,
        )
        return self._with_events(base)

    def materialize(self) -> "ForgetTable":
        """Compute the snapshot once, persist it, and return a table that
        reads from it.

        The persisted snapshot keeps its ``t`` window's hash partitioning
        by distribution, so a point read over it needs no exchange and no
        aggregate. ``persist`` keeps lineage: blocks lost from storage are
        recomputed from the log. The caller owns the storage and frees it
        with ``unpersist()`` on the returned table's snapshot.

        The returned table's ``events`` is ``(distribution, bin, n :=
        count, ts := t)``. The snapshot sums ``n`` and takes the max of
        ``ts`` per distribution, so it maps this projection, alone or with
        later appends, to the same rows as the raw log.
        """
        snap = self._snapshot().persist()
        snap.count()
        table = self._with_events(
            snap.select("distribution", "bin", F.col("count").alias("n"), F.col("t").alias("ts"))
        )
        table._snap = snap
        return table

    # -- internals ----------------------------------------------------------

    def _snapshot(self) -> DataFrame:
        if self._snap is None:
            self._snap = ops.snapshot(self.events)
        return self._snap

    def _with_events(self, events: DataFrame) -> "ForgetTable":
        return ForgetTable(
            self.spark,
            events,
            rate=self.rate,
            prune=self.prune,
            law=self.law,
            decay_mode=self.decay_mode,
            seed=self.seed,
        )

    @classmethod
    def empty(cls, spark: SparkSession, **kwargs) -> "ForgetTable":
        return cls(spark, spark.createDataFrame([], FORGET_EVENTS_SCHEMA), **kwargs)
