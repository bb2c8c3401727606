"""Cache lifecycle: scoped caching with guaranteed release.

Spark never auto-unpersists: every ``.cache()`` / ``localCheckpoint``
survives until the session's LRU evicts it. That is fine for a one-shot
job, but a long-lived session running a query *mix* (the driver's serial
bench, a notebook, a service) accumulates dead sketch tables in executor
storage memory until useful caches start getting evicted — the
storage-creep failure mode a 100 TB operator gets paged for. The
reference's analogue is its write-back queue backpressure
(``goforget/forget.go:217-243``): resources tied to one request must not
outlive it.

Two layers:

- :func:`scoped_cache` — drop-in replacement for ``df.cache()`` inside
  operator implementations. Outside any scope it IS ``df.cache()``
  (library callers keep full control and can unpersist themselves);
  inside a :func:`run_released` build it additionally registers the
  cache for release when the scope ends.
- :func:`run_released` — used by the registered driver queries: run a
  DataFrame builder, materialize its (small) result once, release every
  cache *and* every RDD block the build persisted (``localCheckpoint``
  blocks included), and return the rows as a locally-backed DataFrame
  with the identical schema. After it returns, executor storage holds
  nothing from the query.

``run_released`` trades laziness for a clean session: the result is
collected to the driver. That is only correct for queries whose OUTPUT is
small (verified pairs, top-k lists, metric rows — the usual shape after
candidate verification); never wrap a per-document projection with it.
The RDD sweep assumes one driver thread builds queries at a time (true
for the driver harness and bench); concurrent builders should rely on the
scope list only.
"""

from __future__ import annotations

import logging
import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: Hard ceiling on rows :func:`run_released` will collect to the driver
#: (override via SPARK_GRAFT_RUN_RELEASED_MAX_ROWS). Sized for the
#: measured registry: the widest per-document queries return one row per
#: document, so the default clears a sf10 scale run (~500k docs) with
#: 10× headroom while still failing loudly long before a
#: corpus-proportional registry entry (VERDICT r8 #6) can exhaust driver
#: memory — such a query must route through :class:`released_scope` and
#: a write instead.
RUN_RELEASED_MAX_ROWS_DEFAULT = 5_000_000


def _run_released_max_rows() -> int:
    return int(
        os.environ.get(
            "SPARK_GRAFT_RUN_RELEASED_MAX_ROWS", RUN_RELEASED_MAX_ROWS_DEFAULT
        )
    )

#: Stack of active release scopes; each holds the DataFrames cached via
#: scoped_cache inside it. Innermost scope collects.
_SCOPES: list[list[DataFrame]] = []


def scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` that the innermost :func:`run_released` scope (if
    any) will unpersist when it finishes. No active scope → plain cache."""
    df = df.cache()
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


#: When True (see :func:`plan_audit_mode`), run_released returns the
#: lazy build() result without materializing or releasing anything.
_AUDIT_MODE = False


class plan_audit_mode:
    """Context manager for plan inspection: inside it, ``run_released``
    returns the builder's LAZY DataFrame (no collect, no cache release),
    so ``explain`` shows the real distributed plan instead of the
    post-materialization local scan. For audit tooling only
    (`scripts/audit_plans.py`) — executing a plan obtained this way
    leaks the build's caches by design."""

    def __enter__(self):
        global _AUDIT_MODE
        self._prev = _AUDIT_MODE
        _AUDIT_MODE = True
        return self

    def __exit__(self, *exc):
        global _AUDIT_MODE
        _AUDIT_MODE = self._prev
        return False


def _release_scope(spark: SparkSession, scope: list[DataFrame], before: set[int]) -> None:
    """The shared release path of :func:`run_released` and
    :func:`released_scope`: flush queued dropped-bucket reports (while
    the sketch caches they read are still populated), unpersist the
    scope's caches, then sweep any RDD blocks newly persisted since
    ``before`` (``localCheckpoint`` lineage truncation). Every step is
    guarded — a failing flush/unpersist (dead session, vanished source)
    must not MASK an exception already raising through the caller's
    finally."""
    try:
        # Local import: dedup imports scoped_cache from this module.
        from forgettable_spark.extensions import dedup as _dedup

        try:
            _dedup.flush_bucket_reports()
        except Exception:
            n_dropped = len(_dedup._PENDING_REPORTS)
            _dedup._PENDING_REPORTS.clear()
            logging.getLogger("forgettable_spark.functions.cache").warning(
                "flush_bucket_reports failed during release; "
                "%d queued report(s) discarded",
                n_dropped,
            )
    finally:
        for cached in scope:
            try:
                cached.unpersist()
            except Exception:
                pass
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for key in jmap.keySet().toArray():
                if int(key) not in before:
                    jmap.get(key).unpersist(False)
        except Exception:
            pass


def _schema_contains(dt, target) -> bool:
    """True when ``target`` (a DataType class) occurs anywhere in ``dt``
    — through structs, arrays and maps."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, target):
        return True
    if isinstance(dt, StructType):
        return any(_schema_contains(f.dataType, target) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _schema_contains(dt.elementType, target)
    if isinstance(dt, MapType):
        return _schema_contains(dt.keyType, target) or _schema_contains(
            dt.valueType, target
        )
    return False


def _tz_awareize(value, dt):
    """Attach the driver's LOCAL timezone to every naive datetime under
    a TimestampType in a collected value tree (ADVICE r12; a struct is a
    dict, Row or tuple):
    ``collect()`` yields TimestampType values as NAIVE datetimes in
    driver-local time, but pyarrow treats naive datetimes as UTC wall
    time when building a ``timestamp(us, tz='UTC')`` array — on a
    non-UTC driver the Arrow fast path would silently shift every
    timestamp by the UTC offset. ``astimezone()`` on a naive datetime
    interprets it as local time, which is exactly the interpretation
    ``createDataFrame`` (the fallback path) applies, so both paths agree
    on every host. Schema-guided so TimestampNTZType values stay naive
    (naive IS the NTZ semantic — Arrow's plain timestamp(us) reads them
    as wall time, which is correct)."""
    from pyspark.sql.types import ArrayType, MapType, StructType, TimestampType

    if value is None:
        return None
    if isinstance(dt, TimestampType):
        return value.astimezone() if value.tzinfo is None else value
    if isinstance(dt, StructType):
        if isinstance(value, dict):
            return {
                f.name: _tz_awareize(value.get(f.name), f.dataType)
                for f in dt.fields
            }
        return tuple(_tz_awareize(v, f.dataType) for v, f in zip(value, dt.fields))
    if isinstance(dt, ArrayType):
        return [_tz_awareize(v, dt.elementType) for v in value]
    if isinstance(dt, MapType):
        return {
            _tz_awareize(k, dt.keyType): _tz_awareize(v, dt.valueType)
            for k, v in value.items()
        }
    return value


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A frame built on the driver, as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list_of_tuples, schema)`` parallelizes
    PICKLED rows into a ``PythonRDD``: every action over the frame, and
    over any plan that joins or unions it, runs a Python-worker stage
    (on a 4-core host 170–300 ms from task launch to the function
    starting, 2.4–3.3 s when workers are cold). The same rows routed
    through ONE pyarrow table, typed from the Spark schema, become a
    local relation: a scan of it starts no Python worker, and collecting
    it alone starts no job. This holds with the Arrow conf off and for
    empty ``rows``.

    ``rows`` are sequences in schema order (tuples or Rows). A naive
    datetime under a TimestampType is read as UTC, the API's rule
    (``api._to_us``); collected rows, whose naive values are
    driver-local, go through :func:`_tz_awareize` first."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _local_result_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Re-wrap collected rows as a DataFrame for the caller, through
    :func:`local_frame` (value-equality is test-locked in
    tests/test_cache_lifecycle.py::test_local_result_df_arrow_path):
    a noop write of a 500-row result measures ~0.05 s against ~0.49 s
    for pickled rows. coalesce(1): the result is driver-small by
    contract (RUN_RELEASED_MAX_ROWS), so fanning it back out over
    defaultParallelism tasks is pure scheduling overhead.

    A type Arrow cannot convert falls back to pickled rows with a
    warning naming the schema; a registered query reaching it is a bug."""
    import pyarrow as pa
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.types import TimestampType

    if _schema_contains(schema, TimestampType):
        # Collected TimestampType values are NAIVE local datetimes; make
        # them aware before Arrow reads them as UTC (_tz_awareize).
        rows = [_tz_awareize(r, schema) for r in rows]
    try:
        return local_frame(spark, rows, schema).coalesce(1)
    except (pa.ArrowException, PySparkTypeError) as exc:
        logging.getLogger(__name__).warning(
            "_local_result_df: Arrow conversion failed (%s); pickled rows "
            "for schema %s",
            exc,
            schema.simpleString(),
        )
        return spark.createDataFrame(rows, schema)


def run_released(spark: SparkSession, build: Callable[[], DataFrame]) -> DataFrame:
    """Run ``build()`` to completion and leave zero executor storage behind.

    Collects the result (one action — every cache the build created is
    populated and reused exactly as in the lazy plan, so the work done is
    identical), then unpersists the scope's caches, then sweeps any RDD
    blocks newly persisted during the build (``localCheckpoint`` lineage
    truncation in iterative operators). Returns the rows re-wrapped as a
    DataFrame with the original schema, so callers (driver, bench) can
    keep treating the query as a DataFrame source.
    """
    if _AUDIT_MODE:
        return build()
    _prof = os.environ.get("SPARK_GRAFT_PROFILE_PHASES") == "1"
    if _prof:
        import time as _time

        _t0 = _time.perf_counter()
    before = _persistent_rdd_ids(spark)
    scope: list[DataFrame] = []
    _SCOPES.append(scope)
    try:
        df = build()
        if _prof:
            _t1 = _time.perf_counter()
        # Row-cap guard (VERDICT r8 #6): collect through a LIMIT of
        # cap+1 — one extra potential row proves an overflow without
        # materializing an unbounded result on the driver (the global
        # limit short-circuits), and at or under the cap the limited
        # collect IS the complete result set. executeTake's incremental
        # partition scheduling (1, 4, 16, ... waves) would otherwise add
        # a scheduling round per wave to every registered query, so the
        # initial wave is pinned to all partitions for this one collect —
        # one job, exactly like the unguarded collect().
        cap = _run_released_max_rows()
        prev_init = spark.conf.get("spark.sql.limit.initialNumPartitions", None)
        spark.conf.set("spark.sql.limit.initialNumPartitions", str(2**31 - 1))
        try:
            rows = df.limit(cap + 1).collect()
            if _prof:
                _t2 = _time.perf_counter()
                print(
                    f"[phases] build={_t1 - _t0:.3f}s collect={_t2 - _t1:.3f}s",
                    flush=True,
                )
        finally:
            if prev_init is None:
                spark.conf.unset("spark.sql.limit.initialNumPartitions")
            else:
                spark.conf.set("spark.sql.limit.initialNumPartitions", prev_init)
        if len(rows) > cap:
            raise RuntimeError(
                f"run_released: result exceeds the {cap}-row driver "
                "collect cap (SPARK_GRAFT_RUN_RELEASED_MAX_ROWS) — this "
                "query's output is corpus-proportional, not driver-small; "
                "route it through released_scope and a write instead"
            )
        schema = df.schema
    finally:
        _SCOPES.pop()
        # Release runs on BOTH paths: a failed build must not leak its
        # sketch caches (or queued report plan references) until LRU
        # eviction — that storage-creep is the exact failure mode this
        # module exists to prevent.
        _release_scope(spark, scope, before)
    return _local_result_df(spark, rows, schema)


#: AQE coalescing floor for byte-light, CPU-dense executions
#: (:func:`run_released_cpu_dense`). Override via
#: SPARK_GRAFT_CPU_DENSE_MIN_PARTITION.
CPU_DENSE_MIN_PARTITION_SIZE_DEFAULT = "64k"


def run_released_cpu_dense(spark: SparkSession, build: Callable[[], DataFrame]) -> DataFrame:
    """:func:`run_released` with the AQE partition-coalescing floor
    lowered for this one execution (r12 optimization, guide §2.5).

    AQE coalesces post-shuffle partitions by BYTES
    (``coalescePartitions.minPartitionSize``, default 1m, under
    ``parallelismFirst``), which is the right model for byte-dense
    relational work. The embedding family's candidate-verification
    stages are the opposite: a few hundred KB of (id, vector) pairs
    carrying a 64-wide double fold per row — AQE packs them into 1-2
    tasks and serializes minutes of per-element CPU behind one core
    (measured: semantic_dedup_probed's pair scan 645 ms @ 2 tasks →
    199 ms @ 14 tasks with the floor at 64k). At production scale the
    floor is irrelevant by construction — coalescing targets
    ``totalBytes / parallelism``, far above any floor once real data
    volumes flow — so lowering it ONLY affects the byte-light regime
    this family occupies at bench scale. Scoped to the one execution:
    set before, restored after, so byte-dense queries (the text
    family measurably regresses under a blanket 64k floor) keep the
    default.

    NOT concurrency-safe (ADVICE r12): the set/restore mutates the
    SHARED session conf, so overlapping callers on one SparkSession can
    leak the floor into a concurrent byte-dense query or restore the
    default mid-run of another cpu-dense one. This module's documented
    posture is one driver thread building queries at a time (module
    docstring — the same assumption run_released's RDD sweep makes); a
    concurrent-query deployment should give each worker its own
    ``spark.newSession()`` (shared cache, isolated SQL conf)."""
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    value = os.environ.get(
        "SPARK_GRAFT_CPU_DENSE_MIN_PARTITION", CPU_DENSE_MIN_PARTITION_SIZE_DEFAULT
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        return run_released(spark, build)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


class released_scope:
    """Context manager twin of :func:`run_released` for callers whose
    results are NOT driver-small (per-document verdict logs, table
    writes): everything inside the ``with`` block gets the same cache
    scope and the same exit-time release (scope unpersist + new-RDD-id
    sweep + report flush), but nothing is collected — the caller
    materializes its frames however it wants (writes, localCheckpoint)
    BEFORE the block ends, because after it every scoped cache and every
    checkpoint block created inside is gone."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark

    def __enter__(self) -> "released_scope":
        self._before = _persistent_rdd_ids(self._spark)
        self._scope: list[DataFrame] = []
        _SCOPES.append(self._scope)
        return self

    def __exit__(self, *exc) -> bool:
        _SCOPES.pop()
        _release_scope(self._spark, self._scope, self._before)
        return False
