"""Hot-bucket cap: the skew guard on LSH / SimHash candidate joins.

A boilerplate-heavy corpus can put a huge slice of the documents under one
band key (or byte block); the cap excludes such buckets
from candidate generation — bounded work, logged drop — instead of letting
one bucket square into the candidate join.
"""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

from forgettable_spark.extensions import dedup


def _boilerplate_docs(spark, n_hot=40, n_normal=6):
    """n_hot identical documents (one hot bucket everywhere) plus a few
    distinct ones."""
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated in every single document here").alias(
            "text"
        ),
        F.lit("en").alias("lang"),
    )
    normal = spark.range(n_normal).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.concat(F.lit("unique document body number "), F.col("id").cast("string"),
                 F.lit(" with its own words entirely")).alias("text"),
        F.lit("en").alias("lang"),
    )
    return hot.union(normal)


def test_simhash_cap_bounds_candidates(spark, caplog):
    docs = _boilerplate_docs(spark)
    uncapped = dedup.simhash_pairs(docs, persist=False)
    # 40 identical docs alone produce C(40,2) = 780 pairs
    assert uncapped.count() >= 780
    dedup._PENDING_REPORTS.clear()
    with caplog.at_level(logging.WARNING, logger="forgettable_spark.extensions"):
        capped = dedup.simhash_pairs(docs, persist=False, max_bucket_size=10)
        # construction is lazy: the report is queued, nothing logged yet
        assert dedup._PENDING_REPORTS and not caplog.records
        n = capped.count()
        assert dedup.flush_bucket_reports() == 1
    # every byte block of the identical docs is one 40-doc bucket -> all dropped
    assert n < 780
    hot_ids = set(range(40))
    for r in capped.collect():
        assert r["doc_a"] not in hot_ids or r["doc_b"] not in hot_ids
    assert any("dropped" in rec.message and "hot bucket" in rec.message
               for rec in caplog.records)
    # the warning carries the real histogram: 4 byte-blocks x 40 docs
    msg = next(rec.message for rec in caplog.records if "hot bucket" in rec.message)
    assert "4 hot bucket(s)" in msg and "160 rows" in msg


def test_lsh_cap_bounds_candidates(spark, caplog):
    docs = _boilerplate_docs(spark)
    dedup._PENDING_REPORTS.clear()
    with caplog.at_level(logging.WARNING, logger="forgettable_spark.extensions"):
        capped = dedup.minhash_lsh_pairs(docs, persist=False, max_bucket_size=10)
        rows = capped.collect()
        dedup.flush_bucket_reports()
    hot_ids = set(range(40))
    assert not any(r["doc_a"] in hot_ids and r["doc_b"] in hot_ids for r in rows)
    assert any("minhash_lsh_pairs" in rec.message for rec in caplog.records)


def test_cap_none_is_identity(spark):
    docs = _boilerplate_docs(spark, n_hot=5, n_normal=3)
    a = dedup.simhash_pairs(docs, persist=False).collect()
    b = dedup.simhash_pairs(docs, persist=False, max_bucket_size=None).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_cap_agg_variant_matches_window_variant(spark, caplog):
    """cap_hot_buckets_agg (aggregation + broadcast anti-join — the
    zero-input-shuffle form the admission path uses) must produce the
    SAME capped rows and the SAME dropped-bucket report numbers as the
    window form, on a corpus with hot, warm, and at-cap buckets."""
    rows = (
        [(i, "hot") for i in range(20)]
        + [(100 + i, "warm") for i in range(5)]
        + [(200 + i, "atcap") for i in range(3)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "key"])
    a = dedup.cap_hot_buckets(df, ["key"], 3, "w", log_dropped=False)
    b = dedup.cap_hot_buckets_agg(df, ["key"], 3, "a", log_dropped=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # at-cap bucket kept (strict >), hot+warm dropped
    kept_keys = {r["key"] for r in b.collect()}
    assert kept_keys == {"atcap"}

    import logging

    dedup._PENDING_REPORTS.clear()
    with caplog.at_level(logging.WARNING, logger="forgettable_spark.extensions"):
        dedup.cap_hot_buckets_agg(df, ["key"], 3, "agg-report").collect()
        dedup.flush_bucket_reports()
    msg = [r.message for r in caplog.records if "agg-report" in r.message]
    assert msg and "2 hot bucket(s) totalling 25 rows" in msg[0]


def test_incremental_admit_index_side_never_shuffles(spark):
    """The admission band join broadcasts the batch side and caps the
    index with the aggregation variant, so the INDEX rows themselves
    cross no exchange: every Exchange in the plan must be
    broadcast-or-tiny (the per-bucket partial-count aggregation), never
    a hashpartitioning of the banded index rows (which carry doc_id)."""
    old = spark.createDataFrame(
        [(i, f"stored doc {i} alpha beta gamma delta") for i in range(50)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1000, "stored doc 7 alpha beta gamma delta"), (1001, "fresh text")],
        ["doc_id", "text"],
    )
    old_sigs = dedup.minhash_sketch_narrow(old)
    new_sigs = dedup.minhash_sketch_narrow(new)
    out = dedup.incremental_admit_from_sketches(
        old_sigs, new_sigs, old, new, persist=False, max_bucket_size=8,
        broadcast_batch=True,  # the production micro-batch configuration
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" not in m.group(1), (
            "banded index rows (doc_id) crossed a shuffle:\n" + m.group(0)
        )
