"""Deterministic sampling and split assignment for training corpora.

``rand()`` is the wrong tool on a distributed corpus: it changes with
partitioning, retries, and cluster size, so two runs of "the same" 90/5/5
split disagree. These operators derive every decision from a salted
content hash — row-local, shuffle-free, bit-reproducible anywhere, and
re-computable later (a doc's split can be re-derived from its id alone,
no assignment table needed).

The hash is the engine's standard md5-prefix integer (same construction
as :func:`forgettable_spark.extensions.text.shingle_hash`) taken mod
``BUCKETS``; DuckDB oracles restate it literally, so assignments are
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Assignment granularity: fractions resolve to 1/10000ths.
BUCKETS = 10_000


def hash_bucket(id_col: Column, salt: str) -> Column:
    """Deterministic bucket in [0, BUCKETS): md5 of ``salt:id``, first 15
    hex chars as int, mod BUCKETS. Oracle twin:
    ``('0x' || substr(md5(salt || ':' || id), 1, 15))::BIGINT % 10000``."""
    h = F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % F.lit(BUCKETS)


def hash_split(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Assign every row to a named split (e.g. train/val/test) by
    cumulative weight boundaries over the hash bucket.

    Returns the input plus a ``split`` column. Weights must sum to 1
    (within bucket granularity); iteration order of ``weights`` fixes the
    boundary order, so pass an explicitly ordered dict.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = hash_bucket(F.col(id_col), salt)
    expr = None
    acc = 0.0
    for name, w in weights.items():
        acc += w
        bound = round(acc * BUCKETS)
        cond = b < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # float-accumulation guard: the final boundary is exactly BUCKETS
    last = list(weights)[-1]
    return docs.withColumn("split", expr.otherwise(F.lit(last)))


def sample_per_group_budget(
    docs: DataFrame,
    budget: int,
    weight_col: str = "n_chars",
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Token-budgeted per-group sampling: keep documents in a
    deterministic pseudo-random order (md5 over the salted id, the id
    appended so ties are impossible) until each group's cumulative
    ``weight_col`` reaches ``budget`` — "about N tokens per language",
    the unit training mixes are actually specified in, where a document
    COUNT cap over-weights groups with long documents.

    A document is kept iff the running total INCLUDING it is <= budget,
    plus the first document of a group always (so a group whose first
    document alone exceeds the budget still contributes one document
    rather than silently vanishing). Deterministic, partitioning
    independent, and nested: raising the budget only adds documents.
    Same single group-keyed shuffle; the running sum shares the
    row-number window's sort.
    """
    from pyspark.sql import Window

    order = F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(group_col)
        .orderBy(order, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        docs.withColumn("_cum", F.sum(F.col(weight_col)).over(w))
        .withColumn("_srn", F.row_number().over(wn))
        .filter((F.col("_cum") <= budget) | (F.col("_srn") == 1))
        .drop("_cum", "_srn")
    )


def mixture_plan(
    docs: DataFrame,
    targets: dict[str, float],
    group_col: str = "source",
) -> DataFrame:
    """Per-source sampling plan that hits a TARGET MIXTURE with maximal
    retention — the domain-reweighting step of a training-data pipeline
    (decide how much of each source survives so the blend matches the
    recipe, before any row is materialized).

    Math: with per-source counts ``n_s`` and target shares ``p_s``, the
    largest corpus honoring every share exactly has total
    ``T = min_s(n_s / p_s)`` (the scarcest source binds); each source
    keeps ``min(n_s, floor(p_s · T))``. Sources absent from ``targets``
    get share 0 and keep nothing — they're reported, not silently
    dropped. Conversely a TARGET source absent from the corpus gets a
    report row with ``n_docs = 0`` and PARTICIPATES in the min as
    ``n_s = 0`` — so ``T = 0`` and the plan keeps nothing (r10, ADVICE
    r9): no nonempty corpus can honor a share for a source that has no
    rows, and a silently-short plan whose achieved shares cannot match
    the recipe is worse than a loud all-zero one (the zero row names the
    missing/misspelled source). Output is O(sources): (source, n_docs,
    target_share, keep_n, achieved_share) — a PLAN, driver-safe at any
    corpus scale; materializing it is one per-source md5-order rank
    filter with ``keep_n`` as the cap (:func:`mixture_apply`).

    Scale posture: one partial-aggregated groupBy(source) plus two
    1-row broadcast cross-joins; nothing row-level ever shuffles. The
    float sequence (double divide → min → multiply → floor, with a 1e-9
    ulp guard so ``p_s · (n_s / p_s)`` lands on ``n_s``, not one below)
    is mirrored literally in the oracle.
    """
    if not targets:
        raise ValueError("mixture_plan: targets must name at least one source")
    # A target source with NO corpus rows must still get its (n_docs=0)
    # report row and its 0/p_s term in the min below (docstring: T
    # collapses to 0). Instead of a full-outer join against the recipe
    # (an extra tiny-but-real join stage — measured +0.56 s of
    # corpus-independent scheduling cost, r10), SEED the one groupBy
    # with zero-weight literal rows: the union's literal branch rides
    # the existing partial-agg exchange, so the plan keeps the original
    # single-aggregation shape and shares stay a row-local map lookup.
    tgt_map = F.create_map(
        *[F.lit(x) for key in sorted(targets) for x in (key, float(targets[key]))]
    )
    zeros = (
        docs.sparkSession.range(1)
        .select(
            F.explode(F.array(*[F.lit(k) for k in sorted(targets)])).alias(group_col)
        )
        .withColumn("_w", F.lit(0).cast("bigint"))
    )
    seeded = docs.select(F.col(group_col)).withColumn(
        "_w", F.lit(1).cast("bigint")
    ).unionByName(zeros)
    counts = seeded.groupBy(group_col).agg(
        F.sum("_w").cast("bigint").alias("n_docs")
    )
    j = counts.withColumn(
        "target_share", F.coalesce(tgt_map[F.col(group_col)], F.lit(0.0))
    )
    t = j.filter(F.col("target_share") > 0).agg(
        F.coalesce(
            F.min(F.col("n_docs").cast("double") / F.col("target_share")), F.lit(0.0)
        ).alias("_t")
    )
    p = j.crossJoin(F.broadcast(t)).withColumn(
        "keep_n",
        F.least(
            F.col("n_docs"),
            F.floor(F.col("target_share") * F.col("_t") + F.lit(1e-9)).cast("bigint"),
        ),
    )
    tot = p.agg(F.sum("keep_n").alias("_tot"))
    return (
        p.crossJoin(F.broadcast(tot))
        .withColumn(
            "achieved_share",
            F.when(
                F.col("_tot") > 0,
                F.col("keep_n").cast("double") / F.col("_tot").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .select(group_col, "n_docs", "target_share", "keep_n", "achieved_share")
    )


def mixture_apply(
    docs: DataFrame,
    targets: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Materialize a :func:`mixture_plan`: keep exactly ``keep_n`` rows
    per source, chosen in the engine's deterministic md5 order (the
    :func:`sample_per_group_budget` order — stable across runs,
    partitionings, and engines; growing a source's share only ever ADDS
    rows). The plan is O(sources), so it broadcasts into the corpus
    scan; the one row-level shuffle is the per-source rank window.
    """
    plan = mixture_plan(docs, targets, group_col).select(group_col, "keep_n")
    from pyspark.sql import Window

    order = F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        docs.join(F.broadcast(plan), group_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("keep_n"))
        .select(id_col, group_col)
    )
