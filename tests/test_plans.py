"""Physical-plan audits: the properties that make the engine viable at
100 TB must hold structurally, not accidentally — assert them on the
optimized plans so a refactor can't silently regress them.
"""

from __future__ import annotations

import pytest

from forgettable_spark import entrypoints as ep
from tests.conftest import SF_SMOKE


def _formatted_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_single_distribution_filter_pushes_to_scan(spark):
    """R1 point query: the distribution predicate must reach the parquet
    reader (partition pruning / row-group skipping at scale)."""
    plan = _formatted_plan(ep.secondary_queries()["get_dist_single"](spark, SF_SMOKE))
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_snapshot_uses_partial_aggregation(spark):
    """W1 read side: map-side combine must collapse the raw log before the
    shuffle — the difference between shuffling unique (dist, bin) pairs
    and shuffling 100 TB of raw increments."""
    plan = _formatted_plan(ep.queries()["snapshot_state"](spark, SF_SMOKE))
    assert "partial_sum" in plan
    assert "partial_max" in plan


def test_n_most_probable_shares_one_window_exchange(spark):
    """R3: the per-distribution T window, the rank window, and the Z window
    must all ride one hash exchange on distribution (plus the aggregation
    exchange) — re-sorts are fine, re-shuffles are not."""
    plan = _formatted_plan(ep.queries()["n_most_probable"](spark, SF_SMOKE))
    exchanges = [l for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l]
    assert len(exchanges) <= 2, f"expected <=2 exchanges, got {len(exchanges)}:\n" + "\n".join(
        exchanges
    )


def test_scan_prunes_columns(spark):
    """Column pruning: the events scan for the snapshot must not read
    value/props (ReadSchema limited to what the query needs)."""
    plan = _formatted_plan(ep.queries()["snapshot_state"](spark, SF_SMOKE))
    read_schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema_lines, "no ReadSchema in plan"
    rs = read_schema_lines[0]
    assert "value" not in rs and "props" not in rs


def test_chunk_dedup_single_hash_exchange_no_text(spark):
    """Sub-document chunk dedup: chunking + md5 are scan-stage row-local;
    the count and canonical-rank windows must share ONE exchange keyed by
    chunk_md5, and the chunk text must never ride a shuffle (only the
    fixed-width hash does)."""
    plan = _formatted_plan(
        {**ep.queries(), **ep.secondary_queries()}["dedup_chunk_exact"](spark, SF_SMOKE)
    )
    exchanges = [
        l for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l
    ]
    assert len(exchanges) == 1, f"expected 1 exchange:\n" + "\n".join(exchanges)
    assert "hashpartitioning(chunk_md5" in plan
    # the exploded chunk string is projected away before the exchange
    assert "_chunk" not in plan.split("Exchange", 1)[1].split("Project", 1)[0]


def test_media_near_dup_candidate_join_is_ids_only(spark):
    """The perceptual-hash candidate join (the quadratic-risk stage) must
    carry only (media_id, band, bval) — the histogram/sha columns join
    back AFTER the distinct, so no wide column ever rides the banded
    self-join, broadcast or shuffled."""
    import re

    from forgettable_spark import entrypoints_ext as ext
    from forgettable_spark.functions.cache import plan_audit_mode

    with plan_audit_mode():
        df = ext.queries()["media_near_dup"](spark, SF_SMOKE)
        plan = _formatted_plan(df)
    m = re.search(
        r"Output \[2\]: \[media_a#\d+L, media_b#\d+L\]\s*\nInput \[6\]: \[([^\]]+)\]",
        plan,
    )
    assert m, "candidate-join projection (media_a, media_b from 6 band cols) not found"
    assert "counts" not in m.group(1) and "sha" not in m.group(1)
    # exactly one Arrow-batched featurize pass feeds the whole pipeline
    assert "MapInPandas" in plan


def test_text_ops_are_shuffle_free(spark):
    """Text analysis is row-local: no Exchange anywhere in the plan.
    (text_stats moved to the secondary registry in the r7 rotation —
    the plan contract is unchanged.)"""
    plan = _formatted_plan(ep.secondary_queries()["text_stats"](spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_simhash_sketch_shuffles_one_counter_row_per_doc(spark):
    """The sketch's only exchange is the doc_id aggregation, and a partial
    (map-side) aggregate must sit below it — so each document's token
    votes collapse inside the scan stage and the shuffle carries one
    32-counter row per doc, never the exploded tokens."""
    plan = _formatted_plan(ep.secondary_queries()["dedup_simhash"](spark, SF_SMOKE))
    exchanges = [l for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l]
    assert len(exchanges) == 1, f"expected 1 exchange:\n" + "\n".join(exchanges)
    assert "partial_sum" in plan or "Partial" in plan


def test_simhash_pairs_self_join_reuses_sketch_exchange(spark):
    """The standalone library path's uncached block self-join must
    compute the sketch ONCE: both sides read the same aggregation
    exchange (ReusedExchange), which is why simhash_pairs needs no
    cache at all. Asserted with AQE off — the static ReuseExchange rule
    is deterministic, while AQE's runtime stage-reuse can race when
    both identical stages are submitted concurrently (reuse still
    happens in the common case, but the plan string isn't stable enough
    to assert on)."""
    from forgettable_spark.extensions import dedup
    from forgettable_spark.sources import load_table

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = dedup.simhash_pairs(
            load_table(spark, SF_SMOKE, "documents"), max_hamming=3
        )
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in executed
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_simhash_pairs_registered_query_is_spine_backed(spark):
    """The REGISTERED query reads the materialized sketch spine: its
    plan scans the combined spine's parquet (tempdir prefix
    'forgettable-spine') and contains no token explode / sketch
    aggregation — the corpus text is out of the plan entirely."""
    plan = _formatted_plan(ep.queries()["dedup_simhash_pairs"](spark, SF_SMOKE))
    assert "forgettable-spine" in plan
    assert "documents.parquet" not in plan


def test_whole_stage_codegen_covers_decay(spark):
    """Expected-mode decay must live inside WholeStageCodegen (no Python
    in the hot path). Codegen stage markers (`*(n)`) only appear in the
    executed plan once AQE finalizes, so run the query first."""
    df = ep.queries()["get_dist_all"](spark, SF_SMOKE)
    df.collect()  # count() would plan a separate query; AQE must finalize THIS df
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "*(" in executed  # WholeStageCodegen stage marker (star notation)
    for plan in (executed, _formatted_plan(df)):
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_relational_joins_broadcast_dimensions(spark):
    """Dimension tables must broadcast — a shuffle join on a 100 TB fact
    side for a kB-scale dimension is the classic scale failure."""
    for name in ("rel_top_customers", "rel_part_supplier_volume"):
        df = {**ep.queries(), **ep.secondary_queries()}[name](spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, f"{name} did not broadcast:\n{plan[:500]}"
        assert "SortMergeJoin" not in plan


def test_poisson_mode_uses_arrow_udf(spark):
    """Stochastic mode is the explicit exception: exactly one Arrow-batched
    Python stage, never row-at-a-time."""
    plan = _formatted_plan(ep.queries()["get_dist_poisson"](spark, SF_SMOKE))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """Decontamination: the eval/benchmark gram set is tiny next to the
    corpus, so both the gram join and the size join must be broadcast —
    the 100 TB corpus side streams through scan-stage hash probes and is
    never shuffled by a SortMergeJoin."""
    from forgettable_spark import entrypoints_ext as ext

    plan = _formatted_plan(ext.queries()["decontaminate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_scan_is_shuffle_free(spark):
    """PII scan is row-local regexp work: no Exchange in the plan.
    (Secondary registry since the r8 rotation.)"""
    plan = _formatted_plan(ep.secondary_queries()["pii_scan"](spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_top_ngrams_partial_aggregates_before_shuffle(spark):
    """Corpus vocabulary: the gram counts must partial-aggregate map-side
    and the top-k must be a TakeOrderedAndProject, not a global sort.
    (Secondary registry since the r8 rotation.)"""
    plan = _formatted_plan(ep.secondary_queries()["corpus_top_ngrams"](spark, SF_SMOKE))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort stage


# The ONLY registered queries allowed to run a Python worker stage: the
# seeded-Poisson sampler (ArrowEvalPython scalar pandas UDF), the
# multimodal featurizer, and the media near-dup pipeline it feeds (both
# one MapInPandas decode/featurize pass over Arrow batches of media
# bytes — test_media_near_dup_candidate_join_is_ids_only asserts the
# latter's presence). Everything else must stay JVM-side. VERDICT r7
# #3: the audit regex previously missed MapInPandas-family nodes, so
# this guarantee was unenforced — and indeed the r7 claim that only TWO
# queries carry Python stages was wrong; the widened detector found the
# third on its first full sweep.
PYTHON_STAGE_ALLOWLIST = {
    "get_dist_poisson",
    "multimodal_image_features",
    "media_near_dup",
}


def test_no_per_generated_row_recomputation(spark):
    """r9 defect class (the postings finding): an expensive expression
    in a Generate's parent Project evaluates once per EMITTED row —
    O(doc_len²) per document for a token explode. Scanned over BOTH
    registries with the same detector audit_plans.py reports through;
    expressions over the generator's own output are legitimately
    per-row and not flagged."""
    from scripts.audit_plans import generator_recompute
    from forgettable_spark.functions.cache import plan_audit_mode

    flagged = {}
    for reg in (ep.queries(), ep.secondary_queries()):
        for name, fn in reg.items():
            spark.catalog.clearCache()
            with plan_audit_mode():
                hits = generator_recompute(_formatted_plan(fn(spark, SF_SMOKE)))
            if hits:
                flagged[name] = hits
    spark.catalog.clearCache()
    assert flagged == {}, f"per-generated-row recomputation: {flagged}"


def test_python_stages_closed_set(spark):
    """Exactly the allowlisted opt-in Arrow paths (three) carry a Python
    physical node —
    scanned over the WHOLE primary registry with the widened detector
    (the same one scripts/audit_plans.py uses), so an accidental pandas
    stage in any hot path fails loudly here."""
    from scripts.audit_plans import summarize
    from forgettable_spark.functions.cache import plan_audit_mode

    flagged = set()
    for name, fn in ep.queries().items():
        spark.catalog.clearCache()
        with plan_audit_mode():
            s = summarize(_formatted_plan(fn(spark, SF_SMOKE)))
        if s["python"]:
            flagged.add(name)
    spark.catalog.clearCache()
    assert flagged == PYTHON_STAGE_ALLOWLIST


def test_two_level_assignment_folds_are_k1_plus_one(spark):
    """The two-level quantizer's economics (VERDICT r9 #3): the coarse
    fold must bind as its OWN column so the k1 lazy CASE branches each
    evaluate only their fine codebook — k1+1 `aggregate(` folds in the
    optimized assignment plan. If CollapseProject ever inlined the
    non-cheap coarse fold into the CASE conditions, the count would
    jump toward k1·(k1+1) and the k1+k2 per-row cost claim would be
    silently false."""
    from pyspark.sql import functions as F

    from forgettable_spark.extensions.codebook import (
        train_two_level_codebook,
        with_two_level_cell,
    )
    from forgettable_spark.extensions.similarity import as_double
    from forgettable_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    k1 = 4
    coarse, fines = train_two_level_codebook(emb, k1=k1, k2=2)
    assigned = with_two_level_cell(
        emb.select(as_double(F.col("embedding")).alias("_v")), coarse, fines
    )
    plan = assigned._jdf.queryExecution().optimizedPlan().toString()
    folds = plan.count("aggregate(")
    assert folds == k1 + 1, f"expected {k1 + 1} aggregate folds, got {folds}"


def test_two_level_audit_sees_both_plan_halves(spark):
    """The r9 PLANS.md blind spot (VERDICT r9 #5): under plan_audit_mode
    the eager assignment checkpoint is skipped, so the audited plan of
    the registered two-level query carries the parquet scan AND the
    branchy assignment folds — not a post-checkpoint scan-of-blocks
    that summarize() reports as 'local-only plan'."""
    from scripts.audit_plans import summarize
    from forgettable_spark.functions.cache import plan_audit_mode

    spark.catalog.clearCache()
    with plan_audit_mode():
        plan = _formatted_plan(
            ep.queries()["semantic_dedup_two_level"](spark, SF_SMOKE)
        )
    spark.catalog.clearCache()
    s = summarize(plan)
    assert not s["local"], "audit still sees a post-checkpoint local plan"
    assert "Scan parquet" in plan
    assert plan.count("aggregate(") > 0


def _nodes_outside_cache(plan) -> list[str]:
    """Class names of an executed plan's operators, not descending into a
    cached relation (its own build plan is not part of the read)."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        names.append(name)
        if name in ("InMemoryTableScanExec", "TableCacheQueryStageExec"):
            continue
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def test_materialized_point_read_is_one_job_without_exchange(spark):
    """A served point read scans the persisted snapshot, which is already
    hash-partitioned by distribution: one job, and no exchange or
    aggregate outside the cached relation."""
    from forgettable_spark.api import ForgetTable
    from forgettable_spark.sources import load_forget_events

    table = ForgetTable(spark, load_forget_events(spark, SF_SMOKE), rate=0.0).materialize()
    try:
        d = table.events.first()["distribution"]
        df = table.dist(d)
        sc = spark.sparkContext
        group = "materialized-point-read"
        sc.setJobGroup(group, group)
        try:
            assert df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        names = _nodes_outside_cache(df._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScanExec" in names or "TableCacheQueryStageExec" in names
        assert not [n for n in names if "Exchange" in n or "Aggregate" in n], names
    finally:
        table._snapshot().unpersist()
