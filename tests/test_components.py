"""Connected components: chains, multiple clusters, singletons, and the
keep-list decision."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from forgettable_spark.extensions.components import connected_components, dedup_keep_list


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def test_chain_collapses_to_one_component(spark):
    """a-b, b-c, c-d: transitive closure without ever testing a-d."""
    comp = connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)]))
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_clusters_stay_separate(spark):
    comp = connected_components(_pairs(spark, [(1, 2), (10, 11), (11, 12)]))
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_keep_list_includes_singletons(spark):
    all_ids = spark.range(6).select(F.col("id").alias("doc_id"))
    out = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in dedup_keep_list(_pairs(spark, [(1, 3), (3, 5)]), all_ids).collect()
    }
    assert out[0] == (0, True) and out[2] == (2, True) and out[4] == (4, True)
    assert out[1] == (1, True)
    assert out[3] == (1, False) and out[5] == (1, False)


def test_convergence_cap_raises(spark):
    """A long path needs ~log2(diameter) rounds; a tiny cap must raise
    loudly rather than return a half-propagated labeling."""
    chain = [(i, i + 1) for i in range(30)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_pairs(spark, chain), max_rounds=2, local_threshold=0)


def test_path_graph_converges_logarithmically(spark):
    """Pointer jumping doubles the propagated distance per round: a
    64-node path (diameter 63) must converge in ~log2 rounds, far under
    the 63 that plain 1-hop propagation would need."""
    chain = [(i, i + 1) for i in range(63)]
    comp = connected_components(_pairs(spark, chain), max_rounds=10, local_threshold=0)
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {i: 0 for i in range(64)}


def test_local_and_distributed_paths_agree(spark):
    """The driver-local union-find fast path and the distributed hash-min
    loop are result-identical on the same graph (mixed components,
    duplicate and reversed edges, a self-loop)."""
    edges = [(1, 2), (2, 3), (3, 1), (2, 1), (7, 7), (10, 11), (11, 12), (5, 4)]
    local = connected_components(_pairs(spark, edges))
    dist = connected_components(_pairs(spark, edges), local_threshold=0)
    as_map = lambda df: {r["node"]: r["component"] for r in df.collect()}
    got = as_map(local)
    assert got == as_map(dist)
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10, 12: 10, 4: 4, 5: 4}


def test_string_node_ids(spark):
    """The convergence probe is type-agnostic: string doc ids propagate
    to the true fixpoint instead of exiting after one round (a numeric
    SUM probe would cast labels to NULL and see no change)."""
    pairs = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    comp = connected_components(pairs)
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_loop_partitions_sized_from_edges(spark):
    """Tiny graph → narrow loop; the explicit override still wins."""
    comp = connected_components(_pairs(spark, [(1, 2)]), loop_partitions=3)
    assert {r["component"] for r in comp.collect()} == {1}
