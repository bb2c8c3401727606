"""Connected components over near-duplicate pairs: the clustering step
that turns pairwise dedup output into actionable keep/drop decisions.

Near-dup detectors emit *pairs*; deduplication needs *clusters* (a≈b and
b≈c must collapse into one group even when a≈c was never tested). That is
graph connectivity — the one operator family here that no single SQL pass
expresses. The implementation is iterative hash-min label propagation
with pointer jumping: every node starts labeled with its own id; each
round a node takes the minimum of (its label, its neighbors' labels, its
label's label). The last term — path compression, the two-phase hash-min
trick — doubles the distance a minimum has travelled every round, so
convergence needs O(log diameter) rounds instead of O(diameter): a
64-node path converges in ~8 rounds, not 63 (asserted in
tests/test_components.py).

Scale posture: each round is two joins (labels × edges, labels × labels)
plus one aggregation, all shuffling on node ids; the loop width is sized
from the measured edge count, so a 100 TB near-dup graph fans out while a
few-thousand-edge graph stays narrow enough that scheduling overhead
doesn't dominate. The driver only coordinates the loop and reads a
one-row changed-label count per round. ``localCheckpoint`` every round
truncates the growing lineage so round N doesn't replay rounds 1..N-1.
The DuckDB oracle states the same fixpoint as a recursive CTE (component
label = min reachable node id).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from forgettable_spark.functions.cache import local_frame

#: Edges per loop task — fixed-width (src, dst) pairs are tiny, so one
#: task can own millions; below this the loop runs single-partition.
EDGES_PER_PARTITION = 2_000_000

#: Below this many PAIRS the component computation runs as driver-local
#: union-find instead of the iterative join loop — the same adaptive
#: threshold logic as a broadcast join: a graph this small is pure
#: scheduling overhead for a multi-round distributed loop (measured ~6 s
#: of fixed cost at sf0.1 for a graph union-find finishes in
#: milliseconds), and ~1M fixed-width pairs is a few tens of MB on the
#: driver. A 100 TB corpus' near-dup graph exceeds it and takes the
#: distributed path; the two paths are result-identical (test-asserted).
LOCAL_CC_PAIRS = 1_000_000


def _local_components(spark, pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Driver-local union-find (path-halving) with min-id component
    labels — the small-graph fast path of :func:`connected_components`."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for row in pairs.select(a_col, b_col).collect():
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[rb] = ra
    roots: dict = {}
    for node in parent:
        r = find(node)
        m = roots.get(r)
        if m is None or node < m:
            roots[r] = node
    dtype = pairs.schema[a_col].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", dtype, False), StructField("component", dtype, False)]
    )
    return local_frame(spark, [(n, roots[find(n)]) for n in parent], schema)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 25,
    checkpoint_every: int = 1,
    loop_partitions: int | None = None,
    jump: bool = True,
    local_threshold: int = LOCAL_CC_PAIRS,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; the
    component id is the minimum node id of the component.

    Works for any orderable node type (BIGINT ids, string doc ids): the
    convergence probe counts changed labels — an equality test — rather
    than summing them, so non-numeric ids cannot silently break it.

    Raises if the fixpoint is not reached within ``max_rounds`` — with
    pointer jumping even a path graph of 2^25 nodes converges inside the
    default cap, so hitting it signals a pathological input.
    """
    # Materialize the incoming pairs FIRST: the two-direction union below
    # reads `pairs` twice, and without this the whole upstream candidate
    # pipeline (sketch join, verification) would execute once per branch —
    # measured 2.5x slower on the sf0.1 near-dup graph.
    pairs = pairs.localCheckpoint(eager=True)
    # Size the loop from the measured pair count (free on the checkpoint):
    # near-dup graphs are tiny relative to the corpus, and at the session's
    # default shuffle width the loop cost is pure per-task scheduling
    # overhead — but a default pinned to a small constant would funnel a
    # genuinely huge graph into a handful of tasks. (2·pairs is an upper
    # bound on the deduplicated edge count — sizing only needs the scale.)
    # Below ``local_threshold`` pairs, skip the loop entirely: driver-local
    # union-find over the checkpointed pairs (``loop_partitions`` set
    # explicitly forces the distributed loop — tests and callers probing
    # loop mechanics use that, or ``local_threshold=0``).
    if loop_partitions is None:
        n_pairs = pairs.count()
        if n_pairs <= local_threshold:
            return _local_components(pairs.sparkSession, pairs, a_col, b_col)
        loop_partitions = max(1, math.ceil(2 * n_pairs / EDGES_PER_PARTITION))
    # One materialization of the deduplicated edge list, re-keyed to a
    # stable narrow partitioning so the per-round join reuses it.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .repartition(loop_partitions, "src")
        .localCheckpoint(eager=True)
    )
    # Fused first round: starting from identity labels, one hash-min round
    # gives every node min(itself, its neighbors) — and the pointer-jump
    # term is an identity no-op on identity labels. That is ONE aggregation
    # over the edge list, so the loop's two joins (+ union + probe) are
    # skipped for round 1 entirely; the loop below continues from round 2.
    labels = edges.groupBy("src").agg(F.min("dst").alias("_min_nb")).select(
        F.col("src").alias("node"),
        F.least(F.col("src"), F.col("_min_nb")).alias("component"),
    )
    for round_idx in range(1, max_rounds):
        # Offers: each node's label flows to its neighbors (1-hop), and —
        # pointer jumping — each node looks up its *label's* current label,
        # so the distance already covered doubles every round.
        #
        # shuffle_hash hint on both joins: the label table is small enough
        # that Spark would broadcast it, but a broadcast costs a driver
        # collect + rebuild EVERY round — a per-round fixed tax the loop
        # pays `rounds` times. A shuffle-hash join over the loop's narrow
        # stable partitioning is cheaper per round (measured ~25% off the
        # whole loop at sf0.1) and, unlike broadcast, never hits a driver
        # memory ceiling when the graph is genuinely large.
        rl = labels.hint("shuffle_hash")
        offers = edges.join(rl, edges.src == rl.node).select(
            F.col("dst").alias("node"), F.col("component")
        )
        if jump:
            l2 = labels.select(
                F.col("node").alias("c_node"), F.col("component").alias("c_comp")
            ).hint("shuffle_hash")
            jumped = labels.join(l2, labels.component == l2.c_node).select(
                F.col("node"), F.col("c_comp").alias("component")
            )
            offers = offers.union(jumped)
        # Each node keeps the min of its own label and all offers; the own
        # row is tagged so the aggregation also recovers the *previous*
        # label, making the convergence probe a type-agnostic equality
        # count instead of a numeric sum (which would NULL out on string
        # ids and spuriously "converge" after one round).
        own = labels.select("node", "component", F.lit(True).alias("_own"))
        new_labels = (
            own.unionByName(offers.withColumn("_own", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_own"), F.col("component"))).alias("_prev"),
            )
        )
        # Materialize each round: new_labels feeds BOTH the convergence
        # probe and the next round — without a checkpoint every round
        # re-executes the whole chain of prior rounds (O(rounds²) total
        # work) and the loop crawls. The checkpoint is *lazy* so the
        # convergence count below materializes it in the same Spark job
        # (one action per round, not two); the label table is one row per
        # node, so materialization is cheap, and the checkpoint truncates
        # lineage so the plan doesn't deepen.
        if checkpoint_every and (round_idx + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=False)
        # Adaptive probe cadence: the count() action is half the loop's
        # fixed cost at small scale, so after the first three rounds the
        # probe runs every SECOND round. Labels only ever decrease, so a
        # fixpoint reached on an unprobed round is detected one round
        # later — one cheap extra round (its lazy checkpoint folds into
        # the probing round's single job) against half the actions on
        # long convergence tails.
        probe = round_idx < 3 or round_idx % 2 == 1 or round_idx == max_rounds - 1
        if probe:
            n_changed = new_labels.filter(F.col("component") != F.col("_prev")).count()
            if n_changed == 0:
                return new_labels.drop("_prev")
        labels = new_labels.drop("_prev")
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds "
        "(graph diameter exceeds the cap)"
    )


def dedup_keep_list(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize keep/drop decisions from near-dup pairs.

    Returns (doc_id, component, keep): nodes absent from any pair are
    singleton components (kept); inside each component only the minimum
    id survives — the same canonical-min rule as exact_dedup.
    """
    comp = connected_components(pairs)
    out = (
        all_ids.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
        .withColumn("keep", F.col(id_col) == F.col("component"))
    )
    return out
