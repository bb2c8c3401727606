"""Read operators R1-R4 + D3 over a forget-table snapshot.

Every operator is a pure DataFrame transform parameterized by an explicit
evaluation instant ``now_us`` (epoch microseconds) — determinism is a
feature: the reference's wall-clock ``time.Now()`` is the one impurity in
its read path, and pinning it is what makes results oracle-checkable.

All operators accept ``rate`` / ``prune`` / ``law`` and run in
deterministic ``expected`` decay mode; stochastic mode lives in
:mod:`forgettable_spark.functions.sampling` and composes the same way.

Plans are built from SQL expression text — the decay law
(:func:`~forgettable_spark.functions.decay.decayed_count_sql`) and ``Z`` /
``p`` (:mod:`~forgettable_spark.functions.normalize`) are each rendered in
one place — in a few ``withColumn``/``where`` steps. Every Column call is
a py4j round trip, and on a point read building the same plan as a
Column tree took longer than running it. User-supplied names
(distribution, fields) stay bound literals and never enter SQL text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from forgettable_spark.functions.decay import GOFORGET_DEFAULT_RATE, decayed_count_sql, dt_sql
from forgettable_spark.functions.expiry import DEFAULT_SIGMA, expiry_horizon_seconds
from forgettable_spark.functions.normalize import with_z_and_p

#: R3's selection order: un-decayed count desc, ties by bin name.
_RANK_SQL = "ROW_NUMBER() OVER (PARTITION BY distribution ORDER BY count DESC, bin ASC)"


def _one_distribution(snap: DataFrame, distribution: str | None) -> DataFrame:
    """Filter to one distribution (a bound literal, never SQL text) before
    any aggregation, so Catalyst pushes the equality into the scan."""
    if distribution is None:
        return snap
    return snap.where(F.col("distribution") == F.lit(distribution))


def decayed_state(
    snap: DataFrame,
    now_us: int,
    rate: float = GOFORGET_DEFAULT_RATE,
    prune: bool = True,
    law: str = "linear",
    mode: str = "expected",
    seed: int = 0,
) -> DataFrame:
    """Apply decay-at-read to a snapshot: ``count`` becomes the post-decay
    count, every other column passes through.

    ``mode="expected"`` (default) is the deterministic law rendered as SQL
    text; ``mode="poisson"`` is the faithful seeded stochastic sampler (a
    vectorized pandas UDF — reproducible and partition-independent, see
    :mod:`forgettable_spark.functions.sampling`). Either way every read
    operator decays through here, so ``mode``/``seed`` behave identically
    across R1-R3.

    In prune mode bins decayed to 0 are dropped (reference removes them at
    write-back, ``goforget/redis_utils.go:163-172``); an entire distribution
    decaying away simply yields no rows (the reference discards the write
    and lets TTL expiry reap the keys, ``redis_utils.go:158-161``).
    """
    if mode == "expected":
        count = F.expr(decayed_count_sql(now_us, rate, prune, law))
    elif mode == "poisson":
        from forgettable_spark.functions.sampling import poisson_decay_column

        count = poisson_decay_column(now_us, rate, prune, law, seed)
    else:
        raise ValueError(f"unknown decay mode: {mode!r} (want 'expected' or 'poisson')")
    out = snap.withColumn("count", count)
    return out.where("count > 0") if prune else out


def get_dist(
    snap: DataFrame,
    now_us: int,
    distribution: str | None = None,
    rate: float = GOFORGET_DEFAULT_RATE,
    prune: bool = True,
    law: str = "linear",
    mode: str = "expected",
    seed: int = 0,
    z_strategy: str = "window",
) -> DataFrame:
    """R1 ``/dist``: full-distribution scan + decay + normalize.

    ``z_strategy`` picks the normalization plan (``window`` or the
    skew-safe ``join`` — see :func:`forgettable_spark.functions.normalize.
    with_z_and_p`); results are identical either way.

    Returns (distribution, bin, count, Z, p) for every surviving bin.
    ``Z`` is recomputed from the decayed counts — matching the reference,
    whose ``/dist`` ignores the stored ``_Z`` and re-derives it
    (``goforget/distribution.go:96-100,132-140``).

    ``distribution=...`` filters *before* any aggregation so Catalyst
    pushes the equality predicate into the parquet scan (partition pruning
    when the log is partitioned by distribution).
    """
    snap = _one_distribution(snap, distribution)
    out = decayed_state(snap, now_us, rate, prune, law, mode, seed)
    return with_z_and_p(out, strategy=z_strategy).selectExpr(
        "distribution", "bin", "count", "Z", "p"
    )


def get_field(
    snap: DataFrame,
    fields: list[str],
    now_us: int,
    distribution: str | None = None,
    rate: float = GOFORGET_DEFAULT_RATE,
    prune: bool = True,
    law: str = "linear",
    mode: str = "expected",
    seed: int = 0,
    compat_partial_z: bool = False,
) -> DataFrame:
    """R2 ``/get``: point lookup of named bins with probabilities.

    Normative mode: decay the whole distribution, compute ``Z`` over the
    full decayed distribution, then select the requested bins — ``p`` is a
    true probability.

    ``compat_partial_z=True`` reproduces the reference quirk
    (``goforget/forget.go:117-160`` + ``distribution.go:56-78``): ``p`` is
    computed from the **un-decayed** counts against the stored
    whole-distribution ``Z`` *before* decay runs, while the returned
    ``count`` is post-decay — so ``p`` and ``count`` are mutually
    inconsistent, exactly as the reference returns them.
    """
    snap = _one_distribution(snap, distribution)
    if compat_partial_z:
        # p from un-decayed count / un-decayed Z, then decay the count
        out = decayed_state(with_z_and_p(snap), now_us, rate, prune, law, mode, seed)
    else:
        out = with_z_and_p(decayed_state(snap, now_us, rate, prune, law, mode, seed))
    return out.where(F.col("bin").isin(fields)).selectExpr(
        "distribution", "bin", "count", "Z", "p"
    )


def n_most_probable(
    snap: DataFrame,
    n: int = 10,
    now_us: int = 0,
    distribution: str | None = None,
    rate: float = GOFORGET_DEFAULT_RATE,
    prune: bool = True,
    law: str = "linear",
    mode: str = "expected",
    seed: int = 0,
) -> DataFrame:
    """R3 ``/nmostprobable``: per-distribution top-N bins.

    Reference fidelity (SURVEY.md §2.3 item 4): selection happens on the
    **un-decayed** counts (Redis ``ZREVRANGEBYSCORE … LIMIT 0 N`` runs
    before any decay, ``goforget/redis_utils.go:211-220``), decay applies
    to the N selected rows, and pruned rows vanish from the response — so
    fewer than N rows can come back. Ties break ascending by bin name for
    a deterministic total order. ``Z``/``p`` come from the full decayed
    distribution (normative full-Z semantics).

    Plan shape: ``rank`` is computed first, so decay then replaces
    ``count`` in place. For all distributions this is one window
    (``row_number`` over (distribution | count desc, bin asc)) over the
    already-collapsed snapshot — the Spark analogue of the reference's
    store-side sort+limit pushdown — plus the ``Z`` window.
    """
    ranked = _one_distribution(snap, distribution).withColumn("rank", F.expr(_RANK_SQL))
    out = with_z_and_p(decayed_state(ranked, now_us, rate, prune, law, mode, seed))
    return out.where(f"rank <= {int(n)}").selectExpr(
        "distribution", "bin", "count", "Z", "p", "rank"
    )


def db_size(
    snap_or_events: DataFrame,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """R4 ``/dbsize``: number of stored distributions.

    The reference divides Redis ``DBSIZE`` by its 3-keys-per-distribution
    layout (``goforget/forget.go:168``). Here: exact ``count(distinct)``,
    or HyperLogLog++ (``approx_count_distinct``) for the 100 TB path where
    an exact distinct forces a full shuffle of distribution names.
    """
    agg = (
        F.approx_count_distinct("distribution", rsd=rsd)
        if approx
        else F.countDistinct("distribution")
    )
    return snap_or_events.agg(agg.alias("db_size"))


def live_distributions(
    snap: DataFrame,
    now_us: int,
    rate: float = GOFORGET_DEFAULT_RATE,
    sigma: float = DEFAULT_SIGMA,
) -> DataFrame:
    """D3 expiry filter: distributions still inside their decay horizon.

    A distribution is live iff ``now - t <= (σ+η)·η`` with
    ``η = sqrt(max_count/rate)`` — the same horizon the reference sets as
    a Redis TTL (``goforget/redis_utils.go:184-189``). Returns
    (distribution, max_count, t, horizon_sec).

    One aggregation over the snapshot; the filter is a scalar comparison —
    no shuffle beyond the groupBy.
    """
    per_dist = snap.groupBy("distribution").agg(
        F.max("count").alias("max_count"),
        F.max("t").alias("t"),
    )
    horizon = expiry_horizon_seconds(F.col("max_count"), rate, sigma)
    age_sec = F.expr(dt_sql(now_us))
    return (
        per_dist.withColumn("horizon_sec", horizon)
        .filter(age_sec <= F.col("horizon_sec"))
        .select("distribution", "max_count", "t", "horizon_sec")
    )
