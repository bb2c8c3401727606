"""Normalization / probability projection (reference op D2).

``Z := Σ counts`` over a distribution; ``p_i := count_i / Z`` with 0.0 when
``Z == 0`` (``goforget/distribution.go:132-151``). ``Z`` and ``p`` are always
derived, never stored — the engine inherits the reference's intended
invariant ``Z = Σ counts`` by construction (SURVEY.md §2.3 item 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ``Z``: per-distribution sum of ``count`` (BIGINT), as a window.
Z_SQL = "SUM(count) OVER (PARTITION BY distribution)"
#: ``p``: ``count / Z`` (DOUBLE), 0.0 for an empty distribution.
P_SQL = "CASE WHEN Z = 0 THEN 0.0D ELSE CAST(count AS DOUBLE) / CAST(Z AS DOUBLE) END"


def with_z_and_p(df: DataFrame, strategy: str = "window") -> DataFrame:
    """Add ``Z`` and ``p`` columns over ``(distribution, count)``.

    Two physically different, result-identical strategies:

    - ``window`` (default): one hash-shuffle of the snapshot (unique
      (distribution, bin) pairs). Simple, and fine when no distribution
      dominates — but a window funnels *all* rows of a distribution into
      one task, so a single million-bin hot distribution becomes a
      straggler.
    - ``join``: aggregate per-distribution totals (partial aggregation
      handles hot keys), then join them back. The totals table is one row
      per distribution; AQE broadcasts it when small, and even as a
      shuffle join the fact side distributes the hot distribution across
      tasks instead of collapsing it into one. This is the skew-safe
      plan for 100 TB with power-law distribution sizes.
    """
    if strategy == "window":
        df = df.withColumn("Z", F.expr(Z_SQL))
    elif strategy == "join":
        totals = df.groupBy("distribution").agg(F.sum("count").alias("Z"))
        df = df.join(totals, "distribution")
    else:
        raise ValueError(f"unknown normalize strategy: {strategy!r} (want 'window' or 'join')")
    return df.withColumn("p", F.expr(P_SQL))
