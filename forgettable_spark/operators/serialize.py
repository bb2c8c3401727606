"""API-edge serialization (reference op S1).

The reference serializes a distribution as ``{distribution, Z, T, data:
[{bin, count, p}…], rate, prune}`` (``goforget/distribution.go:18-40``).
Engine-internal results stay DataFrames; this adapter produces the JSON
shape only at the edge. The HTTP response envelope ``{status_code,
status_txt, data}`` belongs to :mod:`forgettable_spark.server`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def to_json_payload(
    result: DataFrame,
    rate: float,
    prune: bool,
    now_us: int,
) -> DataFrame:
    """Collapse a (distribution, bin, count, Z, p) result to one JSON row
    per distribution, matching the reference payload field-for-field.

    ``T`` is the evaluation instant (unix seconds, as in the reference);
    bins sort by (count desc, bin asc) inside the array for determinism.
    """
    data_struct = F.struct(F.col("bin"), F.col("count"), F.col("p"))
    per_dist = result.groupBy("distribution").agg(
        F.max("Z").alias("Z"),
        F.sort_array(
            F.collect_list(F.struct(F.negate(F.col("count")).alias("_o"), data_struct.alias("v")))
        ).alias("_sorted"),
    )
    body = F.struct(
        F.col("distribution"),
        F.col("Z"),
        F.lit(now_us // 1_000_000).alias("T"),
        F.transform(F.col("_sorted"), lambda s: s["v"]).alias("data"),
        F.lit(rate).alias("rate"),
        F.lit(prune).alias("prune"),
    )
    return per_dist.select(F.to_json(body).alias("json"))
