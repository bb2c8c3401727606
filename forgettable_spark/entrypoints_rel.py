"""The conversion-funnel query over the event stream, with its DuckDB
oracle twin."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from forgettable_spark.sources import load_events


def q_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel over the event stream: per user, first signup and
    the first purchase at-or-after it; one row per signed-up user with the
    conversion latency (NULL when never converted). Single groupBy(user)
    with conditional aggregation — no self-join."""
    ev = load_events(spark, sf_dir)
    ts_us = F.unix_micros("ts")
    signup_us = F.min(F.when(F.col("event_type") == "signup", ts_us)).alias("signup_us")
    per_user = ev.groupBy("user_id").agg(
        signup_us,
        F.collect_list(
            F.when(F.col("event_type") == "purchase", ts_us)
        ).alias("_purchases"),
    )
    first_conv = F.array_min(
        F.filter(F.col("_purchases"), lambda p: p >= F.col("signup_us"))
    )
    return (
        per_user.filter(F.col("signup_us").isNotNull())
        .select(
            "user_id",
            "signup_us",
            first_conv.alias("first_purchase_us"),
            (first_conv - F.col("signup_us")).alias("latency_us"),
        )
    )


ORACLE_FUNNEL = """WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS signup_us,
         list(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS purchases
  FROM events GROUP BY user_id
)
SELECT user_id, signup_us,
       list_min(list_filter(purchases, p -> p >= signup_us)) AS first_purchase_us,
       list_min(list_filter(purchases, p -> p >= signup_us)) - signup_us AS latency_us
FROM per_user WHERE signup_us IS NOT NULL"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "funnel_signup_purchase": q_funnel_signup_purchase,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "funnel_signup_purchase": ORACLE_FUNNEL,
    }
