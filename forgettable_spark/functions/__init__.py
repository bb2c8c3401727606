"""Scalar/column-level building blocks: decay laws, normalization, expiry."""

from forgettable_spark.functions.decay import (
    GOFORGET_DEFAULT_RATE,
    PYFORGET_DEFAULT_RATE,
    decayed_count_sql,
    dt_sql,
)
from forgettable_spark.functions.normalize import with_z_and_p
from forgettable_spark.functions.expiry import expiry_horizon_seconds, DEFAULT_SIGMA

__all__ = [
    "GOFORGET_DEFAULT_RATE",
    "PYFORGET_DEFAULT_RATE",
    "decayed_count_sql",
    "dt_sql",
    "with_z_and_p",
    "expiry_horizon_seconds",
    "DEFAULT_SIGMA",
]
