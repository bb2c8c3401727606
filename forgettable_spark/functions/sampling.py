"""Stochastic decay mode: seeded Poisson sampling as a vectorized pandas UDF.

Faithful to the reference sampler — inverse-CDF sequential search with the
``e^-λ < 1e-8`` wipe guard (``goforget/decay.go:12-34``) — but driven by a
*deterministic* uniform per row instead of a global RNG. The uniform is the
top 52 bits of ``md5(seed|distribution|bin|now)``, computed **JVM-side as a
codegen column expression** and handed to the UDF, which buys four
properties the reference lacks:

- **reproducible**: the same query with the same seed returns the same
  counts, run-to-run and machine-to-machine;
- **partition-independent**: results don't depend on how Spark splits or
  orders the data — mandatory for a distributed engine (a task retry or an
  AQE re-plan must not change query results);
- **still Poisson**: for a fixed (distribution, bin) the uniform is an
  arbitrary-but-fixed quantile, and across bins/instants the md5 behaves
  as i.i.d. uniforms, so aggregate statistics match the reference law
  (verified in tests/test_sampling.py);
- **oracle-checkable**: md5 and the iterative inverse-CDF recurrence
  (``pmf *= λ/k; cdf += pmf``) are both expressible in DuckDB SQL with the
  identical float-op sequence, so even stochastic-mode results hash-match
  a SQL oracle (the one engine mode that used to be rows-only).

Arrow-batched and numpy-vectorized throughout — the sequential search loops
at most ``O(max_k)`` times per *batch*, not per row.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from forgettable_spark.functions.decay import dt_sql

#: Reference wipe guard: pmf start e^-λ below this → treat the bin as fully
#: decayed (goforget/decay.go:17-19 returns MaxInt32).
_PMF_EPSILON = 1e-8

#: Denominator turning 13 hex chars (52 bits) of md5 into u ∈ [0, 1).
_U_DENOM = float(1 << 52)


def uniform_column(
    distribution: Column, bin: Column, now_us: Column, seed: int
) -> Column:
    """Deterministic u ∈ [0,1) as a pure codegen expression: top 52 bits of
    ``md5(seed|distribution|bin|now)``. Oracle twin:
    ``('0x' || substr(md5(...same key...), 1, 13))::BIGINT / 2^52``.
    """
    key = F.concat_ws(
        "|", F.lit(str(seed)), distribution, bin, now_us.cast("string")
    )
    return (
        F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("bigint").cast("double")
        / F.lit(_U_DENOM)
    )


def _stable_uniforms(
    distribution: pd.Series, bin: pd.Series, now_us: np.ndarray, seed: int
) -> np.ndarray:
    """Python twin of :func:`uniform_column` (same bytes → same doubles);
    used by the statistical tests and anywhere a driver-side redraw of the
    engine's uniforms is needed."""
    nows = pd.Series(now_us).astype(str).to_numpy()
    out = np.empty(len(distribution), dtype=np.float64)
    for i, (d, b, n) in enumerate(zip(distribution.astype(str), bin.astype(str), nows)):
        h = hashlib.md5(f"{seed}|{d}|{b}|{n}".encode()).hexdigest()
        out[i] = int(h[:13], 16) / _U_DENOM
    return out


def poisson_inverse_cdf(lam: np.ndarray, u: np.ndarray) -> np.ndarray:
    """Vectorized inverse-CDF sequential search, reference semantics.

    k = min { j : Σ_{i<=j} pmf(i) > u }, with the λ-too-large wipe guard:
    rows where ``e^-λ < 1e-8`` return INT64_MAX (decay everything).

    Determinism contract: the pmf start ``e^-λ`` is rounded through
    float32 before the double recurrence. ``exp`` is the one libm call in
    the sampler and libm is not correctly rounded — numpy and a SQL
    engine can disagree by 1 ulp — but a single float32 rounding absorbs
    that ulp, after which every pmf/cdf value is produced by identical
    IEEE double ops on both sides, making seeded stochastic results
    hash-matchable against a DuckDB oracle
    (``CAST(CAST(exp(-lam) AS REAL) AS DOUBLE)``).
    """
    lam = np.asarray(lam, dtype=np.float64)
    out = np.zeros(lam.shape, dtype=np.int64)
    p0 = np.exp(-lam).astype(np.float32).astype(np.float64)
    wipe = p0 < _PMF_EPSILON
    out[wipe] = np.iinfo(np.int64).max
    active = ~wipe & (lam > 0)
    if not active.any():
        return out
    k = np.zeros(lam.shape, dtype=np.int64)
    pmf = p0.copy()
    cdf = p0.copy()
    need = active & (cdf <= u)
    while need.any():
        k[need] += 1
        pmf[need] *= lam[need] / k[need]
        prev = cdf.copy()
        cdf[need] += pmf[need]
        # Terminate rows whose cdf can no longer advance: once pmf drops
        # below one ulp of cdf the float sum plateaus (possibly strictly
        # below the largest representable u), and without this guard a
        # row with u beyond the plateau would loop forever. Past the mode
        # pmf only shrinks, so a stalled row stays stalled — return its
        # current k (u sits in the unrepresentable far tail).
        need = need & (cdf <= u) & (cdf > prev)
    out[active] = k[active]
    return out


def make_poisson_decay_udf(rate: float, prune: bool, law: str):
    """Build the pandas UDF ``(count, dt_sec, u) -> decayed count`` closing
    over the decay parameters. The uniform arrives as a column (computed
    JVM-side by :func:`uniform_column`) so the only Python work is the
    vectorized inverse-CDF search."""

    def _decay(count: pd.Series, dt_sec: pd.Series, u: pd.Series) -> pd.Series:
        c = count.to_numpy(dtype=np.int64)
        dt = np.maximum(dt_sec.to_numpy(dtype=np.float64), 0.0)
        if law == "linear":
            lam = rate * dt  # goforget/decay.go:47 — count-independent
        elif law == "proportional":
            lam = c.astype(np.float64) * rate * dt  # pyforget/distribution.py:29
        else:
            raise ValueError(f"unknown decay law: {law!r}")
        k = poisson_inverse_cdf(lam, u.to_numpy(dtype=np.float64))
        clamp = c if prune else np.maximum(c - 1, 0)  # goforget/distribution.go:158-164
        # count < 1 never decays (goforget/decay.go:41-43) — without this a
        # negative raw count would be *inflated* by the prune clamp.
        decay = np.where(c < 1, 0, np.minimum(k, clamp))
        return pd.Series(c - decay)

    # The function IS deterministic (seeded; that's the whole design) —
    # asNondeterministic is purely an optimizer fence: without it,
    # projection collapse inlines the UDF into every consumer (prune
    # filter, Z window, p division) and the plan evaluates it 4x per row.
    # Fenced, the plan runs ONE ArrowEvalPython stage and every consumer
    # reads the projected column.
    return F.pandas_udf(_decay, LongType()).asNondeterministic()


def poisson_decay_column(
    now_us: int,
    rate: float,
    prune: bool = True,
    law: str = "linear",
    seed: int = 0,
) -> Column:
    """Post-decay ``count`` (BIGINT) of a snapshot row under seeded
    stochastic Poisson decay.

    The stochastic twin of :func:`forgettable_spark.functions.decay.
    decayed_count_sql`, over the same columns and the same ``dt``;
    composes with the same prune filter / normalize / top-N operators.
    """
    u = uniform_column(F.col("distribution"), F.col("bin"), F.lit(now_us).cast("bigint"), seed)
    udf = make_poisson_decay_udf(rate, prune, law)
    return udf(F.col("count"), F.expr(dt_sql(now_us)), u)
