"""Decay laws — the engine's core scalar transform (reference op D1).

The reference decays a bin by a Poisson draw ``k ~ Poisson(rate * dt)``
(goforget law, count-independent — ``goforget/decay.go:36-56``) or
``k ~ Poisson(count * rate * dt)`` (pyforget proportional law —
``pyforget/distribution.py:23-31``), clamped so the count floors at 0 in
prune mode or 1 otherwise (``goforget/distribution.go:153-175``).

Two engine modes:

- ``expected`` (deterministic, default): replace the draw by its
  expectation, rendered once as Spark SQL expression text
  (:func:`decayed_count_sql`) — whole-stage-codegen friendly,
  hash-matchable against a SQL oracle, and cheap to plan: a read parses
  one string instead of building a Column tree call by call over py4j.
  The linear law's wipe-threshold behavior (λ ≳ 18.4 nukes the bin, ``goforget/decay.go:
  17-19``) emerges naturally: ``count - floor(rate*dt)`` reaches the clamp
  for any idle distribution.
- ``poisson`` (stochastic, faithful): a seeded vectorized pandas UDF in
  :mod:`forgettable_spark.functions.sampling` — reproducible for a fixed
  seed and independent of partitioning, since the per-row RNG stream is
  keyed on (distribution, bin, now), never on partition/task identity.

Determinism contract with the DuckDB oracle: all time arithmetic happens
on integer epoch-microseconds (``unix_micros`` / ``epoch_us``), converted
to seconds by one IEEE-double division by 1e6 — identical bit patterns in
both engines, so ``floor`` can never disagree.
"""

from __future__ import annotations

import math

#: goforget ``--default-rate`` (events/sec) — goforget/forget.go:22.
GOFORGET_DEFAULT_RATE = 0.5
#: pyforget default rate — pyforget/distribution.py:23.
PYFORGET_DEFAULT_RATE = 0.02


def _double_sql(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE that parses back to the same bits.

    ``repr`` round-trips every finite double; the ``D`` suffix makes it a
    DOUBLE literal, not a DECIMAL. Spark has no literal for a non-finite
    double (the HTTP edge accepts ``rate=inf`` and ``rate=nan``), so
    those go through the string cast Spark defines for them.
    """
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def dt_sql(now_us: int) -> str:
    """Elapsed seconds between column ``t`` and ``now`` (epoch µs), DOUBLE.

    ``(now_us - unix_micros(t)) / 1e6`` — exactly the oracle's
    ``(now_us - epoch_us(t)) / 1e6``.
    """
    return f"CAST({int(now_us)}L - unix_micros(t) AS DOUBLE) / 1000000.0D"


def decayed_count_sql(
    now_us: int,
    rate: float,
    prune: bool = True,
    law: str = "linear",
) -> str:
    """Post-decay ``count`` (BIGINT) in deterministic ``expected`` mode,
    as SQL text over the snapshot columns ``count`` and ``t``.

    E[decay] is ``floor(rate * dt)`` under the goforget law —
    count-independent, every bin of a distribution loses the same amount
    (``goforget/decay.go:47``: ``lambda = rate*dt``) — and
    ``floor(count * rate * dt)`` under the pyforget law, proportional to
    mass (``pyforget/distribution.py:29``: ``lambda_i = count_i * rate *
    dt``), i.e. exponential decay in expectation.

    Clamp semantics (``goforget/distribution.go:158-164``): prune mode
    floors at 0 (the caller drops zero bins, reference ``ZREM``); non-prune
    floors at 1 so a distribution never loses support. pyforget always
    floors at 1 (``pyforget/distribution.py:60``).

    ``dt`` clamps at 0: a row timestamped after ``now`` (reader clock skew,
    or an as-of query into the past) simply hasn't decayed yet. Without the
    clamp ``floor`` of a negative λ would *add* mass (count − ⌊−x⌋ > count).
    The stochastic sampler applies the same clamp.

    Counts below 1 never decay and never get floored up: the reference
    returns decay 0 for count < 1 (``goforget/decay.go:41-43``), so a
    non-positive count in a raw event log passes through unchanged instead
    of being inflated to the floor (the stochastic sampler agrees).
    """
    dt = f"GREATEST({dt_sql(now_us)}, 0.0D)"
    if law == "linear":
        k = f"FLOOR({_double_sql(rate)} * {dt})"
    elif law == "proportional":
        k = f"FLOOR(CAST(count AS DOUBLE) * {_double_sql(rate)} * {dt})"
    else:
        raise ValueError(f"unknown decay law: {law!r} (want 'linear' or 'proportional')")
    floor_at = "0L" if prune else "1L"
    return f"CASE WHEN count < 1 THEN count ELSE GREATEST(count - {k}, {floor_at}) END"
