"""Sequence packing: lay a corpus out as fixed-size training sequences.

An LLM trainer does not consume documents — it consumes fixed-length
token windows. The standard way to get from one to the other (GPT-2/3,
T5 "pack", most open pipelines) is CONCATENATION PACKING: put the
documents in a deterministic order, concatenate their token streams,
and cut the stream every ``budget`` tokens; a document may span a cut
(the attention mask / EOS handling downstream is the trainer's
concern). :func:`pack_concat` computes that layout — which bin(s) each
document lands in and at what offset — without materializing any token
stream.

Semantics (shared bit-for-bit with the DuckDB oracle through
:func:`_sharded_cum` / :func:`_cum_cte_sql`):

- Documents with NULL text are excluded (they contribute no tokens).
- Order is the engine's standard deterministic pseudo-random order:
  ``md5(salt | doc_id)`` with the id as tiebreaker — stable across
  runs, partitionings, and engines, and independent of input order.
- The stream is SHARDED: each document hashes to one of ``n_shards``
  independent streams, and bins are addressed (shard, bin). A single
  global stream would serialize the layout through one total order —
  the window sort behind it cannot parallelize beyond one partition.
  With shards the same window runs per shard; at 100 TB the shard
  count is the parallelism knob (thousands), and each shard's layout
  is still deterministic and independently reproducible.
- Within a shard: ``start_bin = floor(cum_before / budget)``,
  ``end_bin = floor((cum_before + n_tokens - 1) / budget)``,
  ``offset_in_bin = cum_before % budget`` where ``cum_before`` is the
  running token total of all earlier documents in the shard. All
  integers — the result row hashes identically on any engine.

Scale posture: one shuffle keyed by shard, then a sort-based window per
shard (Spark's standard window execution). The layout's rows carry
(id, 3 ints) — the text itself never moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from forgettable_spark.extensions.search import _sql_str
from forgettable_spark.extensions.text import tokens

#: Default tokens per packed training sequence (a common context slice
#: at test scale; production would pass 2048/4096/8192).
PACK_BUDGET = 256


def _sharded_cum(
    docs: DataFrame,
    n_shards: int,
    text_col: str,
    id_col: str,
    salt: str,
) -> DataFrame:
    """THE layout definition behind :func:`pack_concat`: (doc_id, shard,
    n_tokens, _cb), where ``_cb`` is the shard's running token total
    before the document. The window shuffle stays (id, ints)-narrow."""
    order = F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")))
    # Shard from a DIFFERENT salt than the order hash: deriving both from
    # one digest would correlate "which stream" with "where in the
    # stream" (the low shards would always pack the lexicographically
    # small hashes first).
    shard_h = F.md5(
        F.concat_ws("|", F.lit(salt + "-shard"), F.col(id_col).cast("string"))
    )
    shard = (
        F.conv(F.substring(shard_h, 1, 15), 16, 10).cast("bigint") % F.lit(n_shards)
    ).cast("int")
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        shard.alias("shard"),
        order.alias("_ord"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.withColumn(
        "_cb", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    ).drop("_ord")


def _cum_cte_sql(n_shards: int, salt: str) -> str:
    """DuckDB twin of :func:`_sharded_cum` as ``base``/``cum`` CTE text
    (same single definition discipline on the oracle side). The salt is
    data, not SQL — escaped."""
    s = _sql_str(salt)
    s_shard = _sql_str(salt + "-shard")
    return f"""base AS (
  SELECT doc_id, string_split(text, ' ') AS w,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(('0x' || substr(md5({s_shard} || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         % {n_shards} AS INT) AS shard,
    md5({s} || '|' || CAST(doc_id AS VARCHAR)) AS ord
  FROM documents WHERE text IS NOT NULL
),
cum AS (
  SELECT doc_id, shard, n_tokens,
    COALESCE(SUM(n_tokens) OVER (
      PARTITION BY shard ORDER BY ord, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM base
)"""


def pack_concat(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    n_shards: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack",
) -> DataFrame:
    """Concatenation-packing layout: (doc_id, shard, n_tokens,
    start_bin, end_bin, offset_in_bin) for every non-NULL-text document.

    ``budget`` is the packed sequence length in tokens (whitespace
    tokens — the engine's split contract; a subword tokenizer would swap
    in its own count column). ``end_bin >= start_bin``; a document spans
    ``end_bin - start_bin + 1`` sequences. Offsets and bins are
    shard-local (module docstring).
    """
    if budget <= 0:
        raise ValueError(f"pack_concat: budget must be positive, got {budget}")
    if n_shards <= 0:
        raise ValueError(f"pack_concat: n_shards must be positive, got {n_shards}")
    # Integer division (DIV / DuckDB //), not floor-of-double-divide:
    # exact at any stream length, no dependence on double rounding.
    return _sharded_cum(docs, n_shards, text_col, id_col, salt).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"CAST(_cb DIV {budget} AS BIGINT)").alias("start_bin"),
        F.expr(f"CAST((_cb + n_tokens - 1) DIV {budget} AS BIGINT)").alias("end_bin"),
        (F.col("_cb") % budget).cast("bigint").alias("offset_in_bin"),
    )


def pack_oracle_sql(
    budget: int = PACK_BUDGET, n_shards: int = 4, salt: str = "pack"
) -> str:
    """DuckDB twin of :func:`pack_concat` over the pre-registered
    ``documents`` view — same hashes, same window, same integer
    arithmetic (shared CTE text)."""
    return f"""WITH {_cum_cte_sql(n_shards, salt)}
SELECT doc_id, shard, n_tokens,
  CAST(cb // {budget} AS BIGINT) AS start_bin,
  CAST((cb + n_tokens - 1) // {budget} AS BIGINT) AS end_bin,
  CAST(cb % {budget} AS BIGINT) AS offset_in_bin
FROM cum"""
