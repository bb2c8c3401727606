"""Distilled quality classifier: learn token odds from the rule gate's
own labels, then score every document with the learned model.

The standard production ladder for corpus quality is rules → cheap
learned classifier → (sometimes) LLM judge: the rule gate
(:func:`text.quality_pass`) is precise but rigid, so pipelines
DISTILL it (or a costlier teacher) into a token-level linear model that
generalizes the signal and exposes a tunable threshold (CCNet's
fastText stage is the canonical example). This module runs that
distillation end-to-end inside the engine, deterministically:

1. **Label** every non-NULL document with the rule gate's verdict
   (row-local, the same n_tokens/distinct_ratio predicate).
2. **Train** naive-Bayes token likelihood ratios with Laplace
   smoothing:

       w(t) = [ (c_pos(t)+1) / (T_pos+V) ] / [ (c_neg(t)+1) / (T_neg+V) ]

   where ``c_cls(t)`` counts occurrences of ``t`` in class ``cls``,
   ``T_cls`` the class token totals, ``V`` the vocabulary size. Every
   operand is an exact integer; each weight is two IEEE divisions and
   one multiply-free ratio — bit-identical cross-engine, and (unlike
   the single-fraction cross-product form) free of int64 overflow at
   any corpus size.
3. **Score** each document with the libm-free linear-odds surrogate the
   engine uses wherever classic log scoring would break bit parity
   (same trade as rational-idf BM25 and the bigram LM):

       clf_score = (Σ_tokens tf · w(t)) / n_tokens

   — the mean per-token likelihood ratio, summed via the sorted
   sequential fold. > 1 leans "pass", < 1 leans "fail"; the decision
   threshold is exposed rather than baked in.

The output carries the teacher label next to the student score
(``label``, ``pred``, ``agree``), so the query IS the distillation
report: agreement rate = how much of the rule gate the linear model
recovered.

Scale shape: labeling is scan-stage; ONE corpus explode produces the
(doc, token, tf, label) postings that feed BOTH training rollups and
scoring (scope-cached, released by the registered query); class totals
and vocabulary are tiny aggregates; the weight table is
vocabulary-sized and joins postings on token (fixed-width keys, AQE
skew-splittable); the per-doc fold shuffles one row per (doc, token).
Text never rides a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from forgettable_spark.extensions.text import (
    QUALITY_MIN_DISTINCT_RATIO,
    QUALITY_MIN_TOKENS,
    quality_pass,
    tokens,
)
from forgettable_spark.functions.cache import scoped_cache


def _token_label_pairs_standalone(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = QUALITY_MIN_TOKENS,
    min_distinct_ratio: float = QUALITY_MIN_DISTINCT_RATIO,
) -> DataFrame:
    """(doc_id, label, token, tf) from raw text — the non-spine branch
    of :func:`distill_quality_classifier`. THE rule gate
    (text.quality_pass) labels each document; the label is the same
    expression source_curation gates on.

    Two-step select, deliberately (same fix as postings.py
    _tables_from_base, r9): alongside the explode in one projection, the
    planner evaluates quality_pass — which re-tokenizes the text AND
    runs array_distinct — in the Project ABOVE the Generate, once per
    emitted TOKEN (O(doc_len²) per document). The child Project pins
    one evaluation per document (plan-asserted in tests/test_postings.py).
    """
    label = quality_pass(F.col(text_col), min_tokens, min_distinct_ratio)
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            label.alias("label"),
            tokens(F.col(text_col)).alias("_w"),
        )
        .select("doc_id", "label", F.explode("_w").alias("token"))
        .groupBy("doc_id", "label", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def distill_quality_classifier(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = QUALITY_MIN_TOKENS,
    min_distinct_ratio: float = QUALITY_MIN_DISTINCT_RATIO,
    persist: bool = True,
    spine: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Distillation report (module docstring): one row per non-NULL-text
    document — (doc_id, label, n_tokens, clf_score, pred, agree).
    ``persist`` gates the internal postings cache (two consumers —
    training rollups and scoring): without a release scope, a library
    caller can pass False to recompute instead of holding an
    unreleasable ``.cache()``.

    ``spine``: prebuilt postings (extensions/postings.py). The spine
    carries (dl, n_distinct) per row, so the rule label is re-derived
    ROW-LOCALLY at this call's thresholds — equivalent to
    ``text.quality_pass`` because every spine row is a non-NULL-text
    document (test-asserted equivalence)."""
    if spine is not None:
        spine_label = (
            F.when(
                (F.col("dl") >= min_tokens)
                & (
                    F.col("n_distinct").cast("double") / F.col("dl").cast("double")
                    >= F.lit(min_distinct_ratio)
                ),
                1,
            )
            .otherwise(0)
        )
        pairs = spine["postings"].select(
            "doc_id",
            spine_label.alias("label"),
            F.col("term").alias("token"),
            "tf",
        )
    else:
        pairs = _token_label_pairs_standalone(
            docs, text_col, id_col, min_tokens, min_distinct_ratio
        )
    if persist:
        pairs = scoped_cache(pairs)
    tok_counts = pairs.groupBy("token").agg(
        F.sum(F.when(F.col("label") == 1, F.col("tf")).otherwise(0)).alias("c_pos"),
        F.sum(F.when(F.col("label") == 0, F.col("tf")).otherwise(0)).alias("c_neg"),
    )
    totals = tok_counts.agg(
        F.sum("c_pos").alias("t_pos"),
        F.sum("c_neg").alias("t_neg"),
        F.count(F.lit(1)).alias("v"),
    )
    # Two divisions, not one cross-multiplied fraction: (c+1)·(T+V) can
    # exceed int64 on a large corpus; each division alone cannot.
    weights = tok_counts.crossJoin(F.broadcast(totals)).select(
        "token",
        (
            ((F.col("c_pos") + 1).cast("double") / (F.col("t_pos") + F.col("v")).cast("double"))
            / ((F.col("c_neg") + 1).cast("double") / (F.col("t_neg") + F.col("v")).cast("double"))
        ).alias("w"),
    )
    scored = pairs.join(weights, "token").select(
        "doc_id",
        "label",
        "token",
        "tf",
        (F.col("tf").cast("double") * F.col("w")).alias("_s"),
    )
    per_doc = scored.groupBy("doc_id", "label").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        (
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("token", "_s"))),
                    lambda x: x["_s"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.sum("tf").cast("double")
        ).alias("clf_score"),
    )
    pred = (F.col("clf_score") > 1.0).cast("int")
    return per_doc.select(
        "doc_id",
        "label",
        "n_tokens",
        "clf_score",
        pred.alias("pred"),
        (pred == F.col("label")).alias("agree"),
    )


def distill_oracle_sql(
    min_tokens: int = QUALITY_MIN_TOKENS,
    min_distinct_ratio: float = QUALITY_MIN_DISTINCT_RATIO,
) -> str:
    """DuckDB twin of :func:`distill_quality_classifier` over the
    pre-registered ``documents`` view — same labels (the shared
    ``quality_pass_sql`` fragment), counts, smoothing, and sorted-fold
    scoring."""
    from forgettable_spark.extensions.text import quality_pass_sql

    return f"""WITH tok AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL
),
lab AS (
  SELECT doc_id, w,
    {quality_pass_sql('text', min_tokens, min_distinct_ratio)} AS label
  FROM tok
),
pairs AS (
  SELECT doc_id, label, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, label, unnest(w) AS token FROM lab)
  GROUP BY doc_id, label, token
),
tok_counts AS (
  SELECT token,
    CAST(SUM(CASE WHEN label = 1 THEN tf ELSE 0 END) AS BIGINT) AS c_pos,
    CAST(SUM(CASE WHEN label = 0 THEN tf ELSE 0 END) AS BIGINT) AS c_neg
  FROM pairs GROUP BY token
),
totals AS (
  SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos, CAST(SUM(c_neg) AS BIGINT) AS t_neg,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM tok_counts
),
weights AS (
  SELECT token,
    (CAST(c_pos + 1 AS DOUBLE) / CAST(t_pos + v AS DOUBLE))
      / (CAST(c_neg + 1 AS DOUBLE) / CAST(t_neg + v AS DOUBLE)) AS w
  FROM tok_counts CROSS JOIN totals
),
scored AS (
  SELECT p.doc_id, p.label, p.token, p.tf, CAST(p.tf AS DOUBLE) * wt.w AS s
  FROM pairs p JOIN weights wt USING (token)
),
per_doc AS (
  SELECT doc_id, label, CAST(SUM(tf) AS BIGINT) AS n_tokens,
    list_sum(list_transform(list_sort(list({{'token': token, 's': s}})), x -> x.s))
      / CAST(SUM(tf) AS DOUBLE) AS clf_score
  FROM scored GROUP BY doc_id, label
)
SELECT doc_id, label, n_tokens, clf_score,
  CAST(clf_score > 1e0 AS INT) AS pred,
  CAST(clf_score > 1e0 AS INT) = label AS agree
FROM per_doc"""
