"""Keyword retrieval over the corpus: BM25 top-k document search.

The retrieval family a training-data pipeline uses constantly — "pull
the documents about X" for curriculum slicing, targeted decontamination,
eval-set construction, corpus QA — expressed as the classic sparse
scoring function over the engine's standard tokenization
(``text.tokens``: the corpus' single-space split contract).

Scoring is the BM25 family with the RATIONAL idf variant:

    idf_r(t)   = (N − df_t + 0.5) / (df_t + 0.5)
    s(t, d)    = idf_r(t) · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    score(q,d) = Σ_{t ∈ q} s(t, d)      (sorted-by-term sequential fold)

classic BM25 wraps idf_r in ``ln(1 + ·)``; libm ``ln`` is only
1-ulp-reproducible across engines — not good enough for bit parity
(the same reason ``text.tfidf_keywords`` scores on the raw ratio), so
the engine keeps the rational form: every input is an exact integer
(tf, df, dl, N), ``avgdl`` is one division of two exact integers, and
each per-term score is a fixed-order chain of IEEE ops — bit-identical
cross-engine. Per-term the transform is monotone (rankings for
single-term queries match classic BM25 exactly); multi-term sums weight
rare terms more steeply than the log form, a standard family member
(cf. BM15/BM25+ variants), and the one this engine can hash-verify.

Scale shape (100 TB posture):

- The explode is FILTERED TO QUERY TERMS in the same codegen stage —
  only postings for the query vocabulary leave the scan: (doc_id, dl,
  term, tf) fixed-width rows, never text. The aggregated postings are
  scope-CACHED because two branches consume them (df counts and
  scoring); without the persist the dominant corpus explode stage runs
  once per branch. Registered queries release the cache via
  ``run_released``; the cache holds query-vocabulary postings only.
- The (N, Σdl) corpus stats are their own row-local scan (split +
  size, no explode — stats need every document's length, postings only
  the matching ones). df and stats are tiny aggregates; query terms
  and df broadcast. The per-doc length rides the postings shuffle as a
  grouping column (functionally dependent on doc_id), never a second
  doc-keyed join.
- Per-(query, doc) summation is a sorted sequential fold over the ≤|q|
  matched terms (collect_list → sort_array → fold), so float addition
  order is pinned on both engines.
- Top-k per query is the standard window rank, ties on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forgettable_spark.extensions.codebook import _sql_double
from forgettable_spark.extensions.text import tokens

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: dict[str, list[str]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    spine: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Top-``k`` documents per named query: (query_id, doc_id, score,
    rank), score = rational-idf BM25 (module docstring), ties on doc_id
    ascending. Documents matching none of a query's terms are absent
    (score 0 by definition); NULL text never matches.

    ``spine``: prebuilt postings tables from
    :mod:`forgettable_spark.extensions.postings` — when given, the
    corpus text is never touched: the term filter pushes down into the
    fixed-width postings parquet scan (dl rides each row) and the
    corpus stats aggregate the narrow doc_stats table. Results are
    bit-identical either way (test-asserted)."""
    from forgettable_spark.functions.cache import local_frame, scoped_cache

    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    if not all_terms:
        raise ValueError("bm25_topk: query_terms is empty")
    spark = docs.sparkSession
    if spine is not None:
        # Corpus stats from one narrow row per document; avgdl stays a
        # DIVISION OF TWO EXACT INTEGERS (same contract as below).
        stats = spine["doc_stats"].agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        )
        postings = scoped_cache(
            spine["postings"]
            .filter(F.col("term").isin(all_terms))
            .select("doc_id", "dl", "term", "tf")
        )
    else:
        base = docs.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_w")
        )
        # Corpus stats ride a broadcast 1-row aggregate; avgdl stays a
        # DIVISION OF TWO EXACT INTEGERS evaluated identically in both
        # engines (a pre-averaged double would depend on aggregation order).
        # This is its own row-local scan (split + size, no explode): stats
        # need every document's length, postings only the matching ones.
        stats = base.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("_w")).alias("sum_dl")
        )
        # dl rides the postings shuffle as a grouping column (functionally
        # dependent on doc_id) instead of joining the corpus back a second
        # time — the exchange carries three ints + term. The aggregated
        # postings are CACHED because two branches consume them (df counts
        # and scoring): without the persist the dominant explode stage runs
        # twice (review r4 finding). Registered queries release via
        # run_released; the cache holds only query-vocabulary postings.
        postings = scoped_cache(
            base.select("doc_id", F.size("_w").alias("dl"), F.explode("_w").alias("term"))
            .filter(F.col("term").isin(all_terms))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Terms dedupe within a query (the fold's struct sort assumes one
    # score row per (query, doc, term); the oracle dedupes identically).
    q = local_frame(
        spark,
        [(qid, t) for qid, ts in sorted(query_terms.items()) for t in sorted(set(ts))],
        T.StructType([T.StructField(c, T.StringType()) for c in ("query_id", "term")]),
    )
    # Constants are computed ONCE here and injected as literals in both
    # engines (k1+1 parsed from its own decimal string could differ by
    # an ulp from the sum — see codebook._sql_double for the mirror).
    k1p1 = k1 + 1.0
    one_minus_b = 1.0 - b
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf_r = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(one_minus_b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    s = idf_r * ((F.col("tf").cast("double") * F.lit(k1p1)) / denom)
    scored = (
        postings.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "term", s.alias("_s"))
    )
    summed = scored.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "_s"))),
                lambda x: x["_s"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def _sql_str(s: str) -> str:
    """A SQL string literal with single quotes doubled — query terms are
    data, not SQL (an apostrophe term must not break or inject into the
    oracle)."""
    escaped = s.replace("'", "''")
    return f"'{escaped}'"


def bm25_oracle_sql(
    query_terms: dict[str, list[str]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`bm25_topk` over the pre-registered
    ``documents`` view — same tokenization, same rational-idf scoring,
    same sorted-fold summation, same literals."""
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    term_list = ", ".join(_sql_str(t) for t in all_terms)
    q_rows = ", ".join(
        f"({_sql_str(qid)}, {_sql_str(t)})"
        for qid, ts in sorted(query_terms.items())
        for t in sorted(set(ts))
    )
    k1_l = _sql_double(k1)
    k1p1_l = _sql_double(k1 + 1.0)
    b_l = _sql_double(b)
    omb_l = _sql_double(1.0 - b)
    return f"""WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(w)) AS BIGINT) AS sum_dl
  FROM base
),
postings AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM base
  ) WHERE term IN ({term_list})
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term),
q AS (SELECT * FROM (VALUES {q_rows}) t(query_id, term)),
scored AS (
  SELECT q.query_id, p.doc_id, p.term,
    ((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 5e-1)
       / (CAST(f.df AS DOUBLE) + 5e-1))
    * ((CAST(p.tf AS DOUBLE) * {k1p1_l})
       / (CAST(p.tf AS DOUBLE) + {k1_l} * ({omb_l} + {b_l}
          * (CAST(p.dl AS DOUBLE)
             / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))) AS _s
  FROM postings p
  JOIN q USING (term) JOIN dfreq f USING (term)
  CROSS JOIN stats s
),
summed AS (
  SELECT query_id, doc_id,
    list_sum(list_transform(list_sort(list({{'term': term, 's': _s}})), x -> x.s))
      AS score
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM summed
) WHERE rank <= {k}"""
