"""Driver-contract entrypoints for the LLM-pipeline extension operators
(text analysis, dedup, similarity search) with DuckDB oracle twins.

Same determinism contract as :mod:`forgettable_spark.entrypoints`:
identical column aliases, integer-count ratios for every double, md5 as
the only hash, sequential-fold dot products — all bit-identical across
engines (the cross-engine float identities are asserted in
tests/test_extensions.py before anything relies on them).
"""

from __future__ import annotations

import os

from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from forgettable_spark.extensions import contamination, dedup, sampling, similarity, text
from forgettable_spark.extensions.multimodal import extract_image_features, synthetic_media
from forgettable_spark.functions.cache import (
    run_released,
    run_released_cpu_dense,
    scoped_cache,
)
from forgettable_spark.sources import load_table

JACCARD_THRESHOLD = 0.8
MINHASH_K = 12
LSH_BANDS = 4
ANN_K = 10
ANN_QUERY_MOD = 25  # queries = vec_id % 25 == 0
#: ann_recall_signature gauges the index on a FIXED-SIZE query sample (the
#: first ANN_RECALL_N multiples of ANN_QUERY_MOD), not a fixed fraction —
#: its brute-force truth stage stays O(ANN_RECALL_N · |corpus|) at any
#: scale instead of growing quadratically with the corpus.
ANN_RECALL_N = 20
NEAR_DUP_COSINE = 0.4  # demo threshold: the synthetic vectors are near-orthogonal
SIMHASH_MAX_HAMMING = 3
SIMHASH_BUCKET_CAP = 5  # hot-bucket cap for the registered capped variant:
# the smallest value that CHANGES the sf0.01 output (13 -> 12 pairs), so the
# driver hash-match verifies the drop SEMANTICS, not just the plumbing (with
# 15-bit bands the largest sf0.01 block holds 27 docs and caps >=10 drop only
# buckets whose pairs all re-form through other bands). Production corpora
# tune this orders of magnitude higher; it exists to bound boilerplate skew.

# Shared SQL fragments ------------------------------------------------------

_TOK_CTE = "tok AS (SELECT *, string_split(text, ' ') AS w FROM documents)"

_SHINGLE_CTE = (
    "sh AS (SELECT *, CASE WHEN len(w) >= 3 THEN "
    "[w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)] "
    "ELSE [text] END AS shingles FROM tok)"
)


_MINHASH_BASE_SQL = (
    "list_transform({src}, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % "
    f"{text.MINHASH_P})"
)


def _minhash_sql(i: int, base: str = "mhb") -> str:
    a, b = text.MINHASH_COEFFS[i]
    return f"list_min(list_transform({base}, h -> ({a} * h + {b}) % {text.MINHASH_P}))"


_JACCARD_SQL = (
    "CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS DOUBLE)"
    " / CAST(len(list_distinct(list_concat(list_distinct(a.shingles), list_distinct(b.shingles))))"
    " AS DOUBLE)"
)

_DOT = "list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


def _cosine_sql(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = f"sqrt({_DOT.format(a=a, b=a)})"
    nb = f"sqrt({_DOT.format(a=b, b=b)})"
    return f"({dot}) / (({na}) * ({nb}))"


# Dedup ----------------------------------------------------------------------


def _sketch_spine(spark: SparkSession, sf_dir: str):
    """(docs, sketch spine) for the dedup family — the per-document
    shingle/MinHash/SimHash sketches are materialized ONCE per (session,
    corpus) and shared by dedup_minhash_lsh / dedup_ngram_jaccard /
    dedup_simhash_pairs(+capped) / dedup_components / dedup_lsh_recall /
    dedup_incremental (extensions/sketches.py — the dedup-family analog
    of the token family's postings spine). Results are bit-identical to
    each consumer's standalone sketch path (test-asserted in
    tests/test_sketches.py), so the family's DuckDB oracles are
    untouched."""
    import os

    from forgettable_spark.extensions.sketches import materialized_sketches

    docs = load_table(spark, sf_dir, "documents")
    return docs, materialized_sketches(
        spark, docs, corpus_key=os.path.abspath(sf_dir), k=MINHASH_K
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """WITH h AS (SELECT doc_id, md5(text) AS fp_md5 FROM documents)
SELECT doc_id, fp_md5,
  CAST(COUNT(*) OVER (PARTITION BY fp_md5) AS BIGINT) AS group_size,
  doc_id = MIN(doc_id) OVER (PARTITION BY fp_md5) AS is_canonical
FROM h"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reads the sketch spine: the banding and both verify join-backs
    # scan the small parquet sketch table instead of re-shingling the
    # corpus per branch — no cache needed (the standalone path's
    # scoped_cache existed to avoid exactly that recompute), so nothing
    # can outlive the query in executor storage either.
    _, sp = _sketch_spine(spark, sf_dir)
    return dedup.minhash_lsh_pairs_from_sketches(
        sp["shingled"],
        k=MINHASH_K,
        bands=LSH_BANDS,
        threshold=JACCARD_THRESHOLD,
    )


def _oracle_minhash_lsh() -> str:
    rows_per_band = MINHASH_K // LSH_BANDS
    band_exprs = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh[{b * rows_per_band + r + 1}]" for r in range(rows_per_band))
        + "))"
        for b in range(LSH_BANDS)
    )
    return f"""WITH {_TOK_CTE}, {_SHINGLE_CTE},
based AS (SELECT doc_id, shingles, {_MINHASH_BASE_SQL.format(src='shingles')} AS mhb FROM sh),
sigs AS (
  SELECT doc_id, shingles,
         [{', '.join(_minhash_sql(i) for i in range(MINHASH_K))}] AS mh
  FROM based
),
banded AS (
  SELECT doc_id, shingles, unnest([{band_exprs}]) AS key,
         unnest(range(0, {LSH_BANDS})) AS band
  FROM sigs
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
FROM cand c
JOIN sh a ON a.doc_id = c.doc_a
JOIN sh b ON b.doc_id = c.doc_b
WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD:e}"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spine read: the PPJoin prefix index and both verify join-backs
    # scan the parquet sketch table (shd is stored SORTED — exactly the
    # order the prefix filter needs); no cache, nothing persists.
    # r13: runs under the CPU-dense AQE coalescing floor (the r12
    # embedding-family device) — the candidate/verify stages carry a few
    # hundred KB of shingle arrays with an array_intersect fold per
    # pair, exactly the byte-light/CPU-dense regime the floor exists
    # for; measured 1.19 -> 0.78 s same-window min-of-3 (the floor is
    # inert at production volumes — coalescing targets
    # totalBytes/parallelism). The sibling lsh/minhash/components
    # queries were measured NEUTRAL under the floor and keep the
    # default.
    _, sp = _sketch_spine(spark, sf_dir)
    return run_released_cpu_dense(
        spark,
        lambda: dedup.ngram_jaccard_pairs_from_shingled(
            sp["shingled"].select(
                "doc_id", F.col("lang").alias("_block"), "shd", "nsh"
            ),
            threshold=JACCARD_THRESHOLD,
        ),
    )


ORACLE_DEDUP_NGRAM = f"""WITH {_TOK_CTE}, {_SHINGLE_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_JACCARD_SQL} AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD:e}"""


CHUNK_DEDUP_WIDTH = 20


def q_dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: duplicated 20-token chunks across the
    corpus (Lee et al. 2022's exact-substring motivation, fixed-window
    approximation). Lazy — output scales with duplicated chunks."""
    # r13 note: the doc spread was measured and REJECTED here —
    # chunk hashing is cheap per doc and the keyed shuffle costs more
    # than the single-task scan saves (interleaved min-of-4: 0.45
    # plain vs 0.66 spread).
    return dedup.chunk_dedup(
        load_table(spark, sf_dir, "documents"), width=CHUNK_DEDUP_WIDTH
    )


ORACLE_DEDUP_CHUNK_EXACT = f"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         md5(array_to_string(
           w[(i * {CHUNK_DEDUP_WIDTH} + 1):(i * {CHUNK_DEDUP_WIDTH} + {CHUNK_DEDUP_WIDTH})],
           ' ')) AS chunk_md5
  FROM t, unnest(range(0, CAST(ceil(len(w) / {CHUNK_DEDUP_WIDTH}.0) AS BIGINT))) AS u(i)
),
m AS (
  SELECT *, COUNT(*) OVER (PARTITION BY chunk_md5) AS n_copies,
         ROW_NUMBER() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) AS rn
  FROM c
)
SELECT doc_id, chunk_idx, chunk_md5, n_copies, rn = 1 AS is_canonical
FROM m WHERE n_copies > 1"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_sketch(load_table(spark, sf_dir, "documents"))


def _simhash_sql(th_col: str = "th") -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({th_col}, x -> ((x >> {j}) & 1) * 2 - 1)) > 0"
        f" THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(60)
    )
    return terms


ORACLE_DEDUP_SIMHASH = f"""WITH h AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS th
  FROM documents
)
SELECT doc_id, {_simhash_sql()} AS simhash FROM h"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No run_released wrapper: the pair set scales with the corpus (83k
    # rows at sf0.1) so it must stay a lazy distributed plan, and the
    # spine-backed sketch needs none — both sides of the block self-join
    # scan the fixed-width parquet sketch table (corpus text and the
    # per-token md5 hashing are out of the plan entirely).
    _, sp = _sketch_spine(spark, sf_dir)
    return dedup.simhash_pairs_from_sketch(
        sp["simhash"], max_hamming=SIMHASH_MAX_HAMMING
    )


def _simhash_cand_cte(cap: int | None = None) -> str:
    """SimHash candidate-pair CTE chain (token hash → sketch → byte-block
    candidates), shared by the pairs oracle, the capped-pairs oracle, and
    the connected-components oracle so they can never desynchronize.
    ``cap`` mirrors the engine's hot-bucket guard: blocks holding more
    than ``cap`` docs are excluded before the self-join (QUALIFY = the
    same window count the Spark side filters on)."""
    capped = (
        "blocked AS (SELECT * FROM blocked0"
        f" QUALIFY COUNT(*) OVER (PARTITION BY block, byte) <= {cap})"
        if cap
        else "blocked AS (SELECT * FROM blocked0)"
    )
    return f"""h AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS th
  FROM documents
),
sim AS (SELECT doc_id, {_simhash_sql()} AS simhash FROM h),
blocked0 AS (
  SELECT doc_id, simhash, unnest(range(0, 4)) AS block,
         unnest([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
                 (simhash >> 30) & 32767, (simhash >> 45) & 32767]) AS byte
  FROM sim
),
{capped},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM blocked a JOIN blocked b
    ON a.block = b.block AND a.byte = b.byte AND a.doc_id < b.doc_id
)"""


_SIMHASH_CAND_CTE = _simhash_cand_cte()

ORACLE_DEDUP_SIMHASH_PAIRS = f"""WITH {_SIMHASH_CAND_CTE}
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}"""


def q_dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs with the hot-bucket guard active: (block, byte)
    buckets over SIMHASH_BUCKET_CAP docs are excluded from candidate
    generation (the skew cap that keeps a boilerplate-heavy block from
    squaring). The cap bites at sf0.01 — the oracle mirrors it with the
    same window-count filter, so the hash match verifies the guard's
    semantics, not just its plumbing."""
    # Lazy like q_dedup_simhash_pairs (corpus-sized output, spine-backed
    # sketch). log_dropped=False: this registered variant exists to
    # oracle-verify the cap's SEMANTICS (the mirrored QUALIFY filter);
    # the drop-report path itself is covered by tests/test_bucket_caps.py,
    # and with no run_released wrapper here nothing would flush the queue.
    _, sp = _sketch_spine(spark, sf_dir)
    return dedup.simhash_pairs_from_sketch(
        sp["simhash"],
        max_hamming=SIMHASH_MAX_HAMMING,
        max_bucket_size=SIMHASH_BUCKET_CAP,
        log_dropped=False,
    )


ORACLE_DEDUP_SIMHASH_CAPPED = f"""WITH {_simhash_cand_cte(SIMHASH_BUCKET_CAP)}
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}"""


# Similarity search -----------------------------------------------------------


def _queries_subset(df: DataFrame) -> DataFrame:
    return df.filter(F.col("vec_id") % ANN_QUERY_MOD == 0)


_V_CTE = (
    "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
    " FROM embeddings)"
)


SIG_ANN_BITS = 6  # 64 cells at correctness scale (~9 vectors/cell at
# sf0.01); at corpus scale bits grow with log2(corpus/target_cell) —
# the whole point of the signature cell (see similarity.signature_cell)
SIG_ANN_FLIPS = 2  # exact cell + 2 one-bit-flip probes
SIG_ANN_CAP = 8  # sample-to-cap bites at sf0.01 (largest cell = 34), so
# the hash match verifies the deterministic-subsample semantics — the
# knob that keeps clustered-corpus ANN linear (SCALING.md sf3)


def q_ann_signature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over sign-LSH cells with one-bit-flip multiprobe and
    sample-to-cap cell bounding — the corpus-scalable IVF variant
    (argmax cells are capped at dim and measured quadratic on the sf3
    validation corpus; signature cells + deterministic subsampling
    measured near-linear with 100% query coverage — SCALING.md)."""
    emb = _load_emb(spark, sf_dir)
    return similarity.signature_ann_topk(
        emb,
        _queries_subset(emb),
        k=ANN_K,
        n_bits=SIG_ANN_BITS,
        n_flip=SIG_ANN_FLIPS,
        max_bucket_size=SIG_ANN_CAP,
        cap_mode="sample",
    )


def _oracle_ann_signature() -> str:
    cell = " + ".join(
        f"({_hyperplane_bit_sql(i)}) * {1 << i}" for i in range(SIG_ANN_BITS)
    )
    probes = ", ".join(
        ["CAST(cell AS BIGINT)"]
        + [f"CAST(xor(cell, {1 << i}) AS BIGINT)" for i in range(SIG_ANN_FLIPS)]
    )
    return f"""WITH {_V_CTE},
s AS (SELECT vec_id, e, {cell} AS cell FROM v),
sc AS (
  SELECT vec_id, e, cell FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY cell ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
    FROM s
  ) WHERE srn <= {SIG_ANN_CAP}
),
q0 AS (SELECT vec_id AS query_id, e AS qv, cell FROM s WHERE vec_id % {ANN_QUERY_MOD} = 0),
q AS (SELECT query_id, qv, unnest([{probes}]) AS cell FROM q0),
scored AS (
  SELECT query_id, sc.vec_id AS neighbor_id, {_cosine_sql('qv', 'e')} AS cosine
  FROM q JOIN sc USING (cell) WHERE query_id != sc.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {ANN_K}"""


def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline ANN query — the composed 100 TB configuration
    end-to-end: sign-LSH cells bound WHO gets scored (cell count is a
    corpus knob, 2^bits, with deterministic sample-to-cap occupancy
    bounding), one-bit-flip multiprobe recovers the recall a single
    probe loses, and int8 scoring bounds the BYTES that ride the join
    (4× less payload, order-independent integer dots in whole-stage
    codegen).

    Re-headlined in r5 (VERDICT r4 #1): the previous quantizer,
    ``argmax_bucket``, caps cell count at dim (64), so a corpus and a
    corpus-proportional query set growing ×s make the bucket join do
    ×s² work — the builder's own sf3 run measured 8.2× wall for 3×
    rows (SCALING.md). The signature+sample-cap config measured 3.6×
    on the same corpus with every query served."""
    emb = _load_emb(spark, sf_dir)
    return similarity.quantized_signature_topk(
        emb,
        _queries_subset(emb),
        k=ANN_K,
        n_bits=SIG_ANN_BITS,
        n_flip=SIG_ANN_FLIPS,
        max_bucket_size=SIG_ANN_CAP,
    )


def _oracle_ann_signature_quantized() -> str:
    from forgettable_spark.extensions.similarity import QUANT_MAX

    cell = " + ".join(
        f"({_hyperplane_bit_sql(i)}) * {1 << i}" for i in range(SIG_ANN_BITS)
    )
    probes = ", ".join(
        ["CAST(cell AS BIGINT)"]
        + [f"CAST(xor(cell, {1 << i}) AS BIGINT)" for i in range(SIG_ANN_FLIPS)]
    )
    idot = "CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * sc.q[i])) AS DOUBLE)"
    return f"""WITH {_V_CTE},
qc AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / {QUANT_MAX}.0 AS qscale,
         sqrt({_DOT.format(a='e', b='e')}) AS n,
         CAST({cell} AS BIGINT) AS cell
  FROM v
),
qq AS (
  SELECT vec_id, qscale, n, cell,
         CASE WHEN qscale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
              ELSE list_transform(e, x -> CAST(round(x / qscale) AS BIGINT)) END AS q
  FROM qc
),
sc AS (
  SELECT vec_id, qscale, n, cell, q FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY cell ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
    FROM qq
  ) WHERE srn <= {SIG_ANN_CAP}
),
probes AS (
  SELECT vec_id AS query_id, qscale, n, q, unnest([{probes}]) AS cell
  FROM qq WHERE vec_id % {ANN_QUERY_MOD} = 0
),
scored AS (
  SELECT a.query_id, sc.vec_id AS neighbor_id,
         ((a.qscale * sc.qscale) * {idot}) / (a.n * sc.n) AS cosine_q
  FROM probes a JOIN sc USING (cell) WHERE a.query_id != sc.vec_id
)
SELECT query_id, neighbor_id, cosine_q, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_q DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {ANN_K}"""


#: The registered BM25 query set: three keyword queries over the corpus
#: vocabulary (single-space tokens). Multi-term so the sorted-fold
#: summation is exercised, overlapping df ranges so ranking is
#: non-trivial.
BM25_QUERIES = {
    "perf": ["spark", "fast", "slow"],
    "join_plan": ["join", "hash", "merge"],
    "vector_search": ["vector", "scan"],
}


def _doc_spine(spark: SparkSession, sf_dir: str):
    """(docs, postings spine) for the token-level family — the spine is
    materialized ONCE per (session, corpus) from a single text scan and
    shared by bm25_search / tfidf_keywords / quality_distill / lm_score
    (extensions/postings.py; VERDICT r4 #4). Results are bit-identical
    to each consumer's standalone tokenize path (test-asserted), so the
    four DuckDB oracles are untouched."""
    import os

    from forgettable_spark.extensions.postings import materialized_postings

    docs = load_table(spark, sf_dir, "documents")
    return docs, materialized_postings(
        spark, docs, corpus_key=os.path.abspath(sf_dir)
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval: rational-idf BM25 top-10 documents per query
    (`extensions/search.py` — the curriculum-slicing / corpus-QA verb).
    Reads the shared postings spine: the query-vocabulary filter pushes
    down into the fixed-width postings parquet scan, so the corpus text
    is never touched; per-(query, doc) scores sum via a sorted
    sequential fold, so the float total is bit-identical cross-engine
    (libm-free rational idf — same determinism contract as
    tfidf_keywords). run_released: the postings cache (two consumers —
    df counts and scoring) must not outlive the query; output is 10
    rows per query."""
    from forgettable_spark.extensions import search

    docs, spine = _doc_spine(spark, sf_dir)
    return run_released(
        spark, lambda: search.bm25_topk(docs, BM25_QUERIES, k=ANN_K, spine=spine)
    )


def _oracle_bm25() -> str:
    from forgettable_spark.extensions import search

    return search.bm25_oracle_sql(BM25_QUERIES, k=ANN_K)


KMEANS_CELLS = 8  # ~60 vectors/cell at sf0.01; corpus knob like n_bits
KMEANS_PROBES = 2
KMEANS_CAP = 32  # bites at sf0.01 (trained cells run 44-78) so the
# sample-to-cap semantics stay exercised even under a balanced codebook

#: Trained codebook memo per (sf_dir, k): training collects a bounded
#: sample (O(CODEBOOK_SAMPLE·dim) driver memory), and the result is a
#: pure function of the corpus — re-training per call would repeat the
#: identical collect for the identical literals.
_CODEBOOKS: dict[tuple[str, int], list[list[float]]] = {}

#: The corpus the kmeans oracle generator trains against when the
#: caller doesn't say — the driver's documented correctness corpus
#: (it fetches oracle_sql() with no arguments and compares at sf0.01).
#: Multi-sf callers pass sf_dir explicitly through oracle_sql(sf_dir=…)
#: instead; there is deliberately NO module-level mutable sf state
#: (VERDICT r7 #4 — the old _LAST_KMEANS_SF global could hand a
#: fetch-once-run-many caller a codebook for the wrong corpus).
_KMEANS_ORACLE_DEFAULT_SF = "/root/testdata/sf0.01"


def _codebook_for(spark: SparkSession, sf_dir: str, k: int) -> list[list[float]]:
    from forgettable_spark.extensions import codebook as cb

    key = (sf_dir, k)
    if key not in _CODEBOOKS:
        emb = load_table(spark, sf_dir, "embeddings")
        _CODEBOOKS[key] = cb.train_codebook(emb, k=k)
    return _CODEBOOKS[key]


def _codebook_local_for(sf_dir: str, k: int) -> list[list[float]]:
    """The sessionless arm of the _CODEBOOKS memo, shared by every
    generated flat-codebook oracle: return the corpus' trained codebook,
    training via pyarrow when no query has already trained it in this
    process. Raises FileNotFoundError — the TYPED cold-fetch error the
    oracle_sql callers degrade on (ADVICE r6) — when the corpus parquet
    is absent."""
    import os

    from forgettable_spark.extensions import codebook as cb

    key = (sf_dir, k)
    if key not in _CODEBOOKS:
        emb_path = os.path.join(sf_dir, "embeddings.parquet")
        if not os.path.exists(emb_path):
            raise FileNotFoundError(emb_path)
        _CODEBOOKS[key] = cb.train_codebook_local(emb_path, k=k)
    return _CODEBOOKS[key]


def q_ann_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a TRAINED balanced codebook (k-means IVF) — the
    production refinement of the fixed quantizers: cells split where the
    data is dense, so per-cell occupancy stays near corpus/k and the
    sample-to-cap knob becomes a safety net instead of the load-bearing
    recall trade (SCALING.md sf3: fixed cells went quadratic on
    clustered data; trained cells are balanced by construction).

    Oracle (driver-green since r6): k-means is iterative, but training
    is a bit-deterministic pure function of the corpus (fixed sample
    order, fixed init, fixed iteration count, float64 numpy), so
    ``oracle_sql()`` regenerates the SAME codebook — sessionlessly, via
    ``codebook.train_codebook_local`` (pyarrow + the shared Lloyd
    kernel) — and embeds it as literals in the DuckDB twin. Bit-identity
    of the two training paths and full end-to-end parity are locked by
    tests/test_kmeans_ann.py."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    cents = _codebook_for(spark, sf_dir, KMEANS_CELLS)
    return cb.kmeans_ann_topk(
        emb,
        _queries_subset(emb),
        cents,
        k=ANN_K,
        n_probes=KMEANS_PROBES,
        max_bucket_size=KMEANS_CAP,
    )


def _oracle_ann_kmeans(sf_dir: str) -> str:
    """Literal-codebook DuckDB twin of :func:`q_ann_kmeans_topk` for an
    EXPLICIT corpus: the codebook is re-derived for ``sf_dir`` — from
    the memo if the query already trained there, else fresh and without
    a session (``train_codebook_local``: same sample order, same Lloyd
    kernel, bit-identical centroids — test-locked)."""
    from forgettable_spark.extensions import codebook as cb

    return cb.codebook_oracle_sql(
        _codebook_local_for(sf_dir, KMEANS_CELLS),
        k=ANN_K,
        n_probes=KMEANS_PROBES,
        max_bucket_size=KMEANS_CAP,
        query_mod=ANN_QUERY_MOD,
    )


#: semantic_dedup config: the SAME k=8 codebook as ann_kmeans_topk (one
#: training, memoized), a threshold inside the synthetic corpus' within-
#: cell cosine range (real embedding dedup runs 0.9+; these vectors are
#: near-orthogonal — NEAR_DUP_COSINE's rationale), and a cap that BITES
#: at sf0.01 (trained cells run 57-70, three exceed 64) so the
#: deterministic sample-to-cap semantics are hash-verified, not just
#: plumbed (SIMHASH_BUCKET_CAP's rationale).
SEMDEDUP_COSINE = 0.38
SEMDEDUP_CAP = 64


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped embedding dedup (SemDeDup, arXiv:2303.09540) over
    the trained k-means codebook: semantic duplicates share a cell, so
    pair scoring is a balanced-cell equi-join — the trained-quantizer
    complement to the banded-LSH `embedding_near_dup_hyperplane`, and the
    third consumer of the memoized `ann_kmeans_topk` codebook. Output is
    one row per dropped doc with its minimal keep-witness."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    cents = _codebook_for(spark, sf_dir, KMEANS_CELLS)
    return cb.semantic_dedup(
        emb, cents, threshold=SEMDEDUP_COSINE, max_cell_size=SEMDEDUP_CAP
    )


def _oracle_semantic_dedup(sf_dir: str) -> str:
    """Literal-codebook DuckDB twin of :func:`q_semantic_dedup` —
    generated per-corpus exactly like :func:`_oracle_ann_kmeans` (same
    memo, same sessionless fallback, same typed cold-fetch error)."""
    from forgettable_spark.extensions import codebook as cb

    return cb.semantic_dedup_oracle_sql(
        _codebook_local_for(sf_dir, KMEANS_CELLS),
        threshold=SEMDEDUP_COSINE,
        max_cell_size=SEMDEDUP_CAP,
    )


#: Two-level quantizer config for the SECONDARY semantic-dedup variant:
#: 4×2 = the same 8 global cells as the registered flat config at
#: correctness scale, so the two strategies are comparable rung-for-rung
#: while the hierarchical assignment (coarse CASE route → one fine
#: codebook) is what the oracle hash actually verifies. At corpus scale
#: this is the configuration that matters: k1·k2 cells for k1+k2
#: per-row folds (SCALING.md r9-late).
SEMDEDUP_K1 = 4
SEMDEDUP_K2 = 2

#: (sf_dir, k1, k2) → (coarse, fines) memo — the _CODEBOOKS device.
_TWO_LEVEL_CODEBOOKS: dict[tuple[str, int, int], tuple[list, list]] = {}


def _two_level_codebook_for(
    spark: SparkSession, sf_dir: str, k1: int = SEMDEDUP_K1, k2: int = SEMDEDUP_K2
) -> tuple[list, list]:
    """Get-or-train the memoized two-level codebook (the `_codebook_for`
    device) — ONE definition for every Spark-side consumer."""
    from forgettable_spark.extensions import codebook as cb

    key = (sf_dir, k1, k2)
    if key not in _TWO_LEVEL_CODEBOOKS:
        emb = load_table(spark, sf_dir, "embeddings")
        _TWO_LEVEL_CODEBOOKS[key] = cb.train_two_level_codebook(emb, k1=k1, k2=k2)
    return _TWO_LEVEL_CODEBOOKS[key]


def _two_level_codebook_local_for(
    sf_dir: str, k1: int = SEMDEDUP_K1, k2: int = SEMDEDUP_K2
) -> tuple[list, list]:
    """Sessionless twin (`_codebook_local_for` device) sharing the same
    memo — oracle generation must see the identical codebook."""
    import os

    from forgettable_spark.extensions import codebook as cb

    key = (sf_dir, k1, k2)
    if key not in _TWO_LEVEL_CODEBOOKS:
        emb_path = os.path.join(sf_dir, "embeddings.parquet")
        if not os.path.exists(emb_path):
            raise FileNotFoundError(emb_path)
        _TWO_LEVEL_CODEBOOKS[key] = cb.train_two_level_codebook_local(
            emb_path, k1=k1, k2=k2
        )
    return _TWO_LEVEL_CODEBOOKS[key]


def q_semantic_dedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary: :func:`q_semantic_dedup` over the TWO-LEVEL trained
    quantizer (`codebook.semantic_dedup_two_level`) — the corpus-scale
    assignment strategy (k1·k2 cells at k1+k2 per-row fold cost).
    run_released sweeps the assignment checkpoint blocks."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    coarse, fines = _two_level_codebook_for(spark, sf_dir)
    return run_released_cpu_dense(
        spark,
        lambda: cb.semantic_dedup_two_level(
            emb,
            coarse,
            fines,
            threshold=SEMDEDUP_COSINE,
            max_cell_size=SEMDEDUP_CAP,
        ),
    )


def _oracle_semantic_dedup_two_level(sf_dir: str) -> str:
    """Generated two-level twin (the `_oracle_semantic_dedup` device)."""
    from forgettable_spark.extensions import codebook as cb

    coarse, fines = _two_level_codebook_local_for(sf_dir)
    return cb.semantic_dedup_two_level_oracle_sql(
        coarse, fines, threshold=SEMDEDUP_COSINE, max_cell_size=SEMDEDUP_CAP
    )


#: prototype_prune keep fraction: 0.7 keeps the hardest 70% per cell —
#: inside the regime where the paper's metric beats random — and at the
#: correctness corpora every cell has both kept and dropped members, so
#: the rank boundary (ceil semantics + tie rule) is hash-verified.
PROTO_KEEP_FRAC = 0.7


def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality-based data pruning
    (`codebook.prototype_prune`, Sorscher et al. 2022): score vectors by
    cosine to their own trained-codebook centroid and keep the
    least-prototypical 70% per cell (easy-example pruning, the
    large-corpus regime of the paper) — the embedding-side counterpart
    of the rule-based quality gate, over the SAME memoized
    k=8 codebook as the ANN/semantic queries."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    cents = _codebook_for(spark, sf_dir, KMEANS_CELLS)
    return cb.prototype_prune(emb, cents, keep_frac=PROTO_KEEP_FRAC)


def _oracle_prototype_prune(sf_dir: str) -> str:
    """Generated literal-codebook twin (the `_oracle_ann_kmeans`
    device) of :func:`q_prototype_prune`."""
    from forgettable_spark.extensions import codebook as cb

    return cb.prototype_prune_oracle_sql(
        _codebook_local_for(sf_dir, KMEANS_CELLS), keep_frac=PROTO_KEEP_FRAC
    )


#: knn_label config: the SAME memoized k=8 codebook as the ANN/semantic
#: family; k=10 neighbors with multi-probe 2 and the kmeans cap, and the
#: labeled/unlabeled split on the ANN query device (queries = vec_id %
#: 25 == 0 — 4% unlabeled, the rest labeled) so the operator composes
#: with the existing ANN constants rather than minting new knobs.
KNN_K = 10


def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote labeling (`codebook.knn_label`) —
    the annotation step of a training-data pipeline: propagate labels
    from the labeled corpus slice to the unlabeled query slice by the
    majority label of each query's k nearest cosine neighbors, candidate
    generation bounded by the trained-codebook cell join (multi-probe +
    cap, the `ann_kmeans_topk` machinery). First consumer of the
    embeddings table's `label` column."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    cents = _codebook_for(spark, sf_dir, KMEANS_CELLS)
    return cb.knn_label(
        emb.filter(F.col("vec_id") % ANN_QUERY_MOD != 0),
        _queries_subset(emb),
        cents,
        k=KNN_K,
        n_probes=KMEANS_PROBES,
        max_bucket_size=KMEANS_CAP,
    )


def _oracle_knn_label(sf_dir: str) -> str:
    """Generated literal-codebook twin (the `_oracle_ann_kmeans`
    device) of :func:`q_knn_label`."""
    from forgettable_spark.extensions import codebook as cb

    return cb.knn_label_oracle_sql(
        _codebook_local_for(sf_dir, KMEANS_CELLS),
        k=KNN_K,
        n_probes=KMEANS_PROBES,
        max_bucket_size=KMEANS_CAP,
        query_mod=ANN_QUERY_MOD,
    )


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r11: SEMANTIC decontamination
    (`codebook.decontaminate_semantic`) — the embedding arm of the
    decontamination family (exact n-gram `decontaminate`, MinHash
    `decontaminate_fuzzy`, and now cosine): flag corpus vectors within
    threshold cosine of any eval vector, catching paraphrased leaks
    that share no n-grams. Eval slice = the ANN query device
    (vec_id % 25), SAME memoized k=8 codebook, multi-probe 2 on the
    broadcast eval side; corpus side never shuffles for the match."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    cents = _codebook_for(spark, sf_dir, KMEANS_CELLS)
    return cb.decontaminate_semantic(
        emb.filter(F.col("vec_id") % ANN_QUERY_MOD != 0),
        _queries_subset(emb),
        cents,
        threshold=SEMDEDUP_COSINE,
        n_probes=KMEANS_PROBES,
    )


def _oracle_decontaminate_semantic(sf_dir: str) -> str:
    """Generated literal-codebook twin (the `_oracle_ann_kmeans`
    device) of :func:`q_decontaminate_semantic`."""
    from forgettable_spark.extensions import codebook as cb

    return cb.decontaminate_semantic_oracle_sql(
        _codebook_local_for(sf_dir, KMEANS_CELLS),
        threshold=SEMDEDUP_COSINE,
        n_probes=KMEANS_PROBES,
        eval_mod=ANN_QUERY_MOD,
    )


#: Width of the GEOMETRY-derived label fixture (VERDICT r11 #6): labels
#: = the 2-bit sign-LSH signature of the vector itself (4 classes tied
#: to embedding geometry), so kNN cosine neighbors mostly share them
#: and the gauge reads ≫ the 0.25 chance floor — a regression in the
#: vote/tie/abstention logic MOVES the number, which the near-random
#: `label` column could never show.
KNN_GEO_BITS = 2


def _geo_label(vec_col):
    """The geometry label: `similarity.signature_cell` over the first
    KNN_GEO_BITS hyperplanes — the one derivation shared by the corpus
    side, the truth side, and (as `hyperplane_bit_sql`) the oracle."""
    from forgettable_spark.extensions.similarity import signature_cell

    return signature_cell(vec_col, KNN_GEO_BITS).cast("int")


def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeling operator's own quality gauge (the
    `ann_recall_signature` pattern): run `knn_label` over the
    labeled/unlabeled split and score predictions against the held-out
    TRUE labels of the query slice. TWO rows since r12 (VERDICT r11
    #6), one per label source: 'column' scores the embeddings table's
    `label` column (near-independent of geometry, reads ≈ chance — it
    verifies the vote/abstention machinery, the honest-regime note),
    'geo' scores the GEOMETRY-derived fixture (`_geo_label`) whose
    accuracy is sensitive to the vote logic and reads ≫ chance. Columns:
    (label_source, n_queries, n_predicted, n_correct, accuracy) —
    n_predicted < n_queries when a query's probed cells held no
    labeled neighbor (abstention, counted, not hidden)."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    cents = _codebook_for(spark, sf_dir, KMEANS_CELLS)

    def build() -> DataFrame:
        # ONE kNN search feeds both arms (r12, `codebook.knn_label_multi`
        # — the candidate top-k is label-independent, so the two operator
        # calls paid the same search twice); each source's prediction
        # slice is row-identical to the standalone operator's output
        # (test-locked), so the arms still score exactly the registered
        # `knn_label` semantics and the oracle twin is unchanged.
        preds = cb.knn_label_multi(
            emb.filter(F.col("vec_id") % ANN_QUERY_MOD != 0),
            _queries_subset(emb),
            cents,
            k=KNN_K,
            label_cols={
                "column": F.col("label"),
                "geo": _geo_label("embedding"),
            },
            n_probes=KMEANS_PROBES,
            max_bucket_size=KMEANS_CAP,
        )
        # r12 OPTIMIZATION: both arms score the SAME query slice against
        # the same prediction frame, so the per-arm join+agg+union folds
        # into one: explode each query row to its two (source, truth)
        # pairs, one left join on (vec_id, label_source), one grouped
        # aggregate. Row values are unchanged (identical per-arm
        # aggregates over identical joined sets — the group key just
        # replaces the literal column).
        truth_all = _queries_subset(emb).select(
            "vec_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("column").alias("label_source"),
                        F.col("label").cast("int").alias("_true"),
                    ),
                    F.struct(
                        F.lit("geo").alias("label_source"),
                        _geo_label("embedding").alias("_true"),
                    ),
                )
            ).alias("_t"),
        ).select("vec_id", F.col("_t.label_source").alias("label_source"), F.col("_t._true").alias("_true"))
        joined = truth_all.join(
            preds.select("vec_id", "label_source", "pred_label"),
            ["vec_id", "label_source"],
            "left",
        )
        return joined.groupBy("label_source").agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.count("pred_label").cast("bigint").alias("n_predicted"),
            F.sum(
                F.when(F.col("pred_label") == F.col("_true"), 1).otherwise(0)
            ).cast("bigint").alias("n_correct"),
            (
                F.sum(F.when(F.col("pred_label") == F.col("_true"), 1).otherwise(0))
                / F.count("*")
            ).cast("double").alias("accuracy"),
        )

    # run_released sweeps the shared top-k checkpoint.
    return run_released_cpu_dense(spark, build)


def _geo_label_sql(vec_expr: str) -> str:
    """The oracle rendering of :func:`_geo_label`: the KNN_GEO_BITS-bit
    sign-LSH value over a double-list expression, through the ONE shared
    `similarity.hyperplane_bit_sql` formula."""
    from forgettable_spark.extensions.similarity import hyperplane_bit_sql

    return (
        "CAST("
        + " + ".join(
            f"({hyperplane_bit_sql(i, vec_expr)}) * {1 << i}"
            for i in range(KNN_GEO_BITS)
        )
        + " AS INTEGER)"
    )


def _oracle_knn_label_accuracy(sf_dir: str) -> str:
    """Generated twin of the TWO-arm gauge: each arm wraps the full
    knn_label oracle (column labels / geometry labels via the builder's
    ``label_expr`` parameter), scored against its own truth; UNION ALL
    mirrors the engine's row-per-source shape."""
    from forgettable_spark.extensions import codebook as cb

    cents = _codebook_local_for(sf_dir, KMEANS_CELLS)
    geo_e = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    arms = []
    for source, knn, truth_t in (
        ("column", _oracle_knn_label(sf_dir), "CAST(label AS INTEGER)"),
        (
            "geo",
            cb.knn_label_oracle_sql(
                cents,
                k=KNN_K,
                n_probes=KMEANS_PROBES,
                max_bucket_size=KMEANS_CAP,
                query_mod=ANN_QUERY_MOD,
                label_expr=_geo_label_sql("a.e"),
            ),
            _geo_label_sql(geo_e),
        ),
    ):
        arms.append(
            f"""SELECT '{source}' AS label_source,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(p.pred_label) AS BIGINT) AS n_predicted,
       CAST(SUM(CASE WHEN p.pred_label = truth.t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN p.pred_label = truth.t THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS accuracy
FROM (
  SELECT vec_id, {truth_t} AS t
  FROM embeddings WHERE vec_id % {ANN_QUERY_MOD} = 0
) truth LEFT JOIN ({knn}) p USING (vec_id)"""
        )
    return "\nUNION ALL\n".join(arms)


#: Signature pre-partition width FLOOR for the partitioned variant:
#: 2 sign-LSH bits × the 4×2 two-level codebook = up to 32 composite
#: cells at correctness scale — small enough that the tiny correctness
#: corpora still produce non-empty drop sets (asserted in
#: tests/test_mixture_canonical_semantic.py). The registered entrypoint
#: grows b WITH the corpus via :func:`_partitioned_sig_bits` (VERDICT
#: r10 #6) — this constant is the minimum, not the configuration.
SEMDEDUP_SIG_BITS = 2

#: memo: embeddings row count per sf_dir — a pure function of the
#: corpus parquet footer (pyarrow metadata, no data read), shared by the
#: engine and oracle arms of the corpus-aware signature sizing so both
#: derive the identical b.
_EMB_COUNTS: dict[str, int] = {}


def table_footer_rows(sf_dir: str, name: str) -> int:
    """Row count of one ``sf_dir`` table from parquet metadata (no data
    scan; handles both single-file and directory layouts) — the ONE
    footer reader shared by the corpus-aware signature sizing and
    bench.py's warmup sizing, so the two 'pure functions of the corpus
    footer' cannot drift (review r11). Raises FileNotFoundError — the
    typed cold-fetch error the generated oracles degrade on — when the
    table is absent."""
    import os

    import pyarrow.dataset as pads

    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    return int(pads.dataset(path).count_rows())


def _emb_rows_or_none(sf_dir: str) -> int | None:
    """Footer row count for the admit arms' batch bound, or None to
    degrade to the ``count()`` action (box without pyarrow, absent
    table — the generated-oracle degrade classes)."""
    try:
        return _embeddings_count(sf_dir)
    except (FileNotFoundError, OSError, ValueError, ImportError):
        return None


def _embeddings_count(sf_dir: str) -> int:
    """Memoized :func:`table_footer_rows` over the embeddings table."""
    if sf_dir not in _EMB_COUNTS:
        _EMB_COUNTS[sf_dir] = table_footer_rows(sf_dir, "embeddings")
    return _EMB_COUNTS[sf_dir]


#: Embedding rows per partition for the small-scan spread (r12, guide
#: §2.5): the vector folds are CPU-dense per byte, so a one-split scan
#: serializes them behind one core. 250 rows/task keeps each task's fold
#: work sub-100 ms; measured best at sf0.1 (P=8): the ANN family read
#: 7.4 vs 9.0 s and the semantic family 7.9 vs 10.1 s same-window.
_EMB_ROWS_PER_SPREAD_PARTITION = 250

#: sf_dir -> spread partition count (0 = leave the scan alone). Pure
#: function of the corpus footer + session parallelism, memoized like
#: _EMB_COUNTS.
_EMB_SPREAD: dict[str, int] = {}


def _spread_parts(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    rows_per_partition: int,
    memo: dict[str, int],
) -> int:
    """Partition count for the small-scan spread gate (r12, guide §2.5
    input parallelism), memoized per (table memo, sf_dir): >0 when the
    table's file yields FEWER scan splits than the rows-based target —
    the single-file bench corpora — 0 (leave the scan alone) for
    pre-split production corpora, non-statable paths (object stores)
    and any sizing surprise."""
    if sf_dir not in memo:
        parts = 0
        try:
            path = os.path.join(sf_dir, f"{table}.parquet")
            if os.path.isfile(path):
                nbytes = os.path.getsize(path)
            else:
                nbytes = sum(
                    os.path.getsize(os.path.join(root, f))
                    for root, _, files in os.walk(path)
                    for f in files
                )
            # Spark's own typed read of the byte conf: every spelling it
            # accepts ("128m", "128mb", "268435456b") parses as it does.
            max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            splits = max(1, -(-nbytes // max(max_pb, 1)))
            rows = table_footer_rows(sf_dir, table)
            target = min(
                spark.sparkContext.defaultParallelism,
                max(2, rows // rows_per_partition),
            )
            if rows and splits < target:
                parts = target
        except (OSError, ValueError, ImportError, Py4JJavaError):
            # The spread is a best-effort optimization gate: an
            # unparseable conf value or absent footer must degrade to
            # "leave the scan alone", never crash a family (ADVICE r12).
            parts = 0
        memo[sf_dir] = parts
    return memo[sf_dir]


def _load_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``load_table('embeddings')`` with the small-scan spread (r12,
    guide §2.5 input parallelism): a bench-scale corpus arrives as ONE
    parquet split (single file, single row group), so every per-row
    vector fold — quantization, signature bits, codebook assignment,
    norms — runs in a single task while the other cores idle. When the
    file yields fewer scan splits than the rows-based target, hash-
    repartition by vec_id (deterministic, value-neutral — no
    partition-sensitive expression exists in the engine; keyed, so no
    sort-before-repartition). A production corpus arrives pre-split in
    many files, so the gate never fires there and the scan shape is
    untouched; non-statable paths (object stores) skip the spread the
    same way."""
    emb = load_table(spark, sf_dir, "embeddings")
    parts = _spread_parts(
        spark, sf_dir, "embeddings", _EMB_ROWS_PER_SPREAD_PARTITION, _EMB_SPREAD
    )
    if parts:
        emb = emb.repartition(parts, F.col("vec_id"))
    return emb


#: Documents per partition for the text-side spread (r13): the per-doc
#: shingle windows + md5 hashing of the decontamination / repetition /
#: chunk families run ~0.2 ms/doc, so ~150 docs keeps tasks tens of ms.
_DOC_ROWS_PER_SPREAD_PARTITION = 150

#: sf_dir -> documents spread partition count (0 = leave the scan
#: alone), memoized like _EMB_SPREAD.
_DOC_SPREAD: dict[str, int] = {}


def _load_docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``load_table('documents')`` with the small-scan spread — the
    text-side twin of :func:`_load_emb` (r13): row-local text queries
    (n-gram decontamination, repetition stats, chunk hashing) otherwise
    run their whole shingle+md5 workload in the corpus file's single
    scan task. Same gate, same keyed (deterministic, value-neutral)
    repartition, same production posture: pre-split corpora never
    trigger it."""
    docs = load_table(spark, sf_dir, "documents")
    parts = _spread_parts(
        spark, sf_dir, "documents", _DOC_ROWS_PER_SPREAD_PARTITION, _DOC_SPREAD
    )
    if parts:
        docs = docs.repartition(parts, F.col("doc_id"))
    return docs


def _partitioned_sig_bits(sf_dir: str) -> int:
    """Corpus-aware signature width (VERDICT r10 #6): size b so expected
    composite-cell occupancy tracks the cap — b ≈ log2(n / (k1·k2·cap))
    — instead of letting a fixed b truncate coverage as the corpus grows
    (sf30 measured fixed k=8 finding 13.7k of 211k duplicates,
    SCALING.md r10). Floored at SEMDEDUP_SIG_BITS so the tiny
    correctness corpora still exercise the composite sig·n_fine+g path;
    at the correctness SFs (500/2,000 vectors) the rule lands exactly on
    the floor, so oracle rows are unchanged from the fixed-b r10 form.
    Deterministic in the corpus footer alone — the engine and the
    sessionless oracle generator compute the identical value."""
    import math

    target = _embeddings_count(sf_dir) / float(
        SEMDEDUP_K1 * SEMDEDUP_K2 * SEMDEDUP_CAP
    )
    computed = math.ceil(math.log2(target)) if target > 1.0 else 0
    return max(SEMDEDUP_SIG_BITS, computed)


def q_semantic_dedup_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_semantic_dedup` over the SIGNATURE-PARTITIONED two-level
    quantizer (`codebook.semantic_dedup_partitioned`) — the composition
    past the two-level codebook's ~10⁴-cell codegen ceiling: sign-LSH
    bits pre-partition (2^b cells from b formula folds, zero per-cell
    literals), the one bounded trained codebook refines within every
    partition. b is sized from the corpus row count
    (:func:`_partitioned_sig_bits`) so occupancy tracks the cap at any
    scale. run_released sweeps the assignment checkpoint."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    coarse, fines = _two_level_codebook_for(spark, sf_dir)
    return run_released_cpu_dense(
        spark,
        lambda: cb.semantic_dedup_partitioned(
            emb,
            coarse,
            fines,
            threshold=SEMDEDUP_COSINE,
            n_sig_bits=_partitioned_sig_bits(sf_dir),
            max_cell_size=SEMDEDUP_CAP,
        ),
    )


def _oracle_semantic_dedup_partitioned(sf_dir: str) -> str:
    """Generated signature-partitioned twin (the
    `_oracle_semantic_dedup_two_level` device, same codebook memo and
    the same corpus-derived b as the engine arm)."""
    from forgettable_spark.extensions import codebook as cb

    coarse, fines = _two_level_codebook_local_for(sf_dir)
    return cb.semantic_dedup_partitioned_oracle_sql(
        coarse,
        fines,
        threshold=SEMDEDUP_COSINE,
        n_sig_bits=_partitioned_sig_bits(sf_dir),
        max_cell_size=SEMDEDUP_CAP,
    )


#: Banded-OR configuration (NEW r12, VERDICT r11 #2): r independent
#: band_bits-wide signatures ORed — band_bits reuses the corpus-aware
#: partitioned width so per-band bucket occupancy matches the single
#: signature's, and the candidate fan-out is n_bands× (vs the probed
#: form's (b+1)×). 3 bands ≈ half the probed fan-out at b=6 with
#: GEOMETRIC miss decay: 1−(1−p^b)^r vs p^b·(1+b(1−p)/p) for 1-flip.
SEMDEDUP_BANDS = 3


def q_semantic_dedup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r12: :func:`q_semantic_dedup_partitioned` over the BANDED-OR
    signature construction (`codebook.semantic_dedup_banded`) — the
    text bands' recall device (dedup.py's MinHash band OR) applied to
    the sign-LSH embedding signature: r independent band_bits-bit
    signatures over disjoint hyperplane slices, candidate iff ANY band
    agrees. The structural answer to the ≥2-bit straddler gap that
    caps 1-flip probing at 0.615 recall (sf1 b=6, SCALING.md r11);
    same keep rule, per-band-bucket caps."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    coarse, fines = _two_level_codebook_for(spark, sf_dir)
    return run_released_cpu_dense(
        spark,
        lambda: cb.semantic_dedup_banded(
            emb,
            coarse,
            fines,
            threshold=SEMDEDUP_COSINE,
            n_bands=SEMDEDUP_BANDS,
            band_bits=_partitioned_sig_bits(sf_dir),
            max_cell_size=SEMDEDUP_CAP,
        ),
    )


def _oracle_semantic_dedup_banded(sf_dir: str) -> str:
    """Generated banded-OR twin (same codebook memo, corpus-derived
    band width and band count as the engine arm)."""
    from forgettable_spark.extensions import codebook as cb

    coarse, fines = _two_level_codebook_local_for(sf_dir)
    return cb.semantic_dedup_banded_oracle_sql(
        coarse,
        fines,
        threshold=SEMDEDUP_COSINE,
        n_bands=SEMDEDUP_BANDS,
        band_bits=_partitioned_sig_bits(sf_dir),
        max_cell_size=SEMDEDUP_CAP,
    )


def q_semantic_dedup_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r11: :func:`q_semantic_dedup_partitioned` with signature
    MULTI-PROBE recovery (`codebook.semantic_dedup_probed`) — the
    1-flip recall recovery the partition's (1−θ/π)^b trade prices in:
    pairs straddling exactly one signature bit are compared via probe
    cells derived by integer arithmetic on the composite id (zero extra
    plan literals, ≤(b+1)× pair fan-out over capped cells). Same
    corpus-aware b, cap and keep rule as the registered partitioned
    form; n_flip defaults to all b bits."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    coarse, fines = _two_level_codebook_for(spark, sf_dir)
    return run_released_cpu_dense(
        spark,
        lambda: cb.semantic_dedup_probed(
            emb,
            coarse,
            fines,
            threshold=SEMDEDUP_COSINE,
            n_sig_bits=_partitioned_sig_bits(sf_dir),
            max_cell_size=SEMDEDUP_CAP,
        ),
    )


def _oracle_semantic_dedup_probed(sf_dir: str) -> str:
    """Generated multi-probe twin (same codebook memo and corpus-derived
    b as the engine arm)."""
    from forgettable_spark.extensions import codebook as cb

    coarse, fines = _two_level_codebook_local_for(sf_dir)
    return cb.semantic_dedup_probed_oracle_sql(
        coarse,
        fines,
        threshold=SEMDEDUP_COSINE,
        n_sig_bits=_partitioned_sig_bits(sf_dir),
        max_cell_size=SEMDEDUP_CAP,
    )


def _probed_recall_settings(sf_dir: str) -> list[int]:
    """The flip settings the recall gauge sweeps: no probe, one probe,
    full 1-flip recovery — deduplicated when b collapses them."""
    b = _partitioned_sig_bits(sf_dir)
    return sorted({0, 1, b})


def q_semantic_probed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r11 (banded arm r12): the partition/probe family's own recall
    gauge (the `ann_recall_signature` pattern): drop-set recall against
    the UNPARTITIONED two-level drop set as truth — the empirical read
    of the (1−θ/π)^b survival trade, of how much one flip buys back,
    and (r12) of the banded-OR construction at the same band width. All
    arms run CAP-FREE so the law is clean (every arm's pairs agree on
    the trained cell, hence recovered ⊆ truth by construction); one row
    per setting: (variant 'flips'|'bands', setting, n_truth, n_dropped,
    n_recovered, recall)."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    coarse, fines = _two_level_codebook_for(spark, sf_dir)
    b = _partitioned_sig_bits(sf_dir)

    # r12: ONE shared assignment scan feeds every arm
    # (codebook.probed_recall_gauge) — per-arm operator calls re-compiled
    # the literal-codebook fold five times and doubled the gauge's wall.
    return run_released_cpu_dense(
        spark,
        lambda: cb.probed_recall_gauge(
            emb,
            coarse,
            fines,
            threshold=SEMDEDUP_COSINE,
            n_sig_bits=b,
            flip_settings=_probed_recall_settings(sf_dir),
            n_bands=SEMDEDUP_BANDS,
            band_bits=b,
        ),
    )


def _oracle_semantic_probed_recall(sf_dir: str) -> str:
    """Generated gauge twin: the cap-free two-level oracle as the truth
    CTE, one cap-free probed oracle per flips setting (each a nested
    full WITH-query, the `knn_label_accuracy` wrapping device), counts
    via scalar subqueries."""
    from forgettable_spark.extensions import codebook as cb

    coarse, fines = _two_level_codebook_local_for(sf_dir)
    b = _partitioned_sig_bits(sf_dir)
    truth = cb.semantic_dedup_two_level_oracle_sql(
        coarse, fines, threshold=SEMDEDUP_COSINE, max_cell_size=None
    )
    arms = []
    ctes = [f"t AS (SELECT vec_id FROM ({truth}) q)"]

    def arm(variant: str, setting: int, name: str, sql: str) -> None:
        ctes.append(f"{name} AS (SELECT vec_id FROM ({sql}) q)")
        arms.append(
            f"""SELECT '{variant}' AS variant, CAST({setting} AS INTEGER) AS setting,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_truth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {name}) AS n_dropped,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {name} JOIN t USING (vec_id))
         AS n_recovered,
       CASE WHEN (SELECT COUNT(*) FROM t) > 0
            THEN CAST((SELECT COUNT(*) FROM {name} JOIN t USING (vec_id))
                 AS DOUBLE) / (SELECT COUNT(*) FROM t)
            ELSE 0e0 END AS recall"""
        )

    for fl in _probed_recall_settings(sf_dir):
        arm(
            "flips",
            fl,
            f"d{fl}",
            cb.semantic_dedup_probed_oracle_sql(
                coarse,
                fines,
                threshold=SEMDEDUP_COSINE,
                n_sig_bits=b,
                n_flip=fl,
                max_cell_size=None,
            ),
        )
    arm(
        "bands",
        SEMDEDUP_BANDS,
        "db",
        cb.semantic_dedup_banded_oracle_sql(
            coarse,
            fines,
            threshold=SEMDEDUP_COSINE,
            n_bands=SEMDEDUP_BANDS,
            band_bits=b,
            max_cell_size=None,
        ),
    )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(arms)


#: semantic_admit batch bound: production embedding-ingest triggers are
#: micro and COUNT-bounded (the dedup_incremental r8 lesson verbatim) —
#: min(SEM_ADMIT_BATCH, ceil(n/8)) keeps the tiny correctness corpora's
#: index side real while capping the forced batch broadcast at any
#: corpus scale.
SEM_ADMIT_BATCH = 200


def _count_bounded_batch(df: DataFrame, id_col: str, bound: int) -> DataFrame:
    """The count-bounded admission batch shared by ``dedup_incremental``
    and every semantic-admit arm: the ``bound`` lowest ``id_col`` values
    by ``(md5('incr:'||id), id)`` — a distributed top-K (TakeOrdered, no
    global sort), mirrored by the oracles' member CTE ``ORDER BY
    md5('incr:'||id), id LIMIT bound``.

    r13 (guide §2.4 — don't run jobs you don't need): the id set is
    driver-bounded by construction (≤ the caller's cap of BIGINTs), so
    it is collected ONCE and re-wrapped as a LOCAL one-partition
    relation for the callers' semi/anti broadcast joins — the previous
    scoped-cache subtree made each broadcast build re-evaluate the
    cached top-K plan (cache fill + one distributed broadcast-build job
    per join); a local relation broadcast-builds with no upstream stage
    and the identical builds collapse to one ReusedExchange.
    Row-identical: the joins see the exact same key set. (An isin()
    literal filter was measured and rejected: a wash on the admit arms
    at 200 ids, and 1.33 -> 1.78 s min-of-3 on dedup_incremental, where
    four 1000-element InSet copies cost more in analysis/codegen than
    the broadcast builds they replaced.)"""
    from pyspark.sql import types as T

    from forgettable_spark.functions.cache import _local_result_df

    rows = (
        df.select(
            id_col,
            F.md5(
                F.concat(F.lit(f"{INCR_SALT}:"), F.col(id_col).cast("string"))
            ).alias("_k"),
        )
        .orderBy("_k", id_col)
        .limit(bound)
        .select(id_col)
        .collect()
    )
    return _local_result_df(
        df.sparkSession, rows, T.StructType([T.StructField(id_col, T.LongType())])
    )


def _admit_member_split(
    emb: DataFrame,
    frame: DataFrame | None = None,
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The semantic-admit arms' (index, batch) split over the
    :func:`_count_bounded_batch` of ``vec_id`` with bound
    ``min(SEM_ADMIT_BATCH, ceil(n/8))`` (the oracle member CTE's
    ``LIMIT LEAST(SEM_ADMIT_BATCH, ceil(n/8))``). ONE definition so the
    flat, probed and banded arms cannot drift from the shared oracle
    text (review r11).

    ``frame`` (r12): an ASSIGNED view of the same id universe to split
    instead of ``emb`` — assignment is row-local, so it commutes with
    the id filter and assign-ONCE + split is bit-identical to split +
    assign-per-side while folding the codebook scan into one plan
    branch (the oracle's own member-CTE shape; measured 5.2 → 3.9 s on
    the probed arm at sf0.1). Works unchanged for exploded (banded)
    assignments — the split keys on ``vec_id`` alone.

    ``n_rows`` (r12 optimization): the table's exact row count when the
    caller already has it from the parquet footer (the memoized
    ``_embeddings_count``) — skips the one-job ``count()`` action each
    admit arm otherwise pays per call. Identical bound by construction:
    the footer count of an unfiltered single-table read IS ``count()``,
    and the oracle's ``LEAST(..., (COUNT(*)+7)//8)`` computes the same
    number its own way."""
    n = emb.count() if n_rows is None else n_rows
    new_ids = _count_bounded_batch(emb, "vec_id", min(SEM_ADMIT_BATCH, (n + 7) // 8))
    tgt = frame if frame is not None else emb
    return (
        tgt.join(F.broadcast(new_ids), "vec_id", "left_anti"),
        tgt.join(F.broadcast(new_ids), "vec_id", "left_semi"),
    )


def q_semantic_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary: embedding ADMISSION dedup (`codebook.semantic_admit`)
    — the `dedup_incremental` shape on the semantic-dedup machinery:
    a count-bounded batch of vectors (lowest (md5(incr:id), id), the
    text family's exact member device) verdicts against the cell-capped
    stored index plus its own lower-id members; one (vec_id, is_dup,
    match_id, cosine) row per batch vector, text-family sentinels."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    cents = _codebook_for(spark, sf_dir, KMEANS_CELLS)

    def build() -> DataFrame:
        # Assign ONCE, split the assigned frame (r12 — the oracle's
        # member-CTE shape; bit-identical, one codebook scan not two).
        # r13: MATERIALIZE the assignment (eager localCheckpoint, the
        # semantic_dedup_partitioned device — value-neutral lineage
        # truncation, blocks swept by run_released): the split's
        # index/batch sides and the verdict join are separate plan
        # branches, so without it the per-row codebook fold and the
        # corpus scan execute once PER BRANCH (the two ~235 ms
        # single-task stages the r12 event log left unattributed).
        # Interleaved min-of-4 on the probed arm: 1.79 -> 1.12 s.
        frame = cb.assign_cells(emb, cents)
        if not cb._plan_audit_active():
            frame = frame.localCheckpoint(eager=True)
        idx, bat = _admit_member_split(
            emb,
            frame=frame,
            n_rows=_emb_rows_or_none(sf_dir),
        )
        return cb.semantic_admit_assigned(
            idx,
            bat,
            threshold=SEMDEDUP_COSINE,
            max_cell_size=SEMDEDUP_CAP,
            broadcast_batch=True,
        )

    return run_released_cpu_dense(spark, build)


def _oracle_semantic_admit(sf_dir: str) -> str:
    """Generated literal-codebook twin (the `_oracle_semantic_dedup`
    device) of :func:`q_semantic_admit`."""
    from forgettable_spark.extensions import codebook as cb

    limit_sql = (
        f"SELECT LEAST({SEM_ADMIT_BATCH}, (COUNT(*) + 7) // 8) FROM embeddings"
    )
    return cb.semantic_admit_oracle_sql(
        _codebook_local_for(sf_dir, KMEANS_CELLS),
        threshold=SEMDEDUP_COSINE,
        batch_limit_sql=limit_sql,
        salt=INCR_SALT,
        max_cell_size=SEMDEDUP_CAP,
    )


def q_semantic_admit_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r11: :func:`q_semantic_admit` over the signature-partitioned
    assignment WITH batch-side multi-probe
    (`codebook.semantic_admit_probed`) — the admission arm of the
    multi-probe recovery: without probing, a corpus-aware partition
    silently ADMITS any duplicate straddling one signature bit, the
    exact failure the admission loop exists to prevent. Same
    count-bounded batch device as the registered `semantic_admit`,
    same verdict contract; the two-level codebook memo and
    corpus-aware b shared with the dedup family."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    coarse, fines = _two_level_codebook_for(spark, sf_dir)

    def build() -> DataFrame:
        # Assign ONCE, split the assigned frame (r12 — the oracle's
        # member-CTE shape; bit-identical, one codebook scan not two).
        # r13: materialize the assignment before the split (see
        # q_semantic_admit) — the fold otherwise executes per branch.
        b = _partitioned_sig_bits(sf_dir)
        frame = cb.assign_cells_partitioned(emb, coarse, fines, b)
        if not cb._plan_audit_active():
            frame = frame.localCheckpoint(eager=True)
        idx, bat = _admit_member_split(
            emb,
            frame=frame,
            n_rows=_emb_rows_or_none(sf_dir),
        )
        return cb.semantic_admit_assigned_probed(
            idx,
            bat,
            threshold=SEMDEDUP_COSINE,
            n_fine=cb.n_fine_sql(fines),
            n_flip=b,
            max_cell_size=SEMDEDUP_CAP,
            broadcast_batch=True,
        )

    return run_released_cpu_dense(spark, build)


def _oracle_semantic_admit_probed(sf_dir: str) -> str:
    """Generated partitioned multi-probe twin of
    :func:`q_semantic_admit_probed` (same codebook memo, same
    corpus-derived b, same count-bounded member device)."""
    from forgettable_spark.extensions import codebook as cb

    coarse, fines = _two_level_codebook_local_for(sf_dir)
    limit_sql = (
        f"SELECT LEAST({SEM_ADMIT_BATCH}, (COUNT(*) + 7) // 8) FROM embeddings"
    )
    return cb.semantic_admit_probed_oracle_sql(
        coarse,
        fines,
        n_sig_bits=_partitioned_sig_bits(sf_dir),
        threshold=SEMDEDUP_COSINE,
        batch_limit_sql=limit_sql,
        salt=INCR_SALT,
        max_cell_size=SEMDEDUP_CAP,
    )


def q_semantic_admit_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r12 (secondary from birth): :func:`q_semantic_admit` over the
    BANDED-OR construction (`codebook.semantic_admit_banded`) — the
    admission arm of the banded recovery, as `semantic_admit_probed` is
    of the probed one: a batch vector finds a stored near-duplicate iff
    ANY of the r independent band signatures agrees on its trained
    cell, the measured-better trade at matched fan-out (SCALING.md r12:
    banded 0.673 vs probed 0.577 recall at the same 7× at sf1/b=6).
    Same count-bounded batch device, same verdict contract; codebook
    memo, corpus-aware band width and band count shared with the dedup
    family."""
    from forgettable_spark.extensions import codebook as cb

    emb = _load_emb(spark, sf_dir)
    coarse, fines = _two_level_codebook_for(spark, sf_dir)

    def build() -> DataFrame:
        # Assign ONCE, split the assigned frame (r12 — the oracle's
        # member-CTE shape; bit-identical, one codebook scan not two;
        # the banded explode rides the single assignment and the split
        # keys on vec_id alone). r13: materialize the assignment before
        # the split (see q_semantic_admit) — the fold otherwise
        # executes per branch.
        frame = cb.assign_cells_banded(
            emb,
            coarse,
            fines,
            n_bands=SEMDEDUP_BANDS,
            band_bits=_partitioned_sig_bits(sf_dir),
        )
        if not cb._plan_audit_active():
            frame = frame.localCheckpoint(eager=True)
        idx, bat = _admit_member_split(
            emb,
            frame=frame,
            n_rows=_emb_rows_or_none(sf_dir),
        )
        return cb.semantic_admit_assigned_banded(
            idx,
            bat,
            threshold=SEMDEDUP_COSINE,
            max_cell_size=SEMDEDUP_CAP,
            broadcast_batch=True,
        )

    return run_released_cpu_dense(spark, build)


def _oracle_semantic_admit_banded(sf_dir: str) -> str:
    """Generated banded-OR twin of :func:`q_semantic_admit_banded`
    (same codebook memo, corpus-derived band width/count, same
    count-bounded member device)."""
    from forgettable_spark.extensions import codebook as cb

    coarse, fines = _two_level_codebook_local_for(sf_dir)
    limit_sql = (
        f"SELECT LEAST({SEM_ADMIT_BATCH}, (COUNT(*) + 7) // 8) FROM embeddings"
    )
    return cb.semantic_admit_banded_oracle_sql(
        coarse,
        fines,
        n_bands=SEMDEDUP_BANDS,
        band_bits=_partitioned_sig_bits(sf_dir),
        threshold=SEMDEDUP_COSINE,
        batch_limit_sql=limit_sql,
        salt=INCR_SALT,
        max_cell_size=SEMDEDUP_CAP,
    )


def _recall_queries(df: DataFrame) -> DataFrame:
    """Deterministic FIXED-COUNT query sample: the first ANN_RECALL_N
    multiples of ANN_QUERY_MOD. Row-local filter (no sort, no limit, no
    partition dependence) and trivially SQL-twinnable."""
    return df.filter(
        (F.col("vec_id") % ANN_QUERY_MOD == 0)
        & (F.col("vec_id") < ANN_QUERY_MOD * ANN_RECALL_N)
    )


#: Flip ladder for the signature-quantizer recall gauge (the headline's
#: probe knob): exact cell, +1 flip, +2 flips (the registered
#: SIG_ANN_FLIPS) — the probes-vs-recall+cost curve for the scheme that
#: actually serves production queries.
ANN_SIG_RECALL_FLIPS = (0, 1, 2)


def q_ann_recall_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gauge for the REGISTERED headline quantizer (sign-LSH
    signature cells + sample-to-cap + int8 scoring): one row per
    ``n_flips`` with hit counts against the exact brute-force truth and
    the candidate cost that bought them — the scheme the headline
    actually runs. A fixed-count query sample keeps the truth stage
    O(ANN_RECALL_N · |corpus|) at any scale."""

    def build() -> DataFrame:
        emb = _load_emb(spark, sf_dir)
        qset = _recall_queries(emb)
        bf = scoped_cache(
            similarity.brute_force_topk(emb, qset, k=ANN_K).select(
                "query_id", "neighbor_id"
            )
        )
        # ONE corpus join feeds the whole sweep (late r12,
        # `similarity.quantized_signature_candidates_sweep` — probe sets
        # are nested in n_flip, so the per-setting joins re-paid the
        # same equi-join; per-setting top-k over the `_nf <= f` filter
        # is row-identical to quantized_signature_topk, test-locked).
        # The shared quantized+capped corpus side (r8) rides inside the
        # one join; the candidate count per setting is a filter-count of
        # the SAME frame, so cost and hits see the same md5-window
        # sample by construction.
        cand = similarity.quantized_signature_candidates_sweep(
            emb,
            qset,
            n_bits=SIG_ANN_BITS,
            flip_settings=ANN_SIG_RECALL_FLIPS,
            max_bucket_size=SIG_ANN_CAP,
        )
        # r12 OPTIMIZATION: the three settings share ONE sort order
        # (desc cosine_q, asc neighbor_id) and nested candidate sets
        # (_nf <= f), so the per-setting row_number/top-k/semi-join/agg
        # rounds fold into one window pass: a running conditional count
        # over the shared sort IS setting f's row_number (candidates are
        # unique per (query, neighbor), so the ordering is total), one
        # broadcast join flags truth pairs, and one aggregate produces
        # every setting's counts. Was 3 window sorts + 3 semi-joins +
        # 9 aggregates over a cached frame (25 Exchanges); now 1 window
        # + 1 broadcast join + 1 aggregate.
        w = (
            Window.partitionBy("query_id")
            .orderBy(F.desc("cosine_q"), F.asc("neighbor_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        proj = cand
        for flips in ANN_SIG_RECALL_FLIPS:
            proj = proj.withColumn(
                f"_rk{flips}",
                F.sum(F.when(F.col("_nf") <= flips, 1).otherwise(0)).over(w),
            )
        j = proj.join(
            F.broadcast(bf.withColumn("_t", F.lit(1))),
            ["query_id", "neighbor_id"],
            "left",
        )
        agg = j.agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("_nf") <= flips)
                            & (F.col(f"_rk{flips}") <= ANN_K)
                            & F.col("_t").isNotNull(),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias(f"_hit{flips}")
                for flips in ANN_SIG_RECALL_FLIPS
            ],
            *[
                F.count(F.when(F.col("_nf") <= flips, F.lit(1)))
                .cast("bigint")
                .alias(f"_sc{flips}")
                for flips in ANN_SIG_RECALL_FLIPS
            ],
        )
        rows = F.array(
            *[
                F.struct(
                    F.lit(flips).cast("int").alias("n_flips"),
                    F.col(f"_hit{flips}").alias("n_hit"),
                    F.col(f"_sc{flips}").alias("n_scored"),
                )
                for flips in ANN_SIG_RECALL_FLIPS
            ]
        )
        return (
            bf.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
            .crossJoin(agg)
            .select(F.col("n_truth"), F.explode(rows).alias("_r"))
            .select(
                F.col("_r.n_flips").alias("n_flips"),
                "n_truth",
                F.col("_r.n_hit").alias("n_hit"),
                (
                    F.col("_r.n_hit").cast("double")
                    / F.col("n_truth").cast("double")
                ).alias("recall"),
                F.col("_r.n_scored").alias("n_scored"),
            )
        )

    return run_released_cpu_dense(spark, build)


def _oracle_ann_recall_signature() -> str:
    from forgettable_spark.extensions.similarity import QUANT_MAX

    cell = " + ".join(
        f"({_hyperplane_bit_sql(i)}) * {1 << i}" for i in range(SIG_ANN_BITS)
    )
    topk = (
        "SELECT query_id, neighbor_id FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id"
        "    ORDER BY cosine_q DESC, neighbor_id ASC) AS rank FROM {scored}"
        f") WHERE rank <= {ANN_K}"
    )
    idot = "CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * sc.q[i])) AS DOUBLE)"
    q_filter = f"vec_id % {ANN_QUERY_MOD} = 0 AND vec_id < {ANN_QUERY_MOD * ANN_RECALL_N}"
    per_f_ctes = []
    per_f_rows = []
    for f in ANN_SIG_RECALL_FLIPS:
        probes = ", ".join(
            ["CAST(cell AS BIGINT)"]
            + [f"CAST(xor(cell, {1 << i}) AS BIGINT)" for i in range(f)]
        )
        per_f_ctes.append(
            f"""p{f} AS (
  SELECT vec_id AS query_id, qscale, n, q, unnest([{probes}]) AS cell
  FROM qq WHERE {q_filter}
),
ap{f}_scored AS (
  SELECT a.query_id, sc.vec_id AS neighbor_id,
         ((a.qscale * sc.qscale) * {idot}) / (a.n * sc.n) AS cosine_q
  FROM p{f} a JOIN sc USING (cell) WHERE a.query_id != sc.vec_id
),
ap{f} AS ({topk.format(scored=f'ap{f}_scored')})"""
        )
        per_f_rows.append(
            f"""  SELECT CAST({f} AS INT) AS n_flips,
         (SELECT COUNT(*) FROM bf) AS n_truth,
         (SELECT COUNT(*) FROM (SELECT * FROM bf INTERSECT SELECT * FROM ap{f})) AS n_hit,
         (SELECT COUNT(*) FROM p{f} a JOIN sc USING (cell) WHERE a.query_id != sc.vec_id) AS n_scored"""
        )
    return f"""WITH {_V_CTE},
qc AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / {QUANT_MAX}.0 AS qscale,
         sqrt({_DOT.format(a='e', b='e')}) AS n,
         CAST({cell} AS BIGINT) AS cell
  FROM v
),
qq AS (
  SELECT vec_id, qscale, n, cell,
         CASE WHEN qscale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
              ELSE list_transform(e, x -> CAST(round(x / qscale) AS BIGINT)) END AS q
  FROM qc
),
sc AS (
  SELECT vec_id, qscale, n, cell, q FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY cell ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
    FROM qq
  ) WHERE srn <= {SIG_ANN_CAP}
),
q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE {q_filter}),
bf_scored AS (
  SELECT query_id, v.vec_id AS neighbor_id, {_cosine_sql('qv', 'e')} AS cosine_q
  FROM q, v WHERE query_id != v.vec_id
),
bf AS ({topk.format(scored='bf_scored')}),
{",".join(per_f_ctes)},
m AS (
{" UNION ALL ".join(per_f_rows)}
)
SELECT n_flips, n_truth, n_hit,
       CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall,
       n_scored
FROM m"""


HYPERPLANE_BUCKET_CAP = 150  # > sf0.01 max bucket (119): correctness-scale
# runs uncapped (oracle needs no cap model); at bench/corpus scale the cap
# bounds the near-orthogonal band-bucket blowup, dropped buckets logged.


def q_embedding_near_dup_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs via banded sign-LSH (12 bits, 4 bands) —
    the direction-bucketed complement to the IVF path; exact cosine
    verification keeps precision unconditional."""
    return run_released_cpu_dense(
        spark,
        lambda: similarity.hyperplane_near_dup_pairs(
            _load_emb(spark, sf_dir),
            threshold=NEAR_DUP_COSINE,
            max_bucket_size=HYPERPLANE_BUCKET_CAP,
        ),
    )


def _hyperplane_bit_sql(i: int) -> str:
    # ONE definition, shared with the engine module (r10): see
    # similarity.hyperplane_bit_sql.
    from forgettable_spark.extensions.similarity import hyperplane_bit_sql

    return hyperplane_bit_sql(i)


def _oracle_hyperplane() -> str:
    from forgettable_spark.extensions.similarity import (
        HYPERPLANE_BANDS,
        HYPERPLANE_BITS,
    )

    bpb = HYPERPLANE_BITS // HYPERPLANE_BANDS
    bands = ", ".join(
        "("
        + " + ".join(
            f"({_hyperplane_bit_sql(b * bpb + k)}) * {1 << k}" for k in range(bpb)
        )
        + f") AS band{b}"
        for b in range(HYPERPLANE_BANDS)
    )
    band_match = " OR ".join(f"a.band{b} = b.band{b}" for b in range(HYPERPLANE_BANDS))
    # Mirror the engine's normalized verification: unit vectors once per
    # row, then a single dot fold — identical float ops, identical bits.
    dot_self = _DOT.format(a="e", b="e")
    return f"""WITH {_V_CTE},
vn AS (SELECT vec_id, e, list_transform(e, x -> x / sqrt({dot_self})) AS en FROM v),
s AS (SELECT vec_id, en, {bands} FROM vn)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, {_DOT.format(a='a.en', b='b.en')} AS cosine
FROM s a JOIN s b ON a.vec_id < b.vec_id AND ({band_match})
WHERE {_DOT.format(a='a.en', b='b.en')} >= {NEAR_DUP_COSINE:e}"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the SimHash near-dup
    pair graph, plus the keep/drop decision per near-dup document.

    Returns only the NON-SINGLETON rows (documents that appear in at
    least one near-dup pair) — O(near-dup docs), not O(corpus) — so the
    ``run_released`` materialization honors cache.py's contract (never
    collect a per-document projection). The full corpus keep-list is the
    library call :func:`~forgettable_spark.extensions.components.
    dedup_keep_list`, which stays lazy: a singleton's decision is always
    ``keep=true``, so the non-singleton rows carry all the information.
    """
    from forgettable_spark.extensions.components import connected_components

    _, sp = _sketch_spine(spark, sf_dir)

    def build() -> DataFrame:
        pairs = dedup.simhash_pairs_from_sketch(
            sp["simhash"], max_hamming=SIMHASH_MAX_HAMMING
        )
        comp = connected_components(pairs)
        return comp.select(
            F.col("node").alias("doc_id"),
            "component",
            (F.col("node") == F.col("component")).alias("keep"),
        )

    # run_released also sweeps the loop's localCheckpoint blocks.
    return run_released(spark, build)


def _oracle_dedup_components() -> str:
    """Same fixpoint as a recursive CTE: a node's component is the minimum
    node id among everything reachable in the undirected pair graph."""
    return f"""WITH RECURSIVE {_SIMHASH_CAND_CTE},
pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
SELECT node AS doc_id, component, node = component AS keep FROM comp"""


# Multimodal ------------------------------------------------------------------
#
# No parquet media ships in the testdata, so the table is the deterministic
# synthetic manifest (same on both engines: sha256 hex repeated id%7+4
# times, ASCII bytes). The fake decoder is sha256-derived, so even the
# Arrow-batched mapInPandas feature path is hash-matchable: the oracle
# rebuilds content + digest + the first-8-bytes feature fold in SQL.

MEDIA_N = 64
FEAT_DIM = 8


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthetic_media(spark, n=MEDIA_N)
    return extract_image_features(media, use_fake_decoder=True)


def _oracle_multimodal() -> str:
    # feat_i = byte_i / 255.0; feat_mean = (((f1+f2)+f3)+...)/8 — explicit
    # left-associated sum matching Python's sequential sum(feats).
    byte = "(('0x' || substr(sha, {i}, 2))::BIGINT / 255.0)"
    feats = " + ".join(byte.format(i=2 * j + 1) for j in range(FEAT_DIM))
    return f"""WITH m AS (
  SELECT range AS media_id,
         repeat(sha256('media-' || range), 4 + range % 7) AS s
  FROM range({MEDIA_N}) WHERE range % 3 = 0
),
f AS (SELECT media_id, sha256(s) AS sha, CAST(length(s) AS BIGINT) AS n_bytes FROM m)
SELECT media_id, sha AS sha256, n_bytes,
       ({feats}) / {FEAT_DIM} AS feat_mean,
       CAST({FEAT_DIM} AS INT) AS feat_dim
FROM f"""


# Media near-dup: the banded-sketch candidate machinery (SimHash shape)
# applied to the decode-features path. The synthetic manifest plants two
# duplicate classes so the operator's claims are exercised, not vacuous:
# ids ≡ 21 (mod 24) carry a byte-identical copy of id-12's payload
# (exact dup: is_exact, l1 = 0), and ids ≡ 15 (mod 24) carry id-12's
# payload repeated two extra times — different bytes, identical
# NORMALIZED histogram (the "same image at a different resolution" case:
# perceptual dup, is_exact = false, l1 = 0).
MEDIA_L1_MAX = 0.35


def _media_with_planted_dups(spark: SparkSession, n: int = MEDIA_N) -> DataFrame:
    media = synthetic_media(spark, n=n)
    src = F.col("media_id") - 12
    digest = F.sha2(F.concat(F.lit("media-"), src.cast("string")), 256)
    exact = F.repeat(digest, (F.lit(4) + src % 7).cast("int")).cast("binary")
    scaled = F.repeat(digest, (F.lit(6) + src % 7).cast("int")).cast("binary")
    return media.withColumn(
        "content",
        F.when(F.col("media_id") % 24 == 21, exact)
        .when(F.col("media_id") % 24 == 15, scaled)
        .otherwise(F.col("content")),
    )


def q_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + perceptual near-dup pairs over the media table: one
    Arrow-batched featurize pass (integer histograms + sha256), a
    JVM-side integer aHash, banded candidate join (ids only), exact
    L1 verify. See :func:`media_near_dup_pairs`."""
    from forgettable_spark.extensions.multimodal import media_near_dup_pairs
    from forgettable_spark.functions.cache import run_released

    return run_released(
        spark,
        lambda: media_near_dup_pairs(
            _media_with_planted_dups(spark),
            l1_max=MEDIA_L1_MAX,
            # The oracle has no bucket cap: the library default (2000)
            # happens to never bite at MEDIA_N=64, but parity must hold
            # by construction, not by corpus-size accident — raising
            # MEDIA_N or lowering the default would otherwise silently
            # break the hash match (dedup_simhash_capped is the twin
            # that exercises the CAPPED semantics against a capped
            # oracle).
            max_bucket_size=None,
        ),
    )


def _oracle_media_near_dup() -> str:
    # Rebuilds the whole pipeline in SQL: nibble histogram via
    # length-replace per hex char, aHash bit i = counts[i]*16 >= total,
    # 4x4-bit band join, then the same left-associated 16-term L1 fold
    # (each term one IEEE divide per side — bit-exact cross-engine).
    hexd = "0123456789abcdef"
    counts = ",\n         ".join(
        f"CAST(length(s) - length(replace(s, '{c}', '')) AS BIGINT) AS c{i}"
        for i, c in enumerate(hexd)
    )
    phash = " + ".join(
        f"CASE WHEN c{i} * 16 >= n THEN CAST({1 << i} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for i in range(16)
    )
    l1 = " + ".join(
        f"abs(CAST(fa.c{i} AS DOUBLE) / CAST(greatest(fa.n, 1) AS DOUBLE)"
        f" - CAST(fb.c{i} AS DOUBLE) / CAST(greatest(fb.n, 1) AS DOUBLE))"
        for i in range(16)
    )
    return f"""WITH m AS (
  SELECT range AS media_id,
    CASE WHEN range % 24 = 21
           THEN repeat(sha256('media-' || (range - 12)), 4 + (range - 12) % 7)
         WHEN range % 24 = 15
           THEN repeat(sha256('media-' || (range - 12)), 6 + (range - 12) % 7)
         ELSE repeat(sha256('media-' || range), 4 + range % 7) END AS s
  FROM range({MEDIA_N}) WHERE range % 3 = 0
),
f AS (
  SELECT media_id, sha256(s) AS sha, CAST(length(s) AS BIGINT) AS n,
         {counts}
  FROM m
),
p AS (SELECT *, ({phash}) AS phash FROM f),
be AS (
  SELECT media_id, b.band, (phash >> (4 * b.band)) & 15 AS bval
  FROM p, (SELECT CAST(range AS INT) AS band FROM range(4)) b
),
cand AS (
  SELECT a.media_id AS media_a, bb.media_id AS media_b
  FROM be a JOIN be bb USING (band, bval)
  WHERE a.media_id < bb.media_id
  GROUP BY 1, 2
)
SELECT cand.media_a, cand.media_b,
  CAST(bit_count(xor(fa.phash, fb.phash)) AS INT) AS hamming,
  ({l1}) AS l1,
  fa.sha = fb.sha AS is_exact
FROM cand JOIN p fa ON cand.media_a = fa.media_id
          JOIN p fb ON cand.media_b = fb.media_id
WHERE ({l1}) <= {MEDIA_L1_MAX}"""


# Contamination / PII / corpus vocabulary ------------------------------------

EVAL_SET_MOD = 101  # eval/benchmark docs = doc_id % 101 == 0 (~1% of corpus)
# >= 2 shared distinct 3-grams: excludes the single-gram random-collision
# noise floor (measured: 197 pairs at 1 shared gram vs 19 at >= 2 on the
# sf0.01 corpus) while keeping the result non-degenerate.
DECONTAM_MIN_SHARED = 2


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= 2 distinct
    3-gram hashes with the deterministic eval subset. The eval gram set
    is broadcast — the corpus never shuffles (plan-asserted; the gated
    doc spread below fires only on single-split bench corpora, where
    both the broadcast build and the probe otherwise shingle+hash the
    whole corpus in ONE task — r13, measured 0.9-1.4 s single-task
    stages in the event log)."""
    docs = _load_docs_spread(spark, sf_dir)
    eval_docs = docs.filter(F.col("doc_id") % EVAL_SET_MOD == 0)
    return contamination.decontaminate(
        docs, eval_docs, min_shared=DECONTAM_MIN_SHARED
    )


# Fuzzy decontamination verifies whole-document set Jaccard; near-dup
# contamination (an eval doc leaked with light edits) sits well below
# the 0.8 dedup bar but far above random overlap — 0.5 is the
# conventional fuzzy-decontam operating point.
FUZZY_DECONTAM_THRESHOLD = 0.5
# The registered query's synthetic "eval suite" is doc_id % 7 == 0
# (~14% of the corpus): deliberately wider than decontaminate's 1%
# subset so the flagged set is non-degenerate at the driver's sf0.01
# (9 rows; the 1% subset intersects zero planted near-dup groups
# there). Production eval suites are tiny — which only makes the
# broadcast posture stronger.
FUZZY_EVAL_MOD = 7


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate eval contamination: corpus docs whose whole-doc
    shingle-set Jaccard with an eval doc reaches 0.5, candidates from
    banded MinHash collision against the BROADCAST eval side — the
    fuzzy complement of ``decontaminate``'s exact containment. Reads
    the sketch spine on the corpus side (text-free); the only shuffle
    is the candidate-pair distinct."""
    _, sp = _sketch_spine(spark, sf_dir)
    sigs = sp["shingled"]
    return contamination.fuzzy_decontaminate_from_sketches(
        sigs,
        sigs.filter(F.col("doc_id") % FUZZY_EVAL_MOD == 0),
        k=MINHASH_K,
        bands=LSH_BANDS,
        threshold=FUZZY_DECONTAM_THRESHOLD,
    )


def _oracle_decontaminate_fuzzy() -> str:
    rows_per_band = MINHASH_K // LSH_BANDS
    band_exprs = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh[{b * rows_per_band + r + 1}]" for r in range(rows_per_band))
        + "))"
        for b in range(LSH_BANDS)
    )
    return f"""WITH {_TOK_CTE}, {_SHINGLE_CTE},
based AS (SELECT doc_id, shingles, {_MINHASH_BASE_SQL.format(src='shingles')} AS mhb FROM sh),
sigs AS (
  SELECT doc_id, shingles,
         [{', '.join(_minhash_sql(i) for i in range(MINHASH_K))}] AS mh
  FROM based
),
banded AS (
  SELECT doc_id, unnest([{band_exprs}]) AS key,
         unnest(range(0, {LSH_BANDS})) AS band
  FROM sigs
),
cand AS (
  SELECT DISTINCT c.doc_id, e.doc_id AS eval_doc_id
  FROM banded c JOIN banded e ON c.band = e.band AND c.key = e.key
  WHERE e.doc_id % {FUZZY_EVAL_MOD} = 0 AND c.doc_id <> e.doc_id
)
SELECT cand.doc_id, cand.eval_doc_id, {_JACCARD_SQL} AS jaccard
FROM cand
JOIN sh a ON a.doc_id = cand.doc_id
JOIN sh b ON b.doc_id = cand.eval_doc_id
WHERE {_JACCARD_SQL} >= {FUZZY_DECONTAM_THRESHOLD:e}"""


_GRAM_HASH_LIST_SQL = (
    "list_distinct(list_transform(shingles, s -> "
    f"('0x' || substr(md5(s), 1, 15))::BIGINT % {text.MINHASH_P}))"
)

ORACLE_DECONTAMINATE = f"""WITH {_TOK_CTE},
{_SHINGLE_CTE},
g AS (SELECT doc_id, {_GRAM_HASH_LIST_SQL} AS hs FROM sh),
cg AS (SELECT doc_id, u.h FROM g, unnest(hs) AS u(h)),
eg AS (SELECT doc_id AS eval_doc_id, u.h FROM g, unnest(hs) AS u(h)
       WHERE doc_id % {EVAL_SET_MOD} = 0),
sz AS (SELECT eval_doc_id, COUNT(*) AS n_eval FROM eg GROUP BY 1),
j AS (
  SELECT cg.doc_id, eg.eval_doc_id, COUNT(*) AS n_shared
  FROM cg JOIN eg USING (h)
  WHERE cg.doc_id <> eg.eval_doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
)
SELECT j.doc_id, j.eval_doc_id, j.n_shared,
       CAST(j.n_shared AS DOUBLE) / CAST(sz.n_eval AS DOUBLE) AS containment
FROM j JOIN sz USING (eval_doc_id)"""


# Deterministic sampling / splits / mixing -----------------------------------

SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — reproducible across
    runs, partitionings, and cluster sizes (rand() is none of these)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_split(docs, SPLIT_WEIGHTS).select("doc_id", "split")


ORACLE_HASH_SPLIT = """WITH b AS (
  SELECT doc_id,
    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bkt
  FROM documents
)
SELECT doc_id,
  CASE WHEN bkt < 9000 THEN 'train' WHEN bkt < 9500 THEN 'val' ELSE 'test' END AS split
FROM b"""


#: mixture_plan's target recipe: non-uniform shares over five of the
#: twenty (uniform) sources, so T binds on src0, every floor truncation
#: differs, and fifteen share-0 sources exercise the absent-source path.
MIXTURE_TARGETS = {
    "src0": 0.30,
    "src1": 0.25,
    "src2": 0.20,
    "src3": 0.15,
    "src4": 0.10,
}


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-reweighting plan (``sampling.mixture_plan``): per-source
    keep counts that hit MIXTURE_TARGETS with maximal retention — the
    mixture step a training-data pipeline runs between curation and
    sampling. O(sources) output; materialization composes with the
    registered per-group samplers (keep_n is their per-source cap)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.mixture_plan(docs, MIXTURE_TARGETS)


def _mixture_plan_ctes() -> str:
    """The shared plan CTEs (targets → counts → T → per-source keep_n)
    of the mixture_plan and mixture_apply oracles — ONE definition so
    the plan and its materialization cannot drift."""
    from forgettable_spark.extensions.codebook import _sql_double

    vals = ", ".join(
        f"('{s}', {_sql_double(share)})" for s, share in sorted(MIXTURE_TARGETS.items())
    )
    return f"""t(source, share) AS (VALUES {vals}),
c AS (
  SELECT source, CAST(SUM(w) AS BIGINT) AS n_docs FROM (
    SELECT source, 1 AS w FROM documents
    UNION ALL
    SELECT source, 0 AS w FROM t
  ) GROUP BY source
),
j AS (
  SELECT c.source, c.n_docs, COALESCE(t.share, 0e0) AS target_share
  FROM c LEFT JOIN t USING (source)
),
m AS (
  SELECT COALESCE(MIN(CAST(n_docs AS DOUBLE) / target_share), 0e0) AS t
  FROM j WHERE target_share > 0e0
),
p AS (
  SELECT source, n_docs, target_share,
         LEAST(n_docs, CAST(FLOOR(target_share * m.t + 1e-9) AS BIGINT)) AS keep_n
  FROM j CROSS JOIN m
)"""


def _oracle_mixture_plan() -> str:
    return f"""WITH {_mixture_plan_ctes()},
s AS (SELECT SUM(keep_n) AS tot FROM p)
SELECT source, n_docs, target_share, keep_n,
  CASE WHEN s.tot > 0 THEN CAST(keep_n AS DOUBLE) / CAST(s.tot AS DOUBLE)
       ELSE 0e0 END AS achieved_share
FROM p CROSS JOIN s"""


def q_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the `mixture_plan` (a secondary) — exactly keep_n
    docs per source in the engine's deterministic md5 order
    (`sampling.mixture_apply`)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.mixture_apply(docs, MIXTURE_TARGETS)


def _oracle_mixture_apply() -> str:
    return f"""WITH {_mixture_plan_ctes()},
r AS (
  SELECT doc_id, source, ROW_NUMBER() OVER (
    PARTITION BY source
    ORDER BY md5('sample' || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS srn
  FROM documents
)
SELECT doc_id, source FROM r JOIN p USING (source) WHERE srn <= keep_n"""


GROUP_SAMPLE_BUDGET = 3000  # chars per language: bites at sf0.01


def q_sample_per_group_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixing: keep docs per language until ~3000 chars
    of cumulative weight — the unit real training mixes are specified
    in (a doc-count cap over-weights long-document groups)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.sample_per_group_budget(
        docs, GROUP_SAMPLE_BUDGET
    ).select("doc_id", "lang", "n_chars")


ORACLE_SAMPLE_PER_GROUP_BUDGET = f"""SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
    SUM(n_chars) OVER (
      PARTITION BY lang
      ORDER BY md5('sample' || '|' || CAST(doc_id AS VARCHAR)), doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY md5('sample' || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS srn
  FROM documents
) WHERE cum <= {GROUP_SAMPLE_BUDGET} OR srn = 1"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-rule family): top-bigram and
    duplicate-bigram fractions per doc. Secondary registry — the driver
    cap holds the primary at 50; the local gate hash-matches this at both
    correctness SFs like any primary query."""
    return text.repetition_stats(_load_docs_spread(spark, sf_dir))


#: Bigram twin of _SHINGLE_CTE (n=2, same whole-text fallback).
_BIGRAM_CTE = (
    "bg AS (SELECT doc_id, CASE WHEN len(w) >= 2 THEN "
    "[w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))] "
    "ELSE [text] END AS gs FROM tok)"
)

ORACLE_REPETITION_STATS = f"""WITH {_TOK_CTE}, {_BIGRAM_CTE},
per AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(gs) AS g FROM bg)
  GROUP BY doc_id, g
),
agg AS (
  SELECT doc_id, SUM(c) AS n, MAX(c) AS m, COUNT(*) AS d
  FROM per GROUP BY doc_id
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_bigrams,
  CAST(m AS DOUBLE) / CAST(n AS DOUBLE) AS top_bigram_frac,
  CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE) AS dup_bigram_frac
FROM agg"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by tf·(N/df) —
    integer-ratio scoring so the doubles are bit-identical cross-engine
    (ln is monotone, so the ranking equals classic tf·idf). Pairs come
    from the shared postings spine (no corpus explode)."""
    docs, spine = _doc_spine(spark, sf_dir)
    return text.tfidf_keywords(docs, top_j=3, spine=spine)


ORACLE_TFIDF = f"""WITH {_TOK_CTE},
pairs AS (
  SELECT doc_id, u.t AS token, COUNT(*) AS tf
  FROM tok, unnest(w) AS u(t)
  GROUP BY 1, 2
),
dfc AS (SELECT token, COUNT(*) AS df FROM pairs GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT p.doc_id, p.token, p.tf, dfc.df,
    CAST(p.tf * n.n_docs AS DOUBLE) / CAST(dfc.df AS DOUBLE) AS score
  FROM pairs p JOIN dfc USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
  FROM scored
)
SELECT doc_id, token, tf, df, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3"""


#: source_curation thresholds: pass-rate 0.75 is binary-exact (no
#: knife's-edge doubles at the comparison) and splits the test corpus'
#: sources both ways, so the driver hash-match verifies the VERDICT
#: logic, not just the counting.
SRC_MIN_PASS_RATE = 0.75
SRC_MAX_DUP_RATE = 0.2
SRC_MIN_DOCS = 10


def q_source_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level curation verdicts (``text.source_curation``): the
    above-document pruning decision — per crawl source, exact
    quality-pass and corpus-wide duplication counts, rates as single
    integer divisions, and a keep verdict under explicit thresholds
    (sources under SRC_MIN_DOCS are unjudgeable, not innocent).
    run_released: the base (source, pass, hash) projection is
    scope-cached for its two consumers (group sizes + join-back)."""
    docs = load_table(spark, sf_dir, "documents")
    return run_released(
        spark,
        lambda: text.source_curation(
            docs,
            min_pass_rate=SRC_MIN_PASS_RATE,
            max_dup_rate=SRC_MAX_DUP_RATE,
            min_docs=SRC_MIN_DOCS,
        ),
    )


def _oracle_source_curation() -> str:
    from forgettable_spark.extensions.codebook import _sql_double
    from forgettable_spark.extensions.text import quality_pass_sql

    pr = _sql_double(SRC_MIN_PASS_RATE)
    dr = _sql_double(SRC_MAX_DUP_RATE)
    return f"""WITH b AS (
  SELECT source,
    CAST(text IS NULL AS INT) AS nul,
    {quality_pass_sql('text')} AS pass,
    md5(text) AS h
  FROM documents
),
sizes AS (SELECT h, COUNT(*) AS hn FROM b WHERE h IS NOT NULL GROUP BY h),
agg AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(nul) AS BIGINT) AS n_null_text,
    CAST(SUM(pass) AS BIGINT) AS n_pass_quality,
    CAST(SUM(CASE WHEN s.hn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
  FROM b LEFT JOIN sizes s USING (h) GROUP BY source
),
rated AS (
  SELECT *,
    CASE WHEN n_docs - n_null_text > 0
      THEN CAST(n_pass_quality AS DOUBLE) / CAST(n_docs - n_null_text AS DOUBLE)
      ELSE 0e0 END AS pass_rate,
    CASE WHEN n_docs - n_null_text > 0
      THEN CAST(n_dup_docs AS DOUBLE) / CAST(n_docs - n_null_text AS DOUBLE)
      ELSE 0e0 END AS dup_rate
  FROM agg
)
SELECT source, n_docs, n_null_text, n_pass_quality, n_dup_docs, pass_rate, dup_rate,
  (pass_rate >= {pr} AND dup_rate <= {dr} AND n_docs >= {SRC_MIN_DOCS}) AS keep
FROM rated"""


def q_quality_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distilled quality classifier (``extensions/classifier.py``): the
    rules → learned-model step of the production quality ladder, run
    end-to-end — label with the rule gate, train naive-Bayes token odds
    (Laplace-smoothed, overflow-free two-division form), score with the
    libm-free linear-odds fold, and report teacher/student agreement
    per document. run_released: the (doc, token, tf, label) postings
    cache feeds both training rollups and scoring. Postings come from
    the shared spine; the rule label re-derives row-locally from the
    spine's (dl, n_distinct)."""
    from forgettable_spark.extensions import classifier

    docs, spine = _doc_spine(spark, sf_dir)
    return run_released(
        spark, lambda: classifier.distill_quality_classifier(docs, spine=spine)
    )


def _oracle_quality_distill() -> str:
    from forgettable_spark.extensions import classifier

    return classifier.distill_oracle_sql()


def q_batch_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-novelty monitor (``text.vocabulary_novelty``) over the
    same deterministic batch/corpus split the admission query uses: how
    much of the incoming ~12.5% slice's vocabulary (types and
    occurrences) is unseen in the held ~87.5% — the distribution-shift
    gauge that complements content-level admission dedup. Secondary
    registry: one-row observability composition over the established
    split."""
    from forgettable_spark.extensions.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), INCR_SALT)
    return text.vocabulary_novelty(
        docs.filter(b >= INCR_NEW_BOUND), docs.filter(b < INCR_NEW_BOUND)
    )


def _oracle_batch_novelty() -> str:
    from forgettable_spark.extensions.sampling import BUCKETS

    bkt = (
        f"('0x' || substr(md5('{INCR_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
        f" % {BUCKETS}"
    )
    return f"""WITH bt AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
    WHERE text IS NOT NULL AND {bkt} < {INCR_NEW_BOUND})
  GROUP BY token
),
et AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents
  WHERE text IS NOT NULL AND {bkt} >= {INCR_NEW_BOUND}
),
new AS (SELECT * FROM bt ANTI JOIN et USING (token)),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_batch_types,
         CAST(COALESCE(SUM(tf), 0) AS BIGINT) AS n_batch_tokens FROM bt
),
news AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_new_types,
         CAST(COALESCE(SUM(tf), 0) AS BIGINT) AS n_new_tokens FROM new
)
SELECT n_batch_types, n_new_types,
  CASE WHEN n_batch_types > 0
    THEN CAST(n_new_types AS DOUBLE) / CAST(n_batch_types AS DOUBLE)
    ELSE 0e0 END AS new_type_rate,
  n_batch_tokens, n_new_tokens,
  CASE WHEN n_batch_tokens > 0
    THEN CAST(n_new_tokens AS DOUBLE) / CAST(n_batch_tokens AS DOUBLE)
    ELSE 0e0 END AS new_token_rate
FROM totals CROSS JOIN news"""


#: Count bound for the LSH recall gauge's document sample (r8): the
#: exact-truth side then costs O(sample²-bounded-by-PPJoin) at ANY
#: corpus scale instead of growing with candidate density. Both
#: correctness corpora (50 / 500 docs) sit far below the bound, so the
#: gauge there is the full corpus, unchanged from r7.
LSH_RECALL_SALT = "lshr"
LSH_RECALL_SAMPLE_DOCS = 4000


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH dedup recall, measured: the MinHash+LSH pair set against the
    exact PPJoin ground truth (``dedup_ngram_jaccard``) on the same
    corpus and threshold — one row (n_true, n_found, recall). The
    S-curve predicts P ≈ 1-(1-J^3)^4 per pair at k=12/b=4; this gauge
    is the empirical check (precision is 1.0 by construction — LSH
    candidates are exact-Jaccard verified — so recall is the ONLY free
    number). Truth is the within-language exact join (near-identical
    docs share language, the ``ngram_jaccard_pairs`` blocking contract);
    found-pairs are counted against that same set (semi-join). At scale
    this runs on a SAMPLE block, like ``ann_recall_signature``'s fixed
    query sample — the gauge's cost model is the exact join's, not the
    corpus'. The recall division is zero-guarded (ADVICE r4): a corpus
    with no true pairs reads recall 0.0 instead of throwing under ANSI
    mode, matching the engine's other rate computations.
    Shared scan (closed the r5 'known inefficiency', since r6 via the
    sketch spine): BOTH branches — the PPJoin prefix index and the
    MinHash banding — read the spine's (id, lang, sorted-distinct
    shingles, nsh, mh) parquet table; nothing is shingled or hashed
    here at all (the min-fold and intersect counts are
    order-independent, so results are bit-identical to the
    independent-shingle form).

    COUNT-bounded truth side since r8 (VERDICT r7 #6): the gauge runs
    over the LSH_RECALL_SAMPLE_DOCS lowest (md5(salt:id), id) sketched
    documents — both pair sets are PAIRWISE-independent (exact Jaccard
    and per-doc banding don't depend on other documents), so sampling
    the docs commutes with computing the pairs, and the oracle applies
    the identical membership filter. The r7 full-corpus gauge's exact
    truth grew with candidate density (7.5× wall for 10× rows, the
    steepest curve in the suite); the sample caps it while small
    corpora (≤ the sample size, including both correctness SFs) are
    unchanged — LIMIT over fewer rows is the whole set. Ad-hoc
    full-corpus gauging lives in ``dedup_lsh_recall_full`` — a separate,
    NON-registered helper, so no environment flag can ever make the
    registered query and its oracle disagree (ADVICE r8)."""
    return _lsh_recall(spark, sf_dir, sample_docs=LSH_RECALL_SAMPLE_DOCS)


def dedup_lsh_recall_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus form of the LSH recall gauge — the exact-truth side
    grows with candidate density (measured 7.5× wall for 10× rows), so
    this is an ad-hoc investigation tool, deliberately NOT in any
    registry: the registered ``dedup_lsh_recall`` is always the
    count-bounded sample and always matches its oracle."""
    return _lsh_recall(spark, sf_dir, sample_docs=None)


def _lsh_recall(
    spark: SparkSession, sf_dir: str, sample_docs: int | None
) -> DataFrame:
    _, sp = _sketch_spine(spark, sf_dir)

    def build() -> DataFrame:
        sketched = sp["shingled"]
        if sample_docs is not None:
            member = sketched.select(
                "doc_id",
                F.md5(
                    F.concat(F.lit(f"{LSH_RECALL_SALT}:"), F.col("doc_id").cast("string"))
                ).alias("_k"),
            ).orderBy("_k", "doc_id").limit(sample_docs).select("doc_id")
            sketched = sketched.join(F.broadcast(member), "doc_id", "left_semi")
            sketched = scoped_cache(sketched)
        base = sketched.select(
            "doc_id", F.col("lang").alias("_block"), "shd", "nsh"
        )
        truth = scoped_cache(
            dedup.ngram_jaccard_pairs_from_shingled(base, threshold=JACCARD_THRESHOLD)
        )
        found = dedup.minhash_lsh_pairs_from_sketches(
            sketched, k=MINHASH_K, bands=LSH_BANDS, threshold=JACCARD_THRESHOLD
        )
        # r13 note: folding n_true/n_found into ONE aggregate (truth
        # LEFT-joined to found markers, no crossJoin) was measured and
        # REJECTED — interleaved min-of-4 read 1.51 vs 1.32 s for this
        # cached semi-join shape: the cached truth makes both 1-row
        # aggregates nearly free, while the fold forced the heavy PPJoin
        # pipeline straight into a wider outer join.
        hit = truth.join(
            found.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi"
        )
        n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
        n_found = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_found"))
        return n_true.crossJoin(n_found).select(
            "n_true",
            "n_found",
            F.when(
                F.col("n_true") > 0,
                F.col("n_found").cast("double") / F.col("n_true").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall"),
        )

    return run_released(spark, build)


def _oracle_dedup_lsh_recall() -> str:
    # The doc-sample restriction commutes with pair computation (both
    # pair sets are pairwise-independent), so the oracle computes the
    # full pair sets and filters both endpoints to the SAME
    # count-bounded membership the Spark gauge samples (r8).
    truth = ORACLE_DEDUP_NGRAM
    found = _oracle_minhash_lsh()
    member = (
        "SELECT doc_id FROM documents WHERE text IS NOT NULL "
        f"ORDER BY md5('{LSH_RECALL_SALT}:' || CAST(doc_id AS VARCHAR)), doc_id "
        f"LIMIT {LSH_RECALL_SAMPLE_DOCS}"
    )
    in_member = (
        f"doc_a IN (SELECT doc_id FROM mem) AND doc_b IN (SELECT doc_id FROM mem)"
    )
    return f"""WITH mem AS ({member}),
ts AS (SELECT doc_a, doc_b FROM ({truth}) x WHERE {in_member}),
fs AS (SELECT doc_a, doc_b FROM ({found}) y WHERE {in_member})
SELECT CAST(t.n AS BIGINT) AS n_true, CAST(h.n AS BIGINT) AS n_found,
  CASE WHEN t.n > 0 THEN CAST(h.n AS DOUBLE) / CAST(t.n AS DOUBLE) ELSE 0e0 END AS recall
FROM (SELECT COUNT(*) AS n FROM ts) t,
     (SELECT COUNT(*) AS n FROM (
        SELECT doc_a, doc_b FROM ts
        INTERSECT
        SELECT doc_a, doc_b FROM fs) z) h"""


# Sequence packing, corpus-LM scoring, incremental admission ------------------


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenation-packing layout (``extensions/packing.py``): which
    fixed-size training sequence(s) each document lands in, as pure
    integer window arithmetic over sharded deterministic streams — the
    corpus→trainer layout step. One shard-keyed shuffle; text never
    moves."""
    from forgettable_spark.extensions import packing

    docs = load_table(spark, sf_dir, "documents")
    return packing.pack_concat(docs)


def _oracle_pack_sequences() -> str:
    from forgettable_spark.extensions import packing

    return packing.pack_oracle_sql()


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM fluency score (``extensions/lm.py``): the CCNet
    / RefinedWeb-style LM quality filter with a hash-exact rational
    scoring rule (mean conditional probability, sorted-fold sum).
    run_released: the (doc, gram, tf) postings cache feeds both the
    model rollup and scoring. Pairs ARE the shared spine's bigram
    table (one corpus tokenize for the whole family)."""
    from forgettable_spark.extensions import lm

    docs, spine = _doc_spine(spark, sf_dir)
    return run_released(spark, lambda: lm.bigram_lm_score(docs, spine=spine))


def _oracle_lm_score() -> str:
    from forgettable_spark.extensions import lm

    return lm.LM_SCORE_ORACLE_SQL


#: New-batch split for the incremental-admission query. The admission
#: BENCHMARK batch is COUNT-BOUNDED since r8: the min(INCR_BATCH_DOCS,
#: ceil(n/8)) lowest (md5(salt:id), id) documents — a distributed
#: top-K, no global sort. Production triggers are micro and bounded,
#: and the previous unconditionally-proportional ~12.5% slice made the
#: operator's forced batch-side broadcasts grow linearly with corpus
#: size (ADVICE r7); the ceil(n/8) arm only matters below 8·cap docs,
#: where it keeps the tiny correctness corpora exercising a real
#: existing side. batch_novelty keeps the proportional bucket split
#: (< INCR_NEW_BOUND of sampling.BUCKETS, ~12.5%) — it is a
#: distribution-shift gauge over slices, with no broadcast riding on
#: batch size.
INCR_SALT = "incr"
INCR_NEW_BOUND = 1250
INCR_BATCH_DOCS = 1000


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental admission dedup (``dedup.incremental_lsh_admit``):
    match a deterministic COUNT-BOUNDED "incoming batch" (the
    min(INCR_BATCH_DOCS, ceil(n/8)) lowest (md5(salt:id), id) documents
    — a distributed top-K selection, TakeOrdered not a global sort)
    against the rest of the corpus as "already admitted" — new×old band
    join only, no old×old pairs, one verdict row per batch document.
    The ingest twin of ``dedup_minhash_lsh``'s batch self-join. Both
    slices come from the sketch spine's narrow (doc_id, mh) projection
    — exactly the production shape, where existing-side sketches ARE a
    stored table (the admission loop's persistent index); the
    exact-Jaccard verify re-shingles candidate documents only, from
    text.

    Count-bounded since r8 (ADVICE r7): production admission triggers
    are micro and BOUNDED, so the benchmark batch is too — which is
    what makes ``broadcast_batch=True`` (the zero-index-shuffle plan:
    banded batch, candidate ids and verdicts all broadcast, the stored
    index and corpus text never repartitioned) honest at ANY corpus
    scale. The previous unconditionally-proportional ~12.5% slice grew
    those forced broadcasts linearly with the corpus, straight into the
    8 GB broadcast limit; the ceil(n/8) arm only bites below 8000 docs,
    keeping the tiny correctness corpora's existing side real."""
    docs = load_table(spark, sf_dir, "documents")
    _, sp = _sketch_spine(spark, sf_dir)

    def build() -> DataFrame:
        # Footer row count when available (r12 — same device as the
        # admit arms' _emb_rows_or_none): skips the one-job count()
        # action; identical bound (footer count of the unfiltered
        # single-table read IS count()).
        try:
            n_docs = table_footer_rows(sf_dir, "documents")
        except (FileNotFoundError, OSError, ValueError, ImportError):
            n_docs = docs.count()
        new_ids = _count_bounded_batch(
            docs, "doc_id", min(INCR_BATCH_DOCS, (n_docs + 7) // 8)
        )
        sigs = sp["shingled"].select("doc_id", "mh")
        return dedup.incremental_admit_from_sketches(
            sigs.join(F.broadcast(new_ids), "doc_id", "left_anti"),
            sigs.join(F.broadcast(new_ids), "doc_id", "left_semi"),
            docs.join(F.broadcast(new_ids), "doc_id", "left_anti"),
            docs.join(F.broadcast(new_ids), "doc_id", "left_semi"),
            k=MINHASH_K,
            bands=LSH_BANDS,
            threshold=JACCARD_THRESHOLD,
            broadcast_batch=True,
        )

    return run_released(spark, build)


def _oracle_dedup_incremental() -> str:
    rows_per_band = MINHASH_K // LSH_BANDS
    band_exprs = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh[{b * rows_per_band + r + 1}]" for r in range(rows_per_band))
        + "))"
        for b in range(LSH_BANDS)
    )
    # count-bounded batch membership (r8): the min(INCR_BATCH_DOCS,
    # ceil(n/8)) lowest (md5(salt:id), id) documents — the oracle twin
    # of the Spark query's TakeOrdered selection; defined over ALL
    # documents (including NULL-text ones, which are admitted
    # unmatched). DuckDB's LIMIT accepts the subquery expression.
    return f"""WITH member AS (
  SELECT doc_id FROM documents
  ORDER BY md5('{INCR_SALT}:' || CAST(doc_id AS VARCHAR)), doc_id
  LIMIT (SELECT LEAST({INCR_BATCH_DOCS}, (COUNT(*) + 7) // 8) FROM documents)
),
{_TOK_CTE}, {_SHINGLE_CTE},
based AS (SELECT doc_id, shingles, {_MINHASH_BASE_SQL.format(src='shingles')} AS mhb
          FROM sh WHERE text IS NOT NULL),
sigs AS (
  SELECT doc_id, shingles,
         [{', '.join(_minhash_sql(i) for i in range(MINHASH_K))}] AS mh
  FROM based
),
banded_old AS (
  SELECT doc_id, unnest([{band_exprs}]) AS key, unnest(range(0, {LSH_BANDS})) AS band
  FROM sigs WHERE doc_id NOT IN (SELECT doc_id FROM member)
),
banded_new AS (
  SELECT doc_id, unnest([{band_exprs}]) AS key, unnest(range(0, {LSH_BANDS})) AS band
  FROM sigs WHERE doc_id IN (SELECT doc_id FROM member)
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM banded_new n JOIN banded_old o ON n.band = o.band AND n.key = o.key
),
ver AS (
  SELECT c.new_id, c.old_id, {_JACCARD_SQL} AS jaccard
  FROM cand c
  JOIN sh a ON a.doc_id = c.new_id
  JOIN sh b ON b.doc_id = c.old_id
  WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD:e}
),
best AS (
  SELECT new_id, old_id AS match_id, jaccard FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY new_id ORDER BY jaccard DESC, old_id ASC) AS rn
    FROM ver
  ) WHERE rn = 1
)
SELECT m.doc_id, b.match_id IS NOT NULL AS is_dup,
  CAST(COALESCE(b.match_id, -1) AS BIGINT) AS match_id,
  COALESCE(b.jaccard, 0e0) AS jaccard
FROM member m LEFT JOIN best b ON m.doc_id = b.new_id"""


# Registry --------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "source_curation": q_source_curation,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_incremental": q_dedup_incremental,
        "dedup_chunk_exact": q_dedup_chunk_exact,
        "dedup_components": q_dedup_components,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "ann_multiprobe_topk": q_ann_multiprobe_topk,
        "ann_kmeans_topk": q_ann_kmeans_topk,
        "bm25_search": q_bm25_search,
        "embedding_near_dup_hyperplane": q_embedding_near_dup_hyperplane,
        "multimodal_image_features": q_multimodal_image_features,
        "media_near_dup": q_media_near_dup,
        "decontaminate": q_decontaminate,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "sample_per_group_budget": q_sample_per_group_budget,
        "quality_distill": q_quality_distill,
        "tfidf_keywords": q_tfidf_keywords,
        "repetition_stats": q_repetition_stats,
        "lm_score": q_lm_score,
        "pack_sequences": q_pack_sequences,
        "batch_novelty": q_batch_novelty,
        "ann_recall_signature": q_ann_recall_signature,
        "ann_signature_topk": q_ann_signature_topk,
        "semantic_dedup_partitioned": q_semantic_dedup_partitioned,
        "knn_label": q_knn_label,
        "prototype_prune": q_prototype_prune,
        "knn_label_accuracy": q_knn_label_accuracy,
        "semantic_admit": q_semantic_admit,
        "mixture_apply": q_mixture_apply,
        "semantic_dedup_two_level": q_semantic_dedup_two_level,
        "hash_split": q_hash_split,
        "semantic_dedup_probed": q_semantic_dedup_probed,
        "semantic_probed_recall": q_semantic_probed_recall,
        "semantic_admit_probed": q_semantic_admit_probed,
        "decontaminate_semantic": q_decontaminate_semantic,
    }


def oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB twins for :func:`queries`. ``sf_dir`` pins the corpus the
    GENERATED oracles (ann_kmeans_topk's literal codebook) are derived
    for; omitted, it defaults to the driver's correctness corpus — the
    only caller that can't pass one."""
    out = {
        "source_curation": _oracle_source_curation(),
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "dedup_minhash_lsh": _oracle_minhash_lsh(),
        "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM,
        "dedup_simhash_pairs": ORACLE_DEDUP_SIMHASH_PAIRS,
        "dedup_incremental": _oracle_dedup_incremental(),
        "dedup_chunk_exact": ORACLE_DEDUP_CHUNK_EXACT,
        "dedup_components": _oracle_dedup_components(),
        "dedup_lsh_recall": _oracle_dedup_lsh_recall(),
        "ann_multiprobe_topk": _oracle_ann_signature_quantized(),
        "bm25_search": _oracle_bm25(),
        "embedding_near_dup_hyperplane": _oracle_hyperplane(),
        "multimodal_image_features": _oracle_multimodal(),
        "media_near_dup": _oracle_media_near_dup(),
        "decontaminate": ORACLE_DECONTAMINATE,
        "decontaminate_fuzzy": _oracle_decontaminate_fuzzy(),
        "sample_per_group_budget": ORACLE_SAMPLE_PER_GROUP_BUDGET,
        "quality_distill": _oracle_quality_distill(),
        "tfidf_keywords": ORACLE_TFIDF,
        "repetition_stats": ORACLE_REPETITION_STATS,
        "lm_score": _oracle_lm_score(),
        "pack_sequences": _oracle_pack_sequences(),
        "batch_novelty": _oracle_batch_novelty(),
        "ann_recall_signature": _oracle_ann_recall_signature(),
        "ann_signature_topk": _oracle_ann_signature(),
        "mixture_apply": _oracle_mixture_apply(),
        "hash_split": ORACLE_HASH_SPLIT,
    }
    # Codebook-derived oracles: k-means is iterative, so these are
    # GENERATED per-corpus (literal trained codebook — ONE shared
    # training via the _CODEBOOKS memo) rather than static strings — the
    # training is a bit-deterministic pure function of the corpus,
    # restated sessionlessly when needed. Generation touches the corpus
    # parquet, so a cold fetch in an environment without the fallback
    # corpus must DEGRADE to omitting the entry (the driver then records
    # a rows-only check) instead of raising out of oracle_sql() and
    # breaking retrieval of every other oracle (ADVICE r6). Each entry
    # degrades INDEPENDENTLY (ADVICE r10): one missing artifact must not
    # silently drop unrelated oracles that generate fine.
    corpus = sf_dir or _KMEANS_ORACLE_DEFAULT_SF
    for name, gen in (
        ("ann_kmeans_topk", _oracle_ann_kmeans),
        ("semantic_admit", _oracle_semantic_admit),
        ("semantic_dedup_two_level", _oracle_semantic_dedup_two_level),
        ("semantic_dedup_partitioned", _oracle_semantic_dedup_partitioned),
        ("knn_label", _oracle_knn_label),
        ("prototype_prune", _oracle_prototype_prune),
        ("knn_label_accuracy", _oracle_knn_label_accuracy),
        ("semantic_dedup_probed", _oracle_semantic_dedup_probed),
        ("semantic_probed_recall", _oracle_semantic_probed_recall),
        ("semantic_admit_probed", _oracle_semantic_admit_probed),
        ("decontaminate_semantic", _oracle_decontaminate_semantic),
    ):
        _add_generated_oracle(out, name, gen, corpus)
    return out


def _add_generated_oracle(
    out: dict[str, str], name: str, gen: Callable[[str], str], corpus: str
) -> None:
    """Generate one per-corpus oracle, degrading to rows-only (entry
    omitted) on a cold fetch — independently per oracle, with the
    degradation surfaced instead of swallowed (ADVICE r10)."""
    import warnings

    try:
        out[name] = gen(corpus)
    except (OSError, ImportError) as exc:
        warnings.warn(
            f"generated oracle {name!r} degraded to a rows-only check "
            f"({type(exc).__name__}: {exc})",
            stacklevel=2,
        )
