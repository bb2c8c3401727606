"""Similarity search over an embedding column (``array<float>``).

Two paths:

- **Brute-force cosine top-k** — the exactness baseline: query set ×
  corpus cross join, dot products as row-local higher-order folds
  (``zip_with`` + ``aggregate``: JVM codegen, no UDF), per-query top-k via
  window rank. Quadratic — correct at any scale but only *affordable*
  when one side is small (which is the common "query batch vs corpus"
  shape: the corpus side streams, the query side broadcasts).
- **Cell-bucketed ANN (IVF-style)** — the scale path: a deterministic
  sign-LSH cell (:func:`signature_cell`) buckets every vector at scan
  time; queries only search their own cell. Candidate generation is an
  equi-join on the cell id — the n² never materializes, and the cell
  join co-partitions corpus and queries. Recall is approximate;
  ``n_flip`` one-bit-flip probes widen the search.

Determinism: dot products are sequential left-to-right double folds —
bit-identical between Spark's ``aggregate`` and DuckDB's
``list_sum(list_transform(...))`` (verified in tests), so even float
ranking hash-matches the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    """``transform(vec, x -> CAST(x AS DOUBLE))``. String input (a column
    name or any SQL array expression) takes the rendered-SQL fast path —
    ONE ``F.expr`` round-trip instead of ~10 of py4j lambda assembly;
    parses to the same Catalyst tree (value-equality test-locked,
    tests/test_extensions.py::test_rendered_sql_fast_paths)."""
    if isinstance(vec, str):
        return F.expr(_as_double_expr_sql(vec))
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product (DOUBLE) — order-stable, codegen-only.
    Two string inputs take the rendered-SQL fast path (one ``F.expr``
    instead of ~30 py4j round-trips; see :func:`as_double`)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_expr_sql(a, b))
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    """``SQRT(dot(a, a))``; string input takes the rendered-SQL fast
    path (see :func:`as_double`)."""
    if isinstance(a, str):
        return F.expr(_norm_expr_sql(a))
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self excluded). Returns (query_id, neighbor_id, cosine, rank).

    Ties break on neighbor_id ascending — with bit-identical cosines on
    both engines this makes even the ranking hash-stable.
    """
    # Norms are per-VECTOR, not per-pair: computing them once on each
    # side before the join cuts the per-pair work from three 64-wide
    # folds (dot + two norms) to one dot + a divide — bit-identical
    # values (same expression, same order, evaluated earlier).
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    ).withColumn("_cn", norm("_cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm("_qv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- int8 quantization ---------------------------------------------------

#: Symmetric int8 range: q ∈ [−127, 127] (−128 unused, symmetric).
QUANT_MAX = 127


def quantize_embedding(vec: Column) -> tuple[Column, Column]:
    """Per-vector symmetric int8 quantization: ``(scale, q)`` with
    ``scale = max|x| / 127`` and ``q_i = round(x_i / scale)``.

    The 100 TB storage/shuffle story for the embedding column: int8
    vectors are 4× smaller than float32 (8× smaller than the double
    arrays Spark computes on), and every downstream integer dot is EXACT
    — integer addition is associative, so quantized scores are immune to
    aggregation order, unlike float dots which the engine must fold
    sequentially to stay oracle-stable. An all-zero vector quantizes to
    scale 0 with all-zero codes.

    Rounding is round-half-away-from-zero on both engines (Spark
    ``ROUND`` = BigDecimal HALF_UP, DuckDB ``round``), so codes are
    bit-identical cross-engine.

    PERFORMANCE HAZARD: the returned ``q`` expression INLINES ``scale``
    inside its per-element lambda, and this engine evaluates
    higher-order-function lambdas interpreted — so ``scale`` (itself an
    ``array_max`` over a 64-element transform) is re-computed once PER
    ELEMENT, O(dim²) per row. Fine for unit tests of the arithmetic;
    production paths must use :func:`with_quantization`, which
    materializes the scale as a COLUMN first (evaluated once per row)
    and was measured 3× faster end-to-end on the bucketed ANN query.
    """
    v = as_double(vec)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(float(QUANT_MAX))
    q = F.transform(
        v,
        lambda x: F.when(scale == 0.0, F.lit(0))
        .otherwise(F.round(x / scale))
        .cast("int"),
    )
    return scale, q


def with_quantization(
    df: DataFrame, vec_col: str, s_name: str, q_name: str
) -> DataFrame:
    """Add int8 quantization columns ``s_name`` (scale) and ``q_name``
    (codes) — the two-step shape that keeps the scale a per-row COLUMN
    reference inside the code lambda instead of an inlined O(dim)
    subexpression per element (see :func:`quantize_embedding`). Same
    values bit-for-bit; the oracle's ``sc → qc`` CTE chain mirrors this
    structure exactly.

    Rendered as two ``F.expr`` strings (r12 plan-construction cost —
    same expressions, same when/round/cast chain, value-equality
    test-locked)."""
    v = _as_double_expr_sql(vec_col)
    df = df.withColumn(
        s_name,
        F.expr(
            f"array_max(transform({v}, x -> abs(x))) / "
            f"CAST({float(QUANT_MAX)!r} AS DOUBLE)"
        ),
    )
    return df.withColumn(
        q_name,
        F.expr(
            f"transform({v}, x -> CAST(CASE WHEN ({s_name} = CAST(0.0 AS DOUBLE)) "
            f"THEN 0 ELSE round(x / {s_name}, 0) END AS INT))"
        ),
    )


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact BIGINT dot of two int-code arrays (order-independent).
    Two string inputs take the rendered-SQL fast path (see
    :func:`as_double`)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_int_dot_expr_sql(a, b))
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


#: Random-hyperplane (sign) LSH family size: 12 bits in 4 bands of 3.
HYPERPLANE_BITS = 12
HYPERPLANE_BANDS = 4
_BITS_PER_BAND = HYPERPLANE_BITS // HYPERPLANE_BANDS


#: Hyperplane-family constants (r12). The pre-r12 formula
#: ``((i·31 + j·17) mod 7) − 3`` was periodic in i with period SEVEN —
#: only 7 distinct hyperplanes existed in the whole family, so every
#: signature wider than 7 bits was silently degenerate (measured: b=11
#: produced 126 distinct values of a nominal 2048 — the corpus-scale
#: partitioned quantizer capped at ~128 partitions no matter the
#: corpus, and banded-OR bands reused each other's hyperplanes). The
#: r12 family below is a quadratic congruential draw per hyperplane:
#: ``w_i[j] = ((c2(i) + j·c1(i) + j²·c0(i)) mod 8191) − 4095`` with
#: per-plane coefficients ``c1(i) = 1 + (17 + i·4099) mod 8190``
#: (never 0, injective in i: gcd(4099, 8190) = 1),
#: ``c2(i) = (i·31 + i²·5903) mod 8191`` and
#: ``c0(i) = (29 + i·211 + i²·101) mod 8191``. The j² term matters: a
#: purely affine-in-j progression left the planes spanning a
#: low-dimensional sawtooth space (measured 413 distinct 11-bit
#: signatures on the sf1 corpus); the quadratic family matches the
#: Gaussian baseline (2025 vs 2027 of 2048, and 4096/4096 distinct
#: planes among the first 4096), with every per-bit mean at 0.50.
#: All arithmetic is small-integer exact in both engines; 8191 is
#: prime (2^13 − 1).
_HYP_MOD = 8191
_HYP_OFF = 4095


def _hyp_coeffs(i: int) -> tuple[int, int, int]:
    """The ONE derivation of hyperplane i's congruential coefficients
    (c0 quadratic, c1 linear, c2 constant term over j), precomputed as
    Python ints so both engine and SQL renderings embed the same small
    literals."""
    c0 = (29 + i * 211 + i * i * 101) % _HYP_MOD
    c1 = 1 + (17 + i * 4099) % (_HYP_MOD - 1)
    c2 = (i * 31 + i * i * 5903) % _HYP_MOD
    return c0, c1, c2


def hyperplane_weights_py(i: int, dim: int) -> list[float]:
    """Python-side rendering of hyperplane ``i`` over ``dim`` components
    (1-based j, matching the engines) — for tests and diagnostics that
    need to craft vectors against the REAL weights instead of
    hard-coding values the formula could invalidate."""
    c0, c1, c2 = _hyp_coeffs(i)
    return [
        float((c2 + j * c1 + j * j * c0) % _HYP_MOD - _HYP_OFF)
        for j in range(1, dim + 1)
    ]


def _hyperplane_weights(i: int, size: Column) -> Column:
    """Hyperplane i as a formula, not literals (family note above) —
    a fixed quasi-random pattern both engines restate as an expression,
    so the oracle needs no dim-sized literal matrix per plane."""
    c0, c1, c2 = _hyp_coeffs(i)
    return F.transform(
        F.sequence(F.lit(1), size),
        lambda j: (
            (F.lit(c2) + j * c1 + j * j * c0) % _HYP_MOD - _HYP_OFF
        ).cast("double"),
    )


def _dot_expr_sql(a: str, b: str) -> str:
    """Spark-SQL rendering of :func:`dot` over two SQL array expressions
    — the identical sequential fold (same zero literal, same lambda
    shape), parsed by the engine into the same Catalyst tree. Exists so
    the literal-heavy builders below can be assembled as ONE ``F.expr``
    string instead of thousands of py4j round-trips (measured: ~1.5 s of
    driver-side socket chatter per semantic-family query build)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _as_double_expr_sql(v: str) -> str:
    """Spark-SQL rendering of :func:`as_double` over a SQL array
    expression."""
    return f"transform({v}, x -> CAST(x AS DOUBLE))"


def _norm_expr_sql(v: str) -> str:
    """Spark-SQL rendering of :func:`norm` over a SQL array expression —
    the same ``SQRT`` over the same sequential dot fold."""
    return f"SQRT({_dot_expr_sql(v, v)})"


def _int_dot_expr_sql(a: str, b: str) -> str:
    """Spark-SQL rendering of :func:`int_dot` over two SQL array
    expressions — same BIGINT casts, same fold shape."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x * y AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _hyperplane_weights_expr_sql(i: int, size_sql: str) -> str:
    """Spark-SQL rendering of :func:`_hyperplane_weights` — the same
    quadratic congruential formula, same arithmetic order and types."""
    c0, c1, c2 = _hyp_coeffs(i)
    return (
        f"transform(sequence(1, {size_sql}), j -> "
        f"CAST((((({c2} + (j * {c1})) + ((j * j) * {c0})) % {_HYP_MOD})"
        f" - {_HYP_OFF}) AS DOUBLE))"
    )


def signature_cell_expr_sql(vec_sql: str, n_bits: int, bit_offset: int = 0) -> str:
    """Spark-SQL rendering of :func:`signature_cell` over a raw SQL
    array expression (any element type — the as_double wrap is part of
    the rendering, as in the Column path)."""
    v = _as_double_expr_sql(vec_sql)
    size_sql = f"size({v})"
    terms = ["CAST(0 AS BIGINT)"]
    for i in range(n_bits):
        w = _hyperplane_weights_expr_sql(bit_offset + i, size_sql)
        terms.append(
            f"(CASE WHEN {_dot_expr_sql(v, w)} >= 0 "
            f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " + ".join(terms) + ")"


def hyperplane_bit_sql(i: int, vec_expr: str = "e") -> str:
    """The DuckDB twin of bit ``i`` of :func:`hyperplane_signature` /
    :func:`signature_cell` over a double-list column ``vec_expr`` — the
    ONE rendering of the quadratic congruential weight formula (family
    note above), shared by every signature oracle so the engine
    expression and its SQL twin cannot drift."""
    c0, c1, c2 = _hyp_coeffs(i)
    return (
        f"CASE WHEN list_sum(list_transform(range(1, len({vec_expr}) + 1), "
        f"j -> {vec_expr}[j] * ((({c2} + j * {c1} + j * j * {c0}) % {_HYP_MOD})"
        f" - {_HYP_OFF}))) >= 0 "
        "THEN 1 ELSE 0 END"
    )


def hyperplane_signature(vec: Column | str) -> Column:
    """Sign-LSH signature: bit i = [dot(v, h_i) >= 0]. For unit-ish
    vectors, P[bit_a = bit_b] = 1 − θ(a,b)/π — the classic cosine
    sketch. Row-local fold per bit; deterministic sign at exactly 0
    because the dot is the engines' bit-identical sequential fold.
    String input takes the rendered-SQL fast path (one ``F.expr``; see
    :func:`signature_cell`)."""
    if isinstance(vec, str):
        v = _as_double_expr_sql(vec)
        size_sql = f"size({v})"
        bits = ", ".join(
            f"(CASE WHEN {_dot_expr_sql(v, _hyperplane_weights_expr_sql(i, size_sql))}"
            " >= 0 THEN 1 ELSE 0 END)"
            for i in range(HYPERPLANE_BITS)
        )
        return F.expr(f"array({bits})")
    v = as_double(vec)
    size = F.size(v)
    bits = [
        F.when(dot(v, _hyperplane_weights(i, size)) >= 0, F.lit(1)).otherwise(F.lit(0))
        for i in range(HYPERPLANE_BITS)
    ]
    return F.array(*bits)


def signature_cell(
    vec: Column | str, n_bits: int = HYPERPLANE_BITS, bit_offset: int = 0
) -> Column:
    """Sign-LSH coarse cell id: the ``n_bits``-bit hyperplane signature
    packed into one BIGINT. ``bit_offset`` shifts into a DISJOINT slice
    of the hyperplane family (bit i folds hyperplane ``bit_offset+i``) —
    the independent per-band signatures of the banded-OR construction
    (``codebook.semantic_dedup_banded``); the packed value's bit
    positions are unchanged, only the hyperplanes drawn differ.

    This is the IVF cell whose COUNT scales with the corpus — the knob
    an argmax-|component| quantizer lacks: its cells are capped at
    ``dim`` (64 here), so when both the corpus and a corpus-proportional
    query set grow ×s, every cell gets ×s hotter and the bucket join
    does ×s² work — measured 8.2× wall for 3× rows on the sf3 validation
    corpus (SCALING.md). Sign-LSH cells number 2^n_bits: sizing
    ``n_bits ≈ log2(corpus / target_cell_size)`` holds per-cell
    occupancy constant as the corpus grows (the classic LSH answer;
    a trained k-means codebook is the production refinement and slots
    into the same equi-join shape). Each bit is one oracle-pinned
    sequential dot fold; like the md5 token hash, a deployment without
    cross-engine verification would swap in a native vectorized dot.
    """
    if isinstance(vec, str):
        # Raw-SQL fast path (r12): assemble the whole fold as ONE
        # F.expr — one py4j round-trip instead of ~40 per bit; parses
        # to the same Catalyst tree as the Column form below.
        return F.expr(signature_cell_expr_sql(vec, n_bits, bit_offset))
    v = as_double(vec)
    size = F.size(v)
    cell = F.lit(0).cast("bigint")
    for i in range(n_bits):
        cell = cell + F.when(
            dot(v, _hyperplane_weights(bit_offset + i, size)) >= 0,
            F.lit(1 << i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
    return cell


def _sample_cells_to_cap(
    c: DataFrame, cap: int, id_col: str = "neighbor_id", cell_col: str = "cell"
) -> DataFrame:
    """Deterministically subsample over-full cells to ``cap`` rows:
    md5-of-id order (oracle twin: the same ROW_NUMBER window). ONE
    definition shared by the float and int8 signature-ANN paths — their
    oracle-verified "identical candidate set" claim depends on the two
    paths never drifting on this window."""
    from pyspark.sql import Window as W

    wcell = W.partitionBy(cell_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        c.withColumn("_rn", F.row_number().over(wcell))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def signature_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = HYPERPLANE_BITS,
    n_flip: int = 0,
    max_bucket_size: int | None = None,
    cap_mode: str = "sample",
    log_dropped: bool = True,
) -> DataFrame:
    """Approximate top-k over sign-LSH cells — the corpus-scalable IVF
    search (see :func:`signature_cell` for why cell count must scale).

    Multi-probe is the standard LSH form: each query searches its exact
    cell plus the ``n_flip`` cells at Hamming distance 1 (bits 0..n_flip-1
    flipped) — the analogue of IVF's second-best-cell probes.
    Join cost is ``(n_flip+1) · Σ_cell |Q_cell|·|C_cell|`` with per-cell
    occupancy held constant by the ``n_bits`` sizing rule.

    ``max_bucket_size`` with ``cap_mode="sample"`` (default) SUBSAMPLES
    an over-full cell to the cap — deterministic pseudo-random order
    (md5 of the id, both engines restate it) — instead of dropping it.
    LSH on clustered data makes this the load-bearing knob, not the bit
    count: near-identical vectors agree on every hyperplane by
    construction, so a tight cluster occupies ONE cell no matter how
    many bits the signature has (measured: 126 occupied cells at both
    20k and 60k vectors on the clustered validation corpus). Dropping
    (``cap_mode="drop"``, the near-dup semantics) would strand every
    query inside a big cluster with no candidates; sampling keeps
    per-query work bounded at ``cap`` while hot-cluster queries still
    rank a uniform subset of their cluster — the graceful trade a real
    serving system makes (FAISS's balanced-codebook training is the
    production refinement).
    """
    from forgettable_spark.extensions.dedup import cap_hot_buckets

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("_cv"),
    ).withColumn("cell", signature_cell("_cv", n_bits))
    if max_bucket_size is not None and cap_mode == "sample":
        c = _sample_cells_to_cap(c, max_bucket_size)
    else:
        c = cap_hot_buckets(
            c, ["cell"], max_bucket_size, "signature_ann_topk", log_dropped
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("_qv"),
    ).withColumn("cell", signature_cell("_qv", n_bits))
    # _qn BEFORE the flip explode: added after it, the O(dim) norm fold
    # lands in the Project above the Generate and re-evaluates once per
    # flipped cell (the r9 GEN-RECOMPUTE audit class); below it, the
    # Generate replicates the computed value.
    q = q.withColumn("_qn", norm("_qv"))
    if n_flip > 0:
        q = q.withColumn(
            "cell",
            F.explode(
                F.array(
                    F.col("cell"),
                    *[
                        F.col("cell").bitwiseXOR(F.lit(1 << i).cast("bigint"))
                        for i in range(n_flip)
                    ],
                )
            ),
        )
    c = c.withColumn("_cn", norm("_cv"))
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn")),
        )
    )
    # a query probing several cells can meet the same neighbor once per
    # cell only at n_flip>0 with duplicate cells — impossible here (the
    # flip set is distinct by construction), so no distinct needed
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantized_signature_corpus_side(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = HYPERPLANE_BITS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The corpus side of :func:`quantized_signature_topk` — int8 codes
    + scale + norm + signature cell, sample-capped — split out so a
    multi-configuration caller can build (and cache) it once."""
    c = with_quantization(corpus, vec_col, "_cs", "_cq").select(
        F.col(id_col).alias("neighbor_id"),
        "_cs",
        "_cq",
        norm(_as_double_expr_sql(vec_col)).alias("_cn"),
        signature_cell(vec_col, n_bits).alias("cell"),
    )
    if max_bucket_size is not None:
        c = _sample_cells_to_cap(c, max_bucket_size)
    return c


def quantized_signature_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = HYPERPLANE_BITS,
    n_flip: int = 0,
    max_bucket_size: int | None = None,
    corpus_side: DataFrame | None = None,
) -> DataFrame:
    """The composed 100 TB ANN configuration: sign-LSH cells bound WHO
    is scored (cell count a corpus knob + sample-to-cap occupancy bound
    — :func:`signature_ann_topk`) and int8 quantization bounds the BYTES
    that ride the join (codes + scale + norm, ~4× less than floats, and
    integer dots are order-independent codegen —
    :func:`with_quantization`, :func:`int_dot`). Returns (query_id,
    neighbor_id, cosine_q, rank); candidate set identical to
    :func:`signature_ann_topk` at the same (n_bits, n_flip, cap) since
    cells are assigned from the original floats.

    ``corpus_side``: a caller evaluating several ``n_flip`` settings
    against the SAME corpus (the recall gauge) passes the
    quantized+capped corpus frame built by
    :func:`quantized_signature_corpus_side` once — typically
    scope-cached — instead of re-quantizing and re-capping the whole
    corpus per setting. The per-row expressions are identical, so
    results are bit-equal to the self-built path (test-asserted)."""
    if corpus_side is not None:
        c = corpus_side
    else:
        c = quantized_signature_corpus_side(
            corpus, id_col, vec_col, n_bits, max_bucket_size
        )
    q = with_quantization(queries, vec_col, "_qs", "_qq").select(
        F.col(id_col).alias("query_id"),
        "_qs",
        "_qq",
        norm(_as_double_expr_sql(vec_col)).alias("_qn"),
        signature_cell(vec_col, n_bits).alias("cell"),
    )
    if n_flip > 0:
        q = q.withColumn(
            "cell",
            F.explode(
                F.array(
                    F.col("cell"),
                    *[
                        F.col("cell").bitwiseXOR(F.lit(1 << i).cast("bigint"))
                        for i in range(n_flip)
                    ],
                )
            ),
        )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_q",
            (
                F.col("_qs")
                * F.col("_cs")
                * int_dot("_qq", "_cq").cast("double")
            )
            / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_q", "rank")
    )


def quantized_signature_candidates_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = HYPERPLANE_BITS,
    flip_settings: tuple[int, ...] = (0,),
    max_bucket_size: int | None = None,
    corpus_side: DataFrame | None = None,
) -> DataFrame:
    """Scored candidates for a FLIP SWEEP from ONE corpus join (r12):
    probe sets are NESTED in ``n_flip`` (home cell plus the first f flip
    cells), so a gauge evaluating several settings re-paid the same
    query-corpus equi-join per setting. This emits every candidate at
    the WIDEST setting tagged ``_nf`` = the smallest setting that
    reaches it (0 = home cell, i+1 = bit-i flip); setting f's candidate
    set is exactly the rows with ``_nf <= f`` - a corpus point matches
    exactly one probed cell, so no dedup is needed - and a top-k window
    over that filter is row-identical to
    :func:`quantized_signature_topk` at the same (n_bits, f, cap)
    (test-locked). Columns: (query_id, neighbor_id, cosine_q, _nf)."""
    fmax = max(flip_settings)
    if corpus_side is not None:
        c = corpus_side
    else:
        c = quantized_signature_corpus_side(
            corpus, id_col, vec_col, n_bits, max_bucket_size
        )
    q = with_quantization(queries, vec_col, "_qs", "_qq").select(
        F.col(id_col).alias("query_id"),
        "_qs",
        "_qq",
        norm(_as_double_expr_sql(vec_col)).alias("_qn"),
        signature_cell(vec_col, n_bits).alias("_home"),
    )
    probes = [
        F.struct(F.col("_home").alias("cell"), F.lit(0).alias("_nf"))
    ] + [
        F.struct(
            F.col("_home").bitwiseXOR(F.lit(1 << i).cast("bigint")).alias("cell"),
            F.lit(i + 1).alias("_nf"),
        )
        for i in range(fmax)
    ]
    q = q.withColumn("_p", F.explode(F.array(*probes))).select(
        "query_id",
        "_qs",
        "_qq",
        "_qn",
        F.col("_p.cell").alias("cell"),
        F.col("_p._nf").alias("_nf"),
    )
    return (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_q",
            (
                F.col("_qs")
                * F.col("_cs")
                * int_dot("_qq", "_cq").cast("double")
            )
            / (F.col("_qn") * F.col("_cn")),
        )
        .select("query_id", "neighbor_id", "cosine_q", "_nf")
    )


def hyperplane_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = True,
    max_bucket_size: int | None = None,
    log_dropped: bool = True,
) -> DataFrame:
    """Cosine near-dup pairs via banded sign-LSH: candidates share at
    least one 3-bit band of the 12-bit signature (P[candidate] =
    1−(1−p³)⁴ at per-bit agreement p), then exact cosine verification —
    precision is unconditional, the sketch only bounds recall.

    The scale shape mirrors the SimHash text path, with the lessons that
    keep it affordable when many vectors share a band value (few-bit
    bands over near-orthogonal data ARE hot — p≈0.5 per bit means a
    band bucket holds ~n/2^bits of the corpus):

    - vectors are **L2-normalized once per row**, so verification is a
      single dot fold per candidate instead of dot+2 norms (3× less
      vector math on the dominant stage);
    - the candidate join and its distinct carry **ids only** — vectors
      join back after deduplication, never riding the pair shuffle;
    - ``max_bucket_size`` drops oversized (band, value) buckets before
      the self-join (:func:`forgettable_spark.extensions.dedup.
      cap_hot_buckets`, logged) — the same skew guard as every other
      candidate-generation join in the engine;
    - the signature table feeds three plan branches (band explode and
      both vector join-backs), so it is cached.

    Sign-LSH buckets by direction against fixed hyperplanes. Its sweet
    spot is high-cosine dedup (per-bit agreement → 1 makes bands
    selective AND recall total); at moderate cosine its band buckets
    fatten — hence the cap.
    """
    from forgettable_spark.extensions.dedup import cap_hot_buckets

    sig = (
        emb.select(
            F.col(id_col).alias("_id"),
            as_double(vec_col).alias("_v"),
            hyperplane_signature(vec_col).alias("_sig"),
        )
        .withColumn("_n", norm("_v"))
        .withColumn("_vn", F.expr("transform(_v, x -> x / _n)"))
        .select("_id", "_vn", "_sig")
    )
    if persist:
        from forgettable_spark.functions.cache import scoped_cache

        sig = scoped_cache(sig)
    # ONE rendered array expression (r12 plan-construction cost): the
    # Python sum-of-element_at Columns built ~100 py4j round-trips; the
    # SQL string restates the identical integer adds (exact in any
    # association, same left-assoc order anyway).
    band_vals = F.expr(
        "array("
        + ", ".join(
            "("
            + " + ".join(
                f"(element_at(_sig, {b * _BITS_PER_BAND + k + 1}) * {1 << k})"
                for k in range(_BITS_PER_BAND)
            )
            + ")"
            for b in range(HYPERPLANE_BANDS)
        )
        + ")"
    )
    banded = sig.select("_id", F.posexplode(band_vals).alias("band", "bval"))
    banded = cap_hot_buckets(
        banded, ["band", "bval"], max_bucket_size, "hyperplane_pairs", log_dropped
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    va = sig.select(F.col("_id").alias("doc_a"), F.col("_vn").alias("_va"))
    vb = sig.select(F.col("_id").alias("doc_b"), F.col("_vn").alias("_vb"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("cosine", dot("_va", "_vb"))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )
