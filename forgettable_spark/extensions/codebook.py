"""Trained balanced codebook (k-means IVF) for ANN cell assignment.

The missing piece SCALING.md names twice: fixed quantizers — argmax
components and sign-LSH signatures
(``similarity.signature_cell``) — partition the corpus by a DATA-BLIND
rule, so real (clustered) embedding sets concentrate into few hot cells
and the sample-to-cap knob has to throw recall away to bound work. A
k-means codebook is trained ON the data: Lloyd iterations move centroids
toward dense regions, so cells split exactly where vectors concentrate
and per-cell occupancy stays near corpus/k by construction — the
FAISS-style balanced-codebook refinement, in the same capped equi-join
shape as every other candidate generator in the engine.

Scale shape (100 TB posture):

- **Training is O(sample), not O(corpus)**: a deterministic bounded
  sample (md5-of-id order — the engine's standard unbiased pseudo-random
  order, restatable in any engine) is collected once and Lloyd runs
  driver-side in numpy. A codebook is a MODEL — kilobytes of floats —
  and training it on a fixed-size sample is the standard IVF recipe
  (FAISS trains on ~30-50 vectors per centroid); the corpus itself never
  leaves the executors.
- **Assignment is row-local codegen-shape expressions**: k dot folds
  against literal centroid arrays per row, argmax via a sorted
  (−score, index) struct array — no UDF, no
  shuffle, evaluated in the scan stage.
- **Search is the capped equi-join**: identical to
  ``signature_ann_topk`` — multi-probe = the query's ``n_probes``
  nearest centroids, over-full cells deterministically subsampled to the
  cap (``_sample_cells_to_cap``). With trained centroids the cap is a
  safety net, not the load-bearing knob.

Determinism (the oracle story): the sample order, the init (first k
sample vectors), the iteration count, and numpy float64 arithmetic are
all fixed, so training is bit-reproducible for a given corpus. The
trained centroids are then LITERALS in both engines' assignment
expressions — :func:`codebook_oracle_sql` renders the exact DuckDB twin
of :func:`kmeans_ann_topk` for any codebook, and the parity test
(tests/test_kmeans_ann.py) hash-matches them end-to-end. The oracle is
generated, not static, because k-means is an iterative algorithm (the
documented non-SQL-expressible class): the driver records a rows-only
check for the registered query, while the local gate keeps full
rows+schema+values rigor.

Scoring: per-vector score against centroid c is ``dot(v, c) − ‖c‖²/2``
(argmax of which equals argmin of L2 distance); ``‖c‖²/2`` is
precomputed driver-side so the row expression is one sequential dot fold
plus one subtraction — the engines' bit-identical float recipe. Ties
break toward the lowest centroid index in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forgettable_spark.extensions.similarity import (
    _cell_cosine_topk,
    _dot_expr_sql,
    _sample_cells_to_cap,
    as_double,
    dot,
    norm,
)

#: Default bounded training-sample size: ~32-64 vectors per centroid at
#: the default k, the standard IVF training density. Driver memory is
#: O(CODEBOOK_SAMPLE · dim) doubles regardless of corpus size.
CODEBOOK_SAMPLE = 2048

#: Default Lloyd iteration count. Fixed (no convergence test) so the
#: training is a pure function of the sample: same corpus → same
#: codebook, bit-for-bit.
CODEBOOK_ITERS = 8


def train_codebook(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = CODEBOOK_SAMPLE,
    iters: int = CODEBOOK_ITERS,
) -> list[list[float]]:
    """Deterministic Lloyd k-means over a bounded sample; returns k
    centroids (lists of float64) ready to embed as literals.

    Sample = the first ``sample_size`` corpus vectors in
    (md5(id), id) order — unbiased w.r.t. ingestion order and
    restatable in SQL, the same device as ``_sample_cells_to_cap``.
    Init = the first k sample vectors (distinct rows of a hash-ordered
    sample are as good as a random init and reproducible). Each
    iteration assigns the sample to its nearest centroid (squared L2,
    ties to the lowest index — numpy argmin) and recenters; a centroid
    that loses every member keeps its position (standard empty-cluster
    rule, keeps k stable). ``iters`` is fixed, not converged, so the
    result is a pure function of the sample.
    """
    rows = (
        corpus.select(F.col(id_col).alias("_id"), as_double(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(sample_size)
        .collect()
    )
    return _lloyd([r["_v"] for r in rows], k, iters)


def _lloyd(sample_vecs: list, k: int, iters: int) -> list[list[float]]:
    """The shared Lloyd kernel: a pure float64-numpy function of the
    ordered sample, so the Spark-collected and the pyarrow-read training
    paths produce bit-identical centroids (asserted by
    tests/test_kmeans_ann.py::test_local_training_matches_spark)."""
    import numpy as np

    if len(sample_vecs) < k:
        raise ValueError(
            f"train_codebook: sample has {len(sample_vecs)} vectors < k={k}"
        )
    sample = np.array(sample_vecs, dtype=np.float64)
    centroids = sample[:k].copy()
    for _ in range(iters):
        # (n, k) squared distances; argmin ties resolve to lowest index.
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return [[float(x) for x in c] for c in centroids]


def train_codebook_local(
    parquet_path: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = CODEBOOK_SAMPLE,
    iters: int = CODEBOOK_ITERS,
) -> list[list[float]]:
    """:func:`train_codebook` without a SparkSession: reads the corpus
    parquet with pyarrow and replays the identical sample selection —
    (md5(CAST(id AS STRING)), id) order, first ``sample_size`` rows —
    into the shared Lloyd kernel. Exists so ``oracle_sql()`` (which gets
    no session) can emit the literal-codebook oracle for the driver's
    correctness corpus; bit-identity with the Spark path is test-locked.

    Determinism notes mirrored from the Spark path: md5 of the DECIMAL
    string repr of the id (hashlib hexdigest == Spark md5 hex, both
    lowercase, compared bytewise); float32 parquet values widen to
    float64 exactly on both paths."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )[:sample_size]
    return _lloyd([vecs[i] for i in order], k, iters)


def _half_norms(centroids: list[list[float]]) -> list[float]:
    """``‖c‖²/2`` per centroid, in the same float64 arithmetic both
    engines will treat as a literal (numpy sequential sum — computed
    ONCE here, never re-derived engine-side)."""
    import numpy as np

    return [float(0.5 * np.dot(np.array(c, dtype=np.float64), np.array(c, dtype=np.float64))) for c in centroids]


#: Rendered-SQL memo for the literal codebook (keyed on the codebook
#: values): the string is ~20 KB for k=8·dim=64 and costs ~1 ms to
#: build — and every semantic-family query builds it several times per
#: call.
_LIT_SQL_MEMO: dict[tuple, str] = {}


def _py_double_sql(x: float) -> str:
    """A Spark-SQL DOUBLE literal that round-trips ``x`` exactly:
    ``repr`` emits the shortest uniquely-identifying decimal and
    ``Double.parseDouble`` returns the nearest double = ``x`` (the same
    contract as the DuckDB ``_sql_double`` rendering)."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _codebook_lit_sql(centroids: list[list[float]]) -> str:
    """The codebook as ONE nested literal: array of (c: array<double>,
    h: ‖c‖²/2, i: index) structs. Keeping the floats as a single
    constant-folded array keeps the scoring expression a LOOP over data
    instead of k unrolled 64-literal folds — the unrolled form compiled
    ~2 s of per-plan generated code at k=8, dim=64 (measured r6), which
    dwarfed the actual scan."""
    key = tuple(tuple(c) for c in centroids)
    if key not in _LIT_SQL_MEMO:
        halves = _half_norms(centroids)
        entries = ", ".join(
            "named_struct('c', array({vals}), 'h', {h}, 'i', CAST({i} AS BIGINT))".format(
                vals=", ".join(_py_double_sql(x) for x in c),
                h=_py_double_sql(h),
                i=i,
            )
            for i, (c, h) in enumerate(zip(centroids, halves))
        )
        _LIT_SQL_MEMO[key] = f"array({entries})"
    return _LIT_SQL_MEMO[key]


def _scored_struct_sql(vec_sql: str, centroids: list[list[float]], fields: str) -> str:
    """``transform(<codebook>, e -> named_struct(<fields>))`` with the
    score ``s = dot(v, c) − ‖c‖²/2`` available as ``{s}`` in the fields
    template — the shared body of the two assigners below. ``vec_sql``
    must already be a double array."""
    s = f"({_dot_expr_sql(vec_sql, 'e.c')} - e.h)"
    return (
        f"transform({_codebook_lit_sql(centroids)}, "
        f"e -> named_struct({fields.format(s=s)}))"
    )


def centroid_cell_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """:func:`centroid_cell` as SQL text over a double-array SQL
    expression."""
    scored = _scored_struct_sql(vec_sql, centroids, "'s', {s}, 'ni', -e.i")
    return f"CAST((-(array_max({scored}).ni)) AS BIGINT)"


def top_p_centroid_cells_sql(
    vec_sql: str, centroids: list[list[float]], n_probes: int
) -> str:
    """:func:`top_p_centroid_cells` as SQL text."""
    scored = _scored_struct_sql(vec_sql, centroids, "'negs', -({s}), 'idx', e.i")
    return (
        f"slice(transform(array_sort({scored}), s -> s.idx), 1, {n_probes})"
    )


def centroid_cell(vec: str, centroids: list[list[float]]) -> Column:
    """0-based index of the nearest centroid (ties → lowest index) for a
    SQL expression over an already-double array. ``array_max`` over
    (score, −index) structs compares score first, then −index — so
    equal scores pick the smallest index, mirroring the oracle's
    ``ORDER BY s DESC, ci ASC`` window."""
    return F.expr(centroid_cell_sql(vec, centroids))


def top_p_centroid_cells(
    vec: str, centroids: list[list[float]], n_probes: int
) -> Column:
    """The query's ``n_probes`` nearest centroid indices, nearest first —
    multi-probe IVF over the trained codebook. Sorted (−score, index)
    structs: ties break on the lower index."""
    return F.expr(top_p_centroid_cells_sql(vec, centroids, n_probes))


def kmeans_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """IVF top-k over a TRAINED codebook: balanced cells bound who gets
    scored; multi-probe widens recall; over-full cells (rare once
    trained) deterministically subsample to the cap. Output shape
    matches every other ANN query: (query_id, neighbor_id, cosine,
    rank), ties on neighbor_id."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("_cv"),
    ).withColumn("cell", centroid_cell("_cv", centroids))
    if max_bucket_size is not None:
        c = _sample_cells_to_cap(c, max_bucket_size)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("_qv"),
    )
    # per-vector norms before the join (similarity.brute_force_topk's
    # rationale): one dot + divide per pair instead of three folds —
    # and _qn BEFORE the probe explode: added after it, the O(dim) norm
    # fold lands in the Project above the Generate and re-evaluates once
    # per probed cell (the r9 GEN-RECOMPUTE audit class).
    q = q.withColumn("_qn", norm("_qv"))
    if n_probes <= 1:
        q = q.withColumn("cell", centroid_cell("_qv", centroids))
    else:
        q = q.withColumn(
            "cell", F.explode(top_p_centroid_cells("_qv", centroids, n_probes))
        )
    return _cell_cosine_topk(q, c, k).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def _sql_double(x: float) -> str:
    """A DuckDB DOUBLE literal: scientific notation parses as DOUBLE
    (a plain decimal literal would parse as DECIMAL), and 17 significant
    digits round-trip any float64 exactly."""
    return f"{x:.17e}"


#: The float64-vector view every trained-cell oracle opens with.
_V_CTE_SQL = """v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)"""


def _cap_cte_sql(
    max_bucket_size: int | None,
    src: str = "assigned",
    name: str = "capped",
    cols: tuple[str, ...] = ("vec_id", "e", "cell"),
) -> tuple[str, str]:
    """The optional cell-cap CTE (the md5-of-id ROW_NUMBER window of
    ``_sample_cells_to_cap``) appended after ``src`` with a leading
    comma; returns (CTE text or \"\", name of the corpus CTE downstream
    SQL reads). ONE definition for every oracle so the cap ordering can
    never drift between the flat, two-level, and admission twins.
    ``cols`` is the projection carried through the cap — callers whose
    ``src`` carries extra columns (knn_label's ``label``) extend it here
    instead of text-patching the generated SQL (VERDICT r10 #8); the
    cap window itself orders by (md5(id), id) only, so extra columns
    are inert."""
    if max_bucket_size is None:
        return "", src
    return (
        f""",
{name} AS (
  SELECT {", ".join(cols)} FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY cell ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
    FROM {src}
  ) WHERE srn <= {max_bucket_size}
)""",
        name,
    )


def _assignment_cte_sql(
    centroids: list[list[float]], max_bucket_size: int | None
) -> tuple[str, str]:
    """The shared literal-codebook assignment prefix of every trained-cell
    oracle: CTEs ``v`` (float64 vectors), ``cb`` (the codebook as VALUES),
    ``scores`` / ``ranked`` (nearest-centroid ranking, ties to the lowest
    index) and ``assigned`` (+ ``capped`` when a cell cap is set, the same
    md5-of-id ROW_NUMBER window as ``_sample_cells_to_cap``). Returns the
    CTE text (no leading WITH) and the name of the corpus CTE downstream
    SQL should read (``assigned`` or ``capped``)."""
    cb_rows = ", ".join(
        "({i}, [{vals}], {h})".format(
            i=i,
            vals=", ".join(_sql_double(x) for x in c),
            h=_sql_double(h),
        )
        for i, (c, h) in enumerate(zip(centroids, _half_norms(centroids)))
    )
    dot_vc = "list_sum(list_transform(range(1, len(e) + 1), j -> e[j] * c[j]))"
    cap_cte, corpus_src = _cap_cte_sql(max_bucket_size)
    prefix = f"""{_V_CTE_SQL},
cb AS (SELECT * FROM (VALUES {cb_rows}) t(ci, c, h)),
scores AS (
  SELECT v.vec_id, v.e, cb.ci, ({dot_vc}) - cb.h AS s
  FROM v CROSS JOIN cb
),
ranked AS (
  SELECT vec_id, e, ci, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY s DESC, ci ASC) AS crn
  FROM scores
),
assigned AS (
  SELECT vec_id, e, CAST(ci AS BIGINT) AS cell FROM ranked WHERE crn = 1
){cap_cte}"""
    return prefix, corpus_src


def codebook_oracle_sql(
    centroids: list[list[float]],
    k: int = 10,
    n_probes: int = 1,
    max_bucket_size: int | None = None,
    query_mod: int = 25,
) -> str:
    """The DuckDB twin of :func:`kmeans_ann_topk` over the pre-registered
    ``embeddings`` view, with the trained codebook rendered as literals.
    Generated (k-means is iterative — the documented dynamic-oracle
    class); tests/test_kmeans_ann.py holds it to the same
    rows+schema+values standard as the static oracles."""
    cos = (
        "({d}) / ((sqrt({na})) * (sqrt({nb})))".format(
            d="list_sum(list_transform(range(1, len(qv) + 1), j -> qv[j] * e[j]))",
            na="list_sum(list_transform(range(1, len(qv) + 1), j -> qv[j] * qv[j]))",
            nb="list_sum(list_transform(range(1, len(e) + 1), j -> e[j] * e[j]))",
        )
    )
    prefix, corpus_src = _assignment_cte_sql(centroids, max_bucket_size)
    return f"""WITH {prefix},
q AS (
  SELECT vec_id AS query_id, e AS qv, CAST(ci AS BIGINT) AS cell
  FROM ranked WHERE vec_id % {query_mod} = 0 AND crn <= {n_probes}
),
scored AS (
  SELECT query_id, s.vec_id AS neighbor_id, {cos} AS cosine
  FROM q JOIN {corpus_src} s USING (cell) WHERE query_id != s.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}"""




def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
) -> DataFrame:
    """Cluster-scoped embedding dedup (the SemDeDup recipe, Abbas et al.
    2023, arXiv:2303.09540): assign every vector to its trained-codebook
    cell, then compare pairs ONLY within a cell — semantic duplicates sit
    close in embedding space, so they land in the same k-means cell, and
    the cross-cell quadratic term disappears by construction.

    Keep rule: a document is dropped iff a LOWER-id member of its cell
    scores ``cosine >= threshold`` against it (keep-min-id, the engine's
    canonical deterministic rule — see ``connected_components``). Output
    is one row per DROPPED document with its minimal witness: (vec_id,
    cell, dup_of, cosine) — O(duplicates), never O(corpus).

    Scale posture (100 TB): assignment is row-local literal-codebook
    folds in the scan stage (``centroid_cell``); the only shuffle is the
    cell equi-join, and balanced trained cells hold occupancy near
    corpus/k, so per-cell work is O((corpus/k)²) with k a corpus knob —
    plus ``max_cell_size`` as the same deterministic sample-to-cap
    safety net as every other candidate generator (capped-out members
    are neither dropped nor witnesses; the oracle mirrors the cap
    window). No all-pairs term survives a scale-up.

    Reference scope: brief-commissioned LLM-pipeline operator (the
    reference engine has no embedding surface).
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    ).withColumn("cell", centroid_cell("_v", centroids))
    return _celled_pair_dedup(c, threshold, max_cell_size)


def _celled_pair_dedup(
    c: DataFrame,
    threshold: float,
    max_cell_size: int | None,
    tie_break_cell: bool = False,
) -> DataFrame:
    """The shared within-cell pair scan of every semantic-dedup variant:
    ``c`` is (vec_id, _v float64 vector, cell). Cap, self-join on cell,
    cosine gate, min-witness window — see :func:`semantic_dedup` for the
    semantics contract. ``tie_break_cell`` extends the witness window's
    order to (dup_of, cell) for sources where one (vec_id, dup_of) pair
    can meet in MULTIPLE cells (the banded-OR construction — single-cell
    assignments have unique pairs, so their output is unchanged either
    way and they keep the narrower order)."""
    if max_cell_size is not None:
        c = _sample_cells_to_cap(c, max_cell_size, id_col="vec_id")
    # Norm once per row BEFORE the self-join (similarity.brute_force_topk's
    # rationale): one dot + one divide per candidate pair.
    c = c.withColumn("_n", norm("_v"))
    a = c.select(
        F.col("vec_id").alias("dup_of"),
        "cell",
        F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
    )
    b = c.select("vec_id", "cell", F.col("_v").alias("_bv"), F.col("_n").alias("_bn"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("dup_of") < F.col("vec_id"))
        .withColumn(
            "cosine",
            dot("_av", "_bv") / (F.col("_an") * F.col("_bn")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )
    # Minimal witness per dropped doc: the lowest qualifying dup_of (ids
    # are distinct within a cell, so the window pick is deterministic;
    # multi-cell sources add the cell tie-break for the same property).
    order = [F.asc("dup_of")] + ([F.asc("cell")] if tie_break_cell else [])
    w = Window.partitionBy("vec_id").orderBy(*order)
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cell", "dup_of", "cosine")
    )


def semantic_dedup_oracle_sql(
    centroids: list[list[float]],
    threshold: float,
    max_cell_size: int | None = None,
) -> str:
    """The DuckDB twin of :func:`semantic_dedup` over the pre-registered
    ``embeddings`` view — generated like :func:`codebook_oracle_sql`
    (same literal codebook, same assignment CTEs via
    ``_assignment_cte_sql``), then the within-cell pair scan and the
    min-witness window restated in SQL. Norms precompute per row exactly
    like the engine's ``norm`` column, so the cosine bits match."""
    prefix, corpus_src = _assignment_cte_sql(centroids, max_cell_size)
    return _pair_scan_sql(prefix, corpus_src, threshold)


def _pair_scan_sql(
    prefix: str, corpus_src: str, threshold: float, tie_break_cell: bool = False
) -> str:
    """The shared SQL tail of every semantic-dedup oracle (the twin of
    ``_celled_pair_dedup``): per-row norms, within-cell pair scan with
    the cosine gate, min-witness window. ONE definition so the flat and
    two-level oracles cannot drift. ``tie_break_cell`` mirrors the
    engine's multi-cell window order (banded-OR sources)."""
    dot_ab = "list_sum(list_transform(range(1, len(a.e) + 1), j -> a.e[j] * b.e[j]))"
    order = "dup_of ASC, cell ASC" if tie_break_cell else "dup_of ASC"
    return f"""WITH {prefix},
sd AS (
  SELECT vec_id, e, cell, sqrt(list_sum(list_transform(e, y -> y * y))) AS n
  FROM {corpus_src}
),
pairs AS (
  SELECT a.vec_id AS dup_of, b.vec_id AS vec_id, b.cell AS cell,
         ({dot_ab}) / (a.n * b.n) AS cosine
  FROM sd a JOIN sd b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ({dot_ab}) / (a.n * b.n) >= {_sql_double(threshold)}
)
SELECT vec_id, cell, dup_of, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY {order}) AS rn
  FROM pairs
) WHERE rn = 1"""


# Two-level trained quantizer ------------------------------------------------
#
# The r9-late scale finding (SCALING.md): semantic dedup wants cell
# occupancy near a constant (~cap), so cell COUNT must grow linearly with
# the corpus — but a flat codebook's per-row assignment cost is O(k·dim)
# interpreted higher-order folds, measured LINEAR in k at sf1
# (5.4/8.3/15.4/31.1 s for k=8/32/64/128; k=320 ran 86 s). The standard
# IVF answer: quantize in two levels. A coarse k1 codebook routes each
# row to ONE of k1 fine codebooks (k2 centroids each, trained on the
# coarse cell's own sample members), giving k1·k2 cells for k1+k2
# per-row fold cost — the CASE branch is picked once per row, so only
# the selected fine codebook is ever evaluated.


def train_two_level_codebook(
    corpus: DataFrame,
    k1: int,
    k2: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = CODEBOOK_SAMPLE,
    iters: int = CODEBOOK_ITERS,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Deterministic two-level Lloyd over the SAME bounded sample device
    as :func:`train_codebook`: coarse k1 centroids first, then one fine
    codebook per coarse cell trained on that cell's sample members
    (k2 capped at the member count; an empty cell keeps its coarse
    centroid as a single fine cell, the empty-cluster rule one level
    up). Returns (coarse, fines); both are pure functions of the
    corpus, bit-reproducible — the oracle regenerates them."""
    rows = (
        corpus.select(F.col(id_col).alias("_id"), as_double(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(sample_size)
        .collect()
    )
    return _two_level_lloyd([r["_v"] for r in rows], k1, k2, iters)


def train_two_level_codebook_local(
    parquet_path: str,
    k1: int,
    k2: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = CODEBOOK_SAMPLE,
    iters: int = CODEBOOK_ITERS,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Sessionless twin of :func:`train_two_level_codebook` (the
    :func:`train_codebook_local` device: pyarrow read, identical sample
    order, shared kernels) for oracle generation."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )[:sample_size]
    return _two_level_lloyd([vecs[i] for i in order], k1, k2, iters)


def _two_level_lloyd(
    sample_vecs: list, k1: int, k2: int, iters: int
) -> tuple[list[list[float]], list[list[list[float]]]]:
    import numpy as np

    coarse = _lloyd(sample_vecs, k1, iters)
    s = np.array(sample_vecs, dtype=np.float64)
    c = np.array(coarse, dtype=np.float64)
    # Same squared-L2 argmin (ties → lowest index) as _lloyd's inner loop.
    assign = ((s[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    fines: list[list[list[float]]] = []
    for i in range(k1):
        members = [sample_vecs[j] for j in np.nonzero(assign == i)[0]]
        if not members:
            fines.append([list(coarse[i])])
        else:
            fines.append(_lloyd(members, min(k2, len(members)), iters))
    return coarse, fines


def _fine_offsets(fines: list[list[list[float]]]) -> list[int]:
    """Global cell-id base per coarse cell (fine codebooks may be ragged
    when a coarse cell's sample was smaller than k2)."""
    offs, acc = [], 0
    for f in fines:
        offs.append(acc)
        acc += len(f)
    return offs


def with_two_level_cell(
    df: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    vec_col: str = "_v",
    out_col: str = "cell",
) -> DataFrame:
    """Adds the global two-level cell id: ONE coarse argmax fold
    (computed once, as its own column, so the CASE conditions don't
    re-evaluate it), then only the SELECTED coarse cell's fine codebook
    is folded — CaseWhen branches are lazy, so the per-row cost is
    k1 + k2 folds for k1·k2 cells.

    ``_coarse`` is a RESERVED intermediate column name: an input already
    carrying it would be silently overwritten by the withColumn and the
    select would return clobbered values under ``out_col`` — raise
    loudly instead (ADVICE r12, same contract as
    :func:`with_partitioned_cell`)."""
    if "_coarse" in df.columns:
        raise ValueError(
            "with_two_level_cell: input carries reserved intermediate "
            "column '_coarse' — rename it before calling"
        )
    cols = df.columns
    return df.withColumn("_coarse", centroid_cell(vec_col, coarse)).select(
        *cols, F.expr(two_level_case_sql(vec_col, fines)).alias(out_col)
    )


def two_level_case_sql(
    vec_sql: str, fines: list[list[list[float]]], coarse_col: str = "_coarse"
) -> str:
    """ONE rendered CASE expression for the two-level fine assignment:
    WHEN conditions on the materialized ``coarse_col``, lazy fine folds,
    no ELSE → NULL, final BIGINT cast. Shared by
    :func:`with_two_level_cell` and the single-select assignment
    builders so the rendering cannot drift."""
    offs = _fine_offsets(fines)
    branches = " ".join(
        "WHEN ({c} = {i}) THEN (CAST({off} AS BIGINT) + {cc})".format(
            c=coarse_col, i=i, off=offs[i], cc=centroid_cell_sql(vec_sql, fine)
        )
        for i, fine in enumerate(fines)
    )
    return f"CAST(CASE {branches} END AS BIGINT)"


def semantic_dedup_two_level(
    corpus: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    materialize_assignment: bool = True,
) -> DataFrame:
    """:func:`semantic_dedup` over the two-level trained quantizer —
    identical keep rule, output shape, and cap semantics; only the cell
    assignment differs (k1·k2 cells at k1+k2 per-row fold cost, the
    corpus-scale configuration the flat codebook can't reach — see the
    module-level note and SCALING.md).

    ``materialize_assignment`` (default on) puts an eager
    localCheckpoint between assignment and the pair scan: the cap
    window, self-join and witness window otherwise re-evaluate the
    branchy assignment expression per consumer (measured 49.9 → 37.6 s
    at sf1, 32×16) — result-identical either way, and callers that
    persist results release the blocks through ``run_released``."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    )
    c = with_two_level_cell(c, coarse, fines)
    if materialize_assignment and not _plan_audit_active():
        c = c.localCheckpoint(eager=True)
    return _celled_pair_dedup(c, threshold, max_cell_size)


def _plan_audit_active() -> bool:
    """Whether the plan audit is sampling plans (functions.cache's
    audit-mode flag): the eager assignment checkpoint would otherwise
    EXECUTE at plan-build time and hand the audit a post-checkpoint
    scan-of-blocks plan — the r9 PLANS.md blind spot where
    semantic_dedup_two_level read 'local-only plan'. In audit mode the
    checkpoint is skipped so the audited plan carries BOTH halves
    (branchy assignment + pair scan); execution paths are unchanged."""
    from forgettable_spark.functions import cache

    return cache._AUDIT_MODE


def two_level_assignment_cte_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    max_bucket_size: int | None,
    cell_expr: str = "CAST(g AS BIGINT)",
) -> tuple[str, str]:
    """Two-level twin of :func:`_assignment_cte_sql`: coarse VALUES +
    argmax window picks the coarse cell; a second VALUES table keyed by
    coarse cell carries every fine centroid with its precomputed GLOBAL
    cell id; a second argmax window picks the fine cell. Returns
    (CTE text, corpus CTE name). ``cell_expr`` is the SQL the
    ``assigned`` CTE projects as the cell id (over columns ``e`` and
    ``g``) — the signature-partitioned twin composes its
    ``sig · n_fine + g`` id here instead of text-patching the generated
    SQL (VERDICT r10 #8)."""
    cb1_rows = ", ".join(
        "({i}, [{vals}], {h})".format(
            i=i, vals=", ".join(_sql_double(x) for x in c), h=_sql_double(h)
        )
        for i, (c, h) in enumerate(zip(coarse, _half_norms(coarse)))
    )
    offs = _fine_offsets(fines)
    cb2_rows = ", ".join(
        "({ci}, {fi}, [{vals}], {h}, {g})".format(
            ci=ci,
            fi=fi,
            vals=", ".join(_sql_double(x) for x in c),
            h=_sql_double(h),
            g=offs[ci] + fi,
        )
        for ci, fine in enumerate(fines)
        for fi, (c, h) in enumerate(zip(fine, _half_norms(fine)))
    )
    dot_vc = "list_sum(list_transform(range(1, len(e) + 1), j -> e[j] * c[j]))"
    cap_cte, corpus_src = _cap_cte_sql(max_bucket_size)
    prefix = f"""{_V_CTE_SQL},
cb1 AS (SELECT * FROM (VALUES {cb1_rows}) t(ci, c, h)),
cb2 AS (SELECT * FROM (VALUES {cb2_rows}) t(ci, fi, c, h, g)),
s1 AS (
  SELECT v.vec_id, v.e, cb1.ci, ({dot_vc}) - cb1.h AS s
  FROM v CROSS JOIN cb1
),
a1 AS (
  SELECT vec_id, e, ci FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY s DESC, ci ASC) AS crn
    FROM s1
  ) WHERE crn = 1
),
s2 AS (
  SELECT a1.vec_id, a1.e, cb2.fi, cb2.g, ({dot_vc}) - cb2.h AS s
  FROM a1 JOIN cb2 USING (ci)
),
assigned AS (
  SELECT vec_id, e, {cell_expr} AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY s DESC, fi ASC) AS frn
    FROM s2
  ) WHERE frn = 1
){cap_cte}"""
    return prefix, corpus_src


def semantic_dedup_two_level_oracle_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    max_cell_size: int | None = None,
) -> str:
    """The DuckDB twin of :func:`semantic_dedup_two_level` — generated
    like :func:`semantic_dedup_oracle_sql`, with the two-level
    assignment CTEs in place of the flat ones."""
    prefix, corpus_src = two_level_assignment_cte_sql(coarse, fines, max_cell_size)
    return _pair_scan_sql(prefix, corpus_src, threshold)


def knn_label(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_probes: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """kNN majority-vote labeling over the trained codebook — the
    annotation step of a training-data pipeline: propagate labels from a
    LABELED corpus to unlabeled queries by the majority label of each
    query's k nearest (cosine) labeled neighbors, candidates bounded by
    the same cell equi-join as every ANN query here (multi-probe widens
    recall; over-full cells deterministically cap). One row per query:
    (vec_id, pred_label, votes, k_used) where ``votes`` counts the
    winning label among the ≤k neighbors actually found and ties break
    to the SMALLEST label (engine-mirrored determinism).

    Scale posture: the label rides the corpus side THROUGH the cell
    join, so no second join touches the corpus; the vote is one
    partial-aggregated groupBy on (query, source, label) followed by a
    per-query argmax — both ride the rank window's query_id exchange.
    Same 100 TB shape as :func:`kmeans_ann_topk`; it is
    :func:`knn_label_multi` over the one source ``label_col``.

    Reference scope: brief-commissioned LLM-pipeline operator (the
    reference engine has no embedding surface).
    """
    return knn_label_multi(
        corpus,
        queries,
        centroids,
        k,
        id_col,
        vec_col,
        {label_col: F.col(label_col)},
        n_probes,
        max_bucket_size,
    ).drop("label_source")


def knn_label_multi(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_cols: dict[str, Column] | None = None,
    n_probes: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """:func:`knn_label` for SEVERAL label sources over ONE search
    (r12): the candidate generation — cell equi-join, cosine, top-k
    rank — is label-INDEPENDENT (the cap samples on (cell, id) and the
    rank orders on (cosine, neighbor_id)), so scoring two label columns
    as two operator calls pays the expensive search twice for the same
    neighbor sets. This computes the top-k ONCE, carries
    every source's label through the one corpus-side join, and runs the
    cheap vote/argmax tail per source. ``label_cols`` maps source name →
    label Column over the corpus frame. Returns one row per (query,
    source): (vec_id, label_source, pred_label, votes, k_used) — each
    source's slice is ROW-IDENTICAL to a one-source call, i.e.
    :func:`knn_label` with that label column (test-locked)."""
    if not label_cols:
        raise ValueError("knn_label_multi: label_cols must name ≥1 source")
    names = list(label_cols)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("_cv"),
        *[
            expr.cast("int").alias(f"_lab_{i}")
            for i, expr in enumerate(label_cols.values())
        ],
    ).withColumn("cell", centroid_cell("_cv", centroids))
    if max_bucket_size is not None:
        c = _sample_cells_to_cap(c, max_bucket_size)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("_qv"),
    ).withColumn("_qn", norm("_qv"))
    if n_probes <= 1:
        q = q.withColumn("cell", centroid_cell("_qv", centroids))
    else:
        q = q.withColumn(
            "cell", F.explode(top_p_centroid_cells("_qv", centroids, n_probes))
        )
    topk = _cell_cosine_topk(q, c, k).select(
        "query_id", *[f"_lab_{i}" for i in range(len(names))]
    )
    # No materialization (late r12): the melted vote tail below is this
    # frame's ONLY consumer — the arm fold moved the sharing into the
    # group key, so the eager localCheckpoint that shared the search
    # between two per-arm plans had become a pure extra job (~0.25 s
    # measured; a future multi-consumer caller should checkpoint the
    # returned frame itself).
    # r12 OPTIMIZATION: one vote chain for ALL sources — explode each
    # top-k row to its (source, label) pairs and group with the source
    # in the key, instead of one groupBy→groupBy→select chain per
    # source unioned together. Per-source slices are value-identical
    # (identical per-(query, source) aggregates; the source literal
    # just moved into the group key).
    melted = topk.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("_src"),
                        F.col(f"_lab_{i}").alias("_lab"),
                    )
                    for i, name in enumerate(names)
                ]
            )
        ).alias("_m"),
    ).select(
        "query_id", F.col("_m._src").alias("_src"), F.col("_m._lab").alias("_lab")
    )
    votes = melted.groupBy("query_id", "_src", "_lab").agg(
        F.count("*").alias("votes")
    )
    best = votes.groupBy("query_id", "_src").agg(
        F.max(
            F.struct(F.col("votes").alias("v"), (-F.col("_lab")).alias("nl"))
        ).alias("_b"),
        F.sum("votes").cast("bigint").alias("k_used"),
    )
    return best.select(
        F.col("query_id").alias("vec_id"),
        F.col("_src").alias("label_source"),
        (-F.col("_b")["nl"]).cast("int").alias("pred_label"),
        F.col("_b")["v"].alias("votes"),
        "k_used",
    )


def prototype_prune(
    corpus: DataFrame,
    centroids: list[list[float]],
    keep_frac: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Prototypicality-based data pruning (Sorscher et al. 2022,
    "Beyond neural scaling laws", arXiv:2206.14486): score every vector
    by cosine to its OWN trained-codebook centroid (the self-supervised
    prototypicality metric), then per cell KEEP the ``keep_frac``
    least-prototypical members — for large corpora, pruning easy
    (prototypical) examples beats random and beats pruning hard ones,
    the paper's headline result. Output is one row per vector:
    (vec_id, cell, proto_score, keep) with ``keep`` = rank-by-ascending
    proto_score ≤ ceil(keep_frac · cell size) (ties → lowest id, the
    engine's deterministic rule; ceil so every non-empty cell keeps at
    least one member — no region of embedding space is dropped
    entirely, the coverage guarantee cluster-balanced pruning exists
    for).

    Scale posture: assignment + the cosine to the selected centroid are
    row-local literal-codebook expressions in the scan stage; the only
    shuffle is ONE window exchange on (cell), narrow (id, cell, score)
    rows; balanced trained cells bound the per-partition sort.

    Reference scope: brief-commissioned LLM-pipeline operator (the
    reference engine has no embedding surface).
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    ).withColumn("cell", centroid_cell("_v", centroids))
    # cosine(v, centroid[cell]): one element_at into the literal
    # codebook picks the assigned centroid's vector; norms fold per row.
    cvec = f"element_at({_codebook_lit_sql(centroids)}, CAST((cell + 1) AS INT)).c"
    c = c.withColumn("proto_score", dot("_v", cvec) / (norm("_v") * norm(cvec)))
    w = Window.partitionBy("cell").orderBy(F.asc("proto_score"), F.asc("vec_id"))
    wn = Window.partitionBy("cell")
    return (
        c.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wn))
        .select(
            "vec_id",
            "cell",
            "proto_score",
            (
                F.col("_rn")
                <= F.ceil(F.lit(float(keep_frac)) * F.col("_n")).cast("bigint")
            ).alias("keep"),
        )
    )


def prototype_prune_oracle_sql(
    centroids: list[list[float]],
    keep_frac: float,
) -> str:
    """The DuckDB twin of :func:`prototype_prune` — the shared
    assignment CTEs, cosine to the assigned centroid picked from the
    codebook VALUES table, and the mirrored (proto ASC, id ASC) rank
    against ceil(keep_frac · cell size)."""
    prefix, _ = _assignment_cte_sql(centroids, None)
    cos = (
        "({d}) / ((sqrt({na})) * (sqrt({nb})))".format(
            d="list_sum(list_transform(range(1, len(e) + 1), j -> e[j] * c[j]))",
            na="list_sum(list_transform(range(1, len(e) + 1), j -> e[j] * e[j]))",
            nb="list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * c[j]))",
        )
    )
    return f"""WITH {prefix},
scored2 AS (
  SELECT a.vec_id, a.cell, {cos} AS proto_score
  FROM assigned a JOIN cb ON cb.ci = a.cell
)
SELECT vec_id, cell, proto_score,
       rn <= CAST(CEIL({_sql_double(float(keep_frac))} * n) AS BIGINT) AS keep
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cell ORDER BY proto_score ASC, vec_id ASC) AS rn,
    COUNT(*) OVER (PARTITION BY cell) AS n
  FROM scored2
)"""


def knn_label_oracle_sql(
    centroids: list[list[float]],
    k: int = 10,
    n_probes: int = 1,
    max_bucket_size: int | None = None,
    query_mod: int = 25,
    label_expr: str = "CAST(emb.label AS INTEGER)",
) -> str:
    """The DuckDB twin of :func:`knn_label` over the pre-registered
    ``embeddings`` view, with the labeled/unlabeled split mirrored from
    the registered query's ``vec_id % query_mod`` device (queries = the
    sampled rows, corpus = the rest, labels joined from the view). The
    cap window applies to the LABELED side only, after the split —
    exactly where :func:`knn_label` applies it. ``label_expr`` is the
    SQL the ``lab0`` CTE projects as the label (over ``emb`` and the
    double-cast assigned vector ``a.e``) — the geometry-label gauge arm
    composes its sign-LSH fixture here instead of text-patching the
    generated SQL (VERDICT r10 #8)."""
    cos = (
        "({d}) / ((sqrt({na})) * (sqrt({nb})))".format(
            d="list_sum(list_transform(range(1, len(qv) + 1), j -> qv[j] * e[j]))",
            na="list_sum(list_transform(range(1, len(qv) + 1), j -> qv[j] * qv[j]))",
            nb="list_sum(list_transform(range(1, len(e) + 1), j -> e[j] * e[j]))",
        )
    )
    prefix, _ = _assignment_cte_sql(centroids, None)
    # lab0/lab carry the label through the cap via the builder's
    # projection parameter (VERDICT r10 #8 — no text patching).
    cap_cte, lab_src = _cap_cte_sql(
        max_bucket_size, src="lab0", name="lab",
        cols=("vec_id", "e", "cell", "label"),
    )
    return f"""WITH {prefix},
lab0 AS (
  SELECT a.vec_id, a.e, a.cell, {label_expr} AS label
  FROM assigned a JOIN embeddings emb USING (vec_id)
  WHERE a.vec_id % {query_mod} != 0
){cap_cte},
q AS (
  SELECT vec_id AS query_id, e AS qv, CAST(ci AS BIGINT) AS cell
  FROM ranked WHERE vec_id % {query_mod} = 0 AND crn <= {n_probes}
),
scored AS (
  SELECT query_id, s.vec_id AS neighbor_id, s.label, {cos} AS cosine
  FROM q JOIN {lab_src} s USING (cell) WHERE query_id != s.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {k}
),
votes AS (
  SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
  FROM topk GROUP BY query_id, label
)
SELECT query_id AS vec_id, CAST(label AS INTEGER) AS pred_label, votes,
       CAST(k_used AS BIGINT) AS k_used
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY votes DESC, label ASC) AS vrn,
    SUM(votes) OVER (PARTITION BY query_id) AS k_used
  FROM votes
) WHERE vrn = 1"""


# Signature-partitioned two-level quantizer ----------------------------------
#
# The composition SCALING.md's r9-late study names past the ~10⁴-cell
# ceiling: the two-level quantizer's cell count is k1·k2, but its
# one-time whole-stage-codegen cost grows with the k1·k2·dim centroid
# LITERALS in the plan — measured linear (512 cells ≈ 40 s, ~2k cells
# ≈ 119 s), so cell counts past ~10⁴ are codegen-infeasible. The
# engine's sign-LSH signature cell (similarity.signature_cell) has the
# opposite profile: 2^b cells from b O(dim) formula folds with NO
# per-cell literals (the hyperplane weights are a closed-form expression
# over a sequence, not a literal matrix). Composing them — signature
# cell as the data-blind PRE-PARTITION, the one bounded trained
# two-level codebook refining WITHIN every partition — yields
# 2^b · k1·k2 cells at b + k1 + k2 folds per row and codegen bounded by
# the k1·k2 literals alone. The recall trade is the banded-LSH one:
# a pair is compared iff it agrees on all b signature bits AND the
# trained cell; sign-LSH bit-collision probability is 1 − θ/π, so
# high-cosine (near-dup) pairs survive with probability ≈ (1 − θ/π)^b
# — the same knob every banded family here documents.


def with_partitioned_cell(
    df: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_sig_bits: int,
    vec_col: str = "_v",
    out_col: str = "cell",
) -> DataFrame:
    """Adds the composite global cell id ``sig · n_fine_cells + two_level``
    where ``sig`` is the ``n_sig_bits``-bit sign-LSH signature cell and
    ``two_level`` the trained :func:`with_two_level_cell` id — exact
    integer arithmetic, so the id is engine-portable. ``n_sig_bits=0``
    degenerates to the plain two-level id (one signature partition).

    ``_sig``, ``_tl`` and ``_coarse`` are RESERVED intermediate column
    names — a caller frame already carrying one would be silently
    clobbered (the rewritten implementation materializes the coarse
    argmax as ``_coarse``) and then returned under the caller's column
    name, so the collision raises instead (ADVICE r10/r12)."""
    clash = {"_sig", "_tl", "_coarse"} & set(df.columns)
    if clash:
        raise ValueError(
            f"with_partitioned_cell: input carries reserved intermediate "
            f"column(s) {sorted(clash)} — rename them before calling"
        )
    from forgettable_spark.extensions.similarity import signature_cell_expr_sql

    # ONE select for the whole composite (late r12): the previous
    # withColumn(_sig) → with_two_level_cell → withColumn(compose) chain
    # eagerly re-analyzed the literal-heavy plan four times per call;
    # the inlined expression is what CollapseProject produced anyway
    # (same folds, same integer arithmetic), analyzed once.
    n_fine = sum(len(f) for f in fines)
    cols = df.columns
    sig_sql = signature_cell_expr_sql(vec_col, n_sig_bits)
    composite = (
        f"CAST((({sig_sql}) * CAST({n_fine} AS BIGINT)) "
        f"+ ({two_level_case_sql(vec_col, fines)}) AS BIGINT)"
    )
    return df.withColumn("_coarse", centroid_cell(vec_col, coarse)).select(
        *cols, F.expr(composite).alias(out_col)
    )


def semantic_dedup_partitioned(
    corpus: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    n_sig_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    materialize_assignment: bool = True,
) -> DataFrame:
    """:func:`semantic_dedup` over the signature-partitioned two-level
    quantizer (module note above): identical keep rule, output shape and
    cap semantics; the cell id is the composite
    ``sig · n_fine + two_level``. This is the corpus-scale configuration
    past the two-level codebook's codegen ceiling — cell count grows
    2^b-fold per signature bit at one extra O(dim) fold per row and NO
    extra plan literals, so occupancy can track corpus/cells at any
    scale with a FIXED-size trained codebook (SCALING.md r10)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    )
    c = with_partitioned_cell(c, coarse, fines, n_sig_bits)
    if materialize_assignment and not _plan_audit_active():
        c = c.localCheckpoint(eager=True)
    return _celled_pair_dedup(c, threshold, max_cell_size)


def partitioned_assignment_cte_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_sig_bits: int,
    max_bucket_size: int | None,
) -> tuple[str, str]:
    """Signature-partitioned twin of :func:`two_level_assignment_cte_sql`:
    the same coarse/fine VALUES + argmax windows, with the ``assigned``
    CTE's cell id composed as ``sig · n_fine + g`` (the sign-LSH bits
    rendered by the shared ``similarity.hyperplane_bit_sql`` formula),
    passed through the base builder's ``cell_expr`` parameter (VERDICT
    r10 #8 — no text patching). Returns (CTE text, corpus CTE name)."""
    from forgettable_spark.extensions.similarity import hyperplane_bit_sql

    n_fine = sum(len(f) for f in fines)
    if n_sig_bits > 0:
        sig = " + ".join(
            f"({hyperplane_bit_sql(i)}) * {1 << i}" for i in range(n_sig_bits)
        )
        composite = f"CAST(({sig}) * {n_fine} + g AS BIGINT)"
    else:
        composite = "CAST(g AS BIGINT)"
    return two_level_assignment_cte_sql(
        coarse, fines, max_bucket_size, cell_expr=composite
    )


def semantic_dedup_partitioned_oracle_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    n_sig_bits: int,
    max_cell_size: int | None = None,
) -> str:
    """The DuckDB twin of :func:`semantic_dedup_partitioned` — the shared
    pair-scan tail over the signature-partitioned assignment CTEs."""
    prefix, corpus_src = partitioned_assignment_cte_sql(
        coarse, fines, n_sig_bits, max_cell_size
    )
    return _pair_scan_sql(prefix, corpus_src, threshold)


# Signature multi-probe recovery ----------------------------------------------
#
# The partition's priced recall trade (module note above): a near-dup
# pair straddling ANY of the b signature bits is never compared —
# survival ≈ (1 − θ/π)^b. r10 named the standard LSH recovery without
# building it; this is the build. Each row, besides its home composite
# cell, PROBES the n_flip cells at signature Hamming distance 1 (bit i
# flipped, i < n_flip) — the dedup analogue of signature_ann_topk's
# query-side multi-probe. A pair differing in exactly one probed bit
# meets exactly twice (each side probing into the other's home);
# the dup_of < vec_id gate keeps one. Pairs differing in ≥2 bits stay
# un-compared: per-bit survival rises from (1 − θ/π) to
# 1 − (θ/π)²-ish at one flip — the knob's next rung is more flips, not
# a different operator. Cost is the standard multi-probe trade: the
# pair join fans out ≤ (n_flip + 1)× over capped cells, zero extra
# plan literals (probe cells are integer arithmetic on the composite
# id: sig = cell ÷ n_fine, tl = cell mod n_fine — both engines restate
# the same closed form, no re-fold of the signature bits).


def semantic_dedup_probed(
    corpus: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    n_sig_bits: int,
    n_flip: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    materialize_assignment: bool = True,
) -> DataFrame:
    """:func:`semantic_dedup_partitioned` with signature MULTI-PROBE
    recovery (module note above): identical keep rule, output shape and
    cap semantics; additionally compares every pair whose composite
    cells agree on the trained id and differ in exactly one of the
    first ``n_flip`` signature bits. ``n_flip`` defaults to all
    ``n_sig_bits`` (full 1-flip recovery); ``n_flip=0`` is bit-equal to
    the unprobed operator (test-locked)."""
    if n_flip is None:
        n_flip = n_sig_bits
    if not 0 <= n_flip <= n_sig_bits:
        raise ValueError(
            f"semantic_dedup_probed: n_flip={n_flip} outside [0, {n_sig_bits}]"
        )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    )
    c = with_partitioned_cell(c, coarse, fines, n_sig_bits)
    if materialize_assignment and not _plan_audit_active():
        c = c.localCheckpoint(eager=True)
    n_fine = sum(len(f) for f in fines)
    return _celled_pair_dedup_probed(c, threshold, max_cell_size, n_fine, n_flip)


def _probe_cells_sql(cell_sql: str, n_fine: int, n_flip: int) -> str:
    """:func:`_probe_cells` as ONE SQL array expression."""
    # Integer division through decimal(38,0): a double-division floor
    # is exact only below 2^53, silently diverging from the oracle's
    # integer `//` above it (ADVICE r11) — decimal covers the full
    # bigint range and DuckDB's `//` restates the same closed form
    # bit-for-bit. cell ≥ 0, so truncation == floor on both engines.
    sig = f"CAST(CAST(({cell_sql}) AS DECIMAL(38,0)) / {n_fine} AS BIGINT)"
    tl = f"(({cell_sql}) % {n_fine})"
    elems = ", ".join(
        f"CAST((({sig} ^ {1 << i}) * {n_fine} + {tl}) AS BIGINT)"
        for i in range(n_flip)
    )
    return f"array({elems})"


def _probe_cells(cell: str, n_fine: int, n_flip: int) -> Column:
    """The ``n_flip`` composite cells at signature Hamming distance 1
    from ``cell`` (a column name or SQL fragment): sig ÷/mod
    decomposition, bit i XOR, recompose — closed-form integer arithmetic
    on the stored id (no signature re-fold), restated identically by
    the oracle twin.

    Partial ``n_flip < b`` probes the FIXED PREFIX of signature bits
    ``i < n_flip``, not e.g. the least-confident ones — a sound
    cost/recall knob only because the signature's hyperplanes are
    distinct quasi-random draws from one family
    (similarity.signature_cell; the r12 quadratic congruential family —
    the pre-r12 family was period-7 and made this assumption FALSE past
    bit 6), which makes the bits approximately exchangeable: every
    ``n_flip``-subset has the same expected straddle mass, so probing
    the prefix loses nothing over probing any other fixed subset
    (test-locked probe-set composition,
    tests/test_mixture_canonical_semantic.py)."""
    return F.expr(_probe_cells_sql(cell, n_fine, n_flip))


def _celled_pair_dedup_probed(
    c: DataFrame,
    threshold: float,
    max_cell_size: int | None,
    n_fine: int,
    n_flip: int,
) -> DataFrame:
    """:func:`_celled_pair_dedup` plus the probe pair source: the home
    self-join unchanged, unioned with (exploded probe cells) × (home
    rows). The cap applies to HOME membership once — a capped-out row
    leaves both sides entirely, exactly the unprobed semantics."""
    if n_flip == 0:
        return _celled_pair_dedup(c, threshold, max_cell_size)
    if max_cell_size is not None:
        c = _sample_cells_to_cap(c, max_cell_size, id_col="vec_id")
    c = c.withColumn("_n", norm("_v"))
    a = c.select(
        F.col("vec_id").alias("dup_of"),
        "cell",
        F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
    )
    # probe side: same projection, cell replaced by each 1-flip cell
    ap = c.select(
        F.col("vec_id").alias("dup_of"),
        F.explode(_probe_cells("cell", n_fine, n_flip)).alias("cell"),
        F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
    )
    b = c.select("vec_id", "cell", F.col("_v").alias("_bv"), F.col("_n").alias("_bn"))
    # home pairs meet once (a.cell = b.cell, a < b); a 1-flip pair meets
    # twice across the probe join (each side probing into the other's
    # home) and the same a < b gate keeps exactly one. The two sources
    # are disjoint (same sig vs sig differing in one bit), so the union
    # introduces no duplicate candidates.
    pairs = (
        a.unionByName(ap)
        .join(b, "cell")
        .filter(F.col("dup_of") < F.col("vec_id"))
        .withColumn(
            "cosine",
            dot("_av", "_bv") / (F.col("_an") * F.col("_bn")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dup_of"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cell", "dup_of", "cosine")
    )


def semantic_dedup_probed_oracle_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    n_sig_bits: int,
    n_flip: int | None = None,
    max_cell_size: int | None = None,
) -> str:
    """The DuckDB twin of :func:`semantic_dedup_probed` — the
    partitioned assignment CTEs, a probe CTE restating the same
    ÷/mod/xor closed form over the composite id, and the shared
    pair-scan shape over the union of home and probe sources."""
    if n_flip is None:
        n_flip = n_sig_bits
    prefix, corpus_src = partitioned_assignment_cte_sql(
        coarse, fines, n_sig_bits, max_cell_size
    )
    if n_flip == 0:
        return _pair_scan_sql(prefix, corpus_src, threshold)
    dot_ab = "list_sum(list_transform(range(1, len(a.e) + 1), j -> a.e[j] * b.e[j]))"
    flips = ", ".join(str(1 << i) for i in range(n_flip))
    return f"""WITH {prefix},
sd AS (
  SELECT vec_id, e, cell, sqrt(list_sum(list_transform(e, y -> y * y))) AS n
  FROM {corpus_src}
),
probed AS (
  SELECT vec_id, e, n,
         xor(cell // {n_fine_sql(fines)}, f.flip) * {n_fine_sql(fines)}
           + (cell % {n_fine_sql(fines)}) AS cell
  FROM sd, (SELECT unnest([{flips}]) AS flip) f
),
pairs AS (
  SELECT a.vec_id AS dup_of, b.vec_id AS vec_id, b.cell AS cell,
         ({dot_ab}) / (a.n * b.n) AS cosine
  FROM sd a JOIN sd b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ({dot_ab}) / (a.n * b.n) >= {_sql_double(threshold)}
  UNION ALL
  SELECT a.vec_id AS dup_of, b.vec_id AS vec_id, b.cell AS cell,
         ({dot_ab}) / (a.n * b.n) AS cosine
  FROM probed a JOIN sd b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ({dot_ab}) / (a.n * b.n) >= {_sql_double(threshold)}
)
SELECT vec_id, cell, dup_of, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dup_of ASC) AS rn
  FROM pairs
) WHERE rn = 1"""


# Banded-OR signature recovery -------------------------------------------------
#
# The ≥2-bit straddler gap (VERDICT r11 #2): a single b-bit AND signature
# with full 1-flip probing still loses every pair straddling ≥2 signature
# bits — recall p^b + b·p^(b-1)·(1−p) with p = 1−θ/π, measured 0.615 at
# sf1/b=6. The standard LSH answer the repo's TEXT paths already use
# (dedup.py:330 MinHash bands) is OR over r INDEPENDENT signatures:
# r bands of b' bits each, drawn from DISJOINT slices of the hyperplane
# family (band t folds hyperplanes [t·b', (t+1)·b')), candidate iff ANY
# band agrees (AND within a band, OR across bands) — recall
# 1 − (1 − p^b')^r with no flip arithmetic at all. Cost: each row sits in
# r band buckets (r× fan-out, vs the probed form's (b+1)×), per-bucket
# occupancy n / (2^b' · n_fine) exactly as the single signature's, and
# every bucket takes the same capped equi-join. At matched fan-out the OR
# dominates 1-flip probing at high b because its misses decay
# GEOMETRICALLY in r while flip recovery is confined to Hamming radius 1.


def with_banded_cells(
    df: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_bands: int,
    band_bits: int,
    vec_col: str = "_v",
) -> DataFrame:
    """Explodes each row into its ``n_bands`` banded composite cells:
    band t's cell is ``(t · 2^band_bits + sig_t) · n_fine + tl`` where
    ``sig_t`` is the ``band_bits``-bit sign-LSH signature over hyperplane
    slice ``[t·band_bits, (t+1)·band_bits)`` (``signature_cell``'s
    ``bit_offset``) and ``tl`` the trained two-level id — the band index
    rides the id so buckets never collide across bands. One assignment
    scan (n_bands·band_bits + k1 + k2 folds per row), one explode;
    everything downstream is the standard capped cell equi-join."""
    from forgettable_spark.extensions.similarity import signature_cell

    clash = {"_tl"} & set(df.columns)
    if clash:
        raise ValueError(
            f"with_banded_cells: input carries reserved intermediate "
            f"column(s) {sorted(clash)} — rename them before calling"
        )
    n_fine = n_fine_sql(fines)
    df = with_two_level_cell(df, coarse, fines, vec_col=vec_col, out_col="_tl")
    cells = [
        (
            (
                F.lit(t << band_bits).cast("bigint")
                + signature_cell(vec_col, band_bits, bit_offset=t * band_bits)
            )
            * F.lit(n_fine).cast("bigint")
            + F.col("_tl")
        ).cast("bigint")
        for t in range(n_bands)
    ]
    return df.withColumn("cell", F.explode(F.array(*cells))).drop("_tl")


def semantic_dedup_banded(
    corpus: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    n_bands: int,
    band_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    materialize_assignment: bool = True,
) -> DataFrame:
    """:func:`semantic_dedup` over the banded-OR signature construction
    (section note above): identical keep rule and output shape; the
    candidate source is the union of ``n_bands`` independent
    ``band_bits``-bit signature partitions of the trained two-level
    cells. A pair agreeing in several bands meets once per agreeing band
    and the witness window's (dup_of, cell) order keeps exactly one
    deterministic row. Cap semantics are PER BAND BUCKET (the text
    bands' hot-bucket posture, dedup.py): a row capped out of one band's
    bucket still participates through its other bands — strictly gentler
    than the single-signature cap, same bound on per-bucket work.
    ``n_bands=1, band_bits=b`` is the unprobed
    :func:`semantic_dedup_partitioned` drop set with band-0 hyperplanes
    (test-locked)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    )
    c = with_banded_cells(c, coarse, fines, n_bands, band_bits)
    if materialize_assignment and not _plan_audit_active():
        c = c.localCheckpoint(eager=True)
    return _celled_pair_dedup(c, threshold, max_cell_size, tie_break_cell=True)


def banded_assignment_cte_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_bands: int,
    band_bits: int,
    max_bucket_size: int | None,
) -> tuple[str, str]:
    """Banded twin of :func:`partitioned_assignment_cte_sql`: the shared
    two-level assignment CTEs, then a ``banded`` CTE of ``n_bands``
    UNION ALL arms — one per band, each rendering its sig bits through
    the ONE shared ``similarity.hyperplane_bit_sql`` formula at the
    band's hyperplane offsets — and the shared cap window applied PER
    BAND BUCKET. Returns (CTE text, corpus CTE name)."""
    from forgettable_spark.extensions.similarity import hyperplane_bit_sql

    n_fine = n_fine_sql(fines)
    prefix, assigned = two_level_assignment_cte_sql(coarse, fines, None)
    arms = []
    for t in range(n_bands):
        sig = " + ".join(
            f"({hyperplane_bit_sql(t * band_bits + i)}) * {1 << i}"
            for i in range(band_bits)
        )
        arms.append(
            f"  SELECT vec_id, e, CAST(({t << band_bits} + ({sig})) "
            f"* {n_fine} + cell AS BIGINT) AS cell FROM {assigned}"
        )
    banded = "banded AS (\n" + "\n  UNION ALL\n".join(arms) + "\n)"
    cap_cte, corpus_src = _cap_cte_sql(max_bucket_size, src="banded")
    return f"{prefix},\n{banded}{cap_cte}", corpus_src


def semantic_dedup_banded_oracle_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    n_bands: int,
    band_bits: int,
    max_cell_size: int | None = None,
) -> str:
    """The DuckDB twin of :func:`semantic_dedup_banded` — the banded
    assignment CTEs and the shared pair-scan tail with the multi-cell
    (dup_of, cell) witness order."""
    prefix, corpus_src = banded_assignment_cte_sql(
        coarse, fines, n_bands, band_bits, max_cell_size
    )
    return _pair_scan_sql(prefix, corpus_src, threshold, tie_break_cell=True)


def n_fine_sql(fines: list[list[list[float]]]) -> int:
    """Total fine-cell count — the composite id's modulus, named once
    so the engine and oracle decompositions cannot drift."""
    return sum(len(f) for f in fines)


def probed_recall_gauge(
    corpus: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    threshold: float,
    n_sig_bits: int,
    flip_settings: list[int],
    n_bands: int,
    band_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The partition/probe family's recall gauge over ONE cap-free pair
    scan (r12 — was one full operator call per arm, which repeated the
    quadratic within-cell scan five times and read 2× the sum of its
    arms at sf0.1). Every arm's candidate pairs are a SUBSET of the
    truth's: truth compares pairs agreeing on the trained two-level id,
    and the composite/probed/banded constructions only ever tighten that
    with a signature condition (probe cells flip sig bits but keep the
    trained id; band cells share it by construction). So the gauge scans
    trained-cell pairs ONCE — carrying both sides' signature and band
    values — and each arm is a row-local FILTER over the qualifying
    pairs:

    - ``flips=f``: sides agree on all sig bits (home cell) or differ in
      exactly one of the first ``f`` (the probe meet) — ``x = sigₐ XOR
      sig_b``; ``x = 0`` or ``x`` a power of two below ``2^f``, the
      closed form of :func:`_probe_cells`'s flip set (parity
      test-locked against the standalone operators).
    - ``bands``: ANY band's signatures agree (the OR).

    A drop set is the distinct right-side ids of an arm's pairs —
    identical as a SET to the standalone operator's output (the
    operator's min-witness window only picks WHICH witness survives),
    and the gauge counts sets. One quadratic scan instead of five is
    also the 100 TB shape: the truth side is the gauge's documented
    count-bounded cost, and it should be paid once. All arms are
    CAP-FREE; the truth semi-join is kept (not asserted away) so
    recovered ⊆ truth stays self-evidencing. Returns one row per arm:
    (variant 'flips'|'bands', setting, n_truth, n_dropped, n_recovered,
    recall)."""
    from forgettable_spark.extensions.similarity import signature_cell_expr_sql

    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    )
    # ONE select for all the per-row folds (late r12): the previous
    # with_two_level_cell → withColumn(_sig) → n_bands×withColumn chain
    # eagerly re-analyzed the literal-heavy plan 7 times per build; the
    # expressions are independent, so one projection computes them all
    # (identical folds, analyzed once).
    c = c.withColumn("_coarse", centroid_cell("_v", coarse)).select(
        "vec_id",
        "_v",
        F.expr(two_level_case_sql("_v", fines)).alias("_tl"),
        F.expr(signature_cell_expr_sql("_v", n_sig_bits)).alias("_sig"),
        *[
            F.expr(
                signature_cell_expr_sql("_v", band_bits, bit_offset=t * band_bits)
            ).alias(f"_band{t}")
            for t in range(n_bands)
        ],
    )
    if not _plan_audit_active():
        c = c.localCheckpoint(eager=True)
    c = c.withColumn("_n", norm("_v"))

    bands_a = [F.col(f"_band{t}").alias(f"_aband{t}") for t in range(n_bands)]
    bands_b = [F.col(f"_band{t}").alias(f"_bband{t}") for t in range(n_bands)]
    a = c.select(
        F.col("vec_id").alias("dup_of"),
        "_tl",
        F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
        F.col("_sig").alias("_asig"),
        *bands_a,
    )
    b = c.select(
        "vec_id",
        "_tl",
        F.col("_v").alias("_bv"),
        F.col("_n").alias("_bn"),
        F.col("_sig").alias("_bsig"),
        *bands_b,
    )
    pairs = (
        a.join(b, "_tl")
        .filter(F.col("dup_of") < F.col("vec_id"))
        .filter(
            dot("_av", "_bv") / (F.col("_an") * F.col("_bn"))
            >= F.lit(threshold)
        )
        .select(
            "vec_id",
            F.col("_asig").bitwiseXOR(F.col("_bsig")).alias("_x"),
            *[
                (F.col(f"_aband{t}") == F.col(f"_bband{t}")).alias(f"_beq{t}")
                for t in range(n_bands)
            ],
        )
    )
    # r12 OPTIMIZATION: every arm is a row-local filter of this ONE pair
    # set, so the whole gauge folds into a single aggregation pass — per
    # dropped id one boolean per arm (did ANY qualifying pair survive
    # this arm's condition), then one global count/sum. The previous
    # shape materialized a distinct+localCheckpoint drop set PER ARM and
    # re-joined each against the truth set (~15 Spark jobs of fixed
    # scheduling cost each); this shape is 2 exchanges total. Because the
    # arm conditions filter the truth's own pair set, an arm's drop set
    # is structurally a subset of the truth's, so n_recovered ≡ n_dropped
    # here — the same identity the old semi-join evaluated pairwise; the
    # independent cross-engine check remains the DuckDB oracle, which
    # still computes n_recovered from standalone per-arm drop sets joined
    # against its own truth CTE.
    x = F.col("_x")
    one_flip = (x != 0) & (x.bitwiseAND(x - 1) == 0)
    arms: list[tuple[str, int, Column]] = []
    for fl in flip_settings:
        cond = (x == 0) | (one_flip & (x < F.lit(1 << fl))) if fl > 0 else x == 0
        arms.append(("flips", fl, cond))
    band_cond = None
    for t in range(n_bands):
        eq = F.col(f"_beq{t}")
        band_cond = eq if band_cond is None else (band_cond | eq)
    arms.append(("bands", n_bands, band_cond))

    per_id = pairs.groupBy("vec_id").agg(
        *[
            F.max(cond.cast("int")).alias(f"_arm{i}")
            for i, (_, _, cond) in enumerate(arms)
        ]
    )
    tot = per_id.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        *[
            F.sum(F.col(f"_arm{i}")).cast("bigint").alias(f"_d{i}")
            for i in range(len(arms))
        ],
    )
    arm_structs = F.array(
        *[
            F.struct(
                F.lit(variant).alias("variant"),
                F.lit(setting).cast("int").alias("setting"),
                F.coalesce(F.col(f"_d{i}"), F.lit(0).cast("bigint")).alias(
                    "n_dropped"
                ),
            )
            for i, (variant, setting, _) in enumerate(arms)
        ]
    )
    return (
        tot.select(F.col("n_truth"), F.explode(arm_structs).alias("_a"))
        .select(
            F.col("_a.variant").alias("variant"),
            F.col("_a.setting").alias("setting"),
            "n_truth",
            F.col("_a.n_dropped").alias("n_dropped"),
            F.col("_a.n_dropped").alias("n_recovered"),
            F.when(
                F.col("n_truth") > 0,
                F.col("_a.n_dropped").cast("double") / F.col("n_truth"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall"),
        )
    )


def semantic_admit(
    index: DataFrame,
    batch: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """Embedding ADMISSION dedup — the `incremental_lsh_admit` shape on
    the semantic-dedup machinery: match a new batch of vectors against a
    stored, cell-capped index (plus the batch's own lower-id members)
    and emit one verdict row per batch vector: (vec_id, is_dup,
    match_id, cosine), sentinels (-1, 0.0) when admitted — the text
    family's exact column contract.

    Rules: a batch vector is a duplicate iff some same-cell witness
    scores ``cosine >= threshold``, where witnesses are every (capped)
    index member plus every LOWER-id batch member; ``match_id`` is the
    minimal witness id (deterministic, engine-mirrored). Index-side cap
    only — the stored index is the thing that needs occupancy bounds; a
    production batch is count-bounded by construction (set
    ``broadcast_batch=True`` only when the caller has actually bounded
    it — the `incremental_lsh_admit` guard precedent).

    Scale posture: assignment is the trained-codebook scan expression
    (two-level via :func:`with_two_level_cell` composes the same way);
    the only joins are batch×witness cell equi-joins, batch-side
    broadcastable, index never re-shuffled beyond its one cap window.
    A STORED index with precomputed (cell, n) columns — the streaming
    loop's shape, which must not re-fold the whole index per trigger —
    enters through :func:`semantic_admit_assigned` instead.
    """
    return semantic_admit_assigned(
        assign_cells(index, centroids, id_col=id_col, vec_col=vec_col),
        assign_cells(batch, centroids, id_col=id_col, vec_col=vec_col),
        threshold,
        max_cell_size=max_cell_size,
        broadcast_batch=broadcast_batch,
    )


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, _v float64, cell, n) — the assigned shape
    :func:`semantic_admit_assigned` consumes. ``cell`` and ``n`` are
    pure row-local functions of the vector (given fixed centroid
    literals), so a caller may persist them alongside the vectors and
    rebuild this frame from storage bit-identically."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    ).withColumn("cell", centroid_cell("_v", centroids))
    return c.withColumn("n", norm("_v"))


def assign_cells_partitioned(
    corpus: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_sig_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`assign_cells` over the signature-partitioned two-level
    quantizer — the SAME (vec_id, _v, cell, n) contract, so it drops
    into :func:`semantic_admit_assigned` and the streaming admission
    loop unchanged. This is the admission-side consequence of the r10
    composition: the loop's within-batch verdict term is O(batch²/cells)
    (every same-cell batch pair is scored), so cell count must scale
    with the TRIGGER size exactly as dedup's must scale with the corpus
    — and composite cells grow 2^b-fold with zero extra plan literals
    (SCALING.md r10)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    )
    c = with_partitioned_cell(c, coarse, fines, n_sig_bits)
    return c.withColumn("n", norm("_v"))


class PartitionedAssigner:
    """Structured assigner for the signature-partitioned two-level
    quantizer: a plain ``(vec_id, embedding) frame → (vec_id, _v, cell,
    n)`` callable (drop-in for the ``assigner`` hook everywhere a bare
    ``lambda df: assign_cells_partitioned(...)`` fits) that also CARRIES
    the literals defining its cell space — ``n_fine`` (the composite
    id's ÷/mod modulus, :func:`n_fine_sql` over the RAGGED fines, not
    k1·k2) and ``n_sig_bits`` — plus a canonical :meth:`fingerprint`.

    Exists because restating those values at call sites is exactly the
    ADVICE r11 bug (``probe_n_fine=K*K`` corrupted the probed arm's
    ÷/mod/xor arithmetic whenever Lloyd returned ragged fines) and the
    r10 assigner-swap hazard (a hand-rolled fingerprint that omits a
    literal): ``semantic_admit_batch`` derives probe modulus, probe
    width and fingerprint from this object and defaults multi-probe ON
    (VERDICT r11 #1 — the measured-correct default: −4.4% throughput
    for +65% duplicates caught, SCALING.md r11)."""

    def __init__(
        self,
        coarse: list[list[float]],
        fines: list[list[list[float]]],
        n_sig_bits: int,
    ) -> None:
        self.coarse = coarse
        self.fines = fines
        self.n_sig_bits = n_sig_bits
        #: The trained-cell modulus of the composite ids this assigner
        #: mints — sum(len(fines[i])), NEVER k1·k2 (ragged fines).
        self.n_fine = n_fine_sql(fines)

    def __call__(self, df: DataFrame) -> DataFrame:
        return assign_cells_partitioned(
            df, self.coarse, self.fines, self.n_sig_bits
        )

    def fingerprint(self) -> str:
        """Canonical assigner fingerprint over every literal that
        defines the cell space (the ``_ASSIGNER`` marker contract)."""
        from forgettable_spark.streaming.semantic_admit import (
            assigner_fingerprint,
        )

        return assigner_fingerprint(
            "partitioned", self.coarse, self.fines, self.n_sig_bits
        )


class BandedAssigner:
    """Structured assigner for the banded-OR construction (r12): a
    ``(vec_id, embedding) frame → (vec_id, _v, cell, n)`` callable that
    EXPLODES each vector to its ``n_bands`` band cells
    (:func:`assign_cells_banded` — the stored index persists r narrow
    rows per vector) and carries the literals defining its cell space
    plus a canonical :meth:`fingerprint`.

    The streaming loop detects ``n_bands`` and switches to the banded
    verdict (:func:`semantic_admit_assigned_banded`'s DISTINCT batch
    spine — the flat verdict over an exploded batch would emit r rows
    per vector). Multi-probe stays OFF by design: banded recovery lives
    in the bands themselves (misses decay geometrically in r —
    SCALING.md r12: at sf30 banded r=3 catches 336k duplicates vs full
    1-flip probing's 314k at 43% the fan-out), and band-cell ids embed
    the band index, so flip arithmetic over them would corrupt cells;
    the loop raises on an explicit ``probe_flips > 0``."""

    def __init__(
        self,
        coarse: list[list[float]],
        fines: list[list[list[float]]],
        n_bands: int,
        band_bits: int,
    ) -> None:
        self.coarse = coarse
        self.fines = fines
        self.n_bands = n_bands
        self.band_bits = band_bits

    def __call__(self, df: DataFrame) -> DataFrame:
        return assign_cells_banded(
            df, self.coarse, self.fines, self.n_bands, self.band_bits
        )

    def fingerprint(self) -> str:
        """Canonical assigner fingerprint over every literal that
        defines the banded cell space."""
        from forgettable_spark.streaming.semantic_admit import (
            assigner_fingerprint,
        )

        return assigner_fingerprint(
            "banded", self.coarse, self.fines, self.n_bands, self.band_bits
        )


def semantic_admit_assigned(
    idx: DataFrame,
    bat: DataFrame,
    threshold: float,
    max_cell_size: int | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """:func:`semantic_admit` over PRE-ASSIGNED frames (the
    :func:`assign_cells` shape): no per-call codebook folds on the index
    side, so a stored index with persisted (cell, n) pays only its scan
    + cap window per admission trigger."""
    if max_cell_size is not None:
        idx = _sample_cells_to_cap(idx, max_cell_size, id_col="vec_id")
    wit = idx.withColumn("_src", F.lit(0)).unionByName(
        bat.withColumn("_src", F.lit(1))
    )
    wit = wit.select(
        F.col("vec_id").alias("match_id"),
        "cell",
        F.col("_v").alias("_wv"),
        F.col("n").alias("_wn"),
        "_src",
    )
    tgt = bat.select(
        "vec_id", "cell", F.col("_v").alias("_bv"), F.col("n").alias("_bn")
    )
    if broadcast_batch:
        tgt = F.broadcast(tgt)
    pairs = (
        wit.join(tgt, "cell")
        .filter((F.col("_src") == 0) | (F.col("match_id") < F.col("vec_id")))
        .withColumn(
            "cosine",
            dot("_wv", "_bv") / (F.col("_wn") * F.col("_bn")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("match_id"))
    best = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "match_id", "cosine")
    )
    return (
        bat.select("vec_id")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            F.col("match_id").isNotNull().alias("is_dup"),
            F.coalesce(F.col("match_id"), F.lit(-1).cast("bigint")).alias("match_id"),
            F.coalesce(F.col("cosine"), F.lit(0.0)).alias("cosine"),
        )
    )


def semantic_admit_oracle_sql(
    centroids: list[list[float]],
    threshold: float,
    batch_limit_sql: str,
    salt: str,
    max_cell_size: int | None = None,
) -> str:
    """The DuckDB twin of :func:`semantic_admit` over the pre-registered
    ``embeddings`` view, with the batch selected exactly like the text
    family's count-bounded member CTE (lowest (md5(salt:id), id) rows,
    ``batch_limit_sql`` as the LIMIT expression)."""
    prefix, _ = _assignment_cte_sql(centroids, None)
    dot_ab = "list_sum(list_transform(range(1, len(w.e) + 1), j -> w.e[j] * b.e[j]))"
    cap, idx_src = _cap_cte_sql(max_cell_size, src="idx0", name="idx")
    return f"""WITH {prefix},
member AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5('{salt}:' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT ({batch_limit_sql})
),
bat AS (SELECT a.* FROM assigned a JOIN member USING (vec_id)),
idx0 AS (SELECT a.* FROM assigned a ANTI JOIN member USING (vec_id)){cap},
wit AS (
  SELECT vec_id, e, cell, 0 AS src FROM {idx_src}
  UNION ALL
  SELECT vec_id, e, cell, 1 AS src FROM bat
),
sw AS (SELECT vec_id, e, cell, src,
       sqrt(list_sum(list_transform(e, y -> y * y))) AS n FROM wit),
sb AS (SELECT vec_id, e, cell,
       sqrt(list_sum(list_transform(e, y -> y * y))) AS n FROM bat),
pairs AS (
  SELECT w.vec_id AS match_id, b.vec_id AS vec_id,
         ({dot_ab}) / (w.n * b.n) AS cosine
  FROM sw w JOIN sb b ON w.cell = b.cell
   AND (w.src = 0 OR w.vec_id < b.vec_id)
  WHERE ({dot_ab}) / (w.n * b.n) >= {_sql_double(threshold)}
),
best AS (
  SELECT vec_id, match_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY match_id ASC) AS rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT b.vec_id, best.match_id IS NOT NULL AS is_dup,
       COALESCE(best.match_id, -1) AS match_id,
       COALESCE(best.cosine, 0e0) AS cosine
FROM bat b LEFT JOIN best USING (vec_id)"""


def decontaminate_semantic(
    corpus: DataFrame,
    evals: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC decontamination — the embedding arm of the
    decontamination family (`contamination.decontaminate` = exact
    n-gram, `fuzzy_decontaminate_from_sketches` = MinHash; this =
    embedding cosine): flag every corpus vector within ``threshold``
    cosine of ANY eval/benchmark vector, so paraphrased or translated
    leaks that share no n-grams still surface. One row per contaminated
    corpus vector: (vec_id, eval_vec_id, cosine) with the MINIMAL eval
    witness id (deterministic, the semantic-dedup rule).

    Scale posture: the corpus side takes only its row-local assignment
    fold and never shuffles for the match — the (tiny) eval side is
    assigned, multi-probed (``n_probes`` widens recall exactly as in
    :func:`knn_label`) and BROADCAST into the corpus scan's cell
    equi-join; the one exchange is the narrow min-witness window on
    flagged rows (O(contaminated), not O(corpus)). Cells-∝-corpus via
    the partitioned assigner composes the same way when flat-codebook
    occupancy grows. No corpus-side cap: a cap would silently HIDE
    contamination, the opposite of this operator's contract.

    Reference scope: brief-commissioned LLM-pipeline operator (the
    reference engine has no embedding surface).
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        as_double(vec_col).alias("_cv"),
    ).withColumn("cell", centroid_cell("_cv", centroids))
    c = c.withColumn("_cn", norm("_cv"))
    q = evals.select(
        F.col(id_col).alias("eval_vec_id"),
        as_double(vec_col).alias("_qv"),
    ).withColumn("_qn", norm("_qv"))
    if n_probes <= 1:
        q = q.withColumn("cell", centroid_cell("_qv", centroids))
    else:
        q = q.withColumn(
            "cell", F.explode(top_p_centroid_cells("_qv", centroids, n_probes))
        )
    flagged = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("eval_vec_id"))
        .withColumn(
            "cosine",
            dot("_cv", "_qv") / (F.col("_cn") * F.col("_qn")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("eval_vec_id"))
    return (
        flagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "eval_vec_id", "cosine")
    )


def decontaminate_semantic_oracle_sql(
    centroids: list[list[float]],
    threshold: float,
    n_probes: int = 1,
    eval_mod: int = 25,
) -> str:
    """The DuckDB twin of :func:`decontaminate_semantic` over the
    pre-registered ``embeddings`` view, with the corpus/eval split on
    the ``vec_id % eval_mod`` device (eval = the sampled rows, corpus =
    the rest — the knn_label split mirrored)."""
    cos = (
        "({d}) / ((sqrt({na})) * (sqrt({nb})))".format(
            d="list_sum(list_transform(range(1, len(qv) + 1), j -> qv[j] * e[j]))",
            na="list_sum(list_transform(range(1, len(qv) + 1), j -> qv[j] * qv[j]))",
            nb="list_sum(list_transform(range(1, len(e) + 1), j -> e[j] * e[j]))",
        )
    )
    prefix, _ = _assignment_cte_sql(centroids, None)
    return f"""WITH {prefix},
corpus AS (
  SELECT vec_id, e, cell FROM assigned WHERE vec_id % {eval_mod} != 0
),
q AS (
  SELECT vec_id AS eval_vec_id, e AS qv, CAST(ci AS BIGINT) AS cell
  FROM ranked WHERE vec_id % {eval_mod} = 0 AND crn <= {n_probes}
),
flagged AS (
  SELECT c.vec_id, q.eval_vec_id, {cos} AS cosine
  FROM q JOIN corpus c USING (cell) WHERE c.vec_id != q.eval_vec_id
)
SELECT vec_id, eval_vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY eval_vec_id ASC) AS rn
  FROM flagged WHERE cosine >= {_sql_double(threshold)}
) WHERE rn = 1"""


def semantic_admit_probed(
    index: DataFrame,
    batch: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_sig_bits: int,
    threshold: float,
    n_flip: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """:func:`semantic_admit` over the signature-partitioned assignment
    WITH batch-side multi-probe (the admission arm of
    :func:`semantic_dedup_probed`'s recovery): a batch vector whose
    signature differs from a stored near-duplicate's in exactly one of
    the first ``n_flip`` bits still finds it — without probing, the
    partition's (1−θ/π)^b trade silently ADMITS such duplicates, the
    exact failure the admission loop exists to prevent. Probing is
    single-sided (targets probe into witness homes), so each (witness,
    target) pair meets at most once — no dedup gate needed beyond the
    existing lower-id rule. Verdict contract identical to
    :func:`semantic_admit`."""
    if n_flip is None:
        n_flip = n_sig_bits
    if not 0 <= n_flip <= n_sig_bits:
        raise ValueError(
            f"semantic_admit_probed: n_flip={n_flip} outside [0, {n_sig_bits}]"
        )
    n_fine = sum(len(f) for f in fines)
    return semantic_admit_assigned_probed(
        assign_cells_partitioned(
            index, coarse, fines, n_sig_bits, id_col=id_col, vec_col=vec_col
        ),
        assign_cells_partitioned(
            batch, coarse, fines, n_sig_bits, id_col=id_col, vec_col=vec_col
        ),
        threshold,
        n_fine=n_fine,
        n_flip=n_flip,
        max_cell_size=max_cell_size,
        broadcast_batch=broadcast_batch,
    )


def semantic_admit_assigned_probed(
    idx: DataFrame,
    bat: DataFrame,
    threshold: float,
    n_fine: int,
    n_flip: int,
    max_cell_size: int | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """:func:`semantic_admit_assigned` with batch-side 1-flip probes
    over composite cell ids (the streaming loop's pre-assigned shape —
    a stored index with persisted composite (cell, n) plugs in
    unchanged; only the TARGET side fans out ≤(n_flip+1)×, so the index
    still pays one scan + cap window per trigger)."""
    if n_flip == 0:
        return semantic_admit_assigned(
            idx, bat, threshold,
            max_cell_size=max_cell_size, broadcast_batch=broadcast_batch,
        )
    if max_cell_size is not None:
        idx = _sample_cells_to_cap(idx, max_cell_size, id_col="vec_id")
    wit = idx.withColumn("_src", F.lit(0)).unionByName(
        bat.withColumn("_src", F.lit(1))
    )
    wit = wit.select(
        F.col("vec_id").alias("match_id"),
        "cell",
        F.col("_v").alias("_wv"),
        F.col("n").alias("_wn"),
        "_src",
    )
    # targets probe: home cell + the n_flip cells at signature Hamming
    # distance 1 — distinct cells, so each (witness, target) pair meets
    # through exactly one join key.
    tgt = bat.select(
        "vec_id",
        F.explode(
            F.concat(
                F.array(F.col("cell")),
                _probe_cells("cell", n_fine, n_flip),
            )
        ).alias("cell"),
        F.col("_v").alias("_bv"),
        F.col("n").alias("_bn"),
    )
    if broadcast_batch:
        tgt = F.broadcast(tgt)
    pairs = (
        wit.join(tgt, "cell")
        .filter((F.col("_src") == 0) | (F.col("match_id") < F.col("vec_id")))
        .withColumn(
            "cosine",
            dot("_wv", "_bv") / (F.col("_wn") * F.col("_bn")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("match_id"))
    best = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "match_id", "cosine")
    )
    return (
        bat.select("vec_id")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            F.col("match_id").isNotNull().alias("is_dup"),
            F.coalesce(F.col("match_id"), F.lit(-1).cast("bigint")).alias("match_id"),
            F.coalesce(F.col("cosine"), F.lit(0.0)).alias("cosine"),
        )
    )


def semantic_admit_probed_oracle_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_sig_bits: int,
    threshold: float,
    batch_limit_sql: str,
    salt: str,
    n_flip: int | None = None,
    max_cell_size: int | None = None,
) -> str:
    """The DuckDB twin of :func:`semantic_admit_probed` over the
    pre-registered ``embeddings`` view — the partitioned assignment
    CTEs, the text family's count-bounded member device, and the
    batch-target probe CTE restating the ÷/mod/xor closed form."""
    if n_flip is None:
        n_flip = n_sig_bits
    prefix, _ = partitioned_assignment_cte_sql(coarse, fines, n_sig_bits, None)
    dot_ab = "list_sum(list_transform(range(1, len(w.e) + 1), j -> w.e[j] * b.e[j]))"
    cap, idx_src = _cap_cte_sql(max_cell_size, src="idx0", name="idx")
    nf = n_fine_sql(fines)
    if n_flip > 0:
        flips = ", ".join(str(1 << i) for i in range(n_flip))
        probe_cte = f""",
sbp AS (
  SELECT vec_id, e, cell, n FROM sb
  UNION ALL
  SELECT vec_id, e,
         xor(cell // {nf}, f.flip) * {nf} + (cell % {nf}) AS cell, n
  FROM sb, (SELECT unnest([{flips}]) AS flip) f
)"""
        tgt_src = "sbp"
    else:
        probe_cte = ""
        tgt_src = "sb"
    return f"""WITH {prefix},
member AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5('{salt}:' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT ({batch_limit_sql})
),
bat AS (SELECT a.* FROM assigned a JOIN member USING (vec_id)),
idx0 AS (SELECT a.* FROM assigned a ANTI JOIN member USING (vec_id)){cap},
wit AS (
  SELECT vec_id, e, cell, 0 AS src FROM {idx_src}
  UNION ALL
  SELECT vec_id, e, cell, 1 AS src FROM bat
),
sw AS (SELECT vec_id, e, cell, src,
       sqrt(list_sum(list_transform(e, y -> y * y))) AS n FROM wit),
sb AS (SELECT vec_id, e, cell,
       sqrt(list_sum(list_transform(e, y -> y * y))) AS n FROM bat){probe_cte},
pairs AS (
  SELECT w.vec_id AS match_id, b.vec_id AS vec_id,
         ({dot_ab}) / (w.n * b.n) AS cosine
  FROM sw w JOIN {tgt_src} b ON w.cell = b.cell
   AND (w.src = 0 OR w.vec_id < b.vec_id)
  WHERE ({dot_ab}) / (w.n * b.n) >= {_sql_double(threshold)}
),
best AS (
  SELECT vec_id, match_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY match_id ASC) AS rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT b.vec_id, best.match_id IS NOT NULL AS is_dup,
       COALESCE(best.match_id, -1) AS match_id,
       COALESCE(best.cosine, 0e0) AS cosine
FROM bat b LEFT JOIN best USING (vec_id)"""


def assign_cells_banded(
    corpus: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_bands: int,
    band_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`assign_cells` over the banded-OR construction — the SAME
    (vec_id, _v, cell, n) contract but ``n_bands`` rows per vector (one
    per band cell, :func:`with_banded_cells`), so a stored banded index
    persists r narrow rows per vector and every downstream step stays
    the standard capped cell equi-join."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    )
    c = with_banded_cells(c, coarse, fines, n_bands, band_bits)
    return c.withColumn("n", norm("_v"))


def semantic_admit_banded(
    index: DataFrame,
    batch: DataFrame,
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_bands: int,
    band_bits: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """:func:`semantic_admit` over the banded-OR signature construction
    (the admission arm of :func:`semantic_dedup_banded`, as
    :func:`semantic_admit_probed` is of the probed dedup): a batch
    vector finds a stored near-duplicate iff ANY of the ``n_bands``
    independent ``band_bits``-bit signatures agrees on its trained cell
    — misses decay geometrically in r instead of being confined to
    Hamming radius 1, the measured-better trade at matched fan-out
    (SCALING.md r12: banded r=7 recall 0.673 vs full 1-flip's 0.577 at
    the same 7× at sf1/b=6). Both sides explode to their band cells
    (r× rows, vs the probed form's target-side (n_flip+1)×); a pair
    agreeing in several bands meets once per agreeing band and the
    min-witness window keeps one deterministic verdict. Cap semantics
    are PER BAND BUCKET on the index side (the banded dedup posture —
    a vector capped out of one band still witnesses through its
    others). Verdict contract identical to :func:`semantic_admit`.
    ``n_bands=1, band_bits=b`` is bit-equal to the unprobed partitioned
    admission (band 0 folds hyperplanes [0, b), exactly
    :func:`assign_cells_partitioned`'s bits — test-locked)."""
    return semantic_admit_assigned_banded(
        assign_cells_banded(
            index, coarse, fines, n_bands, band_bits,
            id_col=id_col, vec_col=vec_col,
        ),
        assign_cells_banded(
            batch, coarse, fines, n_bands, band_bits,
            id_col=id_col, vec_col=vec_col,
        ),
        threshold,
        max_cell_size=max_cell_size,
        broadcast_batch=broadcast_batch,
    )


def semantic_admit_assigned_banded(
    idx: DataFrame,
    bat: DataFrame,
    threshold: float,
    max_cell_size: int | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """:func:`semantic_admit_assigned` over PRE-ASSIGNED banded frames
    (the :func:`assign_cells_banded` shape, r rows per vector): same
    witness/target wiring, with the two banded deltas — the verdict
    spine is the batch's DISTINCT ids (each batch vector carries r
    rows), and duplicate (witness, target) meetings across agreeing
    bands collapse in the existing min-witness window (the repeated
    rows are identical, so the pick stays deterministic)."""
    if max_cell_size is not None:
        idx = _sample_cells_to_cap(idx, max_cell_size, id_col="vec_id")
    wit = idx.withColumn("_src", F.lit(0)).unionByName(
        bat.withColumn("_src", F.lit(1))
    )
    wit = wit.select(
        F.col("vec_id").alias("match_id"),
        "cell",
        F.col("_v").alias("_wv"),
        F.col("n").alias("_wn"),
        "_src",
    )
    tgt = bat.select(
        "vec_id", "cell", F.col("_v").alias("_bv"), F.col("n").alias("_bn")
    )
    if broadcast_batch:
        tgt = F.broadcast(tgt)
    pairs = (
        wit.join(tgt, "cell")
        .filter((F.col("_src") == 0) | (F.col("match_id") < F.col("vec_id")))
        .withColumn(
            "cosine",
            dot("_wv", "_bv") / (F.col("_wn") * F.col("_bn")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("match_id"))
    best = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "match_id", "cosine")
    )
    return (
        bat.select("vec_id")
        .distinct()
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            F.col("match_id").isNotNull().alias("is_dup"),
            F.coalesce(F.col("match_id"), F.lit(-1).cast("bigint")).alias("match_id"),
            F.coalesce(F.col("cosine"), F.lit(0.0)).alias("cosine"),
        )
    )


def semantic_admit_banded_oracle_sql(
    coarse: list[list[float]],
    fines: list[list[list[float]]],
    n_bands: int,
    band_bits: int,
    threshold: float,
    batch_limit_sql: str,
    salt: str,
    max_cell_size: int | None = None,
) -> str:
    """The DuckDB twin of :func:`semantic_admit_banded` over the
    pre-registered ``embeddings`` view — the banded assignment CTEs
    (each band's sig bits through the ONE shared
    ``similarity.hyperplane_bit_sql`` formula), the text family's
    count-bounded member device, the per-band-bucket cap on the index
    side, and the DISTINCT batch spine."""
    prefix, banded_src = banded_assignment_cte_sql(
        coarse, fines, n_bands, band_bits, None
    )
    dot_ab = "list_sum(list_transform(range(1, len(w.e) + 1), j -> w.e[j] * b.e[j]))"
    cap, idx_src = _cap_cte_sql(max_cell_size, src="idx0", name="idx")
    return f"""WITH {prefix},
member AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5('{salt}:' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT ({batch_limit_sql})
),
bat AS (SELECT a.* FROM {banded_src} a JOIN member USING (vec_id)),
idx0 AS (SELECT a.* FROM {banded_src} a ANTI JOIN member USING (vec_id)){cap},
wit AS (
  SELECT vec_id, e, cell, 0 AS src FROM {idx_src}
  UNION ALL
  SELECT vec_id, e, cell, 1 AS src FROM bat
),
sw AS (SELECT vec_id, e, cell, src,
       sqrt(list_sum(list_transform(e, y -> y * y))) AS n FROM wit),
sb AS (SELECT vec_id, e, cell,
       sqrt(list_sum(list_transform(e, y -> y * y))) AS n FROM bat),
pairs AS (
  SELECT w.vec_id AS match_id, b.vec_id AS vec_id,
         ({dot_ab}) / (w.n * b.n) AS cosine
  FROM sw w JOIN sb b ON w.cell = b.cell
   AND (w.src = 0 OR w.vec_id < b.vec_id)
  WHERE ({dot_ab}) / (w.n * b.n) >= {_sql_double(threshold)}
),
best AS (
  SELECT vec_id, match_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY match_id ASC) AS rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT b.vec_id, best.match_id IS NOT NULL AS is_dup,
       COALESCE(best.match_id, -1) AS match_id,
       COALESCE(best.cosine, 0e0) AS cosine
FROM (SELECT DISTINCT vec_id FROM bat) b LEFT JOIN best USING (vec_id)"""
