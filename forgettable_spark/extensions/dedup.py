"""Deduplication operators over the ``documents`` table.

Four families, each a standard large-corpus dedup technique re-expressed
as declarative Spark plans:

- **exact** — group by content hash; one shuffle of (hash, doc_id) pairs.
- **MinHash + LSH** — shingle → k-min-hash signature (row-local) → band
  keys → equi-join on band buckets (the shuffle touches only (band_key,
  doc_id), never the text) → verify candidates with true Jaccard.
- **n-gram Jaccard** — brute-force verified pairs inside a blocking key
  (default: ``lang``); the quadratic baseline the LSH path approximates.
- **SimHash** — 60-bit sign-of-weighted-sum sketch, near-dup
  candidates via the byte-block pigeonhole (hamming ≤ 3 ⇒ some byte of 4
  equal), verified with ``bit_count(xor)``.

At 100 TB the LSH/SimHash paths are the real ones: their joins shuffle
fixed-width keys, candidates are a vanishing fraction of n², and every
per-document sketch is computed in one codegen stage at scan time. The
brute-force variant exists as the correctness baseline and for small
blocks.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from forgettable_spark.extensions.text import shingles, tokens
from forgettable_spark.functions.cache import scoped_cache

logger = logging.getLogger("forgettable_spark.extensions")


#: Dropped-bucket reports queued by cap_hot_buckets, run by
#: flush_bucket_reports. Bounded so an unflushed library session cannot
#: accumulate plan references without limit.
_PENDING_REPORTS: list[tuple[str, int, DataFrame]] = []
_MAX_PENDING_REPORTS = 32


def cap_hot_buckets(
    df: DataFrame,
    key_cols: list[str],
    max_bucket_size: int | None,
    label: str = "candidate join",
    log_dropped: bool = True,
) -> DataFrame:
    """Exclude rows whose bucket key holds more than ``max_bucket_size``
    rows — the guard that keeps candidate generation bounded on skewed
    corpora. A boilerplate-heavy corpus can put 10⁶ documents under one
    LSH band key (or one SimHash byte, or one IVF bucket); without a cap
    that single bucket self-joins into 10¹² candidate pairs and kills the
    job. Dropping the bucket costs recall on exactly the documents whose
    near-dup signal is weakest (they collide with *everything*), which is
    the standard trade.

    The cap is one window count over the same key the candidate join
    shuffles on — no extra shuffle. ``log_dropped`` (default) queues a
    LAZY report derived from that same window count (rows over the cap;
    bucket count recovered as ``sum(1/bucket_n)``, exactly 1 per bucket —
    no second groupBy over the input, and nothing executes at
    construction time, so the returned DataFrame stays lazy). The report
    runs when :func:`flush_bucket_reports` is called — automatically at
    the end of every ``run_released`` query, while the sketch caches that
    feed it are still hot. Dropped data is logged, not silent; pass
    ``False`` to skip entirely.
    """
    if max_bucket_size is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    with_n = df.withColumn("_bucket_n", F.count("*").over(w))
    capped = with_n.filter(F.col("_bucket_n") <= max_bucket_size).drop("_bucket_n")
    if log_dropped:
        report = (
            with_n.filter(F.col("_bucket_n") > max_bucket_size)
            .agg(
                F.count("*").alias("n_rows"),
                F.round(F.sum(F.lit(1.0) / F.col("_bucket_n")))
                .cast("bigint")
                .alias("n_buckets"),
            )
        )
        _PENDING_REPORTS.append((label, max_bucket_size, report))
        if len(_PENDING_REPORTS) > _MAX_PENDING_REPORTS:
            evicted = _PENDING_REPORTS[: len(_PENDING_REPORTS) - _MAX_PENDING_REPORTS]
            del _PENDING_REPORTS[: len(_PENDING_REPORTS) - _MAX_PENDING_REPORTS]
            for ev_label, ev_cap, _ in evicted:
                # The report itself is discarded unflushed, but the DROP
                # stays recorded — cap_hot_buckets promises "logged, not
                # silent" even when a library session never flushes.
                logger.warning(
                    "%s: dropped-bucket report (cap %d) evicted unflushed — "
                    "call flush_bucket_reports() sooner to keep row counts",
                    ev_label,
                    ev_cap,
                )
    return capped


def cap_hot_buckets_agg(
    df: DataFrame,
    key_cols: list[str],
    max_bucket_size: int | None,
    label: str = "candidate join",
    log_dropped: bool = True,
) -> DataFrame:
    """:func:`cap_hot_buckets` as an aggregation + broadcast anti-join:
    identical output rows, but ZERO full-table shuffle of ``df``. The
    window form repartitions the whole input by the bucket key — the
    right trade when a following self-join needs that exact exchange
    anyway (Catalyst reuses it: every batch dedup path). This form keeps
    ``df`` entirely map-side: bucket counts flow through a partial
    (map-side) aggregation whose exchange carries ONE row per bucket,
    the over-cap bucket list broadcasts (a few keys by construction —
    buckets above the cap are the pathology, not the norm), and the
    filter is a broadcast anti-join in the scan stage. Use it when the
    capped table would otherwise never shuffle — the admission loop's
    corpus-scale sketch index under a broadcast band join
    (:func:`incremental_admit_from_sketches`), where the window form
    would add the ONLY corpus-wide exchange of the whole ingest path.

    Caveat vs the window form: an anti-join drops no NULL-keyed rows
    (NULL matches nothing), while a window groups them; every caller's
    bucket keys (band md5s, SimHash blocks) are non-NULL, so the outputs
    are identical where the function is used. Dropped-bucket reporting
    is the same queue-and-flush contract.
    """
    if max_bucket_size is None:
        return df
    hot = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bucket_n"))
        .filter(F.col("_bucket_n") > max_bucket_size)
    )
    # name-based anti join puts the join keys first — restore the
    # input's column order so the variant is a drop-in for the window form
    capped = df.join(F.broadcast(hot.select(*key_cols)), key_cols, "left_anti").select(
        *df.columns
    )
    if log_dropped:
        report = hot.agg(
            F.coalesce(F.sum("_bucket_n"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        _PENDING_REPORTS.append((label, max_bucket_size, report))
        if len(_PENDING_REPORTS) > _MAX_PENDING_REPORTS:
            evicted = _PENDING_REPORTS[: len(_PENDING_REPORTS) - _MAX_PENDING_REPORTS]
            del _PENDING_REPORTS[: len(_PENDING_REPORTS) - _MAX_PENDING_REPORTS]
            for ev_label, ev_cap, _ in evicted:
                logger.warning(
                    "%s: dropped-bucket report (cap %d) evicted unflushed — "
                    "call flush_bucket_reports() sooner to keep row counts",
                    ev_label,
                    ev_cap,
                )
    return capped


def flush_bucket_reports() -> int:
    """Run every queued dropped-bucket report and log a warning for each
    cap that actually dropped rows; returns the number of warnings.

    Each report is one small aggregation job over the capped table's
    window count. Call it right after the consuming action, while any
    sketch caches feeding the candidate table are still populated (the
    ``run_released`` wrapper does exactly this); flushing cold re-executes
    the upstream pipeline once.
    """
    n_warned = 0
    while _PENDING_REPORTS:
        label, cap, report = _PENDING_REPORTS.pop(0)
        row = report.first()
        if row is not None and row["n_rows"]:
            logger.warning(
                "%s: dropped %d hot bucket(s) totalling %d rows over cap %d",
                label,
                row["n_buckets"],
                row["n_rows"],
                cap,
            )
            n_warned += 1
    return n_warned


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash.

    Returns (doc_id, fp_md5, group_size, is_canonical): ``is_canonical``
    marks the minimum doc_id of each identical-content group — the row a
    dedup pass would keep. One hash-aggregate shuffle on fp_md5.
    """
    from pyspark.sql import Window

    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp_md5"))
    # NULL text: md5 is NULL, and a window partitioned on it would lump
    # every NULL-text row into ONE group — wrong (SQL NULL matches
    # nothing) and a single-partition skew bomb on a NULL-heavy corpus.
    # Grouping on (is-null, md5-or-id) keeps each NULL row a singleton.
    group_key = F.coalesce(F.col("fp_md5"), F.col(id_col).cast("string"))
    w = Window.partitionBy(F.col("fp_md5").isNull(), group_key)
    return (
        hashed.withColumn("group_size", F.count("*").over(w).cast("bigint"))
        .withColumn("keeper", F.min(id_col).over(w))
        .select(
            id_col,
            "fp_md5",
            "group_size",
            (F.col(id_col) == F.col("keeper")).alias("is_canonical"),
        )
    )


def _band_keys(mh: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: md5 of each band's concatenated signature rows."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.element_at(mh, b * rows_per_band + r + 1) for r in range(rows_per_band)]
                )
            )
            for b in range(bands)
        ]
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Set Jaccard of two shingle arrays (distinct semantics, DOUBLE)."""
    a = F.array_distinct(sh_a)
    b = F.array_distinct(sh_b)
    return _jaccard_distinct(a, b, F.size(a).cast("bigint"), F.size(b).cast("bigint"))


def _verify_candidate_pairs(
    cand: DataFrame, sh_only: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared verification stage for candidate-generation dedup paths
    (LSH bands, prefix filter): join the full distinct shingle sets back
    onto (doc_a, doc_b) candidates, compute exact Jaccard, filter.
    ``sh_only`` must have columns (id_col, shd, nsh)."""
    return (
        cand.join(
            sh_only.select(
                F.col(id_col).alias("doc_a"), F.col("shd").alias("sh_a"), F.col("nsh").alias("na")
            ),
            "doc_a",
        )
        .join(
            sh_only.select(
                F.col(id_col).alias("doc_b"), F.col("shd").alias("sh_b"), F.col("nsh").alias("nb")
            ),
            "doc_b",
        )
        .withColumn(
            "jaccard", _jaccard_distinct(F.col("sh_a"), F.col("sh_b"), F.col("na"), F.col("nb"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard_distinct(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Jaccard over already-distinct arrays with known sizes:
    ``|A∩B| / (|A| + |B| - |A∩B|)`` — one array_intersect per pair instead
    of distinct×2 + intersect + union. Same integer operands, so the
    resulting double is bit-identical to the naive formula."""
    inter = F.size(F.array_intersect(a, b)).cast("bigint")
    return inter.cast("double") / (na + nb - inter).cast("double")


def _minhash_sketches(
    docs: DataFrame, text_col: str, id_col: str, k: int, keep_tokens: bool = False
) -> DataFrame:
    """Per-document MinHash sketch frame (id, shd, mh): distinct shingle
    set + k-element signature, row-local. NULL text is excluded here
    (its shingle set would be [NULL], and array_intersect treats NULL
    elements as equal — two NULL docs would verify at jaccard 1.0).
    Shared by the batch self-join and the incremental admit paths.

    ``keep_tokens`` keeps the token array (``_w``) AND the raw text
    (``_t``) as columns: the admission loop's spine maintenance derives
    its postings and SimHash deltas from the SAME checkpointed frame
    instead of re-reading and re-splitting the admitted text
    (VERDICT r6 #2). shd/mh are bit-identical either way — the shingle
    chain below consumes the identical token expression."""
    from forgettable_spark.extensions.text import (
        minhash_signature_from_base,
        shingle_hash,
        shingles_from_tokens,
        tokens,
    )

    ne = docs.filter(F.col(text_col).isNotNull())
    extra = [tokens(F.col(text_col)).alias("_w")] if keep_tokens else []
    sketch_src = F.col("_w") if keep_tokens else tokens(F.col("_t"))
    out = (
        ne.select(F.col(id_col), *extra, F.col(text_col).alias("_t"))
        .withColumn("sh", shingles_from_tokens(sketch_src, F.col("_t")))
        .withColumn("shd", F.array_distinct(F.col("sh")))
        .withColumn("_base", F.transform(F.col("shd"), shingle_hash))
        .withColumn("mh", minhash_signature_from_base(F.col("_base"), k))
        .drop("sh", "_base")
    )
    return out if keep_tokens else out.drop("_t")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    persist: bool = True,
    max_bucket_size: int | None = None,
    log_dropped: bool = True,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, Jaccard-verified.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard >= threshold. With k=12, b=4 (r=3) the LSH S-curve catches
    J=0.8 pairs with P ≈ 1-(1-0.8³)³⁺ ≈ 0.94 per band set — candidates
    sharing any band are then verified exactly, so precision is 1.0 and
    only recall depends on the sketch.

    Plan: sketches are row-local; the only shuffles are the band-bucket
    equi-join on md5 keys and a distinct on candidate pairs. The text
    rejoins only for the (small) candidate set — at corpus scale the n²
    never materializes. ``max_bucket_size`` drops (band, key) buckets
    larger than the cap before the self-join (see
    :func:`cap_hot_buckets`) — the skew guard for boilerplate-heavy
    corpora where one band key would otherwise collect a huge slice of
    the corpus and square it.
    """
    # NULL text must match nothing: its shingle set is [NULL], and
    # array_intersect treats NULL elements as equal — two NULL docs would
    # verify at jaccard 1.0. Excluded before sketching.
    sigs = _minhash_sketches(docs, text_col, id_col, k)
    # The sketch table feeds three plan branches (band explode + both
    # verify join-backs); without persistence each branch re-shingles and
    # re-hashes the corpus. Caching the per-doc sketch is the standard
    # LSH-job shape — it is O(#docs · k), tiny next to the corpus.
    # scoped_cache: a plain cache for library callers (who own the
    # lifecycle), released automatically when built under run_released
    # (the registered-query path — no storage outlives the query).
    if persist:
        sigs = scoped_cache(sigs)
    return minhash_lsh_pairs_from_sketches(
        sigs,
        id_col=id_col,
        k=k,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        log_dropped=log_dropped,
    )


def minhash_lsh_pairs_from_sketches(
    sigs: DataFrame,
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    log_dropped: bool = True,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` over a PRE-BUILT wide sketch frame
    (id, shd, mh — :func:`_minhash_sketches`'s shape): the self-join
    half of the sketch-reuse API that :func:`incremental_admit_from_sketches`
    already provides for the admission half. Callers own the sketch
    frame's lifecycle (cache / checkpoint / store) — the streaming
    admission loop computes ONE sketch per micro-batch and feeds it to
    both passes plus the index write."""
    rows_per_band = k // bands
    banded = sigs.select(
        id_col,
        F.posexplode(_band_keys(F.col("mh"), bands, rows_per_band)).alias("band", "key"),
    )
    banded = cap_hot_buckets(
        banded, ["band", "key"], max_bucket_size, "minhash_lsh_pairs", log_dropped
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b"))
        .distinct()
    )
    sh_only = sigs.select(id_col, "shd").withColumn("nsh", F.size("shd").cast("bigint"))
    return _verify_candidate_pairs(cand, sh_only, id_col, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    threshold: float = 0.8,
    persist: bool = True,
) -> DataFrame:
    """Brute-force n-gram Jaccard near-dup pairs within a blocking key.

    Exact, but NOT quadratic: a prefix-filtered set-similarity join
    (PPJoin-style). Under any fixed total order of shingles, two sets
    with ``J(A,B) >= t`` MUST share an element among their first
    ``|X| - ceil(t·|X|) + 1`` sorted elements — so only that prefix is
    indexed, the self-join on ``(block, prefix-shingle)`` produces a
    candidate set orders of magnitude below the co-occurrence index of
    all shingles (let alone |block|²), and candidates are then verified
    exactly against the full shingle sets. Two further prunes that
    cannot change results: the Jaccard size bound
    ``J <= min(|A|,|B|)/max(|A|,|B|)`` in the join condition, and
    blocking on ``block_col`` (near-identical docs share language).
    The LSH variant remains the probabilistic alternative when even the
    prefix index is too wide.
    """
    # Same NULL contract as the LSH path: NULL shingle sets would
    # Jaccard-match each other via array_intersect's NULL-equality.
    docs = docs.filter(F.col(text_col).isNotNull())
    sh = (
        docs.select(
            F.col(id_col), F.col(block_col).alias("_block"), shingles(F.col(text_col)).alias("sh")
        )
        .withColumn("shd", F.array_sort(F.array_distinct(F.col("sh"))))
        .withColumn("nsh", F.size("shd").cast("bigint"))
        .drop("sh")
    )
    if persist:  # feeds the prefix index and both verify join-backs
        sh = scoped_cache(sh)
    return ngram_jaccard_pairs_from_shingled(sh, id_col=id_col, threshold=threshold)


def ngram_jaccard_pairs_from_shingled(
    sh: DataFrame, id_col: str = "doc_id", threshold: float = 0.8
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` over a PRE-BUILT shingled frame
    (id, _block, shd SORTED-distinct, nsh) — the exact-join half of the
    shared-scan API: a gauge comparing the exact and LSH pair sets can
    shingle the corpus ONCE and feed both branches (sorted order is
    irrelevant to the MinHash min-fold and to intersect counts, so
    results are bit-identical either way). Callers own the frame's
    lifecycle (cache/persist)."""
    prefix_len = (
        F.col("nsh") - F.ceil(F.lit(threshold) * F.col("nsh").cast("double")) + F.lit(1)
    ).cast("int")
    inv = sh.select(
        id_col,
        "_block",
        "nsh",
        F.explode(F.slice(F.col("shd"), F.lit(1), prefix_len)).alias("shingle"),
    )
    a = inv.alias("a")
    b = inv.alias("b")
    size_bound = F.least(F.col("a.nsh"), F.col("b.nsh")).cast("double") >= F.lit(
        threshold
    ) * F.greatest(F.col("a.nsh"), F.col("b.nsh")).cast("double")
    cand = (
        a.join(
            b,
            (F.col("a._block") == F.col("b._block"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_bound,
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    return _verify_candidate_pairs(cand, sh.select(id_col, "shd", "nsh"), id_col, threshold)


# --- Chunk-level exact dedup -------------------------------------------


def chunk_array(text: Column, width: int = 20) -> Column:
    """Non-overlapping ``width``-token chunk texts as an array — the
    shared chunking expression of batch :func:`chunk_dedup` and the
    streaming twin (:func:`forgettable_spark.streaming.forget_stream.
    streaming_chunk_dedup`), so ingest-time and batch passes can never
    disagree on chunk boundaries. Row-local; the tail chunk may be
    shorter than ``width``."""
    w = tokens(text)
    n_chunks = F.ceil(F.size(w) / F.lit(width)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * width + 1, width)),
    )


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 20,
) -> DataFrame:
    """Exact duplicate detection at sub-document granularity: fixed
    ``width``-token chunks, reported when the same chunk text appears
    more than once anywhere in the corpus.

    The training-data step document-level dedup misses: boilerplate
    headers, license blocks, and quoted passages repeat across otherwise
    distinct documents (the motivation for exact substring dedup in
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, which uses 50-token windows; fixed non-overlapping chunks
    are the cheap corpus-scale approximation of their suffix-array
    pass). A downstream pass can drop every non-canonical occurrence's
    span from its document.

    Returns one row per occurrence of a duplicated chunk:
    ``(doc_id, chunk_idx, chunk_md5, n_copies, is_canonical)`` with
    ``is_canonical`` marking the first occurrence in (doc_id,
    chunk_idx) order — O(duplicated occurrences), not O(corpus).

    Scale shape: chunking and hashing are row-local at scan time; the
    single shuffle is keyed by ``chunk_md5`` (fixed 32 chars — chunk
    TEXT never moves), and the count + canonical-rank windows share
    that one exchange. The final tail chunk may be shorter than
    ``width``; it participates as-is (deterministic, oracle-mirrored).
    """
    exploded = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(chunk_array(F.col(text_col), width)).alias(
            "chunk_idx", "_chunk"
        ),
    )
    hashed = exploded.select(
        id_col, "chunk_idx", F.md5(F.col("_chunk")).alias("chunk_md5")
    )
    from pyspark.sql import Window

    wdup = Window.partitionBy("chunk_md5")
    worder = wdup.orderBy(id_col, "chunk_idx")
    return (
        hashed.withColumn("n_copies", F.count("*").over(wdup).cast("bigint"))
        .withColumn("_rn", F.row_number().over(worder))
        .filter(F.col("n_copies") > 1)
        .select(
            id_col,
            F.col("chunk_idx").cast("bigint"),
            "chunk_md5",
            "n_copies",
            (F.col("_rn") == 1).alias("is_canonical"),
        )
    )


# --- SimHash -----------------------------------------------------------


#: SimHash geometry. 60 bits (not 64) so the packed sketch and the
#: per-token hash stay inside a SIGNED BIGINT in both engines (Spark
#: ``conv`` and DuckDB ``::BIGINT`` both overflow above 2^63); 4 blocks
#: of 15 bits satisfy the pigeonhole bound for hamming <= 3 (3 errors
#: can dirty at most 3 of 4 blocks). Block width is the SCALE knob:
#: random corpus-pair band collisions cost 1/2^width per band, so 8-bit
#: bands (the old 32-bit sketch's only option) made candidates grow
#: quadratically with corpus size — measured 2.5M -> 49.5M candidates
#: for 5k -> 50k docs, vs 272k -> 4.2M with 15-bit bands (SCALING.md
#: sf1 table). The same geometry as Manku et al.'s 64-bit/4-block
#: web-crawl configuration.
SIMHASH_BITS = 60
SIMHASH_BLOCK_BITS = 15
SIMHASH_BLOCKS = 4
_SIMHASH_BLOCK_MASK = (1 << SIMHASH_BLOCK_BITS) - 1


def token_hash60(t: Column) -> Column:
    """60-bit token hash: first 15 hex chars of md5, parsed to BIGINT.

    Oracle twin: ``('0x' || substr(md5(t), 1, 15))::BIGINT`` — both parse
    the same 15 hex chars, so values agree exactly.
    """
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")


def simhash_column(text: Column, token_hash=None) -> Column:
    """Row-local 60-bit SimHash as a single Column expression — the
    streaming-friendly twin of :func:`simhash_sketch`.

    Same sketch, different shape constraint: a stream can't run the
    batch path's explode + keyed aggregation before stateful dedup
    (chained stateful operators), so this folds the token-hash array
    with a per-bit accumulator entirely inside the row. Interpreted
    HOF evaluation makes it ~1.6× slower per byte than the batch
    aggregation — acceptable on a stream, where per-batch volume is
    small; batch jobs should use :func:`simhash_sketch`. Values are
    bit-identical between the two (asserted in tests).

    ``token_hash`` as in :func:`simhash_sketch`.
    """
    hashed = F.transform(tokens(text), token_hash or token_hash60)
    init = F.array(*[F.lit(0).cast("bigint") for _ in range(SIMHASH_BITS)])

    def merge(acc: Column, th: Column) -> Column:
        # bitwiseAND, not % 2: a signed hash (xxhash64) shifted right
        # sign-extends, and Spark's % keeps the dividend's sign — so
        # (th>>j) % 2 yields -1 for negative hashes and every vote would
        # read as "bit clear". & 1 extracts the bit for any sign.
        bits = F.array(
            *[
                F.shiftright(th, j).bitwiseAND(F.lit(1)) * 2 - 1
                for j in range(SIMHASH_BITS)
            ]
        )
        return F.zip_with(acc, bits, lambda a, b: a + b)

    votes = F.aggregate(hashed, init, merge)
    # Pack bits with ONE reference to the fold result: a per-element
    # when() zipped against bit weights, summed. Referencing `votes` 60
    # times (one per bit) would re-inline the whole interpreted fold per
    # bit — 60× the work.
    weights = F.array(*[F.lit(1 << j).cast("bigint") for j in range(SIMHASH_BITS)])
    flags = F.zip_with(
        votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("bigint"))
    )
    return F.aggregate(flags, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def simhash_sketch(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash=None,
    tokens_col: str | None = None,
) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash of the token multiset.

    Per token: 60 bits of :func:`token_hash60`; each occurrence votes
    +1/-1 per bit position; simhash bit j is 1 iff the vote sum is
    positive. NULL or empty text sketches to 0 (callers that must not
    match NULLs exclude them first — see :func:`simhash_pairs`).

    ``token_hash`` (Column → Column, default :func:`token_hash60`)
    exists because the default is an ORACLE-PARITY pin, not the fast
    path: md5+conv is the one token hash both this engine and DuckDB
    compute bit-identically, and it costs ~2 s of the sf1 corpus's
    ~4 s sketch stage (JVM MessageDigest per token occurrence). A
    production deployment with no cross-engine verification constraint
    should pass ``lambda t: F.xxhash64(t)`` — measured 5× cheaper per token with
    identical sketch geometry (bits 0..59 of the 64-bit hash).

    Shape: explode tokens → hash → grouped conditional sums (60 bit-vote
    columns) → pack bits. This deliberately trades the previous row-local
    per-bit ``aggregate`` fold for explode + hash aggregation: Spark
    evaluates higher-order functions interpreted (outside whole-stage
    codegen), and the measured end-to-end cost of the interpreted fold is
    ~1.6× the codegen'd aggregation on the same corpus. The aggregation's
    map-side partial collapses every doc's tokens inside the scan stage
    (a doc's tokens are co-located by construction), so the exchange
    carries ONE 60-counter row per document — the same order of shuffle
    the downstream candidate join (4 block rows per doc) already
    pays, bought for ~1.6× less CPU on the corpus-sized stage.

    ``tokens_col``: name of an ALREADY-TOKENIZED array column to explode
    instead of re-splitting ``text_col`` — the shared-scan entry for
    callers holding a materialized token projection (the combined spine
    build, the admission loop's checkpointed sketch frame). Same rows by
    construction (``tokens`` is a pure per-row split).
    """
    arr = F.col(tokens_col) if tokens_col is not None else tokens(F.col(text_col))
    ex = docs.select(F.col(id_col), F.explode_outer(arr).alias("_tok"))
    # Set-bit counts, not ±1 votes: sum((th>>j)&1) is half the per-token
    # arithmetic of sum(((th>>j)%2)*2-1), and the majority test
    # 2·ones_j > n_tokens is bit-identical to votes_j > 0 (a tie yields
    # bit 0 under both). n_tokens = count(_th) skips the NULL row
    # explode_outer emits for empty/NULL text, so those sketch to 0.
    # The 60 per-bit expressions are SQL strings, not stacked Column
    # calls: building shiftright/&/sum/alias through the Column API costs
    # ~5 py4j roundtrips per bit — ~1.7 s of PLAN CONSTRUCTION per call,
    # which the streaming admission loop pays EVERY micro-batch (it was
    # the single largest spine-maintenance cost at sf0.1 — SCALING.md
    # r7). expr() parses each string in one roundtrip to the identical
    # logical expression, so results and codegen are unchanged.
    votes = ex.select(
        F.col(id_col), (token_hash or token_hash60)(F.col("_tok")).alias("_th")
    ).groupBy(
        id_col
    ).agg(
        F.expr("count(_th) AS _n"),
        *[
            F.expr(f"sum(shiftright(_th, {j}) & 1) AS _v{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    sim_sql = " + ".join(
        f"if(_v{j} * 2 > _n, {1 << j}L, 0L)" for j in range(SIMHASH_BITS)
    )
    return votes.select(F.col(id_col), F.expr(sim_sql).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    persist: bool = False,
    max_bucket_size: int | None = None,
    log_dropped: bool = True,
    token_hash=None,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(a, b) <= max_hamming (default 3).
    ``token_hash`` as in :func:`simhash_sketch` (pass ``lambda t: F.xxhash64(t)``
    when cross-engine verifiability is not required).

    Candidate generation by the pigeonhole principle: the 60-bit sketch
    splits into 4 blocks of 15 bits; hamming <= 3 implies at least one
    block matches exactly, so candidates are an equi-join on
    (block_index, block_value) — fixed-width keys, no text shuffled.
    Verification is ``bit_count(xor) <= max_hamming``. Block width is
    what keeps the join linear in the corpus: a random non-dup pair
    collides on a 15-bit band with probability 1/32768 per band (the
    old 8-bit bands' 1/256 made candidates quadratic — SCALING.md sf1
    table). ``max_bucket_size`` drops (block, byte) buckets larger than
    the cap before the self-join (see :func:`cap_hot_buckets`) —
    near-identical boilerplate makes one block value dominate and the
    cap keeps that bucket from squaring.

    ``persist`` defaults to False: the sketch ends in the doc_id
    aggregation exchange (see :func:`simhash_sketch`), and both sides of
    the block self-join reuse that exchange (``ReusedExchange`` in the
    physical plan — plan-asserted in tests), so the sketch is computed
    once WITHOUT any storage-manager involvement. Caching would only add
    memory pressure.
    """
    # NULL text sketches to 0, so any two NULL-text docs would "match" at
    # hamming 0 — but verification here is sketch-only (no content
    # join-back), so they must be excluded up front: NULL matches nothing.
    docs = docs.filter(F.col(text_col).isNotNull())
    sk = simhash_sketch(docs, text_col, id_col, token_hash=token_hash)
    if persist:
        sk = scoped_cache(sk)
    return simhash_pairs_from_sketch(
        sk,
        id_col=id_col,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
        log_dropped=log_dropped,
    )


def simhash_pairs_from_sketch(
    sk: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    log_dropped: bool = True,
) -> DataFrame:
    """:func:`simhash_pairs` over a PRE-BUILT sketch frame
    (id, simhash — :func:`simhash_sketch`'s shape): the candidate-join
    half of the sketch-reuse API, same split as
    :func:`minhash_lsh_pairs_from_sketches`. Verification is sketch-only
    (``bit_count(xor)``), so a caller feeding a STORED sketch table
    (extensions/sketches.py) runs the whole near-dup pass without
    touching corpus text at all. Callers own the frame's lifecycle and
    its NULL contract (NULL-text documents must not be present — they
    sketch to 0 and would all match each other at hamming 0)."""
    blocked = sk.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), SIMHASH_BLOCK_BITS * i)
                    % (_SIMHASH_BLOCK_MASK + 1)
                    for i in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("block", "byte"),
    )
    blocked = cap_hot_buckets(
        blocked, ["block", "byte"], max_bucket_size, "simhash_pairs", log_dropped
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("sim_a ^ sim_b"))
    return (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_lsh_admit(
    existing: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    persist: bool = True,
    max_bucket_size: int | None = None,
    log_dropped: bool = True,
    broadcast_batch: bool = False,
) -> DataFrame:
    """Admission dedup: match a NEW batch against an EXISTING corpus —
    the shape production ingest actually runs. Batch-mode dedup
    (:func:`minhash_lsh_pairs`) re-pairs the whole corpus every run;
    an ingest pipeline instead asks, per incoming document, "is this a
    near-duplicate of anything already admitted?" and never compares
    existing documents with each other again.

    Returns ONE ROW PER BATCH DOCUMENT: (doc_id, is_dup, match_id,
    jaccard) where match_id is the best existing match (highest verified
    Jaccard >= threshold, ties on existing id ascending); unmatched
    documents carry the NULL-free sentinels match_id = -1, jaccard = 0.0
    (a NULL BIGINT would round-trip as NaN through dataframe bridges and
    break cross-engine hashing). NULL-text batch documents are admitted
    unmatched (NULL text matches nothing, the module-wide contract);
    batch-internal duplicates are NOT flagged here (they are the batch
    self-join's job — at ingest, run both).

    Scale posture: the candidate join is new-bands × existing-bands ONLY
    — no existing×existing pairs ever form, so per-batch cost is
    O(|batch| · bucket occupancy), not O(corpus). Sketch frames are
    NARROW — (id, mh), k BIGINTs per document — so caching or storing
    them is O(#docs · k); the exact-Jaccard verify re-shingles only the
    candidate documents from text (semi-join), never the corpus. A
    production deployment stores the narrow sketches as a table
    maintained by admission itself and calls
    :func:`incremental_admit_from_sketches` directly, at which point
    the per-batch corpus cost drops to the band join alone. Likewise,
    when existing and batch are slices of ONE frame, sketch it once and
    split the sketch table — two sketch passes over overlapping lineage
    would double the dominant shingling cost. ``max_bucket_size`` caps
    EXISTING-side band buckets (the corpus-sized side — a boilerplate
    band key would otherwise drag a huge existing slice onto every
    batch).
    """
    old_sigs = minhash_sketch_narrow(existing, text_col, id_col, k)
    new_sigs = minhash_sketch_narrow(batch, text_col, id_col, k)
    if persist:  # each side feeds its band explode; cache is k ints/doc
        old_sigs = scoped_cache(old_sigs)
        new_sigs = scoped_cache(new_sigs)
    return incremental_admit_from_sketches(
        old_sigs,
        new_sigs,
        existing,
        batch,
        text_col=text_col,
        id_col=id_col,
        k=k,
        bands=bands,
        threshold=threshold,
        persist=persist,
        max_bucket_size=max_bucket_size,
        log_dropped=log_dropped,
        broadcast_batch=broadcast_batch,
    )


def minhash_sketch_narrow(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 12
) -> DataFrame:
    """NARROW per-document MinHash sketch (id, mh): k BIGINTs per doc,
    no retained shingle arrays — the storable/cacheable admission-index
    shape. One projection over :func:`_minhash_sketches` (column pruning
    drops the shingle output; the signature still derives from the same
    single chain, so the two shapes cannot diverge). NULL text is
    excluded (module-wide contract)."""
    return _minhash_sketches(docs, text_col, id_col, k).select(id_col, "mh")


def incremental_admit_from_sketches(
    old_sigs: DataFrame,
    new_sigs: DataFrame,
    existing: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    persist: bool = True,
    max_bucket_size: int | None = None,
    log_dropped: bool = True,
    broadcast_batch: bool = False,
) -> DataFrame:
    """Admission verdicts from PRE-BUILT narrow sketch frames (id, mh —
    :func:`minhash_sketch_narrow`); the hot inner path of
    :func:`incremental_lsh_admit` (contract documented there).
    ``existing`` / ``batch`` supply text for the exact-Jaccard verify,
    which touches only candidate documents (semi-join); ``batch`` also
    defines the output rows — one verdict per batch document INCLUDING
    NULL-text ones (no sketch row, admitted unmatched). Callers own the
    sketch frames' lifecycle (cache/store/release). ``persist`` gates
    the two INTERNAL caches (candidate pairs, candidate shingles —
    each feeds multiple plan branches): with it, run under
    ``released_scope``/``run_released`` (or accept plain ``.cache()``
    lifetimes); without it, the branches recompute instead — the choice
    a long-running library ingest loop without a scope should make.

    ``broadcast_batch`` asserts the caller's batch is MICRO (bounded,
    e.g. a streaming trigger): the banded batch side, the candidate-id
    list and the best-match verdicts are then FORCE-broadcast, which is
    what keeps the corpus-scale index and text sides entirely map-side
    (zero index shuffle — the production ingest plan). Default OFF
    because the hints scale with the batch, not the corpus: a caller
    feeding a corpus-proportional "batch" (e.g. a re-admission backfill
    or the registered benchmark's fixed-fraction slice) would otherwise
    grow the forced broadcasts linearly with corpus size straight into
    the 8 GB broadcast hard limit / driver OOM, where the plain plan
    just shuffles — and AQE still converts to broadcast at runtime
    whenever the batch side is genuinely small (ADVICE r7)."""
    rows_per_band = k // bands

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            id_col,
            F.posexplode(_band_keys(F.col("mh"), bands, rows_per_band)).alias(
                "band", "key"
            ),
        )

    # The INDEX side never shuffles in the micro-batch configuration:
    # the cap is the aggregation variant (partial-count exchange of one
    # row per bucket + broadcast anti-join — cap_hot_buckets_agg
    # docstring) and with broadcast_batch the band join BROADCASTS the
    # banded batch side, so candidate generation is entirely map-side
    # over the index scan. The window-cap + shuffle join form would
    # repartition the whole corpus-scale index per micro-batch — the
    # only corpus-wide exchange of the ingest path, and for nothing
    # when the batch side is micro.
    old_b = cap_hot_buckets_agg(
        banded(old_sigs),
        ["band", "key"],
        max_bucket_size,
        "incremental_lsh_admit",
        log_dropped,
    )
    new_banded = banded(new_sigs)
    if broadcast_batch:
        new_banded = F.broadcast(new_banded)
    cand = (
        new_banded.alias("n")
        .join(
            old_b.alias("o"),
            (F.col("n.band") == F.col("o.band")) & (F.col("n.key") == F.col("o.key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"), F.col(f"o.{id_col}").alias("old_id")
        )
        .distinct()
    )
    # The candidate table feeds THREE branches (the id semi-join and
    # both verify joins) — without a cache the band join re-executes per
    # branch. It is two BIGINTs per candidate pair.
    if persist:
        cand = scoped_cache(cand)
    # Exact-Jaccard verify: re-shingle ONLY candidate documents from
    # text — ONE pass over the union of both frames semi-joined to the
    # union of candidate ids — so the corpus-wide distinct-shingle sets
    # are never materialized or cached. (Existing and batch ids are
    # disjoint by the caller's contract, so the union is a clean id
    # space.) The candidate shingle table itself is scope-cached: it
    # feeds both sides of the pair join and is bounded by the candidate
    # count, not the corpus.
    # With broadcast_batch, cand_ids broadcasts too (bounded by the
    # candidate count, itself batch-proportional and cap-bounded per
    # band), so the corpus text side of the semi-join stays a map-side
    # scan — no text-table exchange either.
    cand_ids = cand.select(F.col("new_id").alias("_cid")).union(
        cand.select(F.col("old_id").alias("_cid"))
    )
    if broadcast_batch:
        cand_ids = F.broadcast(cand_ids)
    sh_cand = (
        existing.select(F.col(id_col), F.col(text_col))
        .union(batch.select(F.col(id_col), F.col(text_col)))
        .join(cand_ids, F.col(id_col) == F.col("_cid"), "left_semi")
        .select(F.col(id_col).alias("_vid"), shingles(F.col(text_col)).alias("sh"))
        .withColumn("shd", F.array_distinct(F.col("sh")))
        .select("_vid", "shd", F.size("shd").cast("bigint").alias("n"))
    )
    if persist:
        sh_cand = scoped_cache(sh_cand)
    # Join ORDER is load-bearing: the old side first, the new side LAST,
    # so the verify output leaves the second join hash-partitioned by
    # new_id — exactly the partitioning the best-match window needs, and
    # Catalyst reuses the exchange instead of reshuffling the verified
    # pairs. (Column pruning already keeps the shingle arrays out of any
    # exchange — only ids and jaccard cross.) sh_cand itself is NOT
    # broadcast deliberately: it carries document-sized shingle sets,
    # the wrong scale bet; its per-candidate-DOC shuffle is the verify
    # stage's one honest exchange.
    verified = (
        cand.join(
            sh_cand.select(
                F.col("_vid").alias("old_id"),
                F.col("shd").alias("sh_b"),
                F.col("n").alias("nb"),
            ),
            "old_id",
        )
        .join(
            sh_cand.select(
                F.col("_vid").alias("new_id"),
                F.col("shd").alias("sh_a"),
                F.col("n").alias("na"),
            ),
            "new_id",
        )
        .withColumn(
            "jaccard",
            _jaccard_distinct(F.col("sh_a"), F.col("sh_b"), F.col("na"), F.col("nb")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("old_id"))
    best = (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("new_id", F.col("old_id").alias("match_id"), "jaccard")
    )
    # best is one row per matched batch doc — under broadcast_batch it
    # broadcasts so the verdict join never shuffles the (checkpointed)
    # batch side.
    best = best.withColumnRenamed("new_id", "doc_id")
    if broadcast_batch:
        best = F.broadcast(best)
    return (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("match_id").isNotNull().alias("is_dup"),
            F.coalesce(F.col("match_id"), F.lit(-1).cast("bigint")).alias("match_id"),
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
        )
    )
