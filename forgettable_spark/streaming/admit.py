"""Streaming admission dedup: the ingest-time closed loop over the
incremental LSH admit operator.

Batch dedup answers "which documents in this corpus duplicate each
other"; ingest answers a different question per arriving micro-batch:
"which of THESE documents may enter the corpus?" — against everything
already admitted, without ever re-comparing admitted documents with
each other. This module maintains the two tables that make that
question O(batch):

- **sketch index** — narrow (doc_id, mh) MinHash signatures of every
  admitted document (``dedup.minhash_sketch_narrow``: k BIGINTs per
  doc, the storable shape);
- **admitted corpus** — the admitted documents themselves (the ingest
  OUTPUT; also supplies candidate text for the exact-Jaccard verify).

Each micro-batch runs two passes:

1. **within-batch** — ``dedup.minhash_lsh_pairs_from_sketches`` over
   the batch's sketch frame (computed ONCE per micro-batch and
   checkpointed — it also feeds the against-index join and the index
   write, so the batch text is shingled exactly once); a document
   matching a LOWER-id batch document is flagged
   (``match_kind='within_batch'``). Greedy, not transitive: the match
   may itself be a duplicate whose own match chains onward — the
   verdict log preserves the chain. The micro-batch is small, so the
   batch self-join is O(batch²-bounded-by-LSH), never O(corpus).
2. **against the index** — survivors run
   ``dedup.incremental_admit_from_sketches`` against the stored index:
   the band join is batch×index only, verify re-shingles candidate
   documents from the admitted corpus, and nothing old×old ever forms
   (``match_kind='corpus'``).

Survivors of both passes are ADMITTED: their documents append to the
corpus and their (already-computed) sketches to the index.

Exactly-once: every write (verdicts, admitted docs, admitted sketches)
lands under a ``batch-<id>`` subdirectory in OVERWRITE mode, so a
replayed micro-batch (checkpoint recovery) rewrites its own partition
byte-identically instead of appending twice; readers EXCLUDE the
current batch's own partition, so replay sees exactly the state the
first attempt saw. One writer per table set, serialized by the
streaming engine (foreachBatch batches never overlap within a query).

Fragmentation is bounded the same way ``streaming/publish.py`` bounds
its delta chain: every ``fold_every`` batches the index and corpus
subdirectories consolidate into one ``fold-<B>`` directory covering
all batches STRICTLY BEFORE B (never B itself — a fold containing the
current batch would make its replay self-match), and subsumed
directories are vacuumed. Readers take the highest fold plus the
batch dirs at-or-after it, so a crash anywhere in the fold-write /
vacuum sequence leaves reads correct (stale dirs are simply ignored
until the next fold deletes them). The verdict directory is an
append-only log the loop never reads back; it is left unfolded.

At 100 TB: the index is O(admitted · k) BIGINTs — a fixed-width table
a band join can digest; per-batch cost is sketching the batch plus the
band join against index buckets (cap via ``max_bucket_size``), plus
candidate-only verify. Nothing in the loop scales with corpus text
except the bounded candidate join-back, and nothing in it collects to
the driver (verdicts stay on executors via ``released_scope``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from forgettable_spark.extensions import dedup
from forgettable_spark.functions.cache import (
    _persistent_rdd_ids,
    local_frame,
    released_scope,
)

#: Verdict match_kind values.
KIND_NONE = "none"
KIND_WITHIN_BATCH = "within_batch"
KIND_CORPUS = "corpus"

#: Fold the index/corpus subdirectory chain once it reaches this many
#: live batch directories (same role as publish.FOLD_EVERY: per-batch
#: read planning stays O(fold_every), not O(stream age)).
FOLD_EVERY = 16

_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mh", T.ArrayType(T.LongType())),
    ]
)


def _table_parts(path: str, exclude_batch: int) -> list[str]:
    """Live part-directories of a batch-subdir table: the highest
    ``fold-<m>`` (consolidation of everything before batch m) plus every
    ``batch-<i>`` with ``i >= m``, excluding the CURRENT batch's own
    directory. Excluding the own partition is what makes replay correct:
    on checkpoint recovery the previous attempt's output is already on
    disk, and reading it back would make every replayed document a
    perfect duplicate OF ITSELF — admitting nothing and overwriting the
    partition with an empty verdict set. Subdirs are plain names, NOT
    hive ``batch=`` partitions — the batch id is a write-idempotency
    address, not a query dimension."""
    if not os.path.isdir(path):
        return []
    entries = sorted(os.listdir(path))
    # A directory is live only once its _SUCCESS marker exists. For
    # folds: a crash mid-fold leaves a partial directory that readers
    # (and the replay's rebuild check) must treat as absent, falling
    # back to the unvacuumed originals it was being built from. For
    # batch dirs the same gate protects EXTERNAL readers
    # (read_spine/read_sketches racing an in-flight batch write — ADVICE
    # r6) from torn parquet; the loop itself never needed it (foreachBatch
    # serializes batches, and a crashed batch is replayed before any
    # later batch reads), but the rule is one invariant either way.
    def _live(e: str) -> bool:
        return os.path.isfile(os.path.join(path, e, "_SUCCESS"))

    folds = [int(e[5:]) for e in entries if e.startswith("fold-") and _live(e)]
    m = max(folds) if folds else None
    parts: list[str] = []
    if m is not None:
        parts.append(os.path.join(path, f"fold-{m}"))
    for e in entries:
        if e.startswith("batch-"):
            i = int(e[6:])
            if (m is None or i >= m) and i != exclude_batch and _live(e):
                parts.append(os.path.join(path, e))
    return parts


def _read_or_empty(
    spark: SparkSession, path: str, schema: T.StructType, exclude_batch: int
) -> DataFrame:
    """Read a batch-subdir table's live parts, or an empty frame before
    the first commit (exists-check, not try/except: a corrupt table must
    raise, only a missing one is 'empty')."""
    parts = _table_parts(path, exclude_batch)
    if parts:
        return spark.read.schema(schema).parquet(*parts)
    return local_frame(spark, [], schema)


def _fold(spark: SparkSession, path: str, batch_id: int) -> None:
    """Consolidate everything strictly before ``batch_id`` into
    ``fold-<batch_id>`` and vacuum the subsumed directories. Idempotent
    under replay: an existing fold target is kept as-is (its inputs may
    already be vacuumed), and re-vacuuming is a no-op. Read without a
    pruned schema so every column a batch wrote survives the fold."""
    target = os.path.join(path, f"fold-{batch_id}")
    if not os.path.isfile(os.path.join(target, "_SUCCESS")):
        # Absent OR partial (crash mid-write, no _SUCCESS): rebuild from
        # the still-unvacuumed originals; overwrite clears partial files.
        parts = _table_parts(path, batch_id)  # everything before batch_id
        if not parts:
            return
        # mergeSchema: schema otherwise infers from ONE file, and a fold
        # across batches whose stream schema evolved (extra columns after
        # a restart) would silently drop the columns only some batches
        # carry — 'every column a batch wrote survives the fold'.
        spark.read.option("mergeSchema", "true").parquet(*parts).write.mode(
            "overwrite"
        ).parquet(target)
    for e in os.listdir(path):
        if (e.startswith("batch-") and int(e[6:]) < batch_id) or (
            e.startswith("fold-") and int(e[5:]) < batch_id
        ):
            shutil.rmtree(os.path.join(path, e), ignore_errors=True)


#: Per-table maintenance watermark: a one-line file holding the highest
#: batch id whose delta (or backfill) this table has absorbed. Written
#: after every successfully drained maintained batch; read by the gap
#: detector below. The name can't collide with _table_parts' fold-/
#: batch- prefixes, so readers never see it as a part.
_MAINT_MARKER = "_last_maintained"


def _read_last_maintained(table_dir: str) -> int | None:
    try:
        with open(os.path.join(table_dir, _MAINT_MARKER)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def _write_last_maintained(table_dir: str, batch_id: int) -> None:
    """Monotonic watermark advance (replay of an old batch id must not
    regress it), atomic via rename so a torn write reads as absent."""
    prev = _read_last_maintained(table_dir)
    if prev is not None and prev >= batch_id:
        return
    os.makedirs(table_dir, exist_ok=True)
    tmp = os.path.join(table_dir, f".{_MAINT_MARKER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(batch_id))
    os.replace(tmp, os.path.join(table_dir, _MAINT_MARKER))


def _latest_prior_corpus_batch(corpus_dir: str, batch_id: int) -> int | None:
    """Highest batch id evidenced in the admitted corpus BEFORE the
    current batch: live ``batch-<i>`` dirs, plus ``fold-<m>`` which by
    construction covers batches up to m-1."""
    if not os.path.isdir(corpus_dir):
        return None
    best = None
    for e in os.listdir(corpus_dir):
        if e.startswith("batch-") and os.path.isfile(
            os.path.join(corpus_dir, e, "_SUCCESS")
        ):
            i = int(e[6:])
            if i != batch_id and (best is None or i > best):
                best = i
        elif e.startswith("fold-") and os.path.isfile(
            os.path.join(corpus_dir, e, "_SUCCESS")
        ):
            m = int(e[5:]) - 1
            if best is None or m > best:
                best = m
    return best


def _bootstrap_missing_tables(
    spark: SparkSession,
    base_dir: str,
    table_names,
    batch_id: int,
    corpus_dir: str,
    build,
) -> None:
    """Backfill a spine enabled MID-STREAM — or RE-enabled after a gap.

    When ``spine_dir`` / ``sketch_dir`` is newly set on a stream that
    has already admitted documents, the table directories are empty
    while the corpus is not — without this step every previously
    admitted batch would be missing from the spine forever, silently
    breaking the read_spine / read_sketches row-identity contract
    (ADVICE r6). For each table with NO live parts, build it from the
    admitted corpus as it stood BEFORE the current batch and write it
    as ``fold-<batch_id>`` — exactly the shape a fold would have
    (covers everything strictly before this batch; the current batch's
    own delta lands under ``batch-<id>`` as usual).

    ADVICE r7 closed the re-enablement hole: a table with live parts
    can still be INCOMPLETE if maintenance was disabled for some
    batches and later re-enabled — the gap batches' deltas were never
    written, and zero-live-parts detection can't see it. Every
    maintained batch therefore advances a ``_last_maintained``
    watermark per table; when the watermark trails the corpus's latest
    prior batch, the gap is detected and the table is REBUILT as
    ``fold-<batch_id>`` from the prior corpus (superseded parts
    vacuumed), restoring row-identity at the same one-time
    O(admitted corpus) cost as the never-maintained case. Tables with
    parts but no watermark (pre-r8 layouts) are assumed complete —
    there is nothing recorded to check against — and gain the
    watermark from this batch forward.

    Per-table, so a crash mid-backfill self-heals on the next batch; a
    stream with maintenance continuously on never enters the build."""
    latest_prior = _latest_prior_corpus_batch(corpus_dir, batch_id)
    needs: list[str] = []
    for n in table_names:
        table_dir = os.path.join(base_dir, n)
        if not _table_parts(table_dir, exclude_batch=batch_id):
            needs.append(n)
            continue
        last = _read_last_maintained(table_dir)
        if last is not None and latest_prior is not None and latest_prior > last:
            needs.append(n)  # re-enabled across a gap: rebuild
    if not needs:
        return
    parts = _table_parts(corpus_dir, batch_id)
    if not parts:
        return  # nothing admitted yet: nothing to backfill
    prior = spark.read.option("mergeSchema", "true").parquet(*parts)
    tables = build(prior)
    for n in needs:
        table_dir = os.path.join(base_dir, n)
        tables[n].write.mode("overwrite").parquet(
            os.path.join(table_dir, f"fold-{batch_id}")
        )
        # vacuum parts the new fold supersedes (no-op for the
        # never-maintained case; for a gap rebuild the stale partial
        # coverage must go or _table_parts would never look past the
        # new fold anyway but the dirs would leak)
        for e in os.listdir(table_dir):
            if (e.startswith("batch-") and int(e[6:]) < batch_id) or (
                e.startswith("fold-") and int(e[5:]) < batch_id
            ):
                shutil.rmtree(os.path.join(table_dir, e), ignore_errors=True)


def _loop_width(n_batch: int) -> int:
    """Shuffle width for one admission micro-batch (r9): 8 below 100k
    docs — the loop is job-scheduling-bound there and every rung
    measured through sf10 keeps its exact plans — then 16, then 32 at
    400k. Measured at the 214k-doc rung: the pinned 8 was the binding
    constraint (2,270 → 5,987 docs/s with full maintenance at 16)."""
    if n_batch < 100_000:
        return 8
    return 16 if n_batch < 400_000 else 32


def admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    corpus_dir: str,
    verdict_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    fold_every: int | None = FOLD_EVERY,
    spine_dir: str | None = None,
    sketch_dir: str | None = None,
) -> None:
    """Process one micro-batch (module docstring): write verdicts, and
    append admitted documents + sketches, all under ``batch-<id>``
    subdirs (idempotent overwrite). ``batch`` must have at least
    (id_col, text_col); extra columns ride into the admitted corpus
    (the loop reads back only (id, text) via its pruned schema).

    ``spine_dir``: when set, the batch's ADMITTED documents also append
    their postings-spine delta (postings/ doc_stats/ bigrams/ — the
    token-family spine of ``extensions/postings.py``) under
    ``spine_dir/<table>/batch-<id>``, and the same fold/vacuum cycle
    compacts each table directory. This is the production maintenance
    story the spine module documents: the tokenize reads the batch's
    already-checkpointed blocks (no second source scan), deltas are
    O(batch), and :func:`read_spine` reassembles tables row-identical
    to a from-scratch ``postings_tables`` over the admitted corpus
    (tests/test_streaming_admit.py::test_incremental_spine_matches_rebuild).

    ``sketch_dir``: same maintenance for the DEDUP family's sketch
    spine (shingled/ simhash/ — ``extensions/sketches.py``). BOTH
    deltas derive from the batch's ALREADY-CHECKPOINTED
    one-sketch-per-batch frame, which carries the token arrays when
    this maintenance is on: shingled is a projection (shd re-sorted;
    the min-fold is order-independent so mh carries over unchanged),
    and the SimHash delta hashes the stored token arrays — the admitted
    text is never re-read or re-split (r7; the re-tokenize cost −31%
    docs/s at toy batch sizes). :func:`read_sketches` reassembles
    tables row-identical to a from-scratch ``sketch_tables`` over the
    admitted corpus
    (tests/test_streaming_admit.py::test_incremental_sketches_match_rebuild).

    Conf scoping: the AQE / shuffle-partition pinning below mutates
    ``spark``'s SQLConf for the duration of the batch. Via
    :func:`admission_stream` that session is the stream's private clone
    (see inline comment), so other sessions never observe it; callers
    invoking ``admit_batch`` DIRECTLY with a shared interactive session
    are the session's single writer for the call's duration — pass a
    dedicated ``spark.newSession()``-backed batch if that constraint
    cannot hold."""
    corpus_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(text_col, T.StringType()),
        ]
    )
    # The batch feeds several consumers (within-batch pairs, survivor
    # filter, index admit, corpus append) — pin it once. The checkpoint
    # blocks are swept by OWN id (before/after snapshot) in the finally:
    # DataFrame.unpersist on the derived frame would not free them, and
    # a blanket sweep would evict a co-resident session user's caches
    # (same discipline as publish_batch).
    # SPARK_GRAFT_ADMIT_TIMING=1: print per-phase wall times, one line
    # per batch — the knob the loop's own bench (scripts/bench_stream.py)
    # uses to attribute jobs-per-batch cost to phases. No-op otherwise.
    import time as _time

    _marks: list[tuple[str, float]] = []
    _t_prev = _time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal _t_prev
        now = _time.perf_counter()
        _marks.append((name, now - _t_prev))
        _t_prev = now

    before_ids = _persistent_rdd_ids(spark)
    batch = batch.localCheckpoint(eager=True)
    _mark("batch_ckpt")
    own_ids = _persistent_rdd_ids(spark) - before_ids
    # AQE off for the batch's queries: at micro-batch scale every AQE
    # shuffle-stage materialization is its own scheduled job, and the
    # loop's latency is job-scheduling-bound (SCALING.md: 10× the data
    # costs 2× the wall) — runtime re-planning has nothing to optimize
    # here. Restored in the finally. Scope: via ``admission_stream``,
    # ``spark`` here is the STREAM'S session — Structured Streaming runs
    # foreachBatch on ``sparkSession.cloneSession()`` with its own
    # SQLConf, so the toggle is invisible to the parent session and any
    # concurrent interactive query (asserted by
    # tests/test_streaming_admit.py::test_stream_conf_isolated_from_parent).
    # DIRECT callers handing in a shared interactive session accept the
    # single-writer constraint documented in the docstring.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    _write_pool = None  # released in the outer finally (ADVICE r7)
    try:
        # One count over the checkpointed blocks replaces the old
        # isEmpty peek: the empty-trigger gate below still holds, and
        # the count sizes the delta writes' fan-in (r8 — see
        # _delta_parts note at the spine section).
        n_batch = batch.count()
        if n_batch == 0:
            # An empty trigger must not run the two-pass job or mint
            # three empty directories that every later batch would list
            # and read. Checked AFTER the checkpoint so the count reads
            # the cached blocks instead of scanning the source a second
            # time (the checkpoint of an empty batch is trivial).
            return
        # Loop width scales with the batch (r9): the pinned 8-way
        # shuffle is right up to ~71k-doc batches (job-scheduling-bound
        # below, measured −13.7% maintenance overhead at sf10), but at
        # 214k-doc batches (sf30) it became the binding constraint —
        # every verdict join and delta aggregation squeezed through 8
        # partitions, and the same-window overhead regressed to −20.3%.
        # The conf is re-set here, before any of the batch's plans
        # compile.
        _width = _loop_width(n_batch)
        if _width != 8:
            spark.conf.set("spark.sql.shuffle.partitions", str(_width))
        # Output-file fan-in for the five spine/sketch delta writes: ONE
        # file per table at micro-batch sizes (readers and folds list
        # one shard per batch; the reduce is one cheap task), but a
        # coalesce(1) at production batch sizes SINGLE-THREADS each
        # delta's post-shuffle aggregation — at 71k-doc batches the five
        # delta writes cost 16-25 s/batch against 0.45 s for the three
        # un-coalesced base writes (SCALING.md r8 sf10 attribution).
        # Scale the fan-in with the batch instead, capped at the loop's
        # width.
        _delta_parts = max(1, min(_width, (n_batch + 19_999) // 20_000))
        # MAP-side width (the bigger r8 sf10 finding): a large batch
        # often arrives as 1-2 source splits (one staged file under
        # maxPartitionBytes), and localCheckpoint PRESERVES that — so
        # the sketch build and every delta's map side ran near-single-
        # threaded at 71k-doc batches (sigs_ckpt ~9-10 s in both
        # configs). Re-spread a large narrow batch across the loop's
        # width once, re-checkpoint, and let the finally's block sweep
        # release the superseded blocks; one O(batch) row shuffle buys
        # width-way everything downstream. Micro batches skip it entirely.
        if n_batch >= 20_000 and batch.rdd.getNumPartitions() < _width:
            batch = batch.repartition(_width).localCheckpoint(eager=True)
            # The replacement checkpoint was created AFTER own_ids was
            # snapshotted, so the outer finally's by-id sweep would never
            # see it (and released_scope's 'before' set already contains
            # it) — refresh the tracked set so BOTH generations of batch
            # blocks are released at exit (ADVICE r8: a narrow >=20k-doc
            # batch otherwise leaked its (doc_id, text) blocks for the
            # stream session's lifetime).
            own_ids = _persistent_rdd_ids(spark) - before_ids
        # released_scope, not run_released: verdicts are one row PER
        # DOCUMENT — collecting them would put O(batch) rows on the
        # driver (cache.py's documented anti-pattern). Everything is
        # materialized by the writes inside the scope; at exit every
        # scoped cache and checkpoint block created here is released.
        with released_scope(spark):
            # ONE sketch job per micro-batch: the wide (id, shd, mh)
            # sketch frame is computed once and checkpointed, then feeds
            # EVERY sketch consumer — the within-batch band join + its
            # Jaccard verify (shd), the against-index band join (mh),
            # and the index write (mh) — where the loop previously
            # re-shingled the batch once per pass (the r4 verdict's
            # jobs-per-batch finding). With sketch-spine maintenance on,
            # the frame also carries the token arrays (_w) so the
            # SimHash delta below derives from THIS checkpoint instead
            # of re-reading and re-splitting the admitted text
            # (VERDICT r6 #2).
            from pyspark.sql import Window

            sigs = dedup._minhash_sketches(
                batch,
                text_col,
                id_col,
                k,
                keep_tokens=sketch_dir is not None or spine_dir is not None,
            ).localCheckpoint(eager=True)
            _mark("sigs_ckpt")

            # Pass 1: within-batch near-dups (earlier id wins).
            pairs = dedup.minhash_lsh_pairs_from_sketches(
                sigs,
                id_col=id_col,
                k=k,
                bands=bands,
                threshold=threshold,
                max_bucket_size=max_bucket_size,
            )
            w = Window.partitionBy("doc_b").orderBy(F.desc("jaccard"), F.asc("doc_a"))
            within = (
                pairs.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(
                    F.col("doc_b").alias(id_col),
                    F.col("doc_a").alias("match_id"),
                    "jaccard",
                )
                # two consumers (verdict union + survivor anti-join)
                .localCheckpoint(eager=True)
            )
            _mark("within_ckpt")
            survivors = batch.join(within.select(id_col), id_col, "left_anti")

            # Pass 2: survivors vs the stored index; verify text comes
            # from the admitted corpus (existing) and the batch (new).
            # Survivor sketches are a projection + anti-join of the
            # checkpointed frame — no re-shingle.
            old_sigs = _read_or_empty(spark, index_dir, _INDEX_SCHEMA, batch_id)
            existing = _read_or_empty(spark, corpus_dir, corpus_schema, batch_id)
            new_sigs = sigs.select(id_col, "mh").join(
                within.select(id_col), id_col, "left_anti"
            )
            corpus_verdicts = dedup.incremental_admit_from_sketches(
                old_sigs.withColumnRenamed("doc_id", id_col),
                new_sigs,
                existing,
                survivors,
                text_col=text_col,
                id_col=id_col,
                k=k,
                bands=bands,
                threshold=threshold,
                max_bucket_size=max_bucket_size,
                # a streaming trigger IS micro by contract: force the
                # batch-side broadcasts so the stored index and the
                # admitted-corpus text cross no exchange (the
                # zero-index-shuffle production plan; the hint is
                # gated off by default for corpus-proportional callers
                # — ADVICE r7)
                broadcast_batch=True,
            )
            verdicts = (
                within.select(
                    F.col(id_col).alias("doc_id"),
                    F.lit(True).alias("is_dup"),
                    "match_id",
                    "jaccard",
                    F.lit(KIND_WITHIN_BATCH).alias("match_kind"),
                )
                .unionByName(
                    corpus_verdicts.select(
                        F.col("doc_id"),
                        "is_dup",
                        "match_id",
                        "jaccard",
                        F.when(F.col("is_dup"), F.lit(KIND_CORPUS))
                        .otherwise(F.lit(KIND_NONE))
                        .alias("match_kind"),
                    )
                )
                .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
                # three consumers: the verdict write and both admitted
                # projections below
                .localCheckpoint(eager=True)
            )
            _mark("verdicts_ckpt")

            # admitted_ids is O(batch) off the checkpointed verdicts —
            # broadcast every filter-join against it so no delta write
            # pays a shuffle stage for a micro-batch-sized id list.
            admitted_ids = F.broadcast(
                verdicts.filter(~F.col("is_dup")).select(
                    F.col("doc_id").alias(id_col)
                )
            )
            # With spine/sketch maintenance on, EVERY sketch-derived
            # delta (index, postings×3, shingled, simhash) is a pure
            # projection of ONE checkpointed admitted-sketch frame —
            # one join job here instead of one broadcast join inside
            # each of six write plans. admitted ∩ within-batch dups = ∅,
            # so sigs ⋈ admitted equals new_sigs ⋈ admitted; NULL-text
            # documents are admitted to the corpus but have no sketch
            # row, matching every spine table's family contract.
            adm_sigs = None
            if spine_dir is not None or sketch_dir is not None:
                adm_sigs = sigs.join(admitted_ids, id_col).localCheckpoint(
                    eager=True
                )
                _mark("adm_sigs_ckpt")
            index_delta = (
                adm_sigs.select(F.col(id_col).alias("doc_id"), "mh")
                if adm_sigs is not None
                else new_sigs.join(admitted_ids, id_col).withColumnRenamed(
                    id_col, "doc_id"
                )
            )
            # Every per-table output is an independent overwrite of its
            # own batch-<id> directory, and at micro-batch scale the
            # loop is JOB-SCHEDULING-bound (SCALING.md) — so each write
            # is SUBMITTED to the pool the moment its plan exists and
            # runs concurrently with both the other writes and the
            # construction of the remaining delta plans (building the
            # five spine/sketch plans costs ~0.4 s of driver-side py4j
            # per batch — overlapped with the base writes it is free).
            # Inputs are checkpointed (batch, sigs, verdicts), so
            # concurrent plans recompute only narrow projections.
            from concurrent.futures import ThreadPoolExecutor

            # The pool is registered with the batch's OUTER finally
            # before any plan construction can raise: an exception while
            # building the spine/sketch plans or bootstrapping (between
            # creation and the drain below) previously leaked 8
            # non-daemon idle workers per failed batch attempt — and a
            # stream retrying a failing batch accumulates them without
            # bound (ADVICE r7). The drain's own shutdown(wait=True)
            # stays the happy path; the outer sweep is then a no-op.
            pool = _write_pool = ThreadPoolExecutor(8)
            futures = []

            def _submit(df: DataFrame, path: str) -> None:
                futures.append(
                    pool.submit(
                        lambda: df.write.mode("overwrite").parquet(path)
                    )
                )

            _submit(verdicts, f"{verdict_dir}/batch-{batch_id}")
            # Full batch schema rides into the corpus (ts, source, ...).
            _submit(
                batch.join(admitted_ids, id_col), f"{corpus_dir}/batch-{batch_id}"
            )
            _submit(index_delta, f"{index_dir}/batch-{batch_id}")
            _mark("plan_base")

            if spine_dir is not None:
                # Postings-spine delta for the ADMITTED docs only,
                # derived from the SAME checkpointed sketch frame as
                # everything else: sigs carries the token arrays and the
                # raw text (keep_tokens above), so the three table plans
                # are narrow projections of cached blocks — no second
                # source scan, no re-tokenize, no extra checkpoint job
                # (the loop is job-scheduling-bound at micro-batch
                # scale).
                from forgettable_spark.extensions import postings as _sp

                _bootstrap_missing_tables(
                    spark,
                    spine_dir,
                    _sp._TABLES,
                    batch_id,
                    corpus_dir,
                    lambda prior: _sp._tables_from_base(
                        _sp._base(prior, text_col, id_col)
                    ),
                )
                spine_base = adm_sigs.select(
                    F.col(id_col).alias("doc_id"),
                    F.lit(None).cast("string").alias("_lang"),
                    F.col("_w"),
                    F.col("_t"),
                )
                # _delta_parts (sized from the batch count above): one
                # output file per table at micro sizes, wider at
                # production batch sizes so the post-shuffle aggregation
                # never single-threads.
                for name, df in _sp._tables_from_base(spine_base).items():
                    _submit(
                        df.coalesce(_delta_parts),
                        f"{spine_dir}/{name}/batch-{batch_id}",
                    )
                _mark("plan_spine")

            if sketch_dir is not None:
                # Sketch-spine delta for the ADMITTED docs only. The
                # shingled table is a projection of the checkpointed
                # `sigs` frame (no re-shingle, no re-hash): shd sorted
                # to the spine's storage order, nsh derived, mh carried
                # over (the min-fold saw the same shingle set). lang
                # rides from the batch when present (sketch_tables'
                # block_col contract), NULL otherwise.
                from forgettable_spark.extensions.sketches import sketch_tables

                _bootstrap_missing_tables(
                    spark,
                    sketch_dir,
                    ("shingled", "simhash"),
                    batch_id,
                    corpus_dir,
                    lambda prior: sketch_tables(
                        prior,
                        text_col,
                        id_col,
                        block_col="lang" if "lang" in prior.columns else None,
                        k=k,
                    ),
                )
                lang_side = (
                    adm_sigs.join(
                        F.broadcast(batch.select(F.col(id_col), F.col("lang"))),
                        id_col,
                    )
                    if "lang" in batch.columns
                    else adm_sigs.withColumn("lang", F.lit(None).cast("string"))
                )
                shingled_delta = lang_side.select(
                    F.col(id_col).alias("doc_id"),
                    "lang",
                    F.array_sort("shd").alias("shd"),
                    F.size("shd").cast("bigint").alias("nsh"),
                    "mh",
                )
                # SimHash delta off the SAME checkpointed frame: sigs
                # carries the token arrays (keep_tokens above), so the
                # delta hashes the stored arrays — the admitted text is
                # never re-read or re-split (it was before r7: −31%
                # docs/s at toy batch sizes, SCALING.md r6). sigs
                # already excludes NULL-text documents, matching the
                # rebuild's sketch_tables contract.
                simhash_delta = (
                    dedup.simhash_sketch(
                        adm_sigs.select(F.col(id_col), "_w"),
                        id_col=id_col,
                        tokens_col="_w",
                    )
                    .coalesce(_delta_parts)
                    .select(F.col(id_col).alias("doc_id"), "simhash")
                )
                _submit(
                    shingled_delta.coalesce(_delta_parts),
                    f"{sketch_dir}/shingled/batch-{batch_id}",
                )
                _submit(simhash_delta, f"{sketch_dir}/simhash/batch-{batch_id}")
                _mark("plan_sketch")

            # Drain every future so the FIRST write error raises here,
            # failing the batch before the streaming checkpoint commits
            # (exactly-once: the replay overwrites every per-table
            # directory).
            try:
                for f in futures:
                    f.result()
            finally:
                pool.shutdown(wait=True)
            _mark(f"writes[{len(futures)}]")

            # The whole layout's liveness gate is the _SUCCESS marker
            # (_table_parts): on deployments where the committer is
            # configured not to write it (mapreduce.fileoutputcommitter.
            # marksuccessfuljobs=false — common with cloud committers)
            # every delta would be invisible, the loop would silently
            # re-admit duplicates and read empty spines. The committer
            # conf lives in the CONTEXT hadoopConfiguration (a runtime
            # session pin does not reach it — verified), so instead of
            # mutating context-global state, fail the FIRST batch loudly
            # with the remediation (ADVICE r7).
            if not os.path.isfile(
                os.path.join(verdict_dir, f"batch-{batch_id}", "_SUCCESS")
            ):
                raise RuntimeError(
                    "admit_batch wrote a batch directory without a _SUCCESS "
                    "marker — this deployment disables "
                    "mapreduce.fileoutputcommitter.marksuccessfuljobs, which "
                    "this layout requires (liveness gating of batch/fold "
                    "dirs). Re-enable it for the admission loop's session, "
                    "e.g. spark.hadoop.mapreduce.fileoutputcommitter."
                    "marksuccessfuljobs=true at session build."
                )
            # Advance the per-table maintenance watermarks ONLY after
            # every write drained: the gap detector
            # (_bootstrap_missing_tables) compares them against the
            # corpus's latest prior batch on re-enablement.
            if spine_dir is not None:
                from forgettable_spark.extensions.postings import (
                    _TABLES as _sp_tables,
                )

                for n in _sp_tables:
                    _write_last_maintained(os.path.join(spine_dir, n), batch_id)
            if sketch_dir is not None:
                for n in ("shingled", "simhash"):
                    _write_last_maintained(os.path.join(sketch_dir, n), batch_id)

        if fold_every:
            # Gate each table on its OWN live-batch count: a crash
            # between the two folds previously left the corpus unfolded
            # (and unre-foldable) until fold_every MORE batches
            # accumulated on the index side — per-directory gating makes
            # a missed fold self-heal on the next batch.
            fold_dirs = [index_dir, corpus_dir]
            if spine_dir is not None:
                from forgettable_spark.extensions.postings import _TABLES as _SP_TABLES

                fold_dirs += [os.path.join(spine_dir, t) for t in _SP_TABLES]
            if sketch_dir is not None:
                fold_dirs += [
                    os.path.join(sketch_dir, t) for t in ("shingled", "simhash")
                ]
            due = [
                d
                for d in fold_dirs
                if sum(
                    os.path.basename(p).startswith("batch-")
                    for p in _table_parts(d, exclude_batch=-1)
                )
                >= fold_every
            ]
            if len(due) > 1:
                # Folds are per-directory independent (each reads and
                # vacuums only its own parts), and with spine/sketch
                # maintenance on a fold batch touches up to 10 tables —
                # run them concurrently, same rationale as the delta
                # writes above. list() drains so the first error raises.
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(len(due)) as pool:
                    list(pool.map(lambda d: _fold(spark, d, batch_id), due))
            elif due:
                _fold(spark, due[0], batch_id)
            _mark("fold_check")
        if os.environ.get("SPARK_GRAFT_ADMIT_TIMING") == "1":
            total = sum(d for _, d in _marks)
            print(
                f"[admit-timing] batch={batch_id} total={total:.2f}s "
                + " ".join(f"{n}={d:.2f}" for n, d in _marks),
                flush=True,
            )
    finally:
        if _write_pool is not None:
            # No-op after the happy-path drain; on an exception between
            # pool creation and the drain it cancels queued writes and
            # lets in-flight ones finish-and-exit instead of leaving 8
            # idle non-daemon workers per failed attempt.
            _write_pool.shutdown(wait=False, cancel_futures=True)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for key in jmap.keySet().toArray():
            if int(key) in own_ids:
                jmap.get(key).unpersist(False)


#: Schemas for the three spine-table directories ``admit_batch``
#: maintains under ``spine_dir`` (mirrors postings._tables_from_base).
_SPINE_SCHEMAS = {
    "postings": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dl", T.LongType()),
            T.StructField("n_distinct", T.LongType()),
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.LongType()),
        ]
    ),
    "doc_stats": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dl", T.LongType()),
            T.StructField("n_distinct", T.LongType()),
        ]
    ),
    "bigrams": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("gram", T.StringType()),
            T.StructField("tf", T.LongType()),
        ]
    ),
}


#: Schemas for the two sketch-spine directories ``admit_batch``
#: maintains under ``sketch_dir`` (mirrors sketches.sketch_tables).
_SKETCH_SCHEMAS = {
    "shingled": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("shd", T.ArrayType(T.StringType())),
            T.StructField("nsh", T.LongType()),
            T.StructField("mh", T.ArrayType(T.LongType())),
        ]
    ),
    "simhash": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    ),
}


def read_sketches(spark: SparkSession, sketch_dir: str) -> dict[str, DataFrame]:
    """The incrementally-maintained dedup-family sketch spine as two
    DataFrames (shingled / simhash) — live fold + batch deltas, same
    reader rule as the index and corpus. Row-identical to a
    from-scratch ``sketches.sketch_tables`` over the admitted corpus
    (same append-only argument as :func:`read_spine`)."""
    return {
        name: _read_or_empty(
            spark, os.path.join(sketch_dir, name), schema, exclude_batch=-1
        )
        for name, schema in _SKETCH_SCHEMAS.items()
    }


def read_spine(spark: SparkSession, spine_dir: str) -> dict[str, DataFrame]:
    """The incrementally-maintained postings spine as three DataFrames
    (postings / doc_stats / bigrams) — live fold + batch deltas, same
    reader rule as the index and corpus. Row-identical to a
    from-scratch ``postings_tables`` over the admitted corpus: deltas
    are per-document rows and admission never mutates an admitted
    document, so append is the whole maintenance story."""
    return {
        name: _read_or_empty(
            spark, os.path.join(spine_dir, name), schema, exclude_batch=-1
        )
        for name, schema in _SPINE_SCHEMAS.items()
    }


def admission_stream(
    doc_stream: DataFrame,
    index_dir: str,
    corpus_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
    query_name: str = "forget_admit",
    available_now: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    fold_every: int | None = FOLD_EVERY,
    spine_dir: str | None = None,
    sketch_dir: str | None = None,
) -> StreamingQuery:
    """Wire a document stream into the per-batch admission loop. Returns
    the started query; exactly-once anchored by the checkpoint + the
    idempotent ``batch-<id>`` overwrites. ``spine_dir`` additionally
    maintains the token-family postings spine incrementally, and
    ``sketch_dir`` the dedup-family sketch spine (see
    :func:`admit_batch`)."""

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        admit_batch(
            batch.sparkSession,
            batch,
            batch_id,
            index_dir,
            corpus_dir,
            verdict_dir,
            text_col=text_col,
            id_col=id_col,
            k=k,
            bands=bands,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
            fold_every=fold_every,
            spine_dir=spine_dir,
            sketch_dir=sketch_dir,
        )

    writer = (
        doc_stream.writeStream.foreachBatch(_on_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
