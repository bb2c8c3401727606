"""Streaming embedding admission: the ingest-time loop over
``codebook.semantic_admit`` — the embedding counterpart of
``streaming/admit.py``'s text loop, sharing its storage devices
verbatim (idempotent ``batch-<id>`` OVERWRITE partitions, _SUCCESS-gated
reads that exclude the replaying batch's own partition, live-count-gated
fold consolidation).

Per micro-batch:

1. localCheckpoint the batch vectors (ONE trigger read: the frame feeds
   both the verdict computation and the admitted-index write; the scope
   exit sweeps the blocks),
2. verdicts = ``semantic_admit(stored index excluding own partition,
   batch)`` — witnesses are the cell-capped index plus LOWER-id batch
   members, minimal-witness match ids, the text family's
   (is_dup, match_id, cosine) sentinels,
3. write verdicts (+``batch_id``) to ``verdict_dir/batch-<id>`` and the
   ADMITTED vectors — WITH their precomputed (cell, n) assignment
   columns, the stored-sketch posture — to ``index_dir/batch-<id>``,
   both OVERWRITE — a
   replayed micro-batch (checkpoint recovery) rewrites its own
   partitions byte-identically, and its reads exclude them, so replay
   sees exactly the state the first attempt saw,
4. when the index accumulates ``fold_every`` live batch directories,
   consolidate (``_fold_index``: everything STRICTLY before the current
   batch — a fold containing the batch would make its replay
   self-match — rewritten in the bucketed layout, migrating any
   pre-r12 unpartitioned batches). The verdict directory is an
   append-only log the loop never reads back; it stays unfolded, like
   the text loop's.

The codebook is a MODEL argument (literal centroids, trained once on a
bootstrap corpus via ``codebook.train_codebook`` — kilobytes of floats;
retraining on drift is an offline decision, the loop itself never
trains; ``with_two_level_cell``-based codebooks compose through the
same ``semantic_admit`` machinery when cell counts must grow).

At 100 TB: per-batch cost is the index's scan + cap window plus the
batch×witness cell join, whose WITHIN-BATCH half is O(batch²/cells) —
so cell count must scale with the trigger size (r10: a 20k-vector
trigger at flat k=8 is ~50M scored pairs and the loop crawls; with the
``assigner`` hook and ``assign_cells_partitioned``'s composite cells
the measured decade reads 87→395→1,080→1,793 vecs/s at
200→60k-vector triggers, SCALING.md r10). The stored index is a narrow
(vec_id, embedding, cell, n) parquet table the fold keeps consolidated
— per trigger it pays only its scan + cap window, never a codebook
re-fold (assignment happens exactly once, at admission; measured
flat-to-falling per-trigger cost across a 10× index growth at fixed
triggers); nothing collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from forgettable_spark.extensions import codebook as cb
from forgettable_spark.functions.cache import local_frame, released_scope
from forgettable_spark.streaming.admit import (
    FOLD_EVERY,
    _loop_width,
    _table_parts,
)

#: The stored index's schema: float32 vectors (the embeddings source
#: shape — a double input stream is cast on ingest, so the index and a
#: batch-mode ``semantic_admit`` over the same vectors see identical
#: bits) plus the PRECOMPUTED assignment columns. ``cell`` and ``n``
#: are pure row-local functions of (vector, codebook literals), so
#: storing them is the stored-sketch posture of the text loop: per
#: trigger the index pays only its scan + cap window, never the
#: O(index·k·dim) codebook re-fold (the cell column goes stale only if
#: the MODEL changes, which is a rebuild event, not a trigger event).
INDEX_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("cell", T.LongType(), True),
        T.StructField("n", T.DoubleType(), True),
    ]
)

#: Cell-pruned index layout (NEW r12, VERDICT r11 #3): every index
#: batch/fold directory is hive-partitioned by ``cb = pmod(cell, 64)``
#: so a trigger reads ONLY the buckets its batch's home (+probe) cells
#: touch — the per-trigger O(index) full-scan term the 50-trigger study
#: measured (+43% per-trigger over 0→313k stored vectors, SCALING.md
#: r11) becomes O(index · touched/64). ``cb`` is a PURE FUNCTION of the
#: stored ``cell`` (never trusted as data: the fold recomputes it), the
#: verdict semantics are exactly preserved because both the home and
#: probe joins match on cell equality and the cap window is per-cell —
#: pruning away untouched cells removes only rows that could never be
#: witnesses. Pre-r12 unpartitioned batch dirs read whole (no pruning,
#: no silent emptiness) and the next fold migrates them into the
#: bucketed layout; replay stays byte-idempotent (same OVERWRITE of the
#: same partitioned directory).
CELL_BUCKETS = 64

#: The layout marker persisting the index's bucket count beside it
#: (the _ASSIGNER device): ``cb = pmod(cell, P)`` is only prunable if
#: every batch of one index used the SAME P — attaching a loop
#: configured with a different ``cell_buckets`` to an existing index
#: would compute bucket lists under the wrong modulus and silently
#: prune away live witnesses (admitting every duplicate whose witness
#: it dropped). First contact claims P; every later batch validates.
LAYOUT_MARKER = "_LAYOUT"

#: INDEX_SCHEMA plus the derived bucket partition column (read-side
#: schema for bucketed parts; ``cb`` is dropped right after pruning).
_INDEX_SCHEMA_CB = T.StructType(
    list(INDEX_SCHEMA.fields) + [T.StructField("cb", T.IntegerType(), True)]
)


def _bucket_of(cell_col, cell_buckets: int = CELL_BUCKETS):
    """The ONE derivation of the bucket column — write, fold and read
    sides share it so the layout cannot drift. Sizing: pruning reads
    ~``distinct_cells(batch) / cell_buckets`` of the index, so the
    bucket count should exceed a typical trigger's distinct-cell count
    for micro-triggers to prune (more buckets = more, smaller files —
    folds bound the total at ~one file per non-empty bucket)."""
    return F.pmod(cell_col, F.lit(cell_buckets)).cast("int")


def _claim_or_validate_layout(index_dir: str, cell_buckets: int) -> int:
    """Persist the index's bucket count on first contact; on every later
    contact return the STORED value, raising if the caller's config
    contradicts it (see LAYOUT_MARKER). Returns the authoritative P."""
    marker = os.path.join(index_dir, LAYOUT_MARKER)
    if os.path.isfile(marker):
        with open(marker) as fh:
            stored = int(fh.read().strip())
        if stored != cell_buckets:
            raise RuntimeError(
                f"semantic admission: the stored index at {index_dir!r} is "
                f"bucketed with cell_buckets={stored}, this loop is "
                f"configured with {cell_buckets}. Bucket pruning under the "
                f"wrong modulus silently drops live witnesses — keep the "
                f"index's value or rebuild the index."
            )
        return stored
    os.makedirs(index_dir, exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(cell_buckets) + "\n")
    os.replace(tmp, marker)
    return cell_buckets


def _part_is_bucketed(part: str) -> bool:
    """Whether a live part-directory carries the r12 hive layout."""
    try:
        return any(e.startswith("cb=") for e in os.listdir(part))
    except OSError:
        return False


def _read_index(
    spark: SparkSession,
    index_dir: str,
    exclude_batch: int,
    buckets: list[int] | None = None,
) -> DataFrame:
    """The semantic loop's index reader: `_read_or_empty`'s liveness /
    replay-exclusion contract (`_table_parts`), plus per-part bucket
    pruning — bucketed parts are read with ``cb`` as a partition column
    and filtered to ``buckets`` (directory-level pruning: untouched
    cells are never opened), legacy unpartitioned parts are read whole
    so an old index keeps working unpruned until a fold migrates it."""
    parts = _table_parts(index_dir, exclude_batch)
    if not parts:
        return local_frame(spark, [], INDEX_SCHEMA)
    out = None
    for p in parts:
        if _part_is_bucketed(p):
            df = (
                spark.read.schema(_INDEX_SCHEMA_CB)
                .option("basePath", p)
                .parquet(p)
            )
            if buckets is not None:
                df = df.filter(F.col("cb").isin([int(b) for b in buckets]))
            df = df.drop("cb")
        else:
            df = spark.read.schema(INDEX_SCHEMA).parquet(p)
        out = df if out is None else out.unionByName(df)
    return out


def _fold_index(
    spark: SparkSession,
    path: str,
    batch_id: int,
    cell_buckets: int = CELL_BUCKETS,
) -> None:
    """`_fold` for the bucketed index layout: consolidate everything
    strictly before ``batch_id`` into a ``fold-<batch_id>`` directory
    that is itself hive-partitioned by the recomputed ``cb`` (legacy
    unpartitioned batches migrate here), then vacuum the subsumed
    directories. Idempotent under replay exactly like `_fold`: an
    existing live fold target is kept as-is. The index schema is the
    loop's own fixed contract (INDEX_SCHEMA — the loop writes exactly
    these columns), so the text fold's mergeSchema device is not
    needed."""
    import shutil

    target = os.path.join(path, f"fold-{batch_id}")
    if not os.path.isfile(os.path.join(target, "_SUCCESS")):
        df = _read_index(spark, path, exclude_batch=batch_id)
        if not _table_parts(path, exclude_batch=batch_id):
            return
        (
            df.withColumn("cb", _bucket_of(F.col("cell"), cell_buckets))
            .repartition(F.col("cb"))
            .write.mode("overwrite")
            .partitionBy("cb")
            .parquet(target)
        )
    for e in os.listdir(path):
        if (e.startswith("batch-") and int(e[6:]) < batch_id) or (
            e.startswith("fold-") and int(e[5:]) < batch_id
        ):
            shutil.rmtree(os.path.join(path, e), ignore_errors=True)


#: The index's assigner-fingerprint marker (VERDICT r10 #2). The stored
#: index persists raw CELL IDS, and a cell id is only comparable to ids
#: minted by the SAME quantizer — a restart that wires a retrained
#: codebook or a different signature width onto an existing index would
#: silently mint incomparable ids and admit every duplicate from then
#: on (the text loop has no analogous hazard: its band keys are
#: content-derived). The first batch writes this marker beside the
#: index; every later batch (and every restart) validates against it
#: and fails loudly on mismatch.
ASSIGNER_MARKER = "_ASSIGNER"


def assigner_fingerprint(*parts) -> str:
    """Canonical fingerprint of an assigner's defining literals —
    sha256 over the JSON of ``parts`` (centroid lists, signature widths,
    codebook config…). Python's float repr is bit-faithful, so equal
    codebooks fingerprint equally and any retrained/reshaped codebook
    does not. Flat-codebook callers get this computed automatically from
    ``centroids``; custom-``assigner`` callers MUST pass the fingerprint
    of whatever defines their cell space, e.g.
    ``assigner_fingerprint("partitioned", coarse, fines, n_sig_bits)``."""
    import hashlib
    import json

    return hashlib.sha256(
        json.dumps(parts, separators=(",", ":")).encode()
    ).hexdigest()


def _claim_or_validate_assigner(index_dir: str, fp: str) -> None:
    """Write the index's assigner fingerprint on first contact; on every
    later contact require it to match (RuntimeError otherwise). The
    marker write is atomic (tmp + rename), so a crash mid-claim leaves
    either no marker (next batch re-claims) or a complete one."""
    marker = os.path.join(index_dir, ASSIGNER_MARKER)
    if os.path.isfile(marker):
        with open(marker) as fh:
            stored = fh.read().strip()
        if stored != fp:
            raise RuntimeError(
                f"semantic admission: the stored index at {index_dir!r} was "
                f"built by a DIFFERENT assigner (stored fingerprint "
                f"{stored[:12]}…, this loop's {fp[:12]}…). Cell ids are only "
                f"comparable within one quantizer — attaching a retrained "
                f"codebook or a changed signature width to an existing index "
                f"would silently admit every duplicate. Rebuild the index "
                f"with the new assigner, or restore the original codebook."
            )
        return
    os.makedirs(index_dir, exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(fp + "\n")
    os.replace(tmp, marker)


def _require_success(batch_dir: str) -> None:
    """The layout's liveness gate is the _SUCCESS marker (_table_parts):
    a committer configured with
    mapreduce.fileoutputcommitter.marksuccessfuljobs=false would leave
    every batch/fold dir invisible — the stored index would always read
    empty and the loop would silently admit every duplicate forever.
    Fail the first batch loudly instead (admit_batch's device,
    admit.py:745-766). Probed on BOTH sides of the write — a marker lost
    on the index side alone would silently shrink the stored index
    (ADVICE r10)."""
    if not os.path.isfile(os.path.join(batch_dir, "_SUCCESS")):
        raise RuntimeError(
            f"semantic_admit_batch wrote {batch_dir!r} without a _SUCCESS "
            "marker — this deployment disables "
            "mapreduce.fileoutputcommitter.marksuccessfuljobs, which this "
            "layout requires (liveness gating of batch/fold dirs). "
            "Re-enable it for the admission loop's session, e.g. "
            "spark.hadoop.mapreduce.fileoutputcommitter."
            "marksuccessfuljobs=true at session build."
        )


def semantic_admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    verdict_dir: str,
    centroids: list[list[float]] | None,
    threshold: float,
    max_cell_size: int | None = None,
    fold_every: int | None = FOLD_EVERY,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner=None,
    fingerprint: str | None = None,
    probe_n_fine: int | None = None,
    probe_flips: int | None = None,
    cell_buckets: int = CELL_BUCKETS,
) -> None:
    """Run one micro-batch of embedding admission (see module doc).

    ``cell_buckets``: the index layout's bucket-partition count (see
    LAYOUT_MARKER / ``_bucket_of`` sizing note) — persisted beside the
    index on first contact and validated on every later one; the
    STORED value is authoritative for the index's lifetime.

    ``probe_flips`` / ``probe_n_fine``: batch-side 1-flip multi-probe
    over COMPOSITE cell ids (r11, ``codebook.semantic_admit_assigned_probed``)
    — without it, a partitioned assigner silently ADMITS duplicates
    straddling one signature bit. Only meaningful with a composite
    ``assigner``. ``probe_n_fine`` is the trained-cell modulus of the
    composite ids — ``sum(len(fines[i]))`` over the RAGGED fines
    (``codebook.n_fine_sql``), NOT k1·k2: Lloyd returns
    ``min(k2, members)`` centroids per coarse cell, and a wrong modulus
    makes the ÷/mod/xor probe arithmetic silently compare wrong cells
    (ADVICE r11). Probing changes which duplicates are caught, not the
    cell space, so it does NOT enter the assigner fingerprint — but
    the index-side posture is unchanged (targets fan out, the stored
    index still pays one scan + cap window).

    A BANDED assigner (``codebook.BandedAssigner``, r12) plugs in the
    same way: it explodes each vector to its ``n_bands`` band cells, so
    the stored index persists r narrow rows per vector (bucket pruning,
    folds and replay compose unchanged — everything downstream keys on
    ``cell``), and the loop switches to the banded verdict
    (``codebook.semantic_admit_assigned_banded``'s DISTINCT batch
    spine). Probes stay 0 — banded recovery lives in the bands (misses
    decay geometrically in r; SCALING.md r12 measured banded r=3 beating
    full 1-flip probes at 43% the fan-out at sf30), and an explicit
    ``probe_flips > 0`` beside a banded assigner raises.

    Probes are ON BY DEFAULT when the assigner is structured (VERDICT
    r11 #1b — the measured-correct default: −4.4% throughput for +65%
    duplicates caught, SCALING.md r11): ``probe_flips=None`` (AUTO)
    resolves to full 1-flip recovery (``assigner.n_sig_bits``) when the
    assigner exposes its cell-space literals
    (``codebook.PartitionedAssigner``: ``n_sig_bits``, ``n_fine``,
    ``fingerprint()`` — then ``probe_n_fine`` and ``fingerprint`` are
    derived too, and a contradicting explicit ``probe_n_fine`` raises),
    and to 0 for an opaque callable (the loop cannot decompose ids it
    cannot name a modulus for). Pass ``probe_flips=0`` to explicitly
    run a structured assigner unprobed.

    ``assigner``: optional ``(vec_id, embedding) frame → (vec_id, _v,
    cell, n)`` callable replacing the default flat
    ``codebook.assign_cells(…, centroids)`` — pass EXACTLY one of
    ``centroids`` / ``assigner`` (``centroids=None`` with an assigner;
    an ignored codebook beside an assigner would invite a silent
    quantizer mismatch). The cells-∝-trigger-size lever (r10): the within-batch verdict term is O(batch²/cells), so
    large triggers need more cells than a flat literal codebook can
    compile; pass ``lambda df: codebook.assign_cells_partitioned(df,
    coarse, fines, b)`` to grow cells 2^b-fold at zero extra plan
    literals. The stored index is assignment-agnostic (it persists
    whatever ``cell`` the assigner computed), but ALL batches of one
    index must use the same assigner — a cell id is only comparable to
    ids minted by the same quantizer. That law is ENFORCED (VERDICT r10
    #2): the loop persists an assigner fingerprint beside the index
    (``_ASSIGNER``) and every batch validates against it — computed from
    the centroid literals on the flat path; custom-``assigner`` callers
    must pass ``fingerprint`` (:func:`assigner_fingerprint` over
    whatever defines their cell space) and get a ValueError otherwise.

    Conf scoping: like ``admit_batch``, the AQE / shuffle-width pinning
    below mutates ``spark``'s SQLConf for the batch's duration. Via
    :func:`semantic_admission_stream` that session is the stream's
    private ``cloneSession()`` so nothing else observes it; DIRECT
    callers handing in a shared interactive session are its single
    writer for the call — pass a dedicated ``spark.newSession()``-backed
    batch if that constraint cannot hold (same contract as the text
    loop, tests/test_streaming_admit.py::test_stream_conf_isolated_from_parent).
    """
    if (centroids is None) == (assigner is None):
        raise ValueError(
            "semantic_admit_batch: pass exactly ONE of centroids (flat "
            "codebook assignment) or assigner (custom cell assignment) — "
            "an ignored centroids argument beside an assigner invites a "
            "codebook/assigner mismatch the stored index cannot detect."
        )
    if (
        assigner is not None
        and fingerprint is None
        and not callable(getattr(assigner, "fingerprint", None))
    ):
        raise ValueError(
            "semantic_admit_batch: a custom assigner needs an explicit "
            "fingerprint (assigner_fingerprint(...) over whatever defines "
            "its cell space) — the loop cannot derive one from an opaque "
            "callable, and an unfingerprinted index cannot detect a "
            "quantizer swap across restarts. Structured assigners "
            "(codebook.PartitionedAssigner) carry their own and may omit "
            "the argument."
        )
    if fingerprint is not None and assigner is None:
        raise ValueError(
            "semantic_admit_batch: fingerprint is only accepted alongside "
            "a custom assigner — on the flat-centroids path the loop "
            "computes the canonical fingerprint from the centroid "
            "literals itself, and accepting a caller-supplied one would "
            "let a stale constant defeat the quantizer-swap detection "
            "this marker exists for (a retrained codebook would silently "
            "re-attach to the old index). Drop the argument; the computed "
            "flat fingerprint is authoritative (ADVICE r11)."
        )
    # Structured-assigner resolution (codebook.PartitionedAssigner
    # protocol): derive the probe modulus / probe width / fingerprint
    # from the object that DEFINES the cell space instead of trusting a
    # call-site restatement — and default probes ON (docstring above).
    a_bits = getattr(assigner, "n_sig_bits", None)
    a_fine = getattr(assigner, "n_fine", None)
    if a_fine is not None:
        if probe_n_fine is not None and probe_n_fine != a_fine:
            raise ValueError(
                f"semantic_admit_batch: probe_n_fine={probe_n_fine} "
                f"contradicts the assigner's own modulus n_fine={a_fine} "
                f"(sum of its ragged fine-codebook sizes) — a wrong "
                f"modulus makes the ÷/mod/xor probe arithmetic silently "
                f"compare wrong cells. Drop the argument; the assigner's "
                f"value is authoritative."
            )
        probe_n_fine = a_fine
    if probe_flips is None:
        probe_flips = a_bits if (a_bits and a_fine is not None) else 0
    fp_method = getattr(assigner, "fingerprint", None)
    if callable(fp_method):
        computed = fp_method()
        if fingerprint is not None and fingerprint != computed:
            raise ValueError(
                "semantic_admit_batch: the supplied fingerprint does not "
                "match the structured assigner's own "
                f"({fingerprint[:12]}… vs {computed[:12]}…) — a stale "
                "constant here would defeat the quantizer-swap detection "
                "the marker exists for. Drop the argument; the assigner's "
                "fingerprint is authoritative."
            )
        fingerprint = computed
    # Banded assigner (codebook.BandedAssigner, r12): the batch and the
    # stored index carry n_bands rows per vector, so the verdict must be
    # the banded one (DISTINCT batch spine) — and probes are structurally
    # meaningless (band-cell ids embed the band index; flip arithmetic
    # over them would corrupt cells, and banded recovery lives in the
    # bands themselves).
    a_bands = getattr(assigner, "n_bands", None)
    if a_bands and probe_flips:
        raise ValueError(
            "semantic_admit_batch: probe_flips > 0 with a banded assigner "
            "— band-cell ids embed the band index, so ÷/mod/xor flip "
            "arithmetic over them would silently compare wrong cells, and "
            "banded recovery comes from the bands (OR over r independent "
            "signatures), not from probing. Drop probe_flips."
        )
    if probe_flips and assigner is None:
        raise ValueError(
            "semantic_admit_batch: probe_flips > 0 requires a composite "
            "assigner — flat codebook cell ids have no signature bits, so "
            "÷/mod/xor probe arithmetic over them would silently compare "
            "vectors across unrelated clusters (the loudness rule every "
            "other mis-wiring here follows)."
        )
    if probe_flips and probe_n_fine is None:
        raise ValueError(
            "semantic_admit_batch: probe_flips > 0 needs probe_n_fine "
            "(the composite id's trained-cell modulus — "
            "sum(len(fines[i])) over the ragged fines, codebook."
            "n_fine_sql, NOT k1·k2) — probe cells are derived by "
            "÷/mod/xor arithmetic on the stored id."
        )
    fp = fingerprint or assigner_fingerprint("flat", centroids)
    # Validate (or claim, on first contact) BEFORE any work — including
    # empty triggers: a mis-wired restart must fail at attach, not at the
    # first non-empty batch. The layout marker follows the same rule and
    # the STORED bucket count wins (see LAYOUT_MARKER).
    _claim_or_validate_assigner(index_dir, fp)
    cell_buckets = _claim_or_validate_layout(index_dir, cell_buckets)
    batch = batch.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).cast(T.ArrayType(T.FloatType())).alias("embedding"),
    )
    # AQE off + narrow shuffle width for the batch's queries: a
    # micro-trigger is job-scheduling-bound, and the default 200-way
    # shuffle on the cap window / verdict joins is pure scheduling cost
    # (the text loop's measurement, admit.py:391-406). Width scales with
    # the batch via the shared _loop_width table. Restored in finally.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with released_scope(spark):
            # Size the trigger with a zero-column count on the SOURCE —
            # for the loop's parquet file triggers this reads row counts,
            # not data, so it is far cheaper than materializing a raw
            # checkpoint just to count it (a first cut did exactly that,
            # the text loop's shape, and lost ~40% throughput at
            # 2k-vector triggers in a same-window A/B — the text loop
            # re-reads its raw text downstream, this loop does not).
            # An EMPTY trigger must not run the verdict job or mint
            # empty batch-<id> directories in index_dir/verdict_dir that
            # every later trigger would list and read until a fold (the
            # text loop's n_batch == 0 gate, admit.py:414) — and with
            # the source count it now exits without any checkpoint.
            n_batch = batch.count()
            if n_batch == 0:
                return
            width = _loop_width(n_batch)
            if width != 8:
                spark.conf.set("spark.sql.shuffle.partitions", str(width))
            # MAP-side width (the text loop's r8 sf10 finding,
            # admit.py:442-451): a large trigger staged as one file
            # arrives as 1-2 source partitions — the per-row codebook
            # folds would run near-single-threaded. One O(batch) row
            # shuffle buys width-way assignment; it folds into the
            # assigned checkpoint's job below. Micro batches skip it.
            if n_batch >= 20_000 and batch.rdd.getNumPartitions() < width:
                batch = batch.repartition(width)
            # Assign the batch ONCE (codebook folds + norm), checkpoint
            # the assigned shape — the loop's ONE materialization: it
            # feeds the verdict computation AND the admitted-index write
            # (which persists the assignment — the whole point of the
            # stored-sketch posture); scope exit sweeps.
            assign = assigner or (lambda df: cb.assign_cells(df, centroids))
            batch = assign(batch).withColumn(
                "embedding", F.col("_v").cast(T.ArrayType(T.FloatType()))
            )
            batch = batch.localCheckpoint(eager=True)
            # Touched buckets: the batch's home cells plus (when probing)
            # its probe targets — the ONLY index cells either verdict
            # join can match on, so the pruned read is verdict-exact
            # (the cap window is per-cell; see CELL_BUCKETS). One tiny
            # job over the checkpointed batch; ≤ CELL_BUCKETS values.
            tc = batch.select("cell")
            if probe_flips:
                tc = tc.unionByName(
                    batch.select(
                        F.explode(
                            cb._probe_cells(
                                F.col("cell"), probe_n_fine, probe_flips
                            )
                        ).alias("cell")
                    )
                )
            buckets = sorted(
                r[0]
                for r in tc.select(
                    _bucket_of(F.col("cell"), cell_buckets).alias("cb")
                )
                .distinct()
                .collect()
            )
            idx = _read_index(
                spark, index_dir, exclude_batch=batch_id, buckets=buckets
            )
            # Rebuild the assigned frame FROM STORAGE: _v re-widens from
            # the stored float32 bits, (cell, n) read back as written —
            # no codebook fold ever touches the index after admission.
            idx = idx.select(
                "vec_id",
                F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("_v"),
                "cell",
                "n",
            )
            # The batch is a production micro-trigger — bounded by
            # construction — so the batch-side broadcast is honest here
            # (the semantic_admit guard's documented opt-in condition).
            if a_bands:
                verdicts = cb.semantic_admit_assigned_banded(
                    idx,
                    batch.select("vec_id", "_v", "cell", "n"),
                    threshold=threshold,
                    max_cell_size=max_cell_size,
                    broadcast_batch=True,
                ).localCheckpoint(eager=True)
            elif probe_flips:
                verdicts = cb.semantic_admit_assigned_probed(
                    idx,
                    batch.select("vec_id", "_v", "cell", "n"),
                    threshold=threshold,
                    n_fine=probe_n_fine,
                    n_flip=probe_flips,
                    max_cell_size=max_cell_size,
                    broadcast_batch=True,
                ).localCheckpoint(eager=True)
            else:
                verdicts = cb.semantic_admit_assigned(
                    idx,
                    batch.select("vec_id", "_v", "cell", "n"),
                    threshold=threshold,
                    max_cell_size=max_cell_size,
                    broadcast_batch=True,
                ).localCheckpoint(eager=True)
            verdicts.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(os.path.join(verdict_dir, f"batch-{batch_id}"))
            admitted = batch.join(
                verdicts.filter(~F.col("is_dup")).select("vec_id"),
                "vec_id",
                "left_semi",
            )
            # Bucketed write (CELL_BUCKETS note): cb recomputed from
            # cell, hive-partitioned so later triggers prune; the
            # repartition routes each bucket to ONE task so a batch
            # writes at most one file per non-empty bucket.
            (
                admitted.select("vec_id", "embedding", "cell", "n")
                .withColumn("cb", _bucket_of(F.col("cell"), cell_buckets))
                .repartition(width, F.col("cb"))
                .write.mode("overwrite")
                .partitionBy("cb")
                .parquet(os.path.join(index_dir, f"batch-{batch_id}"))
            )
            # Liveness probe on BOTH written partitions (see
            # _require_success): verdict side catches the committer
            # misconfiguration on the first batch; index side catches a
            # marker lost there alone, which would silently shrink the
            # stored index and re-admit duplicates (ADVICE r10).
            _require_success(os.path.join(verdict_dir, f"batch-{batch_id}"))
            _require_success(os.path.join(index_dir, f"batch-{batch_id}"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if fold_every:
        # Same self-healing live-count gate as the text loop: fold when
        # the index's own live batch-directory count reaches the bound,
        # not on a batch-id modulus a crash could skip forever.
        live_batches = sum(
            os.path.basename(p).startswith("batch-")
            for p in _table_parts(index_dir, exclude_batch=-1)
        )
        if live_batches >= fold_every:
            _fold_index(spark, index_dir, batch_id, cell_buckets)


def semantic_admission_stream(
    vec_stream: DataFrame,
    index_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
    centroids: list[list[float]] | None,
    threshold: float,
    query_name: str = "forget_semantic_admit",
    available_now: bool = False,
    max_cell_size: int | None = None,
    fold_every: int | None = FOLD_EVERY,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner=None,
    fingerprint: str | None = None,
    probe_n_fine: int | None = None,
    probe_flips: int | None = None,
    cell_buckets: int = CELL_BUCKETS,
) -> StreamingQuery:
    """Wire a vector stream into the per-batch embedding-admission loop.
    Returns the started query; exactly-once anchored by the checkpoint +
    the idempotent ``batch-<id>`` overwrites (the ``admission_stream``
    contract). ``assigner`` / ``fingerprint`` / ``probe_*`` as in
    :func:`semantic_admit_batch` — in particular probes default ON
    (full 1-flip recovery) when ``assigner`` is a structured
    ``codebook.PartitionedAssigner`` (VERDICT r11 #1b); the assigner
    must be stable across the stream's lifetime — it defines the
    index's cell space, and the persisted fingerprint makes a restart
    that violates this fail at the first trigger instead of silently
    admitting duplicates."""

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        semantic_admit_batch(
            batch.sparkSession,
            batch,
            batch_id,
            index_dir,
            verdict_dir,
            centroids,
            threshold=threshold,
            max_cell_size=max_cell_size,
            fold_every=fold_every,
            id_col=id_col,
            vec_col=vec_col,
            assigner=assigner,
            fingerprint=fingerprint,
            probe_n_fine=probe_n_fine,
            probe_flips=probe_flips,
            cell_buckets=cell_buckets,
        )

    writer = (
        vec_stream.writeStream.foreachBatch(_on_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
