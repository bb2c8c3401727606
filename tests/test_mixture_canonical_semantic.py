"""Planted-case semantics for the late-r9 operators semantic_dedup
(cluster-scoped embedding dedup) and mixture_plan (target-mixture
domain reweighting). The registered configs are oracle-hash-locked by
tests/test_oracle_parity.py; these tests pin the CLAIMS on inputs where
the expected answer is hand-derivable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from forgettable_spark.extensions.codebook import semantic_dedup
from forgettable_spark.extensions.sampling import mixture_plan

#: Two unit centroids: cell 0 = x-axis, cell 1 = y-axis (score is
#: dot − ‖c‖²/2, so any vector with |x| > |y| lands in cell 0).
CENTS = [[1.0, 0.0], [0.0, 1.0]]


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(a), float(b)]) for i, (a, b) in rows], "vec_id long, embedding array<float>"
    )


def test_semantic_dedup_drops_higher_id_with_min_witness(spark):
    # Cell 0 holds three identical vectors (0, 1, 2) and one sub-threshold
    # member (4); cell 1 holds one vector (3). Keep-min-id: 1 and 2 drop,
    # BOTH witnessed by 0 (the minimal witness, not just any witness).
    df = _emb(
        spark,
        [(0, (1.0, 0.0)), (1, (1.0, 0.0)), (2, (1.0, 0.0)), (3, (0.0, 1.0)), (4, (0.8, 0.6))],
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, CENTS, threshold=0.95).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["dup_of"] == 0 and out[2]["dup_of"] == 0
    assert out[1]["cell"] == 0
    assert out[1]["cosine"] == pytest.approx(1.0)


def test_semantic_dedup_is_cell_scoped(spark):
    # Identical vectors in DIFFERENT cells are never compared: |x| vs |y|
    # splits these two across cells, so nothing drops even at cosine 1.
    df = _emb(spark, [(0, (0.7, 0.6)), (1, (0.6, 0.7))])
    assert semantic_dedup(df, CENTS, threshold=0.5).count() == 0


def test_semantic_dedup_cap_excludes_members_entirely(spark):
    # With max_cell_size=1 the cell keeps one md5-sampled member — the
    # others are neither droppable nor witnesses, so no rows survive.
    df = _emb(spark, [(0, (1.0, 0.0)), (1, (1.0, 0.0)), (2, (1.0, 0.0))])
    assert semantic_dedup(df, CENTS, threshold=0.95, max_cell_size=1).count() == 0


def _docs(spark, counts):
    rows = []
    i = 0
    for src, n in counts.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_mixture_plan_binds_on_scarcest_source(spark):
    docs = _docs(spark, {"a": 10, "b": 20, "c": 5})
    plan = {r["source"]: r for r in mixture_plan(docs, {"a": 0.5, "b": 0.5}).collect()}
    # T = min(10/0.5, 20/0.5) = 20 → keep 10 of a, 10 of b, 0 of c.
    assert plan["a"]["keep_n"] == 10 and plan["b"]["keep_n"] == 10
    assert plan["c"]["keep_n"] == 0 and plan["c"]["target_share"] == 0.0
    assert plan["a"]["achieved_share"] == pytest.approx(0.5)
    assert plan["b"]["achieved_share"] == pytest.approx(0.5)


def test_mixture_plan_keep_never_exceeds_available(spark):
    # The ulp guard (+1e-9) must round p·T up onto n for the binding
    # source, and LEAST caps it there — keep_n == n_docs exactly.
    docs = _docs(spark, {"a": 7, "b": 30})
    plan = {r["source"]: r for r in mixture_plan(docs, {"a": 0.3, "b": 0.7}).collect()}
    assert plan["a"]["keep_n"] == 7  # binding source keeps everything
    assert plan["b"]["keep_n"] <= 30


def test_mixture_plan_no_matching_source_keeps_nothing(spark):
    docs = _docs(spark, {"a": 5})
    plan = mixture_plan(docs, {"zzz": 1.0}).collect()
    assert all(r["keep_n"] == 0 and r["achieved_share"] == 0.0 for r in plan)
    # r10 (ADVICE r9): the absent target source gets its own report row
    # instead of vanishing — the loud trace of the misspelling.
    rows = {r["source"]: r for r in plan}
    assert rows["zzz"]["n_docs"] == 0 and rows["zzz"]["target_share"] == 1.0


def test_mixture_plan_missing_target_source_zeroes_plan(spark):
    """A recipe naming a source the corpus lacks (ADVICE r9): the missing
    source participates in the min as n_s=0, so T=0 and EVERY source
    keeps nothing — loud, with the zero row naming the culprit — instead
    of a silently-short plan whose achieved shares can't match the
    recipe."""
    docs = _docs(spark, {"a": 10, "b": 10})
    plan = {
        r["source"]: r
        for r in mixture_plan(
            docs, {"a": 0.4, "b": 0.4, "missing": 0.2}
        ).collect()
    }
    assert set(plan) == {"a", "b", "missing"}
    assert plan["missing"]["n_docs"] == 0
    assert plan["missing"]["target_share"] == pytest.approx(0.2)
    assert all(r["keep_n"] == 0 for r in plan.values())


def test_mixture_plan_empty_targets_raise(spark):
    with pytest.raises(ValueError):
        mixture_plan(_docs(spark, {"a": 1}), {})


# Two-level trained quantizer -------------------------------------------------


def test_two_level_k1_equals_flat_when_one_coarse_cell(spark):
    """With k1=1 the single fine codebook trains on the WHOLE sample —
    identical to the flat codebook — and global cell = fine cell, so the
    two paths must agree bit-for-bit end to end."""
    from forgettable_spark.extensions.codebook import (
        semantic_dedup,
        semantic_dedup_two_level,
        train_codebook,
        train_two_level_codebook,
    )
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    flat = train_codebook(emb, k=8)
    coarse, fines = train_two_level_codebook(emb, k1=1, k2=8)
    assert fines[0] == flat
    a = sorted(map(tuple, semantic_dedup(emb, flat, 0.38, max_cell_size=64).collect()))
    b = sorted(
        map(
            tuple,
            semantic_dedup_two_level(
                emb, coarse, fines, 0.38, max_cell_size=64
            ).collect(),
        )
    )
    assert a == b


def test_two_level_training_local_matches_spark(spark):
    from forgettable_spark.extensions.codebook import (
        train_two_level_codebook,
        train_two_level_codebook_local,
    )
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    c1, f1 = train_two_level_codebook(emb, k1=4, k2=2)
    c2, f2 = train_two_level_codebook_local(
        f"{SF_ORACLE}/embeddings.parquet", k1=4, k2=2
    )
    assert c1 == c2 and f1 == f2


def test_two_level_global_cell_ids_are_offset_consistent(spark):
    """Ragged fine codebooks (a coarse cell with fewer sample members
    than k2) must still produce disjoint global id ranges."""
    from forgettable_spark.extensions.codebook import (
        _fine_offsets,
        train_two_level_codebook,
        with_two_level_cell,
    )
    from forgettable_spark.extensions.similarity import as_double
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = train_two_level_codebook(emb, k1=4, k2=2)
    offs = _fine_offsets(fines)
    total = offs[-1] + len(fines[-1])
    cells = (
        with_two_level_cell(
            emb.select(as_double(F.col("embedding")).alias("_v")), coarse, fines
        )
        .select("cell")
        .distinct()
        .collect()
    )
    assert all(0 <= r["cell"] < total for r in cells)


def test_partitioned_zero_sig_bits_equals_two_level(spark):
    """With b=0 there is ONE signature partition, so the composite cell
    id equals the two-level id and the partitioned dedup must agree
    bit-for-bit with `semantic_dedup_two_level` end to end."""
    from forgettable_spark.extensions.codebook import (
        semantic_dedup_partitioned,
        semantic_dedup_two_level,
        train_two_level_codebook,
    )
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = train_two_level_codebook(emb, k1=4, k2=2)
    a = sorted(
        map(
            tuple,
            semantic_dedup_two_level(
                emb, coarse, fines, 0.38, max_cell_size=64
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            semantic_dedup_partitioned(
                emb, coarse, fines, 0.38, n_sig_bits=0, max_cell_size=64
            ).collect(),
        )
    )
    assert a == b


def test_partitioned_sig_bits_refine_cells_and_keep_drops(spark):
    """The registered secondary config (b=2 over the 4×2 codebook) must
    (1) still find duplicates at correctness scale (non-vacuous oracle),
    (2) produce a drop set that is a SUBSET of the unpartitioned
    two-level one (extra signature bits only ever split cells, never
    merge them — pairs can only be lost, and witnesses can only grow
    ids, so we compare dropped vec_ids, not witnesses), and (3) emit
    composite cell ids consistent with sig·n_fine+two_level."""
    from forgettable_spark.extensions.codebook import (
        semantic_dedup_partitioned,
        semantic_dedup_two_level,
        train_two_level_codebook,
    )
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = train_two_level_codebook(emb, k1=4, k2=2)
    n_fine = sum(len(f) for f in fines)
    # No cap on either side: the cap window ranks by md5-of-id WITHIN a
    # cell, so splitting cells changes who caps out and the subset claim
    # would not hold; uncapped, it must.
    base = semantic_dedup_two_level(emb, coarse, fines, 0.38).collect()
    part = semantic_dedup_partitioned(
        emb, coarse, fines, 0.38, n_sig_bits=2
    ).collect()
    assert len(part) > 0
    assert {r["vec_id"] for r in part} <= {r["vec_id"] for r in base}
    assert all(0 <= r["cell"] < (1 << 2) * n_fine for r in part)


def test_partitioned_sig_bits_rule():
    """The corpus-aware signature width (VERDICT r10 #6): b =
    max(floor, ceil(log2(n / (k1·k2·cap)))) — engine and oracle derive
    it from the same parquet footer, so the rule itself is pinned here:
    floor at the correctness SFs, log growth above (sf1-scale 20k →
    b=6; sf30-scale 600k → b=11 at the 4×2/64 constants)."""
    import math

    from forgettable_spark import entrypoints_ext as ext

    denom = ext.SEMDEDUP_K1 * ext.SEMDEDUP_K2 * ext.SEMDEDUP_CAP
    assert denom == 512  # the documented constants this rule is sized for

    def rule(n: int) -> int:
        t = n / denom
        return max(ext.SEMDEDUP_SIG_BITS, math.ceil(math.log2(t)) if t > 1 else 0)

    # the real correctness corpora land exactly on the floor (oracle
    # rows unchanged from the fixed-b r10 form)
    assert ext._partitioned_sig_bits("/root/testdata/sf0.01") == 2
    assert ext._partitioned_sig_bits("/root/testdata/sf0.1") == 2
    # growth points of the pure rule
    assert rule(500) == 2 and rule(2_000) == 2
    assert rule(20_000) == 6 and rule(200_000) == 9 and rule(600_000) == 11
    # footer counts memoize and match the actual corpora
    assert ext._embeddings_count("/root/testdata/sf0.01") == 500
    assert ext._embeddings_count("/root/testdata/sf0.1") == 2_000


def test_probed_zero_flips_equals_partitioned(spark):
    """n_flip=0 must be bit-equal to the unprobed partitioned operator
    (the probe source is empty, so the plan degenerates to the home
    self-join) — capped config, the registered shape."""
    from forgettable_spark.extensions.codebook import (
        semantic_dedup_partitioned,
        semantic_dedup_probed,
        train_two_level_codebook,
    )
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = train_two_level_codebook(emb, k1=4, k2=2)
    a = sorted(
        map(
            tuple,
            semantic_dedup_partitioned(
                emb, coarse, fines, 0.38, n_sig_bits=2, max_cell_size=64
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            semantic_dedup_probed(
                emb, coarse, fines, 0.38, n_sig_bits=2, n_flip=0,
                max_cell_size=64,
            ).collect(),
        )
    )
    assert a == b


def test_probed_recall_monotone_and_bounded_by_two_level(spark):
    """Cap-free laws of the multi-probe recovery: the drop set grows
    monotonically in n_flip (more probes only add candidate pairs) and
    every arm stays a SUBSET of the unpartitioned two-level drop set
    (a probed pair agrees on the trained cell by construction — sig
    bits never merge trained cells). The full-flip arm must recover
    strictly more than the unprobed one on this corpus (non-vacuous)."""
    from forgettable_spark.extensions.codebook import (
        semantic_dedup_probed,
        semantic_dedup_two_level,
        train_two_level_codebook,
    )
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = train_two_level_codebook(emb, k1=4, k2=2)
    truth = {
        r["vec_id"]
        for r in semantic_dedup_two_level(emb, coarse, fines, 0.38).collect()
    }
    drops = {}
    for fl in (0, 1, 2):
        drops[fl] = {
            r["vec_id"]
            for r in semantic_dedup_probed(
                emb, coarse, fines, 0.38, n_sig_bits=2, n_flip=fl
            ).collect()
        }
    assert drops[0] <= drops[1] <= drops[2] <= truth
    assert len(drops[2]) > len(drops[0])
    # out-of-range n_flip must raise, not silently clamp
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_flip"):
        semantic_dedup_probed(emb, coarse, fines, 0.38, n_sig_bits=2, n_flip=3)


def test_admit_probed_monotone_recovery(spark):
    """The admission arm of the multi-probe recovery: without probes a
    partitioned assignment silently ADMITS duplicates straddling one
    signature bit (measured at sf0.01/b=2: 3 of 7 caught); the dup set
    must grow monotonically in n_flip and be strictly larger at full
    1-flip recovery on this corpus (non-vacuous)."""
    from pyspark.sql import functions as F

    from forgettable_spark import entrypoints_ext as ext
    from forgettable_spark.extensions import codebook as cb
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = ext._two_level_codebook_for(spark, SF_ORACLE)
    b = ext._partitioned_sig_bits(SF_ORACLE)
    n = emb.count()
    bound = min(ext.SEM_ADMIT_BATCH, (n + 7) // 8)
    new_ids = (
        emb.select(
            "vec_id",
            F.md5(
                F.concat(F.lit(f"{ext.INCR_SALT}:"), F.col("vec_id").cast("string"))
            ).alias("_k"),
        )
        .orderBy("_k", "vec_id")
        .limit(bound)
        .select("vec_id")
    )
    idx = emb.join(F.broadcast(new_ids), "vec_id", "left_anti")
    bat = emb.join(F.broadcast(new_ids), "vec_id", "left_semi")
    dups = {}
    for fl in (0, 1, b):
        v = cb.semantic_admit_probed(
            idx, bat, coarse, fines, n_sig_bits=b,
            threshold=ext.SEMDEDUP_COSINE, n_flip=fl,
            max_cell_size=ext.SEMDEDUP_CAP, broadcast_batch=True,
        ).collect()
        assert len(v) == bat.count()  # one verdict per batch vector
        dups[fl] = {r["vec_id"] for r in v if r["is_dup"]}
    assert dups[0] <= dups[1] <= dups[b]
    assert len(dups[b]) > len(dups[0])


def test_decontaminate_semantic_probe_widening_and_witness(spark):
    """Semantic decontamination laws: (1) the flagged set grows
    monotonically in n_probes (probes only add candidate cells), (2)
    every flagged cosine clears the threshold, (3) the witness is the
    MINIMAL qualifying eval id, and (4) eval vectors never flag
    themselves."""
    from forgettable_spark import entrypoints_ext as ext
    from forgettable_spark.extensions import codebook as cb
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    cents = ext._codebook_for(spark, SF_ORACLE, ext.KMEANS_CELLS)
    corpus = emb.filter(F.col("vec_id") % ext.ANN_QUERY_MOD != 0)
    evals = emb.filter(F.col("vec_id") % ext.ANN_QUERY_MOD == 0)
    out = {}
    for p in (1, 2):
        rows = cb.decontaminate_semantic(
            corpus, evals, cents, threshold=ext.SEMDEDUP_COSINE, n_probes=p
        ).collect()
        out[p] = {r["vec_id"]: r for r in rows}
    assert set(out[1]) <= set(out[2])
    assert all(r["cosine"] >= ext.SEMDEDUP_COSINE for r in out[2].values())
    assert all(r["vec_id"] % ext.ANN_QUERY_MOD != 0 for r in out[2].values())
    assert all(
        r["eval_vec_id"] % ext.ANN_QUERY_MOD == 0 for r in out[2].values()
    )


def test_mixture_apply_honors_plan_counts(spark):
    """The materialization keeps EXACTLY keep_n docs per source, and the
    kept set is the md5-order prefix (nested: growing a share only adds)."""
    from forgettable_spark.extensions.sampling import mixture_apply

    docs = _docs(spark, {"a": 10, "b": 20, "c": 5})
    kept = mixture_apply(docs, {"a": 0.5, "b": 0.5}).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["a"]) == 10 and len(by_src["b"]) == 10
    assert "c" not in by_src
    # nesting: a bigger share of b keeps a superset of b's docs
    kept2 = mixture_apply(docs, {"a": 0.25, "b": 0.75}).collect()
    b2 = {r["doc_id"] for r in kept2 if r["source"] == "b"}
    assert by_src["b"] <= b2


def test_semantic_admit_witness_rules(spark):
    """Index members witness regardless of id; batch members only
    witness LOWER ids; match_id is the minimal witness; admitted rows
    carry the text-family sentinels."""
    from forgettable_spark.extensions.codebook import semantic_admit

    # cell 0 (x-axis): index 100 ≈ batch 1 and 2; batch 1 also ≈ batch 2.
    # cell 1 (y-axis, score y−0.5 beats x−0.5 when y>x): batch 3 at
    # (0.6, 0.8) shares the cell with index 101 but scores cosine 0.8 —
    # below threshold, so admitted; batch 4 at (0.0, 1.0) is an exact
    # dup of index 101, proving index witnesses work in BOTH cells.
    index = _emb(spark, [(100, (1.0, 0.0)), (101, (0.0, 1.0))])
    batch = _emb(
        spark,
        [(1, (1.0, 0.0)), (2, (1.0, 0.0)), (3, (0.6, 0.8)), (4, (0.0, 1.0))],
    )
    out = {r["vec_id"]: r for r in semantic_admit(index, batch, CENTS, 0.95).collect()}
    # doc 1's only witness is index 100 (no lower-id batch member).
    assert out[1]["is_dup"] and out[1]["match_id"] == 100
    # doc 2 has two witnesses (index 100, batch 1) — minimal id wins.
    assert out[2]["is_dup"] and out[2]["match_id"] == 1
    assert not out[3]["is_dup"] and out[3]["match_id"] == -1 and out[3]["cosine"] == 0.0
    assert out[4]["is_dup"] and out[4]["match_id"] == 101


# Property tests ---------------------------------------------------------------


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _mixture_case(draw):
    n_src = draw(st.integers(min_value=1, max_value=5))
    counts = {
        f"s{i}": draw(st.integers(min_value=1, max_value=40)) for i in range(n_src)
    }
    # target over a nonempty subset, weights normalized driver-side
    subset = draw(
        st.lists(
            st.sampled_from(sorted(counts)), min_size=1, max_size=n_src, unique=True
        )
    )
    raw = {s: draw(st.integers(min_value=1, max_value=9)) for s in subset}
    tot = sum(raw.values())
    return counts, {s: w / tot for s, w in raw.items()}


@settings(max_examples=12, deadline=None)
@given(_mixture_case())
def test_mixture_plan_invariants(spark, case):
    """For ANY counts/targets: keep_n never exceeds availability, the
    binding source keeps everything (max retention), and every kept
    source's achieved share tracks its target within floor slack."""
    counts, targets = case
    plan = {
        r["source"]: r for r in mixture_plan(_docs(spark, counts), targets).collect()
    }
    big_t = min(counts[s] / p for s, p in targets.items())
    total = sum(r["keep_n"] for r in plan.values())
    for s, r in plan.items():
        assert 0 <= r["keep_n"] <= counts[s]
        if r["target_share"] == 0.0:
            assert r["keep_n"] == 0
    binding = min(targets, key=lambda s: counts[s] / targets[s])
    assert plan[binding]["keep_n"] == counts[binding]
    if total > 0:
        for s, p in targets.items():
            # floor() can shave at most 1 doc per source off the exact
            # p·T allocation, so each achieved share sits within
            # len(targets)/total of its target.
            assert abs(plan[s]["achieved_share"] - p) <= len(targets) / total


def test_probe_cells_prefix_composition_and_bigint_exactness(spark):
    """VERDICT r11 #7 + ADVICE r11: partial ``n_flip < b`` probes exactly
    the FIXED PREFIX of signature bits ``i < n_flip`` (sound only because
    the signature's hyperplanes are i.i.d. draws, so the bits are
    exchangeable — every n_flip-subset carries the same expected straddle
    mass), and the sig ÷/mod decomposition is exact INTEGER arithmetic
    over the full bigint range: the former double-division floor was
    exact only below 2^53, a silent divergence class from the oracle's
    integer ``//``."""
    from forgettable_spark.extensions.codebook import _probe_cells

    n_fine = 5  # ragged-realistic modulus: NOT a power of two, not k1*k2
    sig, tl = (1 << 55) + 0b1011, 4
    cell = sig * n_fine + tl
    assert cell > 2**53  # past double's exact-integer range
    got = (
        spark.createDataFrame([(cell,)], "cell long")
        .select(_probe_cells(F.col("cell"), n_fine, 3).alias("p"))
        .collect()[0]["p"]
    )
    # prefix bits 0..2 only, in order; exact recomposition past 2^53
    assert got == [(sig ^ (1 << i)) * n_fine + tl for i in range(3)]
    # full-width probe set for a small composite id, same closed form
    small = 3 * n_fine + 2
    got_small = (
        spark.createDataFrame([(small,)], "cell long")
        .select(_probe_cells(F.col("cell"), n_fine, 2).alias("p"))
        .collect()[0]["p"]
    )
    assert got_small == [(3 ^ 1) * n_fine + 2, (3 ^ 2) * n_fine + 2]


def test_banded_one_band_equals_partitioned(spark):
    """n_bands=1 with band_bits=b folds the SAME hyperplane slice
    (offset 0) and the band-index term vanishes (t=0), so composite
    cell ids — and with them the whole capped output — must be
    bit-equal to the unprobed partitioned operator."""
    from forgettable_spark.extensions.codebook import (
        semantic_dedup_banded,
        semantic_dedup_partitioned,
        train_two_level_codebook,
    )
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = train_two_level_codebook(emb, k1=4, k2=2)
    a = sorted(
        map(
            tuple,
            semantic_dedup_partitioned(
                emb, coarse, fines, 0.38, n_sig_bits=2, max_cell_size=64
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            semantic_dedup_banded(
                emb, coarse, fines, 0.38, n_bands=1, band_bits=2,
                max_cell_size=64,
            ).collect(),
        )
    )
    assert a == b


def test_banded_recall_monotone_and_bounded_by_two_level(spark):
    """Cap-free laws of the banded-OR construction: bands 1..r are a
    PREFIX of bands 1..r+1, so the drop set grows monotonically in
    n_bands; every arm's pairs agree on the trained cell, so every arm
    stays a SUBSET of the unpartitioned two-level drop set; and the
    registered 3-band config recovers strictly more than one band on
    this corpus (non-vacuous)."""
    from forgettable_spark.extensions.codebook import (
        semantic_dedup_banded,
        semantic_dedup_two_level,
        train_two_level_codebook,
    )
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = train_two_level_codebook(emb, k1=4, k2=2)
    truth = {
        r["vec_id"]
        for r in semantic_dedup_two_level(emb, coarse, fines, 0.38).collect()
    }
    drops = [
        {
            r["vec_id"]
            for r in semantic_dedup_banded(
                emb, coarse, fines, 0.38, n_bands=r_, band_bits=2
            ).collect()
        }
        for r_ in (1, 2, 3)
    ]
    assert drops[0] <= drops[1] <= drops[2], "not monotone in n_bands"
    assert drops[2] <= truth, "banded drop escaped the two-level truth"
    assert drops[0] < drops[2], "3 bands recovered nothing over 1 (vacuous)"


def test_probed_recall_gauge_matches_standalone_operators(spark):
    """r12: the registered recall gauge computes all arms from ONE
    cap-free trained-cell pair scan with per-arm signature FILTERS
    (codebook.probed_recall_gauge) — this locks that shortcut to the
    standalone operators: every arm's n_dropped must equal the distinct
    drop-set size of the full operator it stands for (probe-meet closed
    form == _probe_cells semantics; band-OR filter == banded explode),
    n_truth the two-level truth's, and recovered == dropped (subset by
    construction, verified not asserted)."""
    from forgettable_spark.extensions import codebook as cb
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = cb.train_two_level_codebook(emb, k1=4, k2=2)
    rows = {
        (r["variant"], r["setting"]): r
        for r in cb.probed_recall_gauge(
            emb, coarse, fines, 0.38, n_sig_bits=2,
            flip_settings=[0, 1, 2], n_bands=3, band_bits=2,
        ).collect()
    }
    truth = {
        r["vec_id"]
        for r in cb.semantic_dedup_two_level(emb, coarse, fines, 0.38).collect()
    }
    expected = {}
    for fl in (0, 1, 2):
        expected[("flips", fl)] = {
            r["vec_id"]
            for r in cb.semantic_dedup_probed(
                emb, coarse, fines, 0.38, n_sig_bits=2, n_flip=fl
            ).collect()
        }
    expected[("bands", 3)] = {
        r["vec_id"]
        for r in cb.semantic_dedup_banded(
            emb, coarse, fines, 0.38, n_bands=3, band_bits=2
        ).collect()
    }
    assert set(rows) == set(expected)
    for key, drop in expected.items():
        row = rows[key]
        assert row["n_truth"] == len(truth), key
        assert row["n_dropped"] == len(drop), key
        assert row["n_recovered"] == len(drop & truth) == row["n_dropped"], key


def test_admit_banded_one_band_equals_partitioned_admit(spark):
    """n_bands=1 at band_bits=b must be bit-equal to the unprobed
    partitioned admission (band 0 folds hyperplanes [0, b) — exactly
    assign_cells_partitioned's bits) — capped config, the production
    shape."""
    from forgettable_spark import entrypoints_ext as ext
    from forgettable_spark.extensions import codebook as cb
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = ext._two_level_codebook_for(spark, SF_ORACLE)
    b = ext._partitioned_sig_bits(SF_ORACLE)
    idx, bat = ext._admit_member_split(emb)
    banded = sorted(
        map(
            tuple,
            cb.semantic_admit_banded(
                idx, bat, coarse, fines, n_bands=1, band_bits=b,
                threshold=ext.SEMDEDUP_COSINE,
                max_cell_size=ext.SEMDEDUP_CAP, broadcast_batch=True,
            ).collect(),
        )
    )
    plain = sorted(
        map(
            tuple,
            cb.semantic_admit_assigned(
                cb.assign_cells_partitioned(idx, coarse, fines, b),
                cb.assign_cells_partitioned(bat, coarse, fines, b),
                threshold=ext.SEMDEDUP_COSINE,
                max_cell_size=ext.SEMDEDUP_CAP, broadcast_batch=True,
            ).collect(),
        )
    )
    assert banded == plain


def test_admit_banded_monotone_recovery(spark):
    """Cap-free banded-admission law: the caught-duplicate set grows
    monotonically in n_bands (more bands only add candidate pairs) and
    the registered 3-band config catches strictly more than one band on
    this corpus (non-vacuous) — the admission-side restatement of the
    banded dedup's monotonicity."""
    from forgettable_spark import entrypoints_ext as ext
    from forgettable_spark.extensions import codebook as cb
    from forgettable_spark.sources import load_table

    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    coarse, fines = ext._two_level_codebook_for(spark, SF_ORACLE)
    b = ext._partitioned_sig_bits(SF_ORACLE)
    idx, bat = ext._admit_member_split(emb)
    dups = {}
    for r_ in (1, 2, 3):
        dups[r_] = {
            row["vec_id"]
            for row in cb.semantic_admit_banded(
                idx, bat, coarse, fines, n_bands=r_, band_bits=b,
                threshold=ext.SEMDEDUP_COSINE, broadcast_batch=True,
            ).collect()
            if row["is_dup"]
        }
    assert dups[1] <= dups[2] <= dups[3], "not monotone in n_bands"
    assert dups[1] < dups[3], "3 bands caught nothing over 1 (vacuous)"
