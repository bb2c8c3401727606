"""Extension operators: semantic checks beyond oracle parity — does dedup
actually find the planted near-duplicates, does LSH agree with brute force,
does the multimodal plumbing move real batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from forgettable_spark.extensions import dedup, multimodal, similarity, text
from forgettable_spark.sources import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


def test_ngram_jaccard_finds_planted_dups(docs):
    """The corpus plants near-duplicates (docs containing a 'dup' marker
    are perturbed copies of an original); blocked brute-force Jaccard at
    0.8 must surface them and every pair must involve a dup-marked doc."""
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert len(pairs) > 0
    marked = {
        r["doc_id"] for r in docs.filter(F.col("text").contains("dup")).select("doc_id").collect()
    }
    for p in pairs:
        assert p["doc_a"] in marked or p["doc_b"] in marked


def test_lsh_pairs_subset_of_bruteforce(docs):
    """LSH is candidates+verify: every LSH pair must also pass brute-force
    verification (precision 1.0); recall here should be total because the
    planted dups are J≈0.95+ (far above the k=12,b=4 S-curve knee)."""
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    # brute force blocks on lang; LSH is unblocked — compare on the blocked set
    assert brute <= lsh or brute == lsh  # LSH may legitimately find cross-lang pairs
    high = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    assert high <= lsh


def test_exact_dedup_no_false_groups(docs):
    out = dedup.exact_dedup(docs)
    assert out.filter(~F.col("is_canonical")).count() == 0  # corpus has no exact dups
    assert out.count() == docs.count()


def test_simhash_close_for_near_dups(docs):
    """Near-duplicate docs should have small simhash hamming distance."""
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.9).limit(5).collect()
    sk = {r["doc_id"]: r["simhash"] for r in dedup.simhash_sketch(docs).collect()}
    for p in pairs:
        h = bin(sk[p["doc_a"]] ^ sk[p["doc_b"]]).count("1")
        assert h <= 10, f"near-dup pair {p} has hamming {h}"


def test_simhash_xxhash64_fast_path(docs):
    """The production token-hash hook: F.xxhash64 in place of the
    oracle-parity md5 hash. Batch sketch and row-local column must stay
    bit-identical to each other under the alternate hash, and the pairs
    pipeline must run end-to-end on it."""
    spark = docs.sparkSession
    batch = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_sketch(docs, token_hash=lambda t: F.xxhash64(t)).collect()
    }
    col = {
        r["doc_id"]: r["simhash"]
        for r in docs.select(
            "doc_id",
            dedup.simhash_column(F.col("text"), token_hash=lambda t: F.xxhash64(t)).alias("simhash"),
        ).collect()
    }
    assert batch == col
    assert all(0 <= v < (1 << 60) for v in batch.values())
    # different hash family -> (almost surely) different sketches
    md5_sk = {r["doc_id"]: r["simhash"] for r in dedup.simhash_sketch(docs).collect()}
    assert batch != md5_sk
    pairs = dedup.simhash_pairs(docs, token_hash=lambda t: F.xxhash64(t))
    assert pairs.columns == ["doc_a", "doc_b", "hamming"]
    pairs.collect()


def test_chunk_dedup_finds_planted_chunk(spark):
    """A 20-token block shared verbatim by two docs must surface as one
    duplicated chunk with the earlier (doc_id, chunk_idx) canonical;
    unique text must produce nothing."""
    block = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, block + " tail one"),            # chunk 0 == block, chunk 1 = tail
        (2, "unique words only here"),
        (3, block),                           # chunk 0 == block again
        (4, None),                            # NULL text: excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.chunk_dedup(docs, width=20).collect()
    assert {(r["doc_id"], r["chunk_idx"]) for r in out} == {(1, 0), (3, 0)}
    by_key = {(r["doc_id"], r["chunk_idx"]): r for r in out}
    assert by_key[(1, 0)]["is_canonical"] is True
    assert by_key[(3, 0)]["is_canonical"] is False
    assert all(r["n_copies"] == 2 for r in out)


def test_chunk_array_reconstruction_property(spark):
    """Property: for any token count and width, concat of the chunks
    reproduces the original text exactly (chunking is a partition, never
    lossy) — the invariant any rebuild of a document from its chunks
    rests on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cases = []

    @settings(max_examples=30, deadline=None)
    @given(st.integers(min_value=1, max_value=65), st.integers(min_value=1, max_value=25))
    def gen(n_tokens, width):
        cases.append((" ".join(f"t{i}" for i in range(n_tokens)), width))

    gen()
    by_width = {}
    for text, width in cases:
        by_width.setdefault(width, []).append(text)
    for width, texts in by_width.items():
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = df.select(
            "text",
            F.concat_ws(" ", dedup.chunk_array(F.col("text"), width)).alias("re"),
        ).collect()
        for r in got:
            assert r["re"] == r["text"], f"width={width}"




def test_brute_force_topk_sanity(emb):
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.brute_force_topk(emb, q, k=5).collect()
    assert len(out) == 5
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)
    assert all(r["neighbor_id"] != 0 for r in out)
    assert all(-1.0 <= c <= 1.0 for c in cosines)


def test_minhash_estimates_jaccard(docs):
    """Sketch quality: across planted near-dup pairs, the fraction of
    matching signature components is an unbiased Jaccard estimator —
    the mean absolute estimation error over pairs must be small."""
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert pairs
    sigs = {
        r["doc_id"]: r["minhash"]
        for r in docs.select(
            "doc_id",
            text.minhash_signature(text.shingles(F.col("text")), k=12).alias("minhash"),
        ).collect()
    }
    errs = []
    for p in pairs:
        a, b = sigs[p["doc_a"]], sigs[p["doc_b"]]
        est = sum(1 for x, y in zip(a, b) if x == y) / len(a)
        errs.append(abs(est - p["jaccard"]))
    # k=12 → σ ≈ sqrt(J(1-J)/12) ≈ 0.11 at J=0.9; mean |err| stays well under
    assert sum(errs) / len(errs) < 0.2


def test_signature_ann_sample_cap_serves_hot_cell_queries(spark):
    """A tight cluster occupies ONE sign-LSH cell no matter the bit
    count; sample-to-cap must keep every query served with at most cap
    candidates, while drop mode strands them all — the clustered-corpus
    contract SCALING.md documents."""
    import random

    rnd = random.Random(7)
    base = [rnd.uniform(0.5, 1.0) for _ in range(16)]
    rows = [
        (i, [x + rnd.uniform(-0.01, 0.01) for x in base]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id") < 5)
    sampled = similarity.signature_ann_topk(
        emb, qs, k=10, n_bits=12, n_flip=0, max_bucket_size=4, cap_mode="sample"
    ).collect()
    served = {r["query_id"] for r in sampled}
    assert served == {0, 1, 2, 3, 4}
    per_q = {}
    for r in sampled:
        per_q.setdefault(r["query_id"], 0)
        per_q[r["query_id"]] += 1
    assert all(n <= 4 for n in per_q.values())  # cap bounds candidates
    dropped = similarity.signature_ann_topk(
        emb, qs, k=10, n_bits=12, n_flip=0, max_bucket_size=4,
        cap_mode="drop", log_dropped=False,
    ).collect()
    assert dropped == []  # the one hot cell was dropped entirely


def test_quantized_signature_matches_float_candidates(emb):
    """The composed config (signature cells + int8 scoring): candidate
    sets must equal the float signature path at the same (bits, flips,
    cap) — cells come from the original floats — and int8 rankings must
    agree with float rankings on the vast majority of queries (the
    quantization-error bound the int8 module unit-tests)."""
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    kw = dict(k=5, n_bits=6, n_flip=2, max_bucket_size=8)
    fl = similarity.signature_ann_topk(emb, qs, cap_mode="sample", **kw).collect()
    qz = similarity.quantized_signature_topk(emb, qs, **kw).collect()
    # int8 may reorder near-ties at the top-k edge, so compare the
    # per-query candidate pools rather than exact (id, rank) tuples
    fl_pool = {}
    qz_pool = {}
    for r in fl:
        fl_pool.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in qz:
        qz_pool.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(fl_pool) == set(qz_pool)  # same queries served
    same = sum(1 for q in fl_pool if fl_pool[q] == qz_pool[q])
    assert same / len(fl_pool) >= 0.8  # int8 error rarely crosses top-k edge






def test_multimodal_pipeline(spark):
    media = multimodal.synthetic_media(spark, n=30)
    feats = multimodal.extract_image_features(media).collect()
    assert len(feats) == 10  # every 3rd synthetic row is an image
    for f in feats:
        assert f["feat_dim"] == 8 and f["n_bytes"] > 0 and len(f["sha256"]) == 64
        assert 0.0 <= f["feat_mean"] <= 1.0
    # deterministic: same input → same features
    again = multimodal.extract_image_features(media).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))


def test_multimodal_real_decoder_is_stubbed(spark):
    """Compressed formats stay behind the codec fence (synthetic media
    content is not PNM, and no codec library ships here)."""
    media = multimodal.synthetic_media(spark, n=3)
    with pytest.raises(Exception):
        multimodal.extract_image_features(media, use_fake_decoder=False).collect()


def _ppm_bytes(width: int, height: int, pixel) -> bytes:
    """Binary P6 with a header comment; pixel(i) -> (r, g, b)."""
    raster = b"".join(
        bytes(pixel(i)) for i in range(width * height)
    )
    return b"P6\n# synthetic test image\n%d %d\n255\n" % (width, height) + raster


def test_multimodal_real_decode_ppm_end_to_end(spark):
    """VERDICT r8 #4: the REAL decode branch (use_fake_decoder=False)
    runs end-to-end in this codec-less environment through the stdlib
    PPM parser — header parse, luma, pooling, inside the distributed
    mapInPandas stage — and matches the driver-side decode exactly."""
    imgs = [
        _ppm_bytes(4, 4, lambda i: (16 * i, 8 * i, 4 * i)),
        _ppm_bytes(5, 3, lambda i: (255 - 17 * i, 0, 17 * i)),
        _ppm_bytes(1, 1, lambda i: (9, 9, 9)),  # raster smaller than dim
    ]
    media = spark.createDataFrame(
        [(i, "image", img, None) for i, img in enumerate(imgs)],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_id"]: r
        for r in multimodal.extract_image_features(
            media, use_fake_decoder=False
        ).collect()
    }
    assert set(rows) == {0, 1, 2}
    for i, img in enumerate(imgs):
        feats = multimodal.decode_image(img, dim=8)
        assert rows[i]["feat_dim"] == 8
        assert rows[i]["n_bytes"] == len(img)
        assert rows[i]["feat_mean"] == pytest.approx(sum(feats) / len(feats))
        assert all(0.0 <= f <= 1.0 for f in feats)


def test_media_histograms_real_decode_ppm(spark):
    """The near-dup featurizer's real-decode branch also runs end-to-end
    on PNM: decoded samples are histogrammed (not the raw bytes), so two
    renderings of the SAME image with different byte layouts (P6 RGB vs
    P5 grayscale at the P6 luma values) land identical histograms."""
    p6 = _ppm_bytes(4, 2, lambda i: (32 * i, 16 * i, 8 * i))
    _, _, _, gray = multimodal._parse_pnm_gray(p6)
    p5 = b"P5\n4 2\n255\n" + bytes(gray)
    media = spark.createDataFrame(
        [(0, "image", p6, None), (1, "image", p5, None)],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_id"]: r
        for r in multimodal.extract_feature_histograms(
            media, use_fake_decoder=False
        ).collect()
    }
    assert rows[0]["counts"] == rows[1]["counts"]
    assert rows[0]["n_chars"] == sum(rows[0]["counts"]) > 0
    # different bytes -> different exact-dup key, same perceptual features
    assert rows[0]["sha256"] != rows[1]["sha256"]


def test_parse_pnm_gray_p6_p5_and_errors():
    # P6 luma: (299r + 587g + 114b) // 1000, bit-deterministic
    p6 = _ppm_bytes(2, 1, lambda i: (100, 200, 50) if i == 0 else (0, 0, 255))
    w, h, maxval, gray = multimodal._parse_pnm_gray(p6)
    assert (w, h, maxval) == (2, 1, 255)
    assert gray == [(100 * 299 + 200 * 587 + 50 * 114) // 1000, (255 * 114) // 1000]

    # P5 grayscale passthrough, maxval 100
    p5 = b"P5 3 1 100 " + bytes([0, 50, 100])
    assert multimodal._parse_pnm_gray(p5) == (3, 1, 100, [0, 50, 100])
    # normalization uses the header maxval, not 255
    assert multimodal.decode_image(p5, dim=3) == [0.0, 0.5, 1.0]

    with pytest.raises(ValueError, match="truncated PNM raster"):
        multimodal._parse_pnm_gray(b"P6\n2 2\n255\n" + b"\x00" * 5)
    with pytest.raises(ValueError, match="not a binary PNM"):
        multimodal._parse_pnm_gray(b"P3\n1 1\n255\n0 0 0")  # ASCII PNM unsupported
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.decode_image(b"\x89PNG\r\n....")  # compressed: still fenced


def test_decode_image_uses_codec_when_importable(monkeypatch):
    """decode_image auto-detects the codec per call: with a (fake) PIL in
    sys.modules it runs the real-decode branch end-to-end; without one it
    keeps the explicit NotImplementedError fence."""
    import sys
    import types

    class _FakeImg:
        def __init__(self):
            self.resized_to = None

        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, size):
            self.resized_to = size
            return self

        def getdata(self):
            w, h = self.resized_to
            return list(range(w * h))

    opened = {}

    def _open(buf):
        opened["bytes"] = buf.read()
        return _FakeImg()

    pil = types.ModuleType("PIL")
    pil.Image = types.SimpleNamespace(open=_open)
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", pil.Image)

    feats = multimodal.decode_image(b"not-really-a-png", dim=8)
    assert opened["bytes"] == b"not-really-a-png"
    assert feats == [p / 255.0 for p in range(8)]  # 4x2 grayscale thumbnail

    # fence intact when no codec is importable
    monkeypatch.delitem(sys.modules, "PIL")
    monkeypatch.delitem(sys.modules, "PIL.Image")
    monkeypatch.setattr(sys, "path", [])
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.decode_image(b"x")


def test_byte_histogram():
    # hex-digit bytes land on their nibble value; everything else on b % dim
    assert multimodal.byte_histogram(b"00ff") == (
        [2] + [0] * 14 + [2]
    )
    h = multimodal.byte_histogram(b"\x10\x21\x32", dim=16)
    assert h[0] == 1 and h[1] == 1 and h[2] == 1 and sum(h) == 3
    assert sum(multimodal.byte_histogram(b"anything at all")) == len(b"anything at all")


def test_media_near_dup_finds_planted_dups(spark):
    """The registered manifest plants two duplicate classes: byte-identical
    copies (ids ≡ 21 mod 24 copy id-12) and same-payload-different-repeat
    copies (ids ≡ 15 mod 24 — the 'same image, different resolution' case:
    identical normalized histogram, different bytes)."""
    from forgettable_spark.entrypoints_ext import _media_with_planted_dups

    media = _media_with_planted_dups(spark)
    rows = multimodal.media_near_dup_pairs(media).collect()
    by_pair = {(r["media_a"], r["media_b"]): r for r in rows}
    for a, b in [(9, 21), (33, 45)]:  # exact: same bytes
        r = by_pair[(a, b)]
        assert r["is_exact"] and r["l1"] == 0.0 and r["hamming"] == 0
    for a, b in [(3, 15), (27, 39), (51, 63)]:  # perceptual: same hist only
        r = by_pair[(a, b)]
        assert not r["is_exact"] and r["l1"] == 0.0 and r["hamming"] == 0
    assert all(a < b for a, b in by_pair)
    # deterministic end-to-end
    again = multimodal.media_near_dup_pairs(media).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_media_near_dup_bucket_cap_yields_subset(spark):
    """A tiny hot-bucket cap must only DROP candidate pairs (never invent
    or corrupt one) and stay deterministic — same contract as the SimHash
    capped twin."""
    media = multimodal.synthetic_media(spark, n=48)
    full = {tuple(r) for r in multimodal.media_near_dup_pairs(media).collect()}
    capped_rows = multimodal.media_near_dup_pairs(media, max_bucket_size=3).collect()
    capped = {tuple(r) for r in capped_rows}
    assert capped <= full
    again = {
        tuple(r) for r in multimodal.media_near_dup_pairs(media, max_bucket_size=3).collect()
    }
    assert capped == again


def test_media_histograms_real_decoder_is_stubbed(spark):
    media = multimodal.synthetic_media(spark, n=3)
    with pytest.raises(Exception):
        multimodal.extract_feature_histograms(media, use_fake_decoder=False).collect()


def test_frame_sample_plan(spark):
    media = multimodal.synthetic_media(spark, n=30)
    plan = multimodal.frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert len(rows) > 0
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    for mid, frames in by_media.items():
        assert frames == sorted(frames)
        assert frames[0] == 0


def test_repartition_by_bytes(spark):
    media = multimodal.synthetic_media(spark, n=64)
    out = multimodal.repartition_by_bytes(media, target_bytes_per_partition=1024)
    assert out.rdd.getNumPartitions() >= 2
    assert out.count() == 64


def test_repartition_by_bytes_uses_file_metadata(spark, tmp_path):
    """File-backed frames size partitions from filesystem metadata — no
    content scan (no Spark job) before the real work."""
    p = str(tmp_path / "media")
    multimodal.synthetic_media(spark, n=64).write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p)
    total = multimodal._input_files_bytes(back)
    assert total is not None and total > 0
    out = multimodal.repartition_by_bytes(back, target_bytes_per_partition=4096)
    assert out.rdd.getNumPartitions() == total // 4096 + 1
    assert out.count() == 64
    # synthetic (non-file-backed) frames report None and fall back
    assert multimodal._input_files_bytes(multimodal.synthetic_media(spark, n=4)) is None


# -- contamination / PII / vocabulary ----------------------------------------


def test_decontaminate_flags_planted_contamination(spark):
    from forgettable_spark.extensions import contamination

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),   # eval doc
        (1, "alpha beta gamma delta epsilon zeta"),   # exact copy -> containment 1.0
        (2, "alpha beta gamma delta other words here"),  # partial overlap
        (3, "completely unrelated text with no overlap at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    eval_docs = docs.filter(F.col("doc_id") == 0)
    out = contamination.decontaminate(docs, eval_docs, min_shared=1).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert 0 not in by_doc  # self-pair excluded
    assert 3 not in by_doc
    assert by_doc[1]["containment"] == 1.0
    # doc 2 shares exactly the grams of "alpha beta gamma delta": 2 of 4
    assert by_doc[2]["n_shared"] == 2
    assert by_doc[2]["containment"] == 0.5

    keep = contamination.keep_list_after_decontamination(
        docs, eval_docs, min_shared=1
    )
    assert sorted(r["doc_id"] for r in keep.collect()) == [0, 3]






def test_null_and_empty_text_robustness(spark):
    """Real corpora contain empty and NULL documents. Contract: NULL text
    matches nothing (never grouped, never paired);
    empty text is a real value (two '' docs ARE exact duplicates)."""
    docs = spark.createDataFrame(
        [
            (1, "some normal text content"),
            (2, ""),
            (3, ""),
            (4, None),
            (5, None),
        ],
        ["doc_id", "text"],
    )
    ex = {r["doc_id"]: r for r in dedup.exact_dedup(docs).collect()}
    assert ex[2]["group_size"] == 2 and ex[3]["group_size"] == 2
    assert ex[2]["is_canonical"] and not ex[3]["is_canonical"]
    # NULL rows are singletons, each its own canonical row
    assert ex[4]["group_size"] == 1 and ex[5]["group_size"] == 1
    assert ex[4]["is_canonical"] and ex[5]["is_canonical"]

    # sketch-only pairing must not match NULL docs to each other
    sp = dedup.simhash_pairs(docs, max_hamming=3).collect()
    for r in sp:
        assert 4 not in (r["doc_a"], r["doc_b"])
        assert 5 not in (r["doc_a"], r["doc_b"])

    # LSH and exact-Jaccard paths exclude NULL docs before sketching
    # (array_intersect's NULL-equality would otherwise verify them at 1.0)
    for pairs_fn in (dedup.minhash_lsh_pairs, dedup.ngram_jaccard_pairs):
        kw = {"block_col": "text"} if pairs_fn is dedup.ngram_jaccard_pairs else {}
        for r in pairs_fn(docs, **kw).collect():
            assert 4 not in (r["doc_a"], r["doc_b"])
            assert 5 not in (r["doc_a"], r["doc_b"])


def test_hash_split_deterministic_and_proportional(spark):
    from forgettable_spark.extensions import sampling

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = {r["doc_id"]: r["split"] for r in sampling.hash_split(docs, w).collect()}
    b = {r["doc_id"]: r["split"] for r in
         sampling.hash_split(docs.repartition(13), w).collect()}
    assert a == b  # partitioning-independent
    from collections import Counter
    c = Counter(a.values())
    assert 0.85 < c["train"] / 2000 < 0.95
    assert 0.03 < c["val"] / 2000 < 0.07
    assert 0.03 < c["test"] / 2000 < 0.07
    with pytest.raises(ValueError):
        sampling.hash_split(docs, {"train": 0.5, "val": 0.1})




def test_tfidf_keywords_ranks_rare_tokens(spark):
    """A token unique to one doc must outscore corpus-wide tokens."""
    docs = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common words here"),
            (3, "common words again"),
        ],
        ["doc_id", "text"],
    )
    out = text.tfidf_keywords(docs, top_j=1).collect()
    top = {r["doc_id"]: r["token"] for r in out}
    assert top[1] == "zebra"  # df=1 beats tf=2 of 'common' (df=3): 3 > 2
    assert all(r["rank"] == 1 for r in out)


def test_hyperplane_lsh_precision_and_recall(emb):
    """Sign-LSH near-dup pairs: precision must be exact (verification
    re-checks every candidate), and recall against brute-force ground
    truth must clear the S-curve floor for this fixture's cosine regime
    (pairs sit at ~0.4-0.5 → per-bit agreement ~0.65 → expected recall
    ~0.7; deterministic hyperplanes + fixed data make the measured value
    stable)."""
    from itertools import combinations

    out = similarity.hyperplane_near_dup_pairs(emb, threshold=0.4).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in out}
    assert found, "fixture should contain pairs above the demo threshold"

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / ((sum(x * x for x in a) ** 0.5) * (sum(x * x for x in b) ** 0.5))

    truth = {
        (a, b)
        for a, b in combinations(sorted(vecs), 2)
        if cos(vecs[a], vecs[b]) >= 0.4 - 1e-12
    }
    assert found <= truth  # exact precision
    assert len(found & truth) / len(truth) >= 0.4  # S-curve recall floor


def test_repetition_stats_hand_computed(spark):
    """'a a a b': bigrams (a a, a a, a b) -> n=3, top=2/3, dup=1/3;
    a no-repeat doc scores dup 0; a 1-token doc falls back
    to the single whole-text gram (fracs 1.0 / 0.0)."""
    from forgettable_spark.extensions.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "solo")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["n_bigrams"] == 3
    assert rows[1]["top_bigram_frac"] == pytest.approx(2 / 3)
    assert rows[1]["dup_bigram_frac"] == pytest.approx(1 / 3)
    assert rows[2]["n_bigrams"] == 2
    assert rows[2]["top_bigram_frac"] == 0.5 and rows[2]["dup_bigram_frac"] == 0.0
    assert rows[3]["n_bigrams"] == 1
    assert rows[3]["top_bigram_frac"] == 1.0 and rows[3]["dup_bigram_frac"] == 0.0


def test_quantized_ranking_tracks_exact(spark):
    """int8 quantization: reconstructed cosine within ~2/127 of exact for
    unit-scale random vectors, and top-1 neighbors mostly agree with the
    exact ranking on a well-separated corpus."""
    import random

    from forgettable_spark.extensions import similarity

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(32)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    qs = emb.filter("vec_id < 5")
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.brute_force_topk(emb, qs, k=59).collect()
    }
    # n_bits=0: every vector shares one cell, so every pair is scored
    quant = {
        (r["query_id"], r["neighbor_id"]): r["cosine_q"]
        for r in similarity.quantized_signature_topk(emb, qs, k=59, n_bits=0).collect()
    }
    assert exact.keys() == quant.keys()
    worst = max(abs(exact[k] - quant[k]) for k in exact)
    assert worst < 0.05, f"quantization error {worst} too large"


def test_quantize_embedding_edge_cases(spark):
    """``with_quantization``: all-zero vectors quantize to scale 0 /
    zero codes (no NULL/inf); codes are bounded by the symmetric int8
    range."""
    from forgettable_spark.extensions.similarity import QUANT_MAX, with_quantization

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, -2.0, 0.5])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    quantized = with_quantization(emb, "embedding", "s", "q")
    rows = {r["vec_id"]: r for r in quantized.select("vec_id", "s", "q").collect()}
    assert rows[0]["s"] == 0.0 and rows[0]["q"] == [0, 0, 0]
    assert rows[1]["q"][1] == -QUANT_MAX  # the max-|x| component saturates
    assert all(abs(c) <= QUANT_MAX for r in rows.values() for c in r["q"])




def test_sample_per_group_budget_bounds_and_floor(spark):
    """Budgeted sampling: each group's kept cumulative weight stays
    within budget (except the single-document floor), a group whose
    first doc exceeds the budget still contributes exactly that one
    doc, and raising the budget only adds documents."""
    from forgettable_spark.extensions import sampling

    rows = [(i, "en", 100) for i in range(50)] + [(100, "zh", 9999)] + [
        (101, "zh", 50)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    kept = sampling.sample_per_group_budget(docs, 1000).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r["lang"], []).append(r)
    assert sum(r["n_chars"] for r in by_lang["en"]) <= 1000
    assert len(by_lang["en"]) == 10  # 10 x 100 chars fills the budget
    # zh's md5-first doc might be the 9999 one (floor keeps it alone) or
    # the 50-char one (budget then excludes the 9999): either way zh is
    # represented and within the floor contract
    assert 1 <= len(by_lang["zh"]) <= 2
    small = {r["doc_id"] for r in sampling.sample_per_group_budget(docs, 500).collect()}
    big = {r["doc_id"] for r in sampling.sample_per_group_budget(docs, 2000).collect()}
    assert small < big  # nested


def test_rendered_sql_fast_paths(emb):
    """The rendered SQL of as_double/norm/int_dot and with_quantization
    is bit-identical to Column-built references written here (same
    expressions, parsed from SQL instead of built through py4j) — the
    plan-construction optimization must not move a single bit anywhere
    in the ANN/semantic family."""
    col_ad = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def col_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    col_norm = F.sqrt(col_dot(col_ad, col_ad))
    df = emb.select(
        similarity.as_double("embedding").alias("n_ad"),
        col_ad.alias("o_ad"),
        similarity.norm(similarity._as_double_expr_sql("embedding")).alias("n_n"),
        col_norm.alias("o_n"),
    )
    assert (
        df.filter((F.col("n_ad") != F.col("o_ad")) | (F.col("n_n") != F.col("o_n"))).count()
        == 0
    )
    # with_quantization: rendered vs the pre-r12 Column construction,
    # values AND dtypes (the CAST chain must keep codes array<int>)
    old = (
        emb.withColumn(
            "_s",
            F.array_max(F.transform(col_ad, lambda x: F.abs(x)))
            / F.lit(float(similarity.QUANT_MAX)),
        ).withColumn(
            "_q",
            F.transform(
                col_ad,
                lambda x: F.when(F.col("_s") == 0.0, F.lit(0))
                .otherwise(F.round(x / F.col("_s")))
                .cast("int"),
            ),
        )
    )
    new = similarity.with_quantization(emb, "embedding", "_s2", "_q2")
    assert dict(new.dtypes)["_q2"] == dict(old.dtypes)["_q"] == "array<int>"
    j = old.select("vec_id", "_s", "_q").join(
        new.select("vec_id", "_s2", "_q2"), "vec_id"
    )
    assert j.filter((F.col("_s") != F.col("_s2")) | (F.col("_q") != F.col("_q2"))).count() == 0
    # int_dot over the quantized codes, string vs Column form
    a = new.select("vec_id", "_q2").alias("a")
    b = new.select("vec_id", "_q2").alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).limit(2000)

    def col_int_dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, w: (u * w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, u: acc + u,
        )

    p2 = pairs.select(
        similarity.int_dot("a._q2", "b._q2").alias("n"),
        col_int_dot(F.col("a._q2"), F.col("b._q2")).alias("o"),
    )
    assert p2.filter(F.col("n") != F.col("o")).count() == 0


def test_probe_cells_rendered_matches_column_form(spark):
    """_probe_cells' rendered SQL (one F.expr parse) is bit-identical to
    a Column-built reference of the same closed form — including
    composite ids past 2^53, where the decimal(38,0) division is the
    load-bearing piece (ADVICE r11)."""
    from forgettable_spark.extensions.codebook import _probe_cells

    def col_probe_cells(cell, n_fine, n_flip):
        sig = (cell.cast("decimal(38,0)") / F.lit(n_fine)).cast("bigint")
        tl = cell % F.lit(n_fine)
        return F.array(
            *[
                (sig.bitwiseXOR(F.lit(1 << i)) * F.lit(n_fine) + tl).cast("bigint")
                for i in range(n_flip)
            ]
        )

    cells = [0, 1, 7, 12, 97, (1 << 53) + 11, (1 << 61) + 5]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    for n_fine, n_flip in ((8, 1), (8, 3), (3, 4), (13, 6)):
        out = df.select(
            _probe_cells("cell", n_fine, n_flip).alias("s"),
            col_probe_cells(F.col("cell"), n_fine, n_flip).alias("c"),
        )
        assert out.filter(F.col("s") != F.col("c")).count() == 0
