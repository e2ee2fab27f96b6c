"""Perceptual aHash image near-dup (operators/multimodal.py
image_ahash / ahash_pairs): planted-duplicate capture, perturbation
tolerance, geometry guards, and the real-PNG decode branch."""
from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_snowflake_etl_spark.operators.multimodal import (
    _ahash_from_gray,
    ahash_pairs,
    image_ahash,
    media_from_documents,
)


def _media(spark, rows):
    docs = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long")
    return media_from_documents(docs)


def test_identical_payloads_hash_equal_and_pair_at_hamming_zero(spark):
    base = ("the quick brown fox jumps over the lazy dog " * 8)[:320]
    media = _media(spark, [(1, base), (2, base), (3, "Z" * 320)])
    pairs = {(r.media_a, r.media_b, r.hamming)
             for r in ahash_pairs(media).collect()}
    assert (1, 2, 0) in pairs
    assert not any({a, b} == {1, 3} for a, b, _ in pairs)


def test_small_perturbation_small_hamming(spark):
    import numpy as np

    base = np.arange(320, dtype=np.int64).reshape(20, 16) % 251
    fp0 = _ahash_from_gray(base)
    bumped = base.copy()
    bumped[0, 0] += 3  # one pixel nudged: at most the one block flips
    fp1 = _ahash_from_gray(bumped)
    assert bin(fp0 ^ fp1).count("1") <= 1
    # global brightness shift preserves every "block vs mean" decision
    assert _ahash_from_gray(base + 40) == fp0


def test_too_small_geometry_is_null(spark):
    # < 15 rows of 16 bytes -> no stable blocks -> NULL, not garbage
    media = _media(spark, [(1, "x" * 100), (2, "y" * 239), (3, "z" * 240)])
    got = {r.media_id: r.ahash for r in image_ahash(media).collect()}
    assert got[1] is None and got[2] is None
    assert got[3] is not None


def test_png_branch_matches_fake_branch(spark):
    """The SAME bytes hashed through the REAL PNG decode branch
    (media_as_png -> png_decode) and through the fake 16-wide branch
    must produce the identical fingerprint — pixel values survive the
    encode/decode round trip exactly."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        media_as_png,
    )

    base = ("a structured sentence with varied characters 0123456789 "
            * 10)[:480]
    media = _media(spark, [(7, base)])
    fake = {r.media_id: r.ahash for r in image_ahash(media).collect()}
    png = {r.media_id: r.ahash
           for r in image_ahash(media_as_png(media)).collect()}
    assert fake[7] is not None
    assert png[7] == fake[7]


def test_banding_is_lossless_at_hamming_3(spark):
    """Adversarial: two fingerprints differing in exactly 3 bits spread
    over 3 DIFFERENT chunks must still pair (the 4th chunk is
    identical — pigeonhole) — driven through the REAL band+verify path
    (ahash_pairs_from_fps), so a wrong shift or mask in the banding SQL
    fails this test (ADVICE r8)."""
    import numpy as np

    from oracle_to_snowflake_etl_spark.operators.dedup import (
        SIMHASH_CHUNK_BITS,
    )
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        ahash_pairs_from_fps,
    )

    rng = np.random.RandomState(7)
    img = (rng.randint(0, 256, size=(30, 16))).astype(np.int64)
    fp = _ahash_from_gray(img)
    fp2 = fp ^ (1 << 0) ^ (1 << SIMHASH_CHUNK_BITS) \
             ^ (1 << (2 * SIMHASH_CHUNK_BITS))
    assert bin(fp ^ fp2).count("1") == 3
    # a 4-bit spread (one flip per chunk) breaks the pigeonhole: the
    # pair must NOT appear at max_hamming=3 even as a candidate
    fp3 = fp2 ^ (1 << (3 * SIMHASH_CHUNK_BITS))
    fps = spark.createDataFrame(
        [(1, fp), (2, fp2), (3, fp3)], "doc long, fp long")
    pairs = {(r.doc_a, r.doc_b, r.hamming)
             for r in ahash_pairs_from_fps(fps).collect()}
    assert (1, 2, 3) in pairs
    assert not any({a, b} == {1, 3} for a, b, _ in pairs)


def test_hot_bucket_report_and_budget(spark):
    """Degenerate content (all-black images) hashes to one fingerprint:
    the bucket report must surface the quadratic bucket BEFORE the pair
    step, and max_bucket_pairs must fail fast naming it; under-budget
    calls return identical pairs to the unguarded run."""
    import pytest

    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        ahash_bucket_report,
        ahash_fps,
    )

    black = "\x00" * 320                       # 20x16 all-zero image
    rows = [(i, black) for i in range(1, 7)]   # 6 copies -> 15 pairs/bucket
    rows += [(10, ("varied content 0123456789 abcdefghij " * 12)[:320])]
    media = _media(spark, rows)
    fps = ahash_fps(media)
    top = ahash_bucket_report(fps).first()
    assert top["n"] == 6 and top["pairs"] == 15
    with pytest.raises(ValueError, match="over budget"):
        ahash_pairs(media, max_bucket_pairs=10).collect()
    guarded = {(r.media_a, r.media_b)
               for r in ahash_pairs(media, max_bucket_pairs=1000).collect()}
    unguarded = {(r.media_a, r.media_b)
                 for r in ahash_pairs(media).collect()}
    assert guarded == unguarded and (1, 2) in guarded


def test_video_neardup_shared_segment(spark):
    """Two 'videos' sharing a long common segment (but different
    endings) must pair on 3-frame-run shingles; a third with disjoint
    content must not. Frame boundaries are 32-byte aligned, so the
    shared prefix guarantees shared sampled-frame runs."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        video_neardup_pairs,
    )

    seg = "".join(chr(65 + (i % 26)) for i in range(32 * 30))  # 30 frames
    a = seg + "1" * 64
    b = seg + "2" * 64
    c = "".join(chr(97 + (i * 7 % 26)) for i in range(32 * 32))
    media = _media(spark, [(1, a), (2, b), (3, c)])
    pairs = {(r.doc_a, r.doc_b) for r in video_neardup_pairs(media).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_video_blank_frames_scale_paths_agree(spark, force_df_path):
    """The realistic video hot-shingle case: long blank-frame runs
    shared by many videos make one frame-digest shingle hot. Both DF
    paths (window and partial-agg) and the sampled decision must emit
    identical pairs — the hot shingle moves the plan, never the
    answer."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        video_neardup_pairs,
    )

    blank = "\x00" * (32 * 12)          # 12 blank frames (4 sampled)
    tails = ["".join(chr(65 + ((i * s) % 26)) for i in range(32 * 9))
             for s in (1, 3, 5, 7, 11)]
    # five videos: shared blank intro + distinct tails, plus one pair
    # sharing a real segment too
    rows = [(i + 1, blank + t) for i, t in enumerate(tails)]
    rows.append((9, blank + tails[0][:32 * 6] + "z" * 64))
    media = _media(spark, rows)
    got = {}
    for path in (False, True, None):
        force_df_path(path)
        got[path] = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
                     for r in video_neardup_pairs(media).collect()}
    assert got[False] == got[True] == got[None]
    assert any(a == 1 and b == 9 for a, b, _ in got[False])


def test_ahash_incremental_no_drift(spark):
    """ahash_pairs_incremental == full-corpus ahash_pairs minus
    corpus-internal pairs — the defining no-drift property of a stored
    fingerprint index (the minhash/containment incremental contract)."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        ahash_fps,
        ahash_pairs_incremental,
    )

    base = ("the quick brown fox jumps over the lazy dog " * 8)[:320]
    alt = ("pack my box with five dozen liquor jugs today " * 8)[:320]
    rows = [(1, base), (2, base), (3, alt),          # corpus (dup pair 1-2)
            (11, base), (12, alt), (13, "Q" * 320)]  # batch (cross + sib)
    media = _media(spark, rows)
    corpus_m = media.where(F.col("media_id") <= 3)
    batch_m = media.where(F.col("media_id") >= 11)
    full = {(r.media_a, r.media_b, r.hamming)
            for r in ahash_pairs(media).collect()}
    corpus_only = {(r.media_a, r.media_b, r.hamming)
                   for r in ahash_pairs(corpus_m).collect()}
    incr = {(r.media_a, r.media_b, r.hamming)
            for r in ahash_pairs_incremental(
                batch_m, ahash_fps(corpus_m)).collect()}
    assert incr == full - corpus_only
    assert (1, 11, 0) in incr          # new-vs-corpus
    assert (1, 2, 0) not in incr       # corpus-internal excluded
    # the ingest-side bucket budget: under budget = identical result;
    # a degenerate class dominating the index + batch histogram aborts
    import pytest

    guarded = {(r.media_a, r.media_b, r.hamming)
               for r in ahash_pairs_incremental(
                   batch_m, ahash_fps(corpus_m),
                   max_bucket_pairs=1000).collect()}
    assert guarded == incr
    with pytest.raises(ValueError, match="over budget"):
        ahash_pairs_incremental(batch_m, ahash_fps(corpus_m),
                                max_bucket_pairs=0).collect()


def test_guarded_ahash_pairs_decode_payloads_once(spark):
    """The bucket-budget guard must not double the dominant cost
    (ADVICE r9): under the guard, the fingerprint frame is persisted
    across the guard's collect and the pair job, and the RETURNED frame
    is the eagerly-computed pair set — so no payload-decode MapInPandas
    pass remains in its plan for the caller to re-trigger, and the
    transient cache is already released."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        ahash_fps,
        ahash_pairs,
        ahash_pairs_incremental,
    )
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    base = ("the quick brown fox jumps over the lazy dog " * 8)[:320]
    alt = ("pack my box with five dozen liquor jugs today " * 8)[:320]
    media = _media(spark, [(1, base), (2, base), (3, alt)])
    out = ahash_pairs(media, max_bucket_pairs=1000)
    assert "MapInPandas" not in plan_string(out)     # decode already ran
    assert {(r.media_a, r.media_b) for r in out.collect()} == {(1, 2)}
    corpus = ahash_fps(media.where(F.col("media_id") <= 2))
    out_i = ahash_pairs_incremental(
        _media(spark, [(11, base), (13, alt)]), corpus,
        max_bucket_pairs=1000)
    assert "MapInPandas" not in plan_string(out_i)
    # batch dup of corpus base (11) matches 1 and 2; alt twin (13)
    # matches corpus-external nothing (alt has no corpus partner)
    assert {(r.media_a, r.media_b) for r in out_i.collect()} \
        == {(1, 11), (2, 11)}


def test_video_incremental_no_drift(spark):
    """video_neardup_pairs_incremental == full-corpus pairs minus
    corpus-internal pairs, under the stored digest-shingle index."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        video_frame_index,
        video_neardup_pairs,
        video_neardup_pairs_incremental,
    )

    seg = "".join(chr(65 + (i % 26)) for i in range(32 * 30))
    other = "".join(chr(97 + (i * 7 % 26)) for i in range(32 * 30))
    rows = [(1, seg + "1" * 64), (2, seg + "2" * 64),      # corpus pair
            (3, other + "3" * 64),
            (11, seg + "4" * 64), (12, other + "5" * 64)]  # batch
    media = _media(spark, rows)
    corpus_m = media.where(F.col("media_id") <= 3)
    batch_m = media.where(F.col("media_id") >= 11)
    full = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in video_neardup_pairs(media).collect()}
    corpus_only = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
                   for r in video_neardup_pairs(corpus_m).collect()}
    incr = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in video_neardup_pairs_incremental(
                batch_m, video_frame_index(corpus_m)).collect()}
    assert incr == full - corpus_only
    assert any(a == 1 and b == 11 for a, b, _ in incr)
    assert any(a == 3 and b == 12 for a, b, _ in incr)


def test_video_incremental_blank_frames_scale_paths_agree(
        spark, force_df_path):
    """The incremental form: a drop of blank-intro videos — the
    realistic hot-shingle batch — must emit identical pairs on every DF
    path (window, partial-agg, and the sampled decision), against a
    stored corpus index that shares the blank run."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        video_frame_index,
        video_neardup_pairs_incremental,
    )

    blank = "\x00" * (32 * 12)          # shared blank intro, 4 sampled
    tails = ["".join(chr(65 + ((i * s) % 26)) for i in range(32 * 9))
             for s in (1, 3, 5, 7, 11)]
    corpus_m = _media(spark, [(i + 1, blank + t)
                              for i, t in enumerate(tails[:3])])
    # batch: blank intro + one real segment shared with corpus video 1
    batch_m = _media(spark, [
        (11, blank + tails[0][:32 * 6] + "z" * 64),
        (12, blank + tails[3]), (13, blank + tails[4])])
    idx = video_frame_index(corpus_m)
    got = {}
    for path in (False, True, None):
        force_df_path(path)
        got[path] = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
                     for r in video_neardup_pairs_incremental(
                         batch_m, idx).collect()}
    assert got[False] == got[True] == got[None]
    assert any(a == 1 and b == 11 for a, b, _ in got[None])


def test_frame_docs_order_is_frame_order(spark):
    """frame_docs joins digests in frame_no order regardless of
    partitioning — the shingle semantics depend on it."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        frame_docs,
    )
    import hashlib

    text = "".join(chr(48 + (i % 10)) for i in range(32 * 9))  # 9 frames
    media = _media(spark, [(5, text)])
    got = frame_docs(media).collect()[0]["text"]
    expect = " ".join(
        hashlib.md5(text[f * 32:(f + 1) * 32].encode()).hexdigest()
        for f in range(0, 9, 3))
    assert got == expect
