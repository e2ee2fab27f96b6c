"""Composed incremental multimodal ingest (operators/multimodal.py
media_ingest_incremental — VERDICT r9 ask #3): byte gate + per-modality
stored-index near-dup accept decision, pinned against hand-derived
expectations covering every rule: direct corpus hit, corpus-immutable
keep-best divergence, within-batch keep-best and keep-first winners,
component taint through a batch sibling, the admission gate, and
replay idempotence under the exclude-own-partition convention."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_to_snowflake_etl_spark.operators.multimodal import (
    ahash_fps,
    audio_window_index,
    media_from_documents,
    media_ingest_incremental,
    video_frame_index,
)

# video geometry: frames are 32 bytes, every 3rd sampled -> one sampled
# frame per 96 bytes; a "segment" of 20 sampled frames keeps two-segment
# tracks above the 0.3 Jaccard threshold ((n-2)/(3n-2) = 0.31 at n=20)
_VSEG = 96 * 20
# audio geometry: 64-byte windows every 32 bytes; 24-hop shared segment
# + 4-hop distinct tails pairs at >= 0.3 (tests/test_audio_neardup.py)
_AHOP = 32


def _vseg(seed: int) -> str:
    return "".join(chr(65 + ((i * seed) % 26)) for i in range(_VSEG))


def _aseg(seed: int, hops: int) -> str:
    return "".join(chr(97 + ((i * seed) % 26)) for i in range(_AHOP * hops))


def _mm(spark, rows):
    """rows: (media_id, text, kind_int) with kind 0=image 1=audio
    2=video (media_from_documents' source convention)."""
    docs = spark.createDataFrame(
        [(i, t, "en", f"src{k}", len(t)) for i, t, k in rows],
        "doc_id long, text string, lang string, source string, n_chars long")
    return media_from_documents(docs)


_IMG_P = ("the quick brown fox jumps over the lazy dog " * 9)[:400]
_IMG_Q = ("pack my box with five dozen liquor jugs today " * 9)[:400]
_IMG_R = ("waltz bad nymph for quick jigs vex the judge now " * 8)[:400]


@pytest.fixture(scope="module")
def scenario(spark):
    s1, s2, s3, s4 = _vseg(1), _vseg(3), _vseg(5), _vseg(7)
    a_sh, a_new = _aseg(1, 24), _aseg(5, 24)
    corpus_rows = [
        (1, _IMG_P[:320], 0),                 # image
        (2, _IMG_R[:240], 0),                 # image, unrelated pattern
        (3, a_sh + _aseg(3, 4), 1),           # audio
        (4, s1 + s2, 2),                      # video
    ]
    batch_rows = [
        (101, _IMG_P[:320], 0),        # exact dup of corpus 1 -> drop
        (102, _IMG_P[:360], 0),        # LARGER near-dup of 1 (same aHash:
                                       # blocks read the first 240 bytes)
                                       # -> corpus-immutable drop
        (103, _IMG_Q[:320], 0),        # batch twins (shared 240-byte
        (104, _IMG_Q[:360], 0),        # prefix): keep-best keeps 104
        (105, a_sh + _aseg(7, 4), 1),  # shares corpus 3's segment -> drop
        (106, a_new + _aseg(9, 4), 1),  # batch twins: keep-first
        (107, a_new + _aseg(11, 4), 1),  # keeps 106
        (108, s2 + s3, 2),             # shares corpus 4's s2 -> drop
        (109, s3 + s4, 2),             # pairs 108 only: TAINTED -> drop
        (110, "tiny" * 20, 2),         # 80 bytes: gated out
        (112, _vseg(11) + _vseg(13), 2),  # unique video -> keep
    ]
    corpus = _mm(spark, corpus_rows)
    batch = _mm(spark, batch_rows)
    idx = {
        "image_fps": ahash_fps(corpus.where(F.col("kind") == "image")),
        "video_index": video_frame_index(
            corpus.where(F.col("kind") == "video")),
        "audio_index": audio_window_index(
            corpus.where(F.col("kind") == "audio")),
    }
    return corpus, batch, idx


def test_accept_decision_every_rule(spark, scenario):
    """One composed run exercises every accept rule; the survivor set
    is derived by hand above."""
    corpus, batch, idx = scenario
    # sanity: image 2's 240-byte fingerprint prefix must differ from
    # the P-pattern's, else the fixture degenerates
    fps = {r.doc: r.fp for r in idx["image_fps"].collect()}
    assert fps[1] != fps[2]
    acc = media_ingest_incremental(batch, **idx)
    got = {(r.media_id, r.kind, r.n_bytes) for r in acc.collect()}
    assert got == {(104, "image", 360), (106, "audio", 896),
                   (112, "video", 2 * _VSEG)}


def test_no_drift_vs_batch_pipeline_keep_first(spark, scenario):
    """For the keep-first modalities (video, audio) with corpus ids
    below batch ids, the incremental accept equals the BATCH pipeline
    re-run over corpus ∪ drop, restricted to batch ids — the
    component-taint rule is exactly what makes connectivity through a
    corpus doc visible. (Images are excluded by design: the batch
    pipeline could retract a smaller corpus copy, an ingest cannot —
    the corpus-immutable divergence the docstring states, pinned by
    test_corpus_immutable_image_divergence.)"""
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        dedup_survivors,
    )
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        audio_neardup_pairs,
        byte_stats,
        video_neardup_pairs,
    )

    corpus, batch, idx = scenario
    full = corpus.unionByName(batch)
    stats = byte_stats(full).where(F.col("n_bytes") >= 240)
    catalog = (full.select("media_id", "kind")
               .join(stats.select("media_id", "n_bytes"), "media_id"))
    gated = full.join(catalog.select("media_id"), "media_id")
    expect = set()
    for kind, pair_fn in (("video", video_neardup_pairs),
                          ("audio", audio_neardup_pairs)):
        surv = dedup_survivors(
            catalog.where(F.col("kind") == kind),
            pair_fn(gated.where(F.col("kind") == kind)),
            id_col="media_id", a_col="doc_a", b_col="doc_b")
        expect |= {r.media_id for r in surv.collect() if r.media_id > 100}
    acc = media_ingest_incremental(batch, **idx)
    got = {r.media_id for r in acc.collect() if r.kind in ("video", "audio")}
    assert got == expect == {106, 112}


def test_corpus_immutable_image_divergence(spark, scenario):
    """Batch image 102 is a LARGER near-dup of corpus image 1: a batch
    pipeline re-run would keep 102 (keep-best by size) and retract 1;
    the ingest drops 102 because accepted corpus media are immutable."""
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        dedup_survivors,
    )
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        ahash_pairs,
        byte_stats,
    )

    corpus, batch, idx = scenario
    full = corpus.unionByName(batch)
    stats = byte_stats(full).where(F.col("n_bytes") >= 240)
    catalog = (full.select("media_id", "kind")
               .join(stats.select("media_id", "n_bytes"), "media_id"))
    gated = full.join(catalog.select("media_id"), "media_id")
    surv = dedup_survivors(
        catalog.where(F.col("kind") == "image"),
        ahash_pairs(gated.where(F.col("kind") == "image")),
        keep="best", score=F.col("n_bytes"),
        id_col="media_id", a_col="media_a", b_col="media_b")
    full_ids = {r.media_id for r in surv.collect()}
    assert 102 in full_ids and 1 not in full_ids  # batch copy wins a re-run
    acc_ids = {r.media_id
               for r in media_ingest_incremental(batch, **idx).collect()}
    assert 102 not in acc_ids                     # ...but not an ingest


def test_replay_idempotence_exclude_own_partition(spark, scenario):
    """The ingest_embeddings_stream replay convention: after a crash
    that already wrote the drop's fingerprints, re-running with the
    drop's own index partition excluded reproduces the accept decision
    bit-for-bit (and the call itself is deterministic)."""
    corpus, batch, idx = scenario
    acc1 = sorted((r.media_id, r.kind, r.n_bytes)
                  for r in media_ingest_incremental(batch, **idx).collect())
    acc2 = sorted((r.media_id, r.kind, r.n_bytes)
                  for r in media_ingest_incremental(batch, **idx).collect())
    assert acc1 == acc2
    # absorb the drop into every index, then replay excluding it
    absorbed = {
        "image_fps": idx["image_fps"].unionByName(
            ahash_fps(batch.where(F.col("kind") == "image"))),
        "video_index": idx["video_index"].unionByName(
            video_frame_index(batch.where(F.col("kind") == "video"))),
        "audio_index": idx["audio_index"].unionByName(
            audio_window_index(batch.where(F.col("kind") == "audio"))),
    }
    replay_idx = {k: v.where(F.col("doc") < 100)
                  for k, v in absorbed.items()}
    acc3 = sorted(
        (r.media_id, r.kind, r.n_bytes)
        for r in media_ingest_incremental(batch, **replay_idx).collect())
    assert acc3 == acc1


def test_scale_decision_amortized(spark, scenario, monkeypatch):
    """Exactly ONE DF-path decision (_auto_scale_safe) per shingle
    modality (video, audio) per drop: the lanes do not decide, the
    inner incrementals each decide once on the STAGED batch frame (its
    one action doubling as that cache's materialization)."""
    from oracle_to_snowflake_etl_spark.operators import dedup as D

    corpus, batch, idx = scenario
    calls = []
    real = D._auto_scale_safe

    def counting(docs, *a, **kw):
        calls.append(1)
        return real(docs, *a, **kw)

    monkeypatch.setattr(D, "_auto_scale_safe", counting)
    expect = {(104, "image", 360), (106, "audio", 896),
              (112, "video", 2 * _VSEG)}

    got = {(r.media_id, r.kind, r.n_bytes)
           for r in media_ingest_incremental(batch, **idx).collect()}
    assert got == expect
    assert len(calls) == 2  # one per shingle modality


def test_fused_driver_decision_equals_distributed_fallback(
        spark, scenario, monkeypatch):
    """r16: the per-modality accept decision is fused into one bounded
    pair collect + driver-side union-find below
    dedup.CLUSTERS_DRIVER_MAX_EDGES, with the pre-r16 distributed
    hit/taint/winner chain as the over-bound fallback. Forcing the
    bound to 0 must route every modality through the fallback and
    reproduce the driver-path accept set bit-for-bit (both paths also
    stay on the hand-derived expectation)."""
    from oracle_to_snowflake_etl_spark.operators import dedup as D

    corpus, batch, idx = scenario
    expect = {(104, "image", 360), (106, "audio", 896),
              (112, "video", 2 * _VSEG)}
    fast = {(r.media_id, r.kind, r.n_bytes)
            for r in media_ingest_incremental(batch, **idx).collect()}
    assert fast == expect
    monkeypatch.setattr(D, "CLUSTERS_DRIVER_MAX_EDGES", 0)
    slow = {(r.media_id, r.kind, r.n_bytes)
            for r in media_ingest_incremental(batch, **idx).collect()}
    assert slow == expect == fast


def test_dedup_clusters_driver_and_distributed_paths(spark):
    """r16: dedup_clusters picks its path via ONE bounded take of the
    raw pair list (duplicates/direction handled by union-find) instead
    of the former count+collect of the symmetric distinct edge list.
    Both paths must yield identical (doc, keep_id) assignments,
    including duplicate and reversed input pairs."""
    from oracle_to_snowflake_etl_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (7, 5), (1, 2), (9, 9)],
        "doc_a long, doc_b long")
    expect = {(1, 1), (2, 1), (3, 1), (5, 5), (7, 5), (9, 9)}
    fast = {(r.doc, r.keep_id)
            for r in D.dedup_clusters(pairs).collect()}
    assert fast == expect
    slow = {(r.doc, r.keep_id)
            for r in D.dedup_clusters(pairs, driver_max_edges=0).collect()}
    assert slow == expect
