"""Property-based invariants (hypothesis): the algebraic claims the
operator docstrings make, checked on adversarial small inputs rather
than only the fixed testdata.

Example counts are deliberately small — every example is a real Spark
job; the properties target structure (skew, duplicates, ties, empties),
not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = settings(max_examples=8, deadline=None,
                suppress_health_check=list(HealthCheck))

# rows: (status in 3 hot keys, price with 2 decimals, custkey)
_row = st.tuples(st.sampled_from(["A", "B", "C"]),
                 st.integers(0, 10_000),
                 st.integers(1, 50))


@given(st.lists(_row, min_size=1, max_size=60))
@SLOW
def test_salted_agg_equals_plain_agg(spark, rows):
    """Salting must be semantically invisible for algebraic aggregates,
    for ANY input including all-rows-one-key (maximum skew)."""
    from oracle_to_snowflake_etl_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [(s, p / 100.0, c) for s, p, c in rows],
        "status string, price double, cust long")
    got = {r.status: (r.n, r.total, r.lo, r.hi)
           for r in salted_agg(df, ["status"], salt_col="cust", buckets=4,
                               sum_cols={"price": "total"},
                               min_cols={"cust": "lo"},
                               max_cols={"cust": "hi"}).collect()}
    want = {r.status: (r.n, r.total, r.lo, r.hi)
            for r in df.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("price").cast("decimal(28,4)"))
                  .cast("double").alias("total"),
                 F.min("cust").alias("lo"),
                 F.max("cust").alias("hi")).collect()}
    assert got == want


@given(st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                min_size=1, max_size=25))
@SLOW
def test_dedup_clusters_matches_union_find(spark, pairs):
    """Min-label propagation must agree with a reference union-find on
    arbitrary edge lists — including chains (worst-case diameter),
    self-loops, and duplicate edges."""
    from oracle_to_snowflake_etl_spark.operators.dedup import dedup_clusters

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.doc: r.keep_id for r in dedup_clusters(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, int] = {}
    for node in parent:
        root = find(node)
        comp[root] = min(comp.get(root, node), node)
    want = {node: comp[find(node)] for node in parent}
    assert got == want


_ev = st.tuples(st.integers(0, 3),        # key
                st.integers(0, 100),      # ts (µs scale irrelevant)
                st.integers(0, 999))      # payload id


@given(st.lists(_ev, min_size=0, max_size=20),
       st.lists(_ev, min_size=0, max_size=20))
@SLOW
def test_asof_forward_matches_bruteforce(spark, lrows, rrows):
    """asof_join_forward must pick, per left row, the right row with the
    MINIMAL ts >= left.ts (greatest payload among full ties) — checked
    against a brute-force python reference on adversarial inputs:
    duplicate timestamps, empty sides, all-one-key."""
    from oracle_to_snowflake_etl_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(k, t, i) for k, t, i in lrows] or [(0, -1, -1)],
        "k long, ts long, lid long")
    right = spark.createDataFrame(
        [(k, t, i) for k, t, i in rrows] or [(99, -1, -1)],
        "k long, ts long, rid long")
    got = {(r.k, r.ts, r.lid): r.rid_r
           for r in asof_join_forward(left, right, key="k",
                                      payload=["rid"]).collect()}

    def expect(k, t):
        cands = [(rt, ri) for rk, rt, ri in rrows if rk == k and rt >= t]
        if not cands:
            return None
        lo = min(c[0] for c in cands)
        return max(ri for rt, ri in cands if rt == lo)

    lrows_eff = lrows or [(0, -1, -1)]
    for k, t, lid in lrows_eff:
        assert got[(k, t, lid)] == expect(k, t), (k, t)


@given(st.lists(st.tuples(st.integers(0, 500), st.integers(1, 40)),
                min_size=1, max_size=40, unique_by=lambda r: r[0]))
@SLOW
def test_weighted_sample_deterministic_and_monotone(spark, rows):
    """weighted_sample invariants: (a) identical membership on any
    partitioning; (b) rows at w == w_max are ALWAYS kept (P=1);
    (c) explicit max_weight equal to the true max changes nothing."""
    from oracle_to_snowflake_etl_spark.operators.sampling import (
        weighted_sample,
    )

    wmax = max(w for _, w in rows)
    df1 = spark.createDataFrame(rows, "id long, w long").repartition(1)
    df8 = spark.createDataFrame(rows, "id long, w long").repartition(8)
    keep1 = {r.id for r in weighted_sample(df1, "w", "id").collect()}
    keep8 = {r.id for r in weighted_sample(df8, "w", "id").collect()}
    assert keep1 == keep8
    top = {i for i, w in rows if w == wmax}
    assert top <= keep1
    keep_explicit = {r.id for r in weighted_sample(
        df8, "w", "id", max_weight=wmax).collect()}
    assert keep_explicit == keep1


_chg = st.tuples(st.integers(0, 5),       # key
                 st.integers(0, 8),       # seq
                 st.sampled_from(["I", "U", "D"]),
                 st.integers(0, 99))      # payload


@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 99)),
                min_size=0, max_size=8, unique_by=lambda r: r[0]),
       st.lists(_chg, min_size=0, max_size=16))
@SLOW
def test_apply_changes_matches_reference_and_replays(spark, tgt, chg):
    """apply_changes invariants on adversarial changelogs (duplicate
    seqs, out-of-order delivery, unknown keys): final state matches a
    python reference fold, and replaying the changelog SHUFFLED gives
    the identical result (idempotent-replay)."""
    from oracle_to_snowflake_etl_spark.operators.merge import apply_changes

    target = spark.createDataFrame(tgt or [(999, -1)], "k long, v long")
    changes = spark.createDataFrame(
        chg or [(998, 0, "U", 0)], "k long, seq long, op string, v long")
    got = {(r.k, r.v) for r in apply_changes(
        target, changes, key_cols=["k"], seq_col="seq").collect()}
    re_got = {(r.k, r.v) for r in apply_changes(
        target, changes.orderBy(F.rand(7)), key_cols=["k"],
        seq_col="seq").collect()}
    assert got == re_got

    chg_eff = chg or [(998, 0, "U", 0)]
    ref = dict(tgt or [(999, -1)])
    latest: dict = {}
    for k, seq, op, v in chg_eff:
        cur = latest.get(k)
        if cur is None or (seq, op, v) > cur:
            latest[k] = (seq, op, v)
    for k, (seq, op, v) in latest.items():
        if op == "D":
            ref.pop(k, None)
        else:
            ref[k] = v
    assert got == set(ref.items())


_doc = st.tuples(st.integers(0, 9),
                 st.lists(st.sampled_from("abcdefgh"), min_size=3,
                          max_size=12))


@given(st.lists(_doc, min_size=0, max_size=8, unique_by=lambda d: d[0]))
@SLOW
def test_containment_pairs_lossless_vs_bruteforce(spark, docs):
    """containment_pairs' prefix filter must be lossless: every ordered
    pair at containment >= 0.8 on adversarial tiny corpora (heavy
    shingle overlap, identical docs, sub-3-token docs) matches a python
    brute force over the same shingle definition."""
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in docs] or [(0, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b) for r in containment_pairs(df).collect()}

    def sh(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    shs = {i: sh(t) for i, t in rows}
    want = {(a, b) for a in shs for b in shs
            if a != b and shs[a]
            and len(shs[a] & shs[b]) / len(shs[a]) >= 0.8}
    assert got == want


@given(st.lists(_doc, min_size=0, max_size=8, unique_by=lambda d: d[0]))
@SLOW
def test_ngram_jaccard_lossless_vs_bruteforce(spark, docs):
    """The Jaccard prefix filter's exact-recall claim, adversarially:
    every unordered pair at J >= 0.5 must be found."""
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in docs] or [(0, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(df).collect()}

    def sh(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    shs = {i: sh(t) for i, t in rows}
    want = set()
    for a in shs:
        for b in shs:
            if a < b and (shs[a] or shs[b]):
                inter = len(shs[a] & shs[b])
                union = len(shs[a] | shs[b])
                if union and inter / union >= 0.5:
                    want.add((a, b))
    assert got == want


def test_shared_shingle_docs_equivalent(spark):
    """A caller-owned shingled_docs frame passed to both prefix-filter
    dedups must yield exactly the default-path results (one corpus
    shingle pass shared across operators, lifecycle on the caller)."""
    from pyspark import StorageLevel

    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        shingled_docs,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "documents")
    shared = shingled_docs(df).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        shared.count()
        jac_shared = {tuple(r) for r in
                      ngram_jaccard_pairs(df, docs=shared).collect()}
        con_shared = {tuple(r) for r in
                      containment_pairs(df, docs=shared).collect()}
        # lifecycle stays with the caller: the operators must not have
        # unpersisted the shared frame
        assert shared.is_cached
    finally:
        shared.unpersist()
    assert jac_shared == {tuple(r) for r in ngram_jaccard_pairs(df).collect()}
    assert con_shared == {tuple(r) for r in containment_pairs(df).collect()}


def test_scale_safe_paths_equal_default(spark, force_df_path):
    """The partial-agg DF path (groupBy partial-agg DF + semi-join
    membership) must produce EXACTLY the window-path results for all
    three prefix-filter operators on real data — same pairs, same
    scores. The decision changes the physical shuffle strategy
    (hot-key-safe at web scale), never the semantics."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_incremental,
        ngram_jaccard_pairs,
        shingled_docs,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = shingled_docs(df.where(F.col("doc_id") % 4 != 0))
    batch = df.where(F.col("doc_id") % 4 == 0)
    got = {}
    for path in (False, True):
        force_df_path(path)
        got[path] = (
            [{tuple(r) for r in op(df).collect()}
             for op in (ngram_jaccard_pairs, containment_pairs)],
            {tuple(r) for r in
             containment_pairs_incremental(batch, corpus).collect()})
    assert got[False] == got[True]


def test_incremental_minhash_equals_full_restricted(spark):
    """No-drift property of the incremental LSH index: deduping a new
    batch against the precomputed corpus signatures yields EXACTLY the
    full-corpus run's pairs whose greater member is new, at several
    split points (including all-new and all-corpus edges)."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        with_minhash_signature,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {(r.doc_a, r.doc_b, r.est_jaccard)
            for r in minhash_lsh_pairs(docs).collect()}
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    for split in (0, 200, max_id + 1):
        corpus_sigs = with_minhash_signature(
            docs.where(F.col("doc_id") < split))
        inc = {(r.doc_a, r.doc_b, r.est_jaccard)
               for r in minhash_lsh_pairs_incremental(
                   docs.where(F.col("doc_id") >= split),
                   corpus_sigs).collect()}
        assert inc == {p for p in full if p[1] >= split}, split


def test_incremental_srp_equals_full_restricted(spark):
    """No-drift property of the incremental SRP code index, embedding
    twin of the MinHash test above: batch-vs-index equals the full run
    restricted to new pairs, at interior and boundary splits."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        srp_band_pairs,
        srp_band_pairs_incremental,
        with_srp_code,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    full = {(r.doc_a, r.doc_b, r.sim_q6)
            for r in srp_band_pairs(emb).collect()}
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    for split in (0, 250, max_id + 1):
        corpus = emb.where(F.col("vec_id") < split)
        inc = {(r.doc_a, r.doc_b, r.sim_q6)
               for r in srp_band_pairs_incremental(
                   emb.where(F.col("vec_id") >= split),
                   with_srp_code(corpus), corpus).collect()}
        assert inc == {p for p in full if p[1] >= split}, split


def test_ingest_batch_general_id_layout(spark):
    """ingest_batch's drop policy is about NEW-ness, not id order: with
    corpus ids RE-KEYED ABOVE the batch's (so corpus members are the
    greater side of every cross pair), the accepted set equals the
    canonical-layout run on the mirrored data."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.ingest import ingest_batch
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    lo = docs.where(F.col("doc_id") < 400)
    hi = docs.where(F.col("doc_id") >= 400)

    # canonical layout: corpus has the smaller ids
    canon = {r.doc_id for r in
             ingest_batch(lo, hi).select("doc_id").collect()}

    # mirrored layout: same corpus docs re-keyed ABOVE every batch id;
    # batch keeps its ids, so every corpus-batch pair now has the
    # corpus member as doc_b
    lo_hi = lo.withColumn("doc_id", F.col("doc_id") + 100_000)
    mirrored = {r.doc_id for r in
                ingest_batch(lo_hi, hi).select("doc_id").collect()}

    # exact/near dedup vs the corpus and quality do not depend on ids;
    # only within-batch exact/near ties do — and the batch is unchanged
    assert mirrored == canon


def test_incremental_containment_equals_full_restricted(spark):
    """Third member of the incremental family: batch-vs-corpus-index
    containment equals the full-corpus run restricted to contained-side
    -new, at interior and boundary splits — even though the batch-local
    prefix ORDER differs from the full run's DF order (losslessness is
    order-independent; only candidate volume isn't)."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_incremental,
        shingled_docs,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {(r.doc_a, r.doc_b, r.containment)
            for r in containment_pairs(docs).collect()}
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    for split in (0, 200, max_id + 1):
        corpus_idx = shingled_docs(docs.where(F.col("doc_id") < split))
        inc = {(r.doc_a, r.doc_b, r.containment)
               for r in containment_pairs_incremental(
                   docs.where(F.col("doc_id") >= split),
                   corpus_idx).collect()}
        assert inc == {p for p in full if p[0] >= split}, split


def test_ingest_batch_stored_indexes_equal_inline(spark):
    """The at-scale contract: passing the PRECOMPUTED hash and signature
    index tables (as they would be read from storage) produces exactly
    the inline-derived result — so a deployment can keep corpus text
    cold."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.functions.hashing import hash60
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        with_minhash_signature,
    )
    from oracle_to_snowflake_etl_spark.operators.ingest import ingest_batch
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.where(F.col("doc_id") < 400)
    batch = docs.where(F.col("doc_id") >= 400)

    inline = {tuple(r) for r in ingest_batch(corpus, batch).collect()}
    hashes = corpus.select(hash60(F.col("text")).alias("_h")).distinct()
    sigs = with_minhash_signature(corpus)
    stored = {tuple(r) for r in
              ingest_batch(corpus, batch, corpus_sigs=sigs,
                           corpus_hashes=hashes).collect()}
    assert stored == inline and stored


_mv_change = st.tuples(st.sampled_from(["A", "B", "C"]),   # group key
                       st.integers(0, 10_000),              # price cents
                       st.booleans())                       # delete?


@given(st.lists(_mv_change, min_size=0, max_size=40),
       st.lists(_mv_change, min_size=0, max_size=40))
@SLOW
def test_mv_refresh_fold_equals_rebuild_arbitrary(spark, initial, delta):
    """Incremental MV maintenance on ARBITRARY generated states: build
    a view from `initial` inserts, fold a mixed I/D changelog whose
    deletes reference actual view contents, and the result must equal
    a from-scratch aggregate of the surviving multiset — including
    delete-to-empty groups and an empty initial view."""
    import collections

    from oracle_to_snowflake_etl_spark.operators.mv import (
        build_agg_view,
        incremental_agg_refresh,
    )

    # initial state ignores the delete flag; deletes in the changelog
    # remove one occurrence of (key, price) IF the current state holds
    # one (a meaningful before-image), else turn into inserts
    state = collections.Counter((k, p) for k, p, _ in initial)
    ops = []
    for k, p, is_del in delta:
        if is_del and state[(k, p)] > 0:
            state[(k, p)] -= 1
            ops.append((k, p, "D"))
        else:
            state[(k, p)] += 1
            ops.append((k, p, "I"))

    schema = "k string, cents long"
    init_df = spark.createDataFrame(
        [(k, p) for k, p, _ in initial], schema) \
        .select("k", (F.col("cents") / 100.0).alias("v"))
    mv0 = build_agg_view(init_df, ["k"], {"s": "v"})
    if ops:
        ch = spark.createDataFrame(ops, "k string, cents long, op string") \
            .select("k", (F.col("cents") / 100.0).alias("v"), "op")
    else:
        ch = spark.createDataFrame([], "k string, v double, op string")
    folded = {tuple(r) for r in
              incremental_agg_refresh(mv0, ch, ["k"], {"s": "v"}).collect()}

    survivors = [(k, p) for (k, p), n in state.items() for _ in range(n)]
    if survivors:
        final_df = spark.createDataFrame(survivors, schema) \
            .select("k", (F.col("cents") / 100.0).alias("v"))
    else:
        final_df = spark.createDataFrame([], "k string, v double")
    want = {tuple(r) for r in
            build_agg_view(final_df, ["k"], {"s": "v"}).collect()}
    assert folded == want


_snap_row = st.tuples(st.integers(0, 20),                  # key
                      st.sampled_from(["x", "y", "z"]),    # payload a
                      st.integers(0, 5))                   # payload b


@given(st.lists(_snap_row, min_size=0, max_size=25, unique_by=lambda r: r[0]),
       st.lists(_snap_row, min_size=0, max_size=25, unique_by=lambda r: r[0]))
@SLOW
def test_snapshot_diff_roundtrip_arbitrary(spark, old_rows, new_rows):
    """snapshot_diff -> apply_changes must reconstruct ANY target state
    from ANY starting state — arbitrary overlaps, disjoint key sets,
    identical states (empty diff), and both-empty included."""
    from oracle_to_snowflake_etl_spark.operators.merge import (
        apply_changes,
        snapshot_diff,
    )

    schema = "k long, pa string, pb long"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    diff = snapshot_diff(old, new, ["k"])
    replayed = apply_changes(old, diff, ["k"], "seq")
    assert sorted(map(tuple, replayed.collect())) == \
        sorted(map(tuple, new.collect()))
    # the diff never exceeds |changed ∪ inserted ∪ deleted keys|
    om = {r[0]: r for r in old_rows}
    nm = {r[0]: r for r in new_rows}
    changed = {k for k in om.keys() | nm.keys() if om.get(k) != nm.get(k)}
    assert diff.count() == len(changed)


@given(st.integers(1, 9), st.integers(1, 24), st.booleans(),
       st.integers(0, 4), st.integers(0, 2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrip(h, w, rgb, filter_type, seed):
    """The stdlib PNG codec (operators/multimodal.py) must round-trip
    any 8-bit grey/RGB image exactly, under EVERY scanline filter type
    (the encoder's filter_type parameter exists precisely so the
    decoder's five unfilter paths are all reachable from a test)."""
    import numpy as np

    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        png_decode,
        png_encode,
    )

    shape = (h, w, 3) if rgb else (h, w)
    img = np.random.default_rng(seed).integers(
        0, 256, size=shape, dtype=np.uint8)
    ww, hh, out = png_decode(png_encode(img, filter_type))
    assert (ww, hh) == (w, h)
    assert (out == img).all()


def test_png_decode_rejects_out_of_scope():
    """Out-of-scope PNGs (non-8-bit, palette, interlaced) and non-PNG
    bytes must fail LOUDLY (ValueError), never decode wrong."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        PNG_MAGIC,
        png_decode,
        png_encode,
    )

    with _pytest.raises(ValueError):
        png_decode(b"not a png at all")

    # corrupt a valid header into a 16-bit-depth claim
    img = np.zeros((2, 2), dtype=np.uint8)
    good = bytearray(png_encode(img))
    depth_off = 8 + 8 + 8  # magic + len/tag + w+h
    good[depth_off] = 16
    # fix the IHDR crc so the depth check (not crc) is what fires
    ihdr = bytes(good[12:16]) + bytes(good[16:16 + 13])
    good[29:33] = struct.pack(">I", zlib.crc32(ihdr) & 0xFFFFFFFF)
    with _pytest.raises(ValueError):
        png_decode(bytes(good))

    # CORRUPT payloads bearing the PNG magic: a damaged IDAT stream
    # (zlib.error inside) and a truncated IHDR (struct.error inside)
    # must BOTH surface as ValueError — image_features' contract is
    # that an undecodable image yields null features, never a task
    # kill, and its fall-through catches ValueError only.
    full = bytearray(png_encode(np.arange(16, dtype=np.uint8)
                                .reshape(4, 4)))
    idat_at = bytes(full).index(b"IDAT")
    full[idat_at + 6] ^= 0xFF  # damage the deflate stream
    with _pytest.raises(ValueError):
        png_decode(bytes(full))
    with _pytest.raises(ValueError):
        png_decode(bytes(PNG_MAGIC) + b"\x00\x00\x00\x0dIHDR\x01\x02")


def test_image_features_corrupt_png_yields_nulls(spark):
    """End-to-end resilience contract: a corrupt/truncated payload that
    BEARS the PNG magic must come back as null features — the query
    completes; the malformed row never kills the Spark task (the
    failure mode is a zlib/struct error escaping the UDF)."""
    import numpy as np

    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        PNG_MAGIC,
        image_features,
        png_encode,
    )

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    good = bytearray(png_encode(img))
    damaged = bytearray(good)
    damaged[bytes(good).index(b"IDAT") + 6] ^= 0xFF
    rows = [
        (1, bytes(good)),                                    # decodes
        (2, bytes(damaged)),                                 # zlib.error
        (3, bytes(PNG_MAGIC) + b"\x00\x00\x00\x0dIHDR\x01"), # struct.error
        (4, None),                                           # null payload
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           image_features(media).collect()}
    assert (got[1]["width"], got[1]["height"]) == (8, 8)
    assert got[1]["mean_px"] == int(img.sum()) / img.size
    for mid in (2, 3, 4):
        assert got[mid]["width"] is None
        assert got[mid]["height"] is None
        assert got[mid]["mean_px"] is None


@given(st.integers(0, 2**31), st.integers(11, 40),
       st.integers(20, 60), st.integers(20, 60))
@SLOW
def test_repeated_spans_guarantee(spark, seed, span_len, pre_len, post_len):
    """The winnowing GUARANTEE behind repeated_spans: any substring of
    length >= k+w-1 (= 11 chars at the module defaults) shared by two
    documents must produce at least one shared fingerprint — so the
    planted pair must appear in the repeated-span report regardless of
    the random text surrounding the shared block on each side."""
    import random

    from oracle_to_snowflake_etl_spark.operators.textstats import (
        repeated_spans,
    )

    rng = random.Random(seed)
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def rand(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    shared = rand(span_len)
    d0 = rand(pre_len) + shared + rand(post_len)
    d1 = rand(post_len) + shared + rand(pre_len)
    # exactly the planted pair in the corpus, so every report row IS a
    # {0, 1} share — no third doc to alias the min/max-doc columns
    df = spark.createDataFrame(
        [(0, d0), (1, d1)], "doc_id long, text string")
    hits = repeated_spans(df).collect()
    assert any(r.first_doc == 0 and r.last_doc == 1 for r in hits), \
        (d0, d1)


_pit_chg = st.tuples(st.integers(0, 3),   # key
                     st.integers(0, 20),  # ts (epoch-µs scale)
                     st.integers(0, 99),  # tiebreak id
                     st.sampled_from(["a", "b", "c"]))


@given(st.lists(_pit_chg, min_size=1, max_size=14,
                unique_by=lambda r: (r[0], r[1], r[2])),
       st.lists(st.tuples(st.integers(0, 3), st.integers(-2, 22)),
                min_size=1, max_size=10))
@SLOW
def test_pit_join_matches_bruteforce(spark, chg, facts):
    """pit_join vs a python brute force over the SAME scd2 history, on
    adversarial changelogs: equal-timestamp changes (degenerate empty
    intervals), facts before the first version (NULL guard), facts at
    exact boundary instants (inclusive-from / exclusive-to)."""
    from pyspark.sql import functions as FF

    from oracle_to_snowflake_etl_spark.operators.scd import (
        pit_join,
        scd2_from_changelog,
    )

    cdf = spark.createDataFrame(
        [(k, t, i, v) for k, t, i, v in chg],
        "k long, tus long, tb long, val string")
    # changelog ts as a real timestamp column (µs scale)
    cdf = cdf.withColumn("ts", FF.timestamp_micros(FF.col("tus")))
    hist = scd2_from_changelog(cdf, "k", "ts", "tb", ["val"])
    fdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(facts)],
        "fid long, k long, ftus long")
    fdf = fdf.withColumn("fts", FF.timestamp_micros(FF.col("ftus")))
    got = {(r.fid, r.val_dim) for r in
           pit_join(fdf.select("fid", "k", "fts"), hist, "k",
                    fact_ts="fts", attr_cols=["val"]).collect()}

    # python reference: compress changes per key in (ts, tb) order,
    # then interval lookup
    want = set()
    hist_py: dict[int, list[tuple[int, int | None, str]]] = {}
    for k in {c[0] for c in chg}:
        rows = sorted([c for c in chg if c[0] == k],
                      key=lambda c: (c[1], c[2]))
        kept = []
        for _, t, _tb, v in rows:
            if not kept or kept[-1][1] != v:
                kept.append((t, v))
        iv = []
        for j, (t, v) in enumerate(kept):
            vt = kept[j + 1][0] if j + 1 < len(kept) else None
            iv.append((t, vt, v))
        hist_py[k] = iv
    for i, (k, t) in enumerate(facts):
        hit = None
        for vf, vt, v in hist_py.get(k, []):
            if vf <= t and (vt is None or t < vt):
                hit = v
        want.add((i, hit))
    assert got == want


@given(st.lists(st.tuples(st.lists(st.integers(-8, 8), min_size=4,
                                   max_size=4),
                          st.booleans()),
                min_size=3, max_size=16))
@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_append_index_equals_index_at_once(spark, rows):
    """Grown base+appended int8 index == indexed-at-once, for ANY
    split of ANY vector set under a pinned geometry — including
    all-zero vectors (scale=0 rows), duplicate vectors, an empty base
    and an empty batch. The probed scan over the grown store must
    return exactly the in-memory form's rows over the union."""
    import tempfile

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        append_ivf_int8_index,
        write_ivf_int8_index,
    )

    # fixed tiny geometry: 4 cells in 4 dims — training on arbitrary
    # (possibly empty/degenerate) bases is not what this property pins
    cents = ((1.0, 0.1, 0.0, 0.0), (0.0, 1.0, 0.1, 0.0),
             (0.0, 0.0, 1.0, 0.1), (0.1, 0.0, 0.0, 1.0))
    data = [(i, [float(x) for x in vec]) for i, (vec, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    base_ids = [i for i, (_, b) in enumerate(rows) if b]
    batch_ids = [i for i, (_, b) in enumerate(rows) if not b]
    path = tempfile.mkdtemp(prefix="prop_app_") + "/index"
    write_ivf_int8_index(df.where(F.col("vec_id").isin(base_ids or [-1])),
                         path, centroids=cents)
    append_ivf_int8_index(
        df.where(F.col("vec_id").isin(batch_ids or [-1])), path)
    q = df.where(F.col("vec_id") < 2)
    mem = {tuple(r) for r in ann_ivf_int8_topk(
        df, q, k=3, nprobe=2, centroids=cents).collect()}
    idx = {tuple(r) for r in ann_ivf_int8_topk(
        df, q, k=3, nprobe=2, centroids=cents,
        index_path=path).collect()}
    assert idx == mem
