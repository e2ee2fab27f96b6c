"""SemDeDup semantic dedup (operators/similarity.py semantic_dedup):
planted-twin effectiveness, idempotence, and survivor self-consistency.
The registry mirror (dedup_semantic vs its DuckDB oracle) is covered by
test_differential.py; these test the train-on-corpus DEFAULT the
differential contract deliberately pins away.

Everything is deterministic (fixed-seed twins, deterministic k-means),
so the effectiveness bound is a tight guard under a measured value, not
a statistical tolerance.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oracle_to_snowflake_etl_spark.operators.similarity import (
    ivf_train_centroids,
    plant_near_dup_twins,
    semantic_dedup,
)
from oracle_to_snowflake_etl_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"
TWIN_Q6 = 900_000  # planted twins sit at cos ~0.95; corpus max is ~0.51


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_planted_twins_lose_exactly_one_member(spark, emb):
    """Plant one cos~0.95 twin per vector, dedup at threshold 0.90:
    every twin PAIR that lands in one cell must lose exactly its
    higher-id member, and no original (pairwise cos <= ~0.51) may be
    dropped. Cross-cell twin pairs are SemDeDup's documented miss, so
    effectiveness is bounded below by the measured same-cell rate
    rather than pinned at 1.0."""
    planted = plant_near_dup_twins(emb)
    centroids = ivf_train_centroids(planted)
    survivors = semantic_dedup(planted, threshold_q6=TWIN_Q6,
                               centroids=centroids)
    n_orig = emb.count()
    n_planted = planted.count()
    n_surv = survivors.count()
    assert n_planted == 2 * n_orig
    # no original is near any other original at 0.90, so originals all
    # survive; each dropped row is the higher-id member of a twin pair
    orig_surv = survivors.join(emb.select("vec_id"), "vec_id",
                               "left_semi").count()
    assert orig_surv == n_orig
    # same-cell twin-capture rate: measured 1.0 at sf0.001 (twins are a
    # tiny perturbation of their source, so trained cells co-locate
    # them); guard >= 0.9 to leave room for geometry retunes
    dropped = n_planted - n_surv
    assert dropped / n_orig >= 0.9
    assert dropped <= n_orig


def test_idempotent_on_survivors(spark, emb):
    """Re-running on the survivors with the SAME centroid matrix drops
    nothing: any same-cell pair >= threshold would already have
    eliminated its larger id on the first pass."""
    planted = plant_near_dup_twins(emb)
    centroids = ivf_train_centroids(planted)
    survivors = semantic_dedup(planted, threshold_q6=TWIN_Q6,
                               centroids=centroids)
    again = semantic_dedup(survivors, threshold_q6=TWIN_Q6,
                           centroids=centroids)
    assert again.count() == survivors.count()


def test_survivors_keep_min_id(spark, emb):
    """The kept member of every dropped pair is the lower vec_id: no
    dropped id may be smaller than every surviving same-cell near-dup
    partner. Checked structurally: min(survivor ids) == min(input ids)
    and survivors form a prefix-closed set under the pair relation —
    here via the cheap proxy that vec_id 0 (no lower id exists)
    always survives."""
    planted = plant_near_dup_twins(emb)
    centroids = ivf_train_centroids(planted)
    survivors = semantic_dedup(planted, threshold_q6=TWIN_Q6,
                               centroids=centroids)
    assert survivors.where(F.col("vec_id") == 0).count() == 1
    assert (survivors.agg(F.min("vec_id")).first()[0]
            == planted.agg(F.min("vec_id")).first()[0])


def test_incremental_no_drift(spark, emb):
    """semantic_dedup(corpus) ∪ semantic_dedup_incremental(new, corpus)
    == semantic_dedup(corpus ∪ new), id-for-id, under one pinned
    centroid matrix — the stored-index incremental contract. Corpus =
    the originals, new batch = their planted twins (every new row has a
    corpus near-dup: the hardest drift case). Pinned at nprobe=1 so the
    single-assign setting stays covered after the round-10 default flip
    (the default setting is the multiprobe twin below)."""
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        semantic_dedup_incremental,
    )

    planted = plant_near_dup_twins(emb)
    centroids = ivf_train_centroids(planted)
    base = emb.agg(F.max("vec_id")).first()[0] + 1
    corpus = planted.where(F.col("vec_id") < base)
    new = planted.where(F.col("vec_id") >= base)
    full = semantic_dedup(planted, threshold_q6=TWIN_Q6,
                          centroids=centroids, nprobe=1).select("vec_id")
    pieced = (semantic_dedup(corpus, threshold_q6=TWIN_Q6,
                             centroids=centroids, nprobe=1)
              .select("vec_id")
              .unionByName(
                  semantic_dedup_incremental(new, corpus,
                                             threshold_q6=TWIN_Q6,
                                             centroids=centroids,
                                             nprobe=1)
                  .select("vec_id")))
    n_full = full.count()
    assert pieced.count() == n_full
    assert full.join(pieced, "vec_id", "left_semi").count() == n_full


def test_incremental_no_drift_multiprobe(spark, emb):
    """The no-drift contract holds per (centroids, nprobe) setting:
    batch and incremental forms at nprobe=2 piece together exactly, on
    the planted-twin corpus where multi-probe catches boundary-split
    twins single-assign misses (so the two settings genuinely differ)."""
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        semantic_dedup_incremental,
    )

    planted = plant_near_dup_twins(emb)
    centroids = ivf_train_centroids(planted)
    base = emb.agg(F.max("vec_id")).first()[0] + 1
    corpus = planted.where(F.col("vec_id") < base)
    new = planted.where(F.col("vec_id") >= base)
    full = semantic_dedup(planted, threshold_q6=TWIN_Q6,
                          centroids=centroids, nprobe=2).select("vec_id")
    pieced = (semantic_dedup(corpus, threshold_q6=TWIN_Q6,
                             centroids=centroids, nprobe=2)
              .select("vec_id")
              .unionByName(
                  semantic_dedup_incremental(new, corpus,
                                             threshold_q6=TWIN_Q6,
                                             centroids=centroids,
                                             nprobe=2)
                  .select("vec_id")))
    n_full = full.count()
    assert pieced.count() == n_full
    assert full.join(pieced, "vec_id", "left_semi").count() == n_full
    # and nprobe=2 must drop MORE twins than single-assign here
    n_single = semantic_dedup(planted, threshold_q6=TWIN_Q6,
                              centroids=centroids, nprobe=1).count()
    assert n_full < n_single


def _q6_boundary_pair():
    """Two 64-d float32 vectors whose exact cumsum-fold cosine ``c`` (the
    DuckDB oracle's fold) sits just above a quantization step:
    c*1e6 = T + f with f in [0.1, 0.4), so T = floor(c*1e6 + 0.5). The
    search is seeded, so the pair is the same every run."""
    rng = np.random.default_rng(7)
    a = rng.standard_normal(64).astype(np.float32)
    for _ in range(1000):
        b = (a + 0.3 * rng.standard_normal(64)).astype(np.float32)
        A, B = a.astype(np.float64), b.astype(np.float64)
        c = np.cumsum(A * B)[-1] / np.sqrt(np.cumsum(A * A)[-1]
                                           * np.cumsum(B * B)[-1])
        if 0.1 <= c * 1e6 - np.floor(c * 1e6) < 0.4:
            return a, b, float(c)
    raise AssertionError("no boundary pair in 1000 draws")


def test_q6_boundary_through_the_rescore_band(spark):
    """Both semantic pair kernels decide a pair one quantization step
    either side of its exact q6 cosine T the way the oracle does. At
    threshold T the pair clears its certainty bound and the higher id
    is dropped; at T+1 it is admitted by the BLAS prefilter but not
    certain, so only the exact rescore can reject it, and both ids
    survive. Checked for semantic_dedup and for
    semantic_dedup_incremental (corpus domination and lower-id
    domination inside the batch)."""
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        _gemm_certain_threshold,
        _gemm_prefilter_threshold,
        semantic_dedup_incremental,
    )

    a, b, c = _q6_boundary_pair()
    frac = c * 1e6 - np.floor(c * 1e6)
    T = int(np.floor(c * 1e6 + 0.5))
    assert 0.0 <= frac < 0.5 and T == int(np.floor(c * 1e6))
    assert c >= _gemm_certain_threshold(T) + 1e-9
    assert _gemm_prefilter_threshold(T + 1) <= c \
        < _gemm_certain_threshold(T + 1)
    df = spark.createDataFrame([(1, a.tolist()), (2, b.tolist())],
                               "vec_id long, embedding array<float>")
    # two cells, both probed by default: the pair meets in each
    cents = (tuple(float(x) for x in a), tuple(-float(x) for x in a))

    def ids(frame):
        return sorted(r.vec_id for r in frame.select("vec_id").collect())

    for thr, expect in ((T, [1]), (T + 1, [1, 2])):
        assert ids(semantic_dedup(df, threshold_q6=thr,
                                  centroids=cents)) == expect, thr
        kept_new = ids(semantic_dedup_incremental(
            df.where("vec_id = 2"), df.where("vec_id = 1"),
            threshold_q6=thr, cells=2, centroids=cents))
        assert kept_new == expect[1:], thr
        assert ids(semantic_dedup_incremental(
            df, df.limit(0), threshold_q6=thr, cells=2,
            centroids=cents)) == expect, thr


def test_cell_report_conserves_rows_and_pair_math(spark, emb):
    """semantic_cell_report: Sum(n) over cells == nprobe x corpus size
    (one membership per probe cell — the default SEMDEDUP_NPROBE=2
    since the round-10 flip counts two), every pairs == n*(n-1)/2, and
    <= IVF_CELLS rows out (metadata-sized)."""
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        IVF_CELLS,
        SEMDEDUP_NPROBE,
        semantic_cell_report,
    )

    n_corpus = emb.count()
    rep = semantic_cell_report(emb).collect()       # default nprobe=2
    assert SEMDEDUP_NPROBE == 2                     # the round-10 flip
    assert len(rep) <= IVF_CELLS
    assert sum(r["n"] for r in rep) == SEMDEDUP_NPROBE * n_corpus
    assert all(r["pairs"] == r["n"] * (r["n"] - 1) // 2 for r in rep)
    rep1 = semantic_cell_report(emb, nprobe=1).collect()
    assert sum(r["n"] for r in rep1) == n_corpus    # single-assign


def test_max_cell_pairs_budget_guard(spark, emb):
    """max_cell_pairs: an over-budget hot cell aborts BEFORE the
    quadratic join, naming the cell and its pair count; an ample
    budget is a pure read — survivors identical to the unguarded
    call."""
    centroids = ivf_train_centroids(emb)
    # budget 0: any cell holding >= 2 vectors (pairs >= 1) is over
    with pytest.raises(ValueError, match=r"cell \d+: n=\d+ pairs=\d+"):
        semantic_dedup(emb, threshold_q6=TWIN_Q6, centroids=centroids,
                       max_cell_pairs=0)
    n = emb.count()
    guarded = semantic_dedup(emb, threshold_q6=TWIN_Q6,
                             centroids=centroids,
                             max_cell_pairs=n * n).select("vec_id")
    plain = semantic_dedup(emb, threshold_q6=TWIN_Q6,
                           centroids=centroids).select("vec_id")
    assert guarded.exceptAll(plain).count() == 0
    assert plain.exceptAll(guarded).count() == 0


def test_auto_cells_matches_explicit_sqrt_n(spark, emb):
    """cells="auto" = auto_cells(df) = max(16, round(sqrt(N))): the
    survivor set equals an explicit call at that cell count, and the
    report geometry matches."""
    import math

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        auto_cells,
        semantic_cell_report,
    )

    n = emb.count()
    k = auto_cells(emb)
    assert k == max(16, int(round(math.sqrt(n))))
    auto = semantic_dedup(emb, threshold_q6=TWIN_Q6,
                          cells="auto").select("vec_id")
    explicit = semantic_dedup(emb, threshold_q6=TWIN_Q6,
                              cells=k).select("vec_id")
    assert auto.exceptAll(explicit).count() == 0
    assert explicit.exceptAll(auto).count() == 0
    rep = semantic_cell_report(emb, cells="auto").collect()
    assert len(rep) <= k


def test_auto_cells_validation(spark, emb):
    """Unknown strings fail loudly; "auto" with a pinned centroid
    matrix is a geometry contradiction and also fails."""
    with pytest.raises(ValueError, match="cells must be"):
        semantic_dedup(emb, cells="sqrt")
    cents = ivf_train_centroids(emb, cells=16)
    with pytest.raises(ValueError, match="conflicts"):
        semantic_dedup(emb, cells="auto", centroids=cents)


def test_streaming_semantic_ingest_matches_batch_form(spark, emb, tmp_path):
    """ingest_embeddings_stream: two id-ordered drops (originals, then
    their planted twins) through the foreachBatch loop must accept
    EXACTLY the rows one semantic_dedup over the concatenated corpus
    keeps under the same pinned centroid matrix — the stored-index
    batch-equivalence contract. A no-new-data re-run changes nothing."""
    import os
    import time as _t

    from oracle_to_snowflake_etl_spark.streaming.jobs import (
        ingest_embeddings_stream,
    )

    planted = plant_near_dup_twins(emb)
    centroids = ivf_train_centroids(planted)
    base = emb.agg(F.max("vec_id")).first()[0] + 1
    drops = [planted.where(F.col("vec_id") < base),
             planted.where(F.col("vec_id") >= base)]
    src = tmp_path / "semb_src"
    src.mkdir()
    now = _t.time()
    seen_files: set = set()
    for i, d in enumerate(drops):
        d.coalesce(1).write.mode("append").parquet(str(src))
        for f in os.listdir(src):
            if f.endswith(".parquet") and f not in seen_files:
                os.utime(src / f, (now + i * 10, now + i * 10))
                seen_files.add(f)
    acc = str(tmp_path / "semb_acc")
    idx = str(tmp_path / "semb_idx")
    ckp = str(tmp_path / "semb_ckp")
    schema = spark.read.parquet(str(src)).schema

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        q = ingest_embeddings_stream(stream, acc, idx, ckp,
                                     centroids=centroids,
                                     threshold_q6=TWIN_Q6)
        q.awaitTermination(180)

    run()
    streamed = {r.vec_id for r in
                spark.read.parquet(acc).select("vec_id").collect()}
    batch_form = {r.vec_id for r in
                  semantic_dedup(planted, threshold_q6=TWIN_Q6,
                                 centroids=centroids)
                  .select("vec_id").collect()}
    assert streamed == batch_form
    # index holds every SEEN row (stored-index convention), not just
    # survivors
    indexed = {r.vec_id for r in
               spark.read.parquet(idx).select("vec_id").collect()}
    assert indexed == {r.vec_id for r in
                       planted.select("vec_id").collect()}

    run()  # replay with no new data: idempotent by layout
    streamed2 = {r.vec_id for r in
                 spark.read.parquet(acc).select("vec_id").collect()}
    assert streamed2 == streamed


def test_streaming_semantic_ingest_requires_pinned_centroids(spark, emb,
                                                             tmp_path):
    import pytest as _pt

    from oracle_to_snowflake_etl_spark.streaming.jobs import (
        ingest_embeddings_stream,
    )

    stream = (spark.readStream.schema(emb.schema)
              .parquet(str(tmp_path)))
    with _pt.raises(ValueError, match="pinned centroid"):
        ingest_embeddings_stream(stream, str(tmp_path / "a"),
                                 str(tmp_path / "i"),
                                 str(tmp_path / "c"), centroids=None)


def test_streaming_ingest_empty_batch_stamp_and_no_driver_collect(
        spark, emb, tmp_path, monkeypatch):
    """Round-12 ingest loop contract, end to end: (a) the batch's
    touched-cell pruning never collects data to the driver (the
    round-11 explode+distinct+collect is gone — any DataFrame.collect
    issued DIRECTLY from the accept closure fails this test; the
    1-row _meta geometry read and the operators' own contract-capped
    collects are exempt by frame), (b) an EMPTY micro-batch (a
    zero-row file drop) flows through the pruned path instead of
    failing analysis on an array<null> literal, and (c) the index is
    stamped with its probe geometry."""
    import os
    import time as _t
    import traceback

    import pyspark.sql.dataframe as _dfmod

    from oracle_to_snowflake_etl_spark.streaming.jobs import (
        ingest_embeddings_stream,
    )

    planted = plant_near_dup_twins(emb)
    centroids = ivf_train_centroids(planted)
    base = emb.agg(F.max("vec_id")).first()[0] + 1
    drops = [planted.where(F.col("vec_id") < base),
             planted.where(F.col("vec_id") >= base),
             planted.where(F.lit(False))]          # empty micro-batch
    src = tmp_path / "s12_src"
    src.mkdir()
    now = _t.time()
    seen_files: set = set()
    for i, d in enumerate(drops):
        d.coalesce(1).write.mode("append").parquet(str(src))
        for f in os.listdir(src):
            if f.endswith(".parquet") and f not in seen_files:
                os.utime(src / f, (now + i * 10, now + i * 10))
                seen_files.add(f)
    acc = str(tmp_path / "s12_acc")
    idx = str(tmp_path / "s12_idx")
    offenders: list[str] = []
    real_collect = _dfmod.DataFrame.collect

    def tracked(self):
        jobs_frames = [fr.name for fr in traceback.extract_stack()
                       if fr.filename.endswith("streaming/jobs.py")]
        if jobs_frames and jobs_frames[-1] == "accept":
            offenders.append(jobs_frames[-1])
        return real_collect(self)

    monkeypatch.setattr(_dfmod.DataFrame, "collect", tracked)
    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = ingest_embeddings_stream(stream, acc, idx,
                                 str(tmp_path / "s12_ckp"),
                                 centroids=centroids,
                                 threshold_q6=TWIN_Q6)
    q.awaitTermination(180)
    monkeypatch.setattr(_dfmod.DataFrame, "collect", real_collect)
    assert not offenders, offenders
    streamed = {r.vec_id for r in
                spark.read.parquet(acc).select("vec_id").collect()}
    batch_form = {r.vec_id for r in
                  semantic_dedup(planted, threshold_q6=TWIN_Q6,
                                 centroids=centroids)
                  .select("vec_id").collect()}
    assert streamed == batch_form
    meta = spark.read.parquet(idx + "/_meta").collect()
    assert len(meta) == 1 and meta[0].cells == 64

    # (d) resuming the stamped index under a DIFFERENT probe geometry
    # must fail loudly (stored probe arrays are meaningless across
    # geometries), not silently miss near-dups
    from pyspark.errors import StreamingQueryException

    other = ivf_train_centroids(planted, cells=16)
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q2 = ingest_embeddings_stream(stream2, acc, idx,
                                  str(tmp_path / "s12_ckp2"),
                                  centroids=other, cells=16,
                                  threshold_q6=TWIN_Q6)
    with pytest.raises(StreamingQueryException, match="geometry"):
        q2.awaitTermination(180)
        raise AssertionError("mismatched-geometry resume did not fail")


def test_resolve_cells_matrix_wins_over_int(spark, emb):
    """A pinned centroid matrix IS the geometry: an int cells argument
    that disagrees is overridden by len(centroids) (the indexed ANN
    entrances' geometry-over-argument rule), so probe masks and cell
    plans can never be sized off a stale count."""
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        _resolve_cells,
    )

    cents = ivf_train_centroids(emb, cells=8)
    assert _resolve_cells(emb, 999, cents) == len(cents) == 8
    assert _resolve_cells(emb, 32, None) == 32

def test_on_hot_cell_subdivide_completes_and_matches_unbudgeted(spark):
    """on_hot_cell="subdivide" (VERDICT r13 Missing #3): a planted
    giant direction-cluster trips max_cell_pairs under a PINNED
    geometry; "error" aborts with the named remedy, "subdivide"
    completes with the pair-work budget re-checked on the sub-cells,
    and — the fixture's only >=threshold pairs being EXACT twins,
    which assign identically everywhere — survivors equal the
    unbudgeted run's exactly. A mass of identical vectors that
    geometry cannot split still raises, with the honest remedy."""
    import numpy as np
    import pytest as _pt

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(7)
    d = 64
    # pinned geometry: 4 one-hot-ish centroids — no k-means surprises
    cents = tuple(tuple(1.0 if j == i else 0.0 for j in range(d))
                  for i in range(4))
    rows = []
    # hot mass: 120 vectors in one direction cluster (cell 0), as 60
    # EXACT twin pairs — ids (1000+i, 2000+i) share a vector; non-twin
    # pairwise cosines land ~0.86, far below the 0.998 threshold
    base = np.zeros(d)
    base[0] = 1.0
    for i in range(60):
        v = base + 0.05 * rng.standard_normal(d)
        v = [float(x) for x in (v / np.linalg.norm(v))]
        rows.append((1000 + i, v))
        rows.append((2000 + i, v))
    # cold mass: isotropic (max pairwise cos ~0.55 at d=64)
    for i in range(200):
        v = rng.standard_normal(d)
        v = [float(x) for x in (v / np.linalg.norm(v))]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    kw = dict(threshold_q6=998_000, cells=4, centroids=cents, nprobe=2)
    unbudgeted = {r.vec_id for r in semantic_dedup(df, **kw).collect()}
    # cell 0 holds >= the 120 planted rows -> >= 7140 pairs (budget 4000 trips)
    with _pt.raises(ValueError, match="on_hot_cell"):
        semantic_dedup(df, max_cell_pairs=4_000, **kw)
    got = {r.vec_id for r in
           semantic_dedup(df, max_cell_pairs=4_000,
                          on_hot_cell="subdivide", **kw).collect()}
    assert got == unbudgeted
    # every planted twin pair lost exactly its higher id
    assert all(1000 + i in got and 2000 + i not in got for i in range(60))

    # geometry cannot split IDENTICAL vectors: still-hot sub-cell raises
    same = [(i, [float(x) for x in base]) for i in range(150)]
    df2 = spark.createDataFrame(same, "vec_id long, embedding array<float>")
    with _pt.raises(ValueError, match="cannot be split"):
        semantic_dedup(df2, max_cell_pairs=500,
                       on_hot_cell="subdivide", **kw)


def test_subdivide_releases_its_caches(spark):
    """The materialize-then-release cache contract extended to the
    subdivide path (VERDICT r14 Wrong #1 / ADVICE r14): each
    recursion level's persisted hot subset is unpersisted before
    _subdivide_hot_cells returns — consuming the survivors leaves NO
    new persistent RDDs behind (delta-checked: a session-scoped spark
    fixture may carry unrelated caches), on the success path AND the
    cannot-split error path."""
    import numpy as np
    import pytest as _pt

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(7)
    d = 64
    cents = tuple(tuple(1.0 if j == i else 0.0 for j in range(d))
                  for i in range(4))
    base = np.zeros(d)
    base[0] = 1.0
    rows = []
    for i in range(60):
        v = base + 0.05 * rng.standard_normal(d)
        v = [float(x) for x in (v / np.linalg.norm(v))]
        rows.append((1000 + i, v))
        rows.append((2000 + i, v))
    for i in range(200):
        v = rng.standard_normal(d)
        v = [float(x) for x in (v / np.linalg.norm(v))]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold_q6=998_000, cells=4, centroids=cents, nprobe=2)

    def cached_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    before = cached_ids()
    out = semantic_dedup(df, max_cell_pairs=4_000,
                         on_hot_cell="subdivide", **kw)
    out.count()  # consume the survivors — the downstream action
    assert cached_ids() - before == set()

    # error path: the per-level caches are released on the way out too
    same = [(i, [float(x) for x in base]) for i in range(150)]
    df2 = spark.createDataFrame(same, "vec_id long, embedding array<float>")
    before = cached_ids()
    with _pt.raises(ValueError, match="cannot be split"):
        semantic_dedup(df2, max_cell_pairs=500,
                       on_hot_cell="subdivide", **kw)
    assert cached_ids() - before == set()


def test_incremental_budget_guard_fail_fast(spark):
    """semantic_dedup_incremental(max_cell_pairs=...): the asymmetric
    |new| x |cell| workload is pre-checked from metadata-sized
    histograms — over budget raises naming the cell and the honest
    remedies (no subdivide here: geometry is pinned by the no-drift
    contract); under budget the result is identical to the unguarded
    call."""
    import numpy as np
    import pytest as _pt

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        semantic_dedup_incremental,
    )

    rng = np.random.default_rng(11)
    d = 64
    cents = tuple(tuple(1.0 if j == i else 0.0 for j in range(d))
                  for i in range(4))

    def mk(ids, spread):
        base = np.zeros(d)
        base[0] = 1.0
        rows = []
        for i in ids:
            v = base + spread * rng.standard_normal(d)
            rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")

    corpus = mk(range(100), 0.05)          # 100 rows in cell 0
    new = mk(range(1000, 1040), 0.05)      # 40 new rows, same cell
    kw = dict(threshold_q6=998_000, cells=4, centroids=cents, nprobe=2)
    free = {r.vec_id for r in
            semantic_dedup_incremental(new, corpus, **kw).collect()}
    guarded = {r.vec_id for r in
               semantic_dedup_incremental(
                   new, corpus, max_cell_pairs=100_000, **kw).collect()}
    assert guarded == free  # the guard reads, never filters
    with _pt.raises(ValueError, match="per-batch subdivision"):
        semantic_dedup_incremental(new, corpus, max_cell_pairs=1_000,
                                   **kw)
