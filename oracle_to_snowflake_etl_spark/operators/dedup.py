"""Document deduplication operators for large-scale training-data pipelines.

Five strategies over a ``documents``-shaped table (doc_id, text, ...),
from cheapest to most semantic:

  exact          hash-groupBy on content hash — one shuffle on a 60-bit key
  ngram_jaccard  exact 3-gram-shingle Jaccard via inverted-index self-join
  minhash_lsh    MinHash signatures + banded LSH candidate generation
  simhash        60-bit SimHash fingerprints + banded Hamming search
  (embedding near-dup lives in operators/similarity.py — same machinery
   as ANN search)

Scale design (the 100 TB story — local tests verify correctness only):
  - Signatures/fingerprints are computed with *array higher-order
    functions* (transform/aggregate/array_min) inside whole-stage codegen:
    zero shuffles, zero Python, one pass over the text.
  - Candidate generation is the only shuffle: explode to (band, key) or
    (chunk, value) and self-join. Band keys are high-cardinality, so the
    join distributes evenly; frequent-shingle skew in ngram_jaccard is the
    known hot spot, which is exactly why MinHash-LSH is the scale path —
    its shuffle volume is O(docs × bands), independent of text length.
  - All hashes are md5-derived (functions/hashing.py) so results are
    bit-identical across engines and partitionings — dedup decisions are
    reproducible run-to-run, which exact-once pipeline semantics need.

The reference has no text ops (its dedup is the key anti-join J1,
reference oracle_to_snowflake.py:84-86; SURVEY.md §2.3); this module is
the north-star extension surface (SURVEY.md §7.5) built on the same
"new rows only" philosophy applied to *content* instead of keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import hashlib

from ..functions.hashing import hash60, hash60_sql
from .util import bucket_pairs, ensure_parallelism

# MinHash parameters: 16 hashes = 4 bands x 4 rows. P(candidate | j) =
# 1 - (1 - j^4)^4 — the S-curve crosses ~0.5 near j≈0.55, right for a
# 0.5 near-dup threshold.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4

# SimHash: 60-bit fingerprints (hashing.HASH_BITS), 4 chunks of 15 bits.
# Pigeonhole: hamming(a,b) <= 3 => at least one of 4 chunks identical,
# so banded candidate generation is lossless for the <=3 threshold.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 15
SIMHASH_MAX_HAMMING = 3


# ---------------------------------------------------------------------------
# Tokenization / shingling (shared with textstats)
# ---------------------------------------------------------------------------

def tokens(col: Column) -> Column:
    """Whitespace tokens; trim first so no empty boundary tokens."""
    return F.split(F.trim(col), " +")


def shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined). Empty array when < k tokens
    (guarded: Spark's sequence(1,0) would count *down*)."""
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))) \
           .otherwise(F.array().cast("array<int>"))
    joined = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]))
    return F.array_distinct(joined)


def shingled_docs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """The (doc, sh) shingle projection both prefix-filter dedups run on
    — exposed so a pipeline executing SEVERAL set-similarity operators
    over one corpus computes the (dominant) tokenize→shingle pass ONCE:

        docs = shingled_docs(df).persist(StorageLevel.MEMORY_AND_DISK)
        jac  = ngram_jaccard_pairs(df, docs=docs)  # its DF-path decision
        cont = containment_pairs(df, docs=docs)    # fills the cache
        docs.unpersist()

    Construction notes (each measured, see the operators' docstrings):
    tokens become a REAL column before shingling (Catalyst inlines
    expression inputs into lambdas — split() would re-run per shingle);
    shingle-less docs are dropped by TOKEN count, never by
    ``size(sh) > 0`` (that predicate gets pushed below the projection
    and re-runs the shingle pipeline per row).
    """
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("t")))
    toked = base.select("doc", tokens(F.col("t")).alias("toks"))
    return (toked.where(F.size("toks") >= k)
            .select("doc", shingles(F.col("toks"), k).alias("sh")))


# ---------------------------------------------------------------------------
# 1. Exact dedup: content-hash groupBy
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate collapse: group on a 60-bit content hash, keep the
    lowest id (deterministic keeper), count copies.

    One hash-aggregate: partial map-side combine means the shuffle carries
    one row per distinct document per input partition — at 100 TB this is
    bounded by distinct-count, not row-count.
    """
    return (
        df.select(F.col(id_col), hash60(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# 2. Exact n-gram Jaccard via inverted-index self-join
# ---------------------------------------------------------------------------

#: DF-path decision thresholds (see _auto_scale_safe).
#: Row threshold: the measured window↔partial-agg crossover sits between
#: sf0.1 (~240k exploded (doc,h) rows — window 3x faster) and sf1
#: (~2.4M rows — partial-agg 2.9x faster; SCALE_SWEEP2.json), so 1M
#: splits the decades. Hot fraction: the WindowExec straggler hazard the
#: scale path exists for — one shingle in >=10% of documents puts >=10%
#: of all rows in ONE un-splittable task regardless of corpus size.
#: Hot floor: a hottest shingle seen in fewer sampled docs than this is
#: sampling noise, not a hot key — a 150-doc corpus samples ~16 docs,
#: where 2 co-occurrences already read as 12.5% while the full frame
#: holds the shingle in ~3% of docs.
DEDUP_AUTO_ROW_THRESHOLD = 1_000_000
DEDUP_AUTO_HOT_FRAC = 0.10
DEDUP_AUTO_HOT_MIN_DOCS = 10
DEDUP_AUTO_SAMPLE_FRACTION = 0.1


def _auto_scale_safe(docs: DataFrame,
                     sample_fraction: float = DEDUP_AUTO_SAMPLE_FRACTION,
                     row_threshold: int = DEDUP_AUTO_ROW_THRESHOLD,
                     hot_frac: float = DEDUP_AUTO_HOT_FRAC) -> bool:
    """Decide window (False) vs partial-agg (True) DF computation from a
    deterministic document sample of a (doc, sh) shingle frame — the
    measurement→decision wire of skew.choose_salt_buckets applied to the
    dedup prefix filters. Every prefix-filter operator runs it on the
    frame whose DF it computes; both paths give identical results, so
    the decision moves the plan, never the answer.

    Sample: hash60('dedupauto:' + doc) % 1000 < fraction*1000 — per-doc
    deterministic Bernoulli (same docs every run, partitioning-
    independent), pushed below the shingle projection so only sampled
    docs are ever tokenized (on a persisted frame the same action
    materializes the cache instead). One sample-bounded action, a
    one-row collect:

      est_rows  = sampled exploded (doc, h) rows / fraction — the total
                  window-shuffle volume proxy; past ``row_threshold``
                  the partial-agg form's map-side combine wins
                  regardless of skew (the measured sf1/sf10 regime).
      max_frac  = max sampled shingle DF / sampled doc count — the
                  hot-key hazard, scale-invariant under uniform doc
                  sampling; past ``hot_frac`` one WindowExec task holds
                  that fraction of ALL rows (AQE cannot split a window
                  exchange), so take the partial-agg path even on a
                  small corpus — provided the hottest shingle was seen
                  in at least DEDUP_AUTO_HOT_MIN_DOCS sampled docs.

    At 100 TB run with fraction 0.001: hot shingles at straggler scale
    are present in any uniform sample, and a shingle too rare to sample
    is too small to straggle (same argument as choose_salt_buckets).
    """
    if not 0.001 <= sample_fraction <= 1.0:
        # the %1000 Bernoulli has 1/1000 granularity: int(f*1000) == 0
        # below 0.001, which would make the sample DETERMINISTICALLY
        # empty on an arbitrarily large corpus — exactly the silent
        # wrong-path hazard the decision exists to avoid. Fail loudly.
        raise ValueError(
            f"sample_fraction must be in [0.001, 1.0] (1/1000 hash "
            f"granularity), got {sample_fraction!r}")

    def measure(frame):
        # ONE action, one exchange: the shingle hashes plus one NULL
        # marker row per doc, grouped on h — the NULL group's count is
        # the doc count, every other group's count a shingle DF
        h = (frame.select(F.explode(F.concat(
                 "sh", F.array(F.lit(None).cast("string")))).alias("s"))
             .select(F.when(F.col("s").isNotNull(), F.xxhash64("s"))
                     .alias("h")))
        dfc = F.when(F.col("h").isNotNull(), F.col("c"))
        return (h.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
                .agg(F.sum(dfc).alias("rows"), F.max(dfc).alias("maxdf"),
                     F.max(F.when(F.col("h").isNull(), F.col("c")))
                     .alias("nd"))
                .collect()[0])

    sample = docs.where(
        (hash60(F.col("doc").cast("string"), prefix="dedupauto:")
         % 1000) < int(sample_fraction * 1000))
    stats = measure(sample)
    used_fraction = sample_fraction
    if not stats["nd"]:
        # Empty sample ≠ small corpus: a tiny-but-skewed frame can draw
        # zero docs at low fractions. Mirror skew.choose_salt_buckets:
        # fall back to measuring the FULL frame (cheap precisely when
        # the sample came up empty) so the decision is always measured,
        # never a no-data default.
        stats = measure(docs)
        used_fraction = 1.0
        if not stats["nd"]:
            return False  # genuinely empty corpus: nothing to straggle
    if stats["rows"] is None:
        return False
    est_rows = stats["rows"] / used_fraction
    hot = (stats["maxdf"] >= DEDUP_AUTO_HOT_MIN_DOCS
           and stats["maxdf"] / stats["nd"] >= hot_frac)
    return est_rows >= row_threshold or hot


def _shingle_hashes(docs: DataFrame, doc: str = "doc") -> DataFrame:
    """(doc, h): one row per shingle of a (doc, sh) frame, the doc id
    named ``doc`` and the shingle replaced by its xxhash64. Every
    prefix filter here shuffles, sorts and joins on these fixed-width
    longs instead of the multi-word strings (~5-10x less data, cheaper
    comparisons); the rescore reads
    the original string arrays, so a (2^-64-rare) collision can only
    add a spurious CANDIDATE that the rescore discards — never a wrong
    score, and never a lost pair (collisions merge index entries, they
    never remove them)."""
    return (docs.select("doc", F.explode("sh").alias("s"))
            .select(F.col("doc").alias(doc), F.xxhash64("s").alias("h")))


def _with_doc_freq(sh: DataFrame, partial_agg: bool) -> DataFrame:
    """``sh`` (doc, h) annotated with ``_dfs``, the document frequency
    of h (shingles are distinct per doc, so COUNT per h is DF), by the
    path :func:`_auto_scale_safe` picked. Window path (``False``): a
    COUNT window partitioned on h annotates every row in place in one
    shuffle. Partial-agg path (``True``): ``groupBy("h").count()``,
    whose map-side combine absorbs hot keys, joined back on h — a join
    AQE can skew-split, where it cannot split a window exchange (see
    :func:`ngram_jaccard_pairs`). Both give the same ``_dfs``."""
    if partial_agg:
        dfh = sh.groupBy("h").agg(F.count(F.lit(1)).alias("_dfs"))
        # measured (round 9, sf10/sf30 A/B): hinting this join-back
        # SHUFFLE_HASH wins at the second decade (163->135 s at sf10)
        # but LOSES 1.6x at the third (630->1018 s at sf30) — the
        # per-partition hash builds of ~90M mostly-distinct h stop
        # fitting once AQE coalesces the 512-way shuffle, and SHJ
        # spill is far costlier than SMJ's sort spill. Default SMJ
        # kept deliberately; see SCALE.md third-decade analysis.
        return sh.join(dfh, "h")
    return sh.withColumn("_dfs",
                         F.count(F.lit(1)).over(Window.partitionBy("h")))


def _rank_rarest_first(wdf: DataFrame) -> DataFrame:
    """``wdf`` (doc, h, _dfs) with ``_n``, its doc's shingle count, and
    ``_r``, the rank of h within its doc in the global rarest-first
    order (``_dfs`` asc, h asc). Both windows are partitioned on doc,
    so a partition is one document's shingles whatever the corpus
    size."""
    by_doc = Window.partitionBy("doc")
    return (wdf.withColumn("_n", F.count(F.lit(1)).over(by_doc))
            .withColumn("_r",
                        F.row_number().over(by_doc.orderBy("_dfs", "h"))))


def _in_prefix(threshold: float) -> Column:
    """True for the rows of :func:`_rank_rarest_first` inside their
    doc's lossless prefix: the ``n - ceil(t*n) + 1`` rarest shingles
    (the All-Pairs bound, see :func:`ngram_jaccard_pairs`)."""
    return F.col("_r") <= (F.col("_n")
                           - F.ceil(F.col("_n") * F.lit(float(threshold)))
                           + 1)


def _batch_prefix_candidates(batch: DataFrame, all_docs: DataFrame,
                             threshold: float, new_col: str,
                             other_col: str) -> DataFrame:
    """(new_col, other_col) candidate rows of the incremental prefix
    filters: each ``batch`` doc against every other doc of
    ``all_docs`` (corpus index ∪ batch) that holds one of the batch
    doc's prefix shingles. The prefix is ranked rarest-first by
    BATCH-local DF, on the path :func:`_auto_scale_safe` picks from a
    sample of the batch (the only frame a DF window is keyed on here).
    Any prefix of the right size is lossless, so recall does not depend
    on the order; rarest-first keeps frequent shingles out of the
    prefixes and so keeps the candidate volume down (measured
    6.0s -> ~2s at sf0.1 where the batch is corpus-sized, against a
    plain-hash order). The ``all_docs`` side is bounded by a semi-join
    against the batch's prefix-shingle set, so per-ingest SHUFFLED rows
    are O(|batch| + prefix-hit index + matches), never a corpus pair
    scan. Rows may repeat a pair; callers orient and deduplicate."""
    bsh = _with_doc_freq(_shingle_hashes(batch), _auto_scale_safe(batch))
    prefix = (_rank_rarest_first(bsh).where(_in_prefix(threshold))
              .select(F.col("doc").alias(new_col), "h"))
    pre_h = prefix.select("h").distinct()
    idx = _shingle_hashes(all_docs, other_col).join(pre_h, "h", "left_semi")
    return (prefix.join(idx, "h")
            .where(F.col(new_col) != F.col(other_col)))


def _exact_rescore(cand: DataFrame, a_docs: DataFrame, b_docs: DataFrame,
                   threshold: float, score_col: str, score) -> DataFrame:
    """(doc_a, doc_b, score_col) for the ``cand`` pairs whose exact
    ``score(inter)`` over the full shingle arrays (``sh_a`` from
    ``a_docs``, ``sh_b`` from ``b_docs``; ``inter`` = the intersection
    size) reaches ``threshold``. The candidate side is output-bounded,
    so AQE broadcasts it and the corpus never shuffles for the
    rescore."""
    da = a_docs.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = b_docs.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(da, "doc_a").join(db, "doc_b")
        .withColumn(score_col, score(inter))
        .where(F.col(score_col) >= threshold)
        .select("doc_a", "doc_b", score_col)
    )


def _jaccard(inter: Column) -> Column:
    """|A∩B| / |A∪B| for :func:`_exact_rescore`."""
    return inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)


def _containment(inter: Column) -> Column:
    """|A∩B| / |A| for :func:`_exact_rescore` (A = the ``doc_a`` side)."""
    return inter.cast("double") / F.size("sh_a")


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, materialize: bool = True,
                        docs: DataFrame | None = None) -> DataFrame:
    """ALL pairs with exact Jaccard(shingle sets) >= threshold — exact
    recall AND exact scores.

    Candidate generation is the All-Pairs/PPJoin PREFIX FILTER (Bayardo
    et al. WWW'07; Xiao et al.), which is LOSSLESS: order every
    document's shingles by one global total order (document frequency
    asc, shingle asc) and index only each document's first
    ``n - ceil(t*n) + 1`` shingles. If J(A,B) >= t then
    |A∩B| >= t*|A∪B| >= t*max(|A|,|B|); were the common shingles all
    outside A's prefix they would fit in A's suffix of size
    ceil(t*n)-1 < t*n <= |A∩B| — contradiction, so every qualifying
    pair shares a prefix shingle and IS generated. The oracle is
    therefore brute-force all-pairs Jaccard (the semantic ground
    truth), not a mirror of the algorithm.

    Scale: rare (discriminative) shingles land in prefixes; a
    stopword-run shingle is indexed only for documents whose other
    shingles are even MORE frequent, so the frequent-shingle fan-out
    that kills a naive inverted-index self-join mostly prunes itself
    (measured at sf0.1: candidate volume 1.13M -> 77k pairs, operator
    4.4s -> ~1.5s vs the v2 lossy DF-capped index).

    Phases:
      1. DF — one hash-agg over exploded shingles (map-side combine;
         shuffle bounded by distinct-shingle count).
      2. PREFIX — join DF back, per-doc sort+slice (one shuffle on
         doc), explode prefixes into the (small) index, pairs via
         bucket grouping (operators/util.bucket_pairs).
      3. RESCORE — candidates (output-bounded) re-join the full
         shingle arrays by doc id; exact Jaccard via array_intersect.
         AQE broadcasts the candidate side, so no corpus shuffle.

    Cache lifecycle (``materialize``, default True): the shingle
    projection is persisted only for the duration of the call — the
    result is eagerly computed (``localCheckpoint``) and the cache
    released before returning, so a long-lived session running many
    operators never accumulates corpus-sized leaked caches (round-3
    lesson: two leaked MEMORY_AND_DISK string-array caches inflated
    every subsequent query's timing ~1.4x). ``materialize=False``
    returns the un-executed lazy plan (no persist, no checkpoint) for
    plan inspection/tests; the caller then owns execution cost.

    ``docs``: a pre-built :func:`shingled_docs` frame to run on —
    pass one (persisted + materialized) frame to several set-similarity
    operators to pay the tokenize→shingle pass once; lifecycle then
    belongs to the caller (this function neither persists nor
    unpersists a caller-provided frame).

    Document-frequency path, picked per call by :func:`_auto_scale_safe`
    from a deterministic doc sample of ``docs`` (its one action also
    materializes the persisted shingle cache). Window path (small
    corpora): a COUNT window partitioned on the shingle hash ``h`` —
    one shuffle annotates every (doc, h) row in place, measured 3x
    faster end-to-end at bench scale than the agg+join-back form. The
    hazard at web scale: a WindowExec partition holds EVERY occurrence
    of its key in ONE task, so a boilerplate shingle present in 10% of
    documents makes one task hold 10% of all (doc, h) rows — a
    straggler/OOM that AQE cannot split (skew handling does not apply
    to window exchanges). Partial-agg path (past the measured volume
    crossover, or a hot shingle): DF(h) via ``groupBy("h").count()`` —
    partial map-side aggregation absorbs hot keys (each map task emits
    ONE row per distinct h regardless of occurrence count) — joined
    back onto the (doc, h) rows; the join-back shuffle on h IS
    AQE-skew-splittable (the count side is one row per key, replicated
    to the split partitions). Same results bit-for-bit
    (tests/test_properties.py test_scale_safe_paths_equal_default);
    plan-asserted to contain no Window keyed on h
    (tests/test_plans.py test_scale_safe_dedup_no_hot_key_window).
    """
    from pyspark import StorageLevel

    owned = docs is None
    if owned:
        # the (doc, shingle-array) projection feeds the DF agg, the
        # prefix build, and both rescore sides; Spark does not share
        # subplans across branches, so persist it once — spill-safe,
        # bounded by corpus size, the same move MLlib's MinHashLSH
        # makes. Released in the finally below (materialize path).
        docs = shingled_docs(df, text_col, id_col, k)
        if materialize:
            docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    # on a persisted frame the decision's one action is also the cache
    # materialization (before the plan's branches race on it cold); on
    # a lazy frame the sample filter pushes below the shingle
    # projection, so only sampled docs are shingled
    partial_agg = _auto_scale_safe(docs)
    sh = _shingle_hashes(docs)
    # the scale path consumes sh TWICE (DF aggregate + join-back);
    # persisting the two-long frame runs the explode+hash pass once
    # (interleaved A/B at sf0.1: ~5-8% end-to-end — the join-back
    # shuffle, not the recompute, dominates; at corpus scale the saved
    # pass is a full re-read). Released in the finally.
    sh_cached = partial_agg and materialize
    if sh_cached:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    wdf = _with_doc_freq(sh, partial_agg)
    # global total order (df asc, hash asc) via struct sort; slice each
    # doc's prefix and explode it into the (much smaller) index
    ordered = (wdf.groupBy("doc")
               .agg(F.sort_array(
                   F.collect_list(F.struct("_dfs", "h"))).alias("_o")))
    n = F.size("_o")
    prefix = (ordered
              .withColumn("_p", (n - F.ceil(n * F.lit(float(threshold)))
                                 + 1).cast("int"))
              .select("doc", n.alias("n"),
                      F.posexplode(
                          F.expr("transform(slice(_o, 1, _p), x -> x.h)"))
                      .alias("pos", "h")))
    # PPJoin length + positional filters, applied per co-occurrence
    # BEFORE the pair-dedup shuffle — both lossless:
    #   length:      J <= min(n)/max(n), so min(n) >= t*max(n) or the
    #                pair can't reach t;
    #   positional:  elements at or after prefix position pos leave at
    #                most 1 + min(n_a-pos_a-1, n_b-pos_b-1) common
    #                elements, which must reach the equivalent-overlap
    #                bound alpha = ceil(t/(1+t) * (n_a+n_b)).
    # The 1e-9 nudges push float rounding DOWNWARD (weaker filter), so
    # a borderline pair is never lost to an ulp.
    raw = bucket_pairs(prefix, ["h"], ["doc", "n", "pos"], dedup=False)
    t_frac = float(threshold) / (1.0 + float(threshold))
    alpha = F.ceil(F.lit(t_frac) * (F.col("n_a") + F.col("n_b")) - 1e-9)
    ubound = 1 + F.least(F.col("n_a") - F.col("pos_a") - 1,
                         F.col("n_b") - F.col("pos_b") - 1)
    cand = (raw.where(
        (F.least("n_a", "n_b") + 1e-9
         >= F.lit(float(threshold)) * F.greatest("n_a", "n_b"))
        & (ubound >= alpha))
        .select("doc_a", "doc_b").dropDuplicates())
    if partial_agg:
        # Spread the rescore (r15, guide §2.5): the candidate list is
        # a few MB of (doc_a, doc_b) longs, so AQE's byte-target
        # coalescing collapses the post-dedup shuffle to ~ONE
        # partition — and the downstream exact array_intersect rescore
        # (CPU-dense per byte: ~100-element string arrays per side)
        # then runs as a single-task straggler (measured 4.2 s of a
        # 7 s scale-path run at sf0.1, 31 cores idle; the fan-out cuts
        # the path to ~2.8-3.4 s). Scale-branch only: the window form
        # is the documented small-corpus fast path whose rescore stage
        # inherits adequate partitioning at its sizes, and the same
        # old-vs-new A/B showed the extra exchange costing it ~10 %
        # with nothing to win back; the decision switches to the scale
        # branch (and this fan-out) exactly when volume crosses the
        # measured threshold. At scale the pair list is output-bounded and
        # defaultParallelism cluster-sized, so per-task volume stays
        # |cand|/cores.
        cand = cand.repartition(
            docs.sparkSession.sparkContext.defaultParallelism)
    out = _exact_rescore(cand, docs, docs, threshold, "jaccard", _jaccard)
    if not materialize:
        return out
    try:
        # The decision above already populated the shared docs cache
        # (inside a single job the plan's docs branches — prefix chain,
        # rescore a-side, rescore b-side — would race on a cold cache
        # and each recompute the shingle pass). Eagerly compute the
        # (tiny, output-bounded) pair set so lineage is truncated and
        # the corpus cache can be released before the caller ever
        # executes the returned frame.
        if sh_cached:
            # stage the (doc, h) cache before the branching consumers
            # race on it cold (same rationale as the docs cache above)
            sh.count()
        return out.localCheckpoint(eager=True)
    finally:
        if owned:
            docs.unpersist()
        if sh_cached:
            sh.unpersist()


# ---------------------------------------------------------------------------
# 3. MinHash + banded LSH
# ---------------------------------------------------------------------------

#: sentinel above every hash60 value (hashes are < 2^60)
_MAX_H = 1 << 60
_MASK60 = (1 << 60) - 1
_MASK32 = (1 << 32) - 1


def _affine_constants(num_hashes: int = MINHASH_K) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) for the universal hash family
    h_i(x) = (a_i * x32 + b_i) & (2^60-1): a odd in [1, 2^31),
    b in [0, 2^31), derived from md5 so both engines embed the same
    literals. a < 2^31 and x32 < 2^32 keep a*x32 + b < 2^63: no signed
    overflow in either engine."""
    a = [(int(hashlib.md5(f"mh_a{i}".encode()).hexdigest()[:8], 16) >> 1) | 1
         for i in range(num_hashes)]
    b = [int(hashlib.md5(f"mh_b{i}".encode()).hexdigest()[:8], 16) >> 1
         for i in range(num_hashes)]
    return a, b


def with_minhash_signature(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           num_hashes: int = MINHASH_K) -> DataFrame:
    """(id, sig) with sig = array of MINHASH_K min-hashes over shingles:
    lane i = min over shingles of (a_i * (hash60(s) & 2^32-1) + b_i)
    & (2^60-1) — ONE md5 per shingle, then cheap affine universal
    hashes per lane (the standard MinHash family), instead of
    num_hashes md5 calls per shingle.

    Structured as a SINGLE PASS: shingles -> base-hash array -> fold
    into an elementwise-min accumulator. Every subexpression is the
    input of exactly one fold/transform, so nothing re-evaluates per
    lane (Catalyst inlines reused subtrees into lambdas — the per-seed
    formulation re-built shingles 16x, measured 46x wall-clock). No
    shuffle, no UDF.

    Documents with < k tokens (no shingles) are dropped up front with a
    cheap token-count filter (their signature is undefined; exact dedup
    handles degenerate shorts).
    """
    a_const, b_const = _affine_constants(num_hashes)
    arr_a = F.array(*[F.lit(a) for a in a_const])
    arr_b = F.array(*[F.lit(b) for b in b_const])
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("t"))
          .where(F.size(tokens(F.col(text_col))) >= 3))
    # tokens as a REAL column before shingling: Catalyst inlines
    # expression inputs into shingles()'s lambda (split would re-run per
    # shingle element); an attribute reference is computed once per row
    base = base.select("doc", tokens(F.col("t")).alias("toks"))
    # one base hash per shingle (evaluated once: input of the fold)
    h32s = F.transform(shingles(F.col("toks")),
                       lambda s: hash60(s).bitwiseAND(F.lit(_MASK32)))
    init = F.array_repeat(F.lit(_MAX_H).cast("long"), num_hashes)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = F.aggregate(
        h32s, init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(seeds, lambda i:
                        (F.element_at(arr_a, i + F.lit(1)) * h
                         + F.element_at(arr_b, i + F.lit(1)))
                        .bitwiseAND(F.lit(_MASK60))),
            lambda x, y: F.least(x, y)))
    return base.select("doc", sig.alias("sig"))


def _band_keys(sig: Column, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> Column:
    """Array of band keys: '_'-joined row values per band."""
    return F.array(*[
        F.concat_ws("_", F.slice(sig, b * rows + 1, rows).cast("array<string>"))
        for b in range(bands)
    ])


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs sharing >= 1 LSH band, scored by estimated Jaccard
    (fraction of equal min-hashes), filtered at ``threshold``.

    The only shuffle is the (band, key) groupBy: O(docs x bands) rows,
    independent of document length — this is the 100 TB dedup path.
    Band keys are 240-bit values, so bucket collisions are genuine
    signature matches; skew cannot concentrate (keys are hashes), and
    intra-bucket pair expansion is bounded by true near-dup cluster
    size (operators/util.bucket_pairs — signatures are computed ONCE,
    unlike a self-join which evaluates the subplan per side).
    """
    sigs = with_minhash_signature(df, text_col, id_col)
    banded = sigs.select(
        "doc", "sig", F.posexplode(_band_keys(F.col("sig"))).alias("band", "key"))
    cand = bucket_pairs(banded, ["band", "key"], ["doc", "sig"])
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return (
        cand.withColumn("est_jaccard", matches.cast("double") / MINHASH_K)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_lsh_pairs_incremental(new_df: DataFrame, corpus_sigs: DataFrame,
                                  threshold: float = 0.5,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> DataFrame:
    """Incremental MinHash-LSH dedup: match a NEW document batch against
    a PRECOMPUTED corpus signature index (``corpus_sigs``: (doc, sig)
    from :func:`with_minhash_signature`) plus the batch itself — the
    shape a continuously-ingesting training pipeline actually runs.
    Corpus TEXT is never read; only the batch is shingled/signed.

    Emits the same (doc_a, doc_b, est_jaccard) contract as
    :func:`minhash_lsh_pairs`, restricted to pairs where at least one
    side is new (doc_a < doc_b). Equivalently: the full-corpus run's
    pairs minus the corpus-internal ones — the oracle parity the query
    checks.

    100 TB shape: the index is ~16 longs/doc (about 1% of text bytes)
    and stored banded + bucketed on (band, key); the new-vs-corpus step
    is then a co-located equi-join whose shuffle carries only the
    BATCH's bands, so per-ingest cost is O(|batch| x bands + matches),
    never O(corpus). After accepting the batch, append its signatures
    to the index (a plain write — the index is itself incrementally
    maintained). Within-batch pairs reuse the standard bucket_pairs
    path on the batch's own bands.
    """
    new_sigs = with_minhash_signature(new_df, text_col, id_col)
    nb = new_sigs.select(
        "doc", "sig", F.posexplode(_band_keys(F.col("sig"))).alias("band", "key"))
    cb = corpus_sigs.select(
        "doc", "sig", F.posexplode(_band_keys(F.col("sig"))).alias("band", "key"))
    # new-vs-corpus: equi-join on the band key; the smaller (batch) side
    # drives the shuffle, AQE broadcasts it when tiny
    nc = (cb.select("band", "key", F.col("doc").alias("c_doc"),
                    F.col("sig").alias("c_sig"))
          .join(nb.select("band", "key", F.col("doc").alias("n_doc"),
                          F.col("sig").alias("n_sig")), ["band", "key"])
          .where(F.col("c_doc") != F.col("n_doc"))
          .select(F.least("c_doc", "n_doc").alias("doc_a"),
                  F.greatest("c_doc", "n_doc").alias("doc_b"),
                  F.when(F.col("c_doc") < F.col("n_doc"), F.col("c_sig"))
                   .otherwise(F.col("n_sig")).alias("sig_a"),
                  F.when(F.col("c_doc") < F.col("n_doc"), F.col("n_sig"))
                   .otherwise(F.col("c_sig")).alias("sig_b"))
          .dropDuplicates(["doc_a", "doc_b"]))
    nn = bucket_pairs(nb, ["band", "key"], ["doc", "sig"])
    cand = nc.unionByName(nn)
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return (
        cand.withColumn("est_jaccard", matches.cast("double") / MINHASH_K)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# 4. Cluster resolution: near-dup pairs -> connected components -> keeper
# ---------------------------------------------------------------------------

#: DIRECTED edge count (2x the undirected pair count — the bound is
#: checked after the symmetric union below) under which dedup_clusters
#: solves components driver-side via union-find over the collected
#: edge list. 2M collected Rows cost on the order of hundreds of MB of
#: driver heap transiently (Row/tuple overhead dominates the 32 MB of
#: raw longs) — still metadata-sized against the driver's memory, and
#: released before the result frame is built. Above it, the
#: distributed min-label loop runs. Round-11 motivation: a
#: chain-shaped 1k-edge graph cost 14.5 s in the loop (rounds × job
#: floor, O(diameter) convergence) vs milliseconds in union-find.
CLUSTERS_DRIVER_MAX_EDGES = 2_000_000


def dedup_clusters(pairs: DataFrame, a_col: str = "doc_a",
                   b_col: str = "doc_b",
                   max_iterations: int = 50,
                   driver_max_edges: int = CLUSTERS_DRIVER_MAX_EDGES
                   ) -> DataFrame:
    """Resolve pairwise near-dup edges into clusters: every doc mentioned
    in ``pairs`` is assigned the MINIMUM doc id of its connected
    component as its canonical keeper. Returns (doc, keep_id).

    This is the step an LLM-data pipeline runs after any pairwise dedup
    (MinHash/SimHash/embedding): pairs say "these are the same"; the
    cluster decides who survives.

    Two paths behind one contract, picked by a BOUNDED take of the raw
    pair list (one action — r16; the previous
    union/distinct/persist/count/collect dance paid two actions and a
    shuffle to learn what a capped collect tells directly):

    * ``<= driver_max_edges // 2`` collected pair rows — union-find
      over the collected list (duplicates and direction are harmless
      to union-find, so the symmetric distinct union is skipped
      entirely on this path). The pair list is OUTPUT-bounded (near-dup
      volume, never corpus volume), so below the explicit byte bound
      this is a legitimate driver-side solve, not a scale leak:
      path-compressed union-find is O(E α(E)) in milliseconds where
      the distributed loop pays O(diameter) rounds × the per-job floor
      (measured 14.5 s for a 1k-edge chain graph at toy scale).
    * above the bound — the take is discarded and the iterative
      min-label propagation below runs, unchanged; at 100 TB a
      billion-edge near-dup graph takes this path and the driver never
      sees more than the capped prefix.

    Algorithm (distributed path): iterative min-label propagation (the
    DataFrame form of large-star/small-star connected components). Each
    round every node takes the min of its own label and its neighbors'
    labels; converges in O(diameter) rounds, which is small for the
    dense, tiny clusters near-dup graphs produce. Each round is ONE
    shuffle (join on the edge list + min-agg); the edge list is
    output-bounded, so iterations run on data proportional to the
    near-dup volume, never the corpus. The driver-side loop checks a
    convergence COUNT per round — legitimate for an iterative
    algorithm (it is the fixed-point test, not a planning probe).

    Two iterative-loop disciplines (measured 8 s -> ~1 s at sf0.1):

    * ``localCheckpoint`` after every round, NOT ``persist``. Persist
      caches the data but the logical plan still grows by three
      operators per round, and Catalyst re-analyzes the whole
      accumulated tree each round — profiled round times GREW
      1.1 s -> 4.0 s over four rounds on a 5.5k-row edge list.
      Checkpointing truncates lineage so every round plans the same
      tiny tree. (localCheckpoint is executor-local — fine here
      because the labels frame is bounded by the near-dup volume and
      the loop re-derives from ``pairs`` on executor loss.)
    * Partition count sized from the materialized edge count
      (~2M edges/partition), not inherited from the corpus-sized
      upstream: a 5k-row edge list iterated at
      spark.sql.shuffle.partitions=32+ pays per-round scheduler
      latency on 31 empty tasks; at 100 TB a billion-edge list still
      fans out to ~500 partitions.
    """
    # bounded take of the RAW pair list decides the path in one action;
    # driver_max_edges is a directed-edge bound, so raw pairs cap at
    # half of it (same driver-memory envelope as the old collected
    # symmetric list)
    pair_cap = max(1, driver_max_edges // 2)
    rows = (pairs.select(F.col(a_col).alias("src"),
                         F.col(b_col).alias("dst"))
            .limit(pair_cap + 1).collect())
    if len(rows) <= pair_cap:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = r.src, r.dst
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the canonical label needs no
                # second pass: keep_id is the component's min id
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = [(doc, find(doc)) for doc in parent]
        # output schema follows the input id dtype (string doc ids are
        # legal — the distributed path below preserves them too); a
        # hardcoded "long" here would crash or silently change the
        # schema depending on which path the edge count picked
        from pyspark.sql.types import StructField, StructType

        id_type = pairs.schema[a_col].dataType
        return pairs.sparkSession.createDataFrame(
            out, StructType([StructField("doc", id_type),
                             StructField("keep_id", id_type)]))
    # over the driver bound: build the undirected, deduplicated edge
    # list (+ self loops keep isolated-in-pair docs labeled) and run
    # the distributed min-label loop; the count both materializes the
    # cache and sizes the loop's partitioning
    edges = (pairs.select(F.col(a_col).alias("src"),
                          F.col(b_col).alias("dst"))
             .unionByName(pairs.select(F.col(b_col).alias("src"),
                                       F.col(a_col).alias("dst")))
             .distinct()
             .persist())
    n_edges = edges.count()
    n_parts = int(max(1, min(1024, n_edges // 2_000_000 + 1)))
    edges = edges.repartition(n_parts, "dst")
    labels = (edges.select(F.col("src").alias("doc"))
              .distinct()
              .withColumn("lbl", F.col("doc"))
              .repartition(n_parts, "doc")
              .localCheckpoint())
    try:
        for _ in range(max_iterations):
            neighbor_min = (edges.join(labels, edges.dst == labels.doc)
                            .groupBy("src").agg(F.min("lbl").alias("nlbl")))
            new_labels = (labels.join(neighbor_min,
                                      labels.doc == neighbor_min.src, "left")
                          .select("doc",
                                  F.least("lbl", F.coalesce("nlbl", "lbl"))
                                  .alias("lbl"))
                          .localCheckpoint())
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), "doc")
                       .where(F.col("n.lbl") != F.col("o.lbl"))
                       .count())
            labels = new_labels
            if changed == 0:
                break
        return labels.select(F.col("doc"), F.col("lbl").alias("keep_id"))
    finally:
        edges.unpersist()


def cluster_representatives(docs: DataFrame, clusters: DataFrame,
                            score: Column,
                            id_col: str = "doc_id") -> DataFrame:
    """Quality-aware survivor selection: given :func:`dedup_clusters`
    output (doc, keep_id) and a ``score`` expression over ``docs``'
    columns, return the rows of ``docs`` that survive when each cluster
    keeps its HIGHEST-scoring member (ties: minimum id) instead of the
    min-id keeper. Docs in no cluster pass through unchanged.

    This is the "keep the best duplicate" policy real training-data
    pipelines want: near-dup clusters usually contain one clean copy and
    several mangled ones, and min-id keeps whichever was crawled first.
    ``score`` is any deterministic Column (e.g.
    ``textstats.quality_q6_expr(F.col("text"))``) — passed as an
    expression so it is evaluated ONLY for cluster members, never
    corpus-wide: the cluster assignment is output-bounded (near-dup
    volume), so the semi-join below prunes the expensive text scoring
    to that subset before it runs.

    Shuffle inventory at any scale: the member semi-join (cluster side
    is near-dup-bounded — AQE broadcasts it when it fits), one hash-agg
    on keep_id (bounded by cluster count), and the final corpus
    anti-join against the dropped-id set (again near-dup-bounded).
    Sorting inside the agg is a single struct min — no window over the
    corpus.

    NULL scores rank LAST (coalesced to -infinity before the arg-max):
    without the coalesce, Spark's struct-min orders a NULL field FIRST,
    silently making "unknown quality" beat every known score — and
    diverging from the SQL ORDER BY score DESC (NULLS LAST) a reader
    would write (ADVICE r8). An all-NULL cluster falls back to the
    min-id keeper via the tiebreak.
    """
    members = (docs.join(clusters, docs[id_col] == clusters["doc"])
               .select(F.col("doc"), F.col("keep_id"),
                       F.coalesce(score.cast("double"),
                                  F.lit(float("-inf")))
                       .alias("_cr_score")))
    # min over (-score, doc) = arg-max score with min-id tiebreak —
    # deterministic for reproducible survivor sets
    winners = (members.groupBy("keep_id")
               .agg(F.min(F.struct((-F.col("_cr_score")).alias("ns"),
                                   F.col("doc").alias("doc"))).alias("w"))
               .select(F.col("w.doc").alias("doc")))
    dropped = (clusters.select("doc")
               .join(winners, "doc", "left_anti")
               .withColumnRenamed("doc", id_col))
    return docs.join(dropped, id_col, "left_anti")


def dedup_survivors(docs: DataFrame, pairs: DataFrame,
                    keep: str = "first", score: Column | None = None,
                    id_col: str = "doc_id", a_col: str = "doc_a",
                    b_col: str = "doc_b") -> DataFrame:
    """One-call pairs -> clusters -> survivors composition (VERDICT r8
    #7): resolve near-dup ``pairs`` into connected components and return
    the rows of ``docs`` that survive under the chosen keep policy —
    ``"first"`` keeps each cluster's minimum id (the reproducible
    crawl-order keeper every pairwise dedup here defaults to);
    ``"best"`` keeps the arg-max of ``score`` (min-id tiebreak, NULLs
    last) via :func:`cluster_representatives`. Pipelines no longer
    hand-wire the pairs/dedup_clusters/cluster_representatives dance.

    Scale shape is the composition of its parts: CC iterations run on
    the output-bounded edge list, scoring is pruned to cluster members,
    and the corpus pays one final anti-join against the dropped-id set.
    """
    if keep not in ("first", "best"):
        raise ValueError(f'keep must be "first" or "best", got {keep!r}')
    if keep == "best" and score is None:
        raise ValueError('keep="best" requires a score expression')
    if keep == "first" and score is not None:
        raise ValueError('score is only meaningful with keep="best"')
    clusters = dedup_clusters(pairs, a_col, b_col)
    if keep == "first":
        dropped = (clusters.where(F.col("doc") != F.col("keep_id"))
                   .select(F.col("doc").alias(id_col)))
        return docs.join(dropped, id_col, "left_anti")
    return cluster_representatives(docs, clusters, score, id_col)


def ngram_jaccard_dedup(df: DataFrame, threshold: float = 0.5,
                        keep: str = "first", score: Column | None = None,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3) -> DataFrame:
    """Survivors of ``df`` under exact n-gram-Jaccard near-dup clusters
    (:func:`ngram_jaccard_pairs` -> :func:`dedup_survivors`). ``keep``/
    ``score`` select the min-id or quality-arg-max policy; ``k`` is the
    shingle width the pair generator uses.

    Cache shape (r16, guide §1.2): the pair set's ONLY consumer here is
    dedup_survivors' cluster resolution (one bounded action), so the
    composition stages the shingle frame itself and hands the pair
    generator a LAZY plan (``materialize=False`` + caller ``docs``) —
    the operator's eager pair checkpoint and its separate
    cache-populating count would be two extra actions buying nothing.
    Same operators, same pairs, pytest/oracle-identical results."""
    return _staged_pair_dedup(
        ngram_jaccard_pairs, df, threshold, keep, score, text_col,
        id_col, k)


def containment_dedup(df: DataFrame, threshold: float = 0.8,
                      keep: str = "first", score: Column | None = None,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3) -> DataFrame:
    """Survivors of ``df`` under doc-in-doc containment clusters
    (:func:`containment_pairs` -> :func:`dedup_survivors`). The ordered
    (contained, containing) edges are treated as undirected for cluster
    resolution — a doc mostly contained in another is a duplicate of it
    whichever way the asymmetry points; ``keep="best"`` then lets a
    quality score decide which copy survives (typically the LONGER
    containing side, which min-id cannot express). Cache shape: the
    staged-docs + lazy-pairs composition of :func:`ngram_jaccard_dedup`
    (r16)."""
    return _staged_pair_dedup(
        containment_pairs, df, threshold, keep, score, text_col,
        id_col, k)


def _staged_pair_dedup(pair_fn, df: DataFrame, threshold: float,
                       keep: str, score: Column | None, text_col: str,
                       id_col: str, k: int) -> DataFrame:
    """Shared staged-docs + lazy-pairs core of the one-call dedup
    compositions: persist the shingle frame (the pair generator's
    DF-path decision is the action that materializes it), run the pair
    plan lazily into dedup_survivors' single cluster-resolution action,
    and release the cache before returning (the survivors frame's
    lineage holds only ``df`` and the local cluster ids)."""
    from pyspark import StorageLevel

    docs = shingled_docs(df, text_col, id_col, k) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        pairs = pair_fn(df, threshold=threshold, text_col=text_col,
                        id_col=id_col, k=k, materialize=False,
                        docs=docs)
        return dedup_survivors(df, pairs, keep=keep, score=score,
                               id_col=id_col)
    finally:
        docs.unpersist()


# ---------------------------------------------------------------------------
# 5. SimHash + banded Hamming search
# ---------------------------------------------------------------------------

def with_simhash(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(doc, fp): 60-bit SimHash over whitespace tokens (frequency-weighted
    by token multiplicity). Bit j of fp is 1 iff sum over tokens of
    (+1 if bit j of hash60('sh:'||token) else -1) > 0.

    Single pass per row: fold token hashes into a 60-lane sign-counter
    array (zip_with add), then fold the counters into the fingerprint.
    Every subexpression is the input of exactly one fold, so nothing is
    re-evaluated per bit (the per-bit formulation re-hashes all tokens
    60x — see with_minhash_signature). One codegen stage, no shuffle.
    shiftright/shiftleft need column offsets, available in SQL form only
    — hence expr strings rather than the F.* wrappers (int literals only).
    """
    h = hash60_sql("tok", prefix="sh:")
    fp = f"""
      cast(aggregate(
        transform(
          aggregate(
            transform(split(trim(txt), ' +'), tok -> {h}),
            array_repeat(cast(0 as bigint), {SIMHASH_BITS}),
            (acc, h) -> zip_with(acc,
                          transform(sequence(0, {SIMHASH_BITS - 1}),
                                    j -> (shiftright(h, j) & 1) * 2 - 1),
                          (a, b) -> a + b)),
          (c, j) -> if(c > 0, shiftleft(cast(1 as bigint), j),
                       cast(0 as bigint))),
        cast(0 as bigint), (acc, x) -> acc + x) as bigint)
    """
    base = ensure_parallelism(
        df.selectExpr(f"{id_col} as doc", f"{text_col} as txt"))
    return base.selectExpr("doc", f"{fp} as fp")


def simhash_pairs(df: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Pairs with Hamming(fp_a, fp_b) <= max_hamming.

    Candidates via chunk banding (4 x 15-bit chunks; pigeonhole makes this
    lossless for hamming <= 3), then the exact bit_count(xor) check.
    Shuffle volume O(docs x 4) — same scale contract as MinHash-LSH,
    same bucket-group pair generation (fingerprints computed once).
    """
    fps = with_simhash(df, text_col, id_col)
    chunks = fps.select(
        "doc", "fp",
        F.posexplode(F.array(*[
            F.expr(f"(fp >> {c * SIMHASH_CHUNK_BITS}) & {(1 << SIMHASH_CHUNK_BITS) - 1}")
            for c in range(SIMHASH_CHUNKS)])).alias("chunk", "cv"))
    return (
        bucket_pairs(chunks, ["chunk", "cv"], ["doc", "fp"])
        .select("doc_a", "doc_b",
                F.expr("bit_count(fp_a ^ fp_b)").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def containment_pairs(df: DataFrame, threshold: float = 0.8,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3, materialize: bool = True,
                      docs: DataFrame | None = None) -> DataFrame:
    """ALL ordered pairs (a, b), a != b, with containment
    |A∩B| / |A| >= threshold — the ASYMMETRIC near-dup relation that
    catches doc-in-doc duplication (a page embedded in a larger page,
    quote-heavy posts, boilerplate-wrapped articles) which symmetric
    Jaccard misses whenever the containing side is much larger.

    Candidate generation adapts the prefix filter to the asymmetric
    case: containment >= t bounds the overlap against |A| ONLY, so the
    CONTAINED side indexes just its n - ceil(t*n) + 1 rarest shingles
    (same suffix-counting argument as ngram_jaccard_pairs — lossless)
    while the containing side indexes its shingles. Exact rescore on
    the full arrays follows.

    Full-side bound (lossless): a candidate pair by definition shares a
    shingle with some document's PREFIX, so the containing-side index
    only needs shingles that occur in at least one prefix. Both
    memberships are computed on ONE annotated (doc, h) frame:

      _r    rank of h within its doc by (DF asc, h asc) — row_number
            over the doc partition (replaces the old collect_list/
            sort_array/slice/explode round-trip: no array build, and
            rank + count come off the same exchange+sort);
      _pf   prefix flag: _r <= n - ceil(t*n) + 1;
      _any  "h occurs in some prefix": max(_pf) over the h partition —
            the lossless containing-side bound, computed in-pass
            instead of via a distinct + semi-join (measured: the
            join formulation was 4x slower end-to-end at sf0.1).

    Since prefixes hold each document's RAREST shingles, a frequent
    (boilerplate) shingle survives into the full index only when some
    document consists almost entirely of frequent shingles; the index
    collapses from Σ|doc shingles| to Σ_{h in some prefix} DF(h).

    Cache lifecycle: same materialize-then-release contract as
    ngram_jaccard_pairs (eager result + unpersist before returning;
    ``materialize=False`` = lazy plan for inspection, no caching;
    ``docs`` = caller-owned pre-built :func:`shingled_docs` frame,
    shared across operators, never persisted/released here).

    Document-frequency path: the :func:`ngram_jaccard_pairs` per-call
    decision. Its partial-agg path replaces BOTH h-partitioned windows
    (the hot-key straggler hazard documented there) with skew-tolerant
    forms that compute the same values —
      ``_dfs``  groupBy("h") partial-agg + join-back (map-side combine
                absorbs hot keys; the join-back is AQE-skew-splittable);
      ``_any``  the prefix-shingle set distinct'd (partial-agg, one row
                per h) and LEFT SEMI-joined against the annotated rows
                — the join formulation the window path deliberately
                avoids at small scale (measured 4x slower end-to-end at
                sf0.1) but the one whose per-task input stays bounded
                when one shingle covers a third of the corpus.
    The doc-partitioned windows (``_n``, ``_r``) are kept in BOTH
    paths: their partition size is bounded by a single document's
    shingle count, which does not grow with corpus size. Same results
    (tests/test_properties.py test_scale_safe_paths_equal_default);
    plan-asserted h-window-free.
    """
    from pyspark import StorageLevel

    owned = docs is None
    if owned:
        docs = shingled_docs(df, text_col, id_col, k)
        if materialize:
            docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    # the decision's one action doubles as the cache materialization
    # (see ngram_jaccard_pairs)
    partial_agg = _auto_scale_safe(docs)
    sh = _shingle_hashes(docs)
    # two consumers of sh (DF agg + join-back) on the partial-agg path —
    # persist the two-long frame so the explode+hash pass runs once (see
    # ngram_jaccard_pairs), released in the finally
    sh_cached = partial_agg and materialize
    if sh_cached:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    ranked = (_rank_rarest_first(_with_doc_freq(sh, partial_agg))
              .withColumn("_pf", _in_prefix(threshold)))
    # spill-width discipline: everything downstream needs only
    # (doc, h, _pf), so the persisted/window-carried frame drops the
    # rank/count scaffolding (_dfs, _n, _r: 3 of 6 columns) before it
    # is cached or re-shuffled
    ranked = ranked.select("doc", "h", "_pf")
    if not partial_agg:
        ranked = ranked.withColumn(
            "_any",
            F.max(F.col("_pf").cast("int")).over(Window.partitionBy("h"))
            == 1)
    # the annotated frame feeds both index sides; fixed-width rows
    # (2 longs + counters), bounded by corpus shingle count — persist it
    # so the window chain runs once, released in the finally
    if materialize:
        ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    prefix = ranked.where("_pf").select(F.col("doc").alias("doc_a"), "h")
    if partial_agg:
        # "h occurs in some prefix" as a semi-join against the distinct'd
        # prefix-shingle set instead of the max-over-h window (DF-path
        # docstring): distinct is a partial agg, the semi-join is
        # AQE-splittable
        pre_h = prefix.select("h").distinct()
        full_idx = (ranked.join(pre_h, "h", "left_semi")
                    .select(F.col("doc").alias("doc_b"), "h"))
    else:
        full_idx = (ranked.where("_any")
                    .select(F.col("doc").alias("doc_b"), "h"))
    cand = (prefix.join(full_idx, "h")
            .where(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b").dropDuplicates())
    if materialize:
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)

    def rescore(c: DataFrame) -> DataFrame:
        return _exact_rescore(c, docs, docs, threshold, "containment",
                              _containment)

    if not materialize:
        return rescore(cand)
    try:
        # materialize caches in dependency order (see ngram_jaccard_pairs:
        # cold-cache branches race inside a single job and recompute the
        # shared stage): one shingle pass, one three-window chain, one
        # candidate join; the final job is then the rescore alone.
        # Measured at sf0.1: 12.5s (racing) -> 4.9s -> ~3.6s (staged).
        # (The decision already materialized the docs cache.)
        if sh_cached:
            sh.count()
        ranked.count()
        n_cand = cand.count()
        # Count-gated rescore fan-out (r15, guide §2.5): the cached
        # candidate list sits at AQE's byte-coalesced partitioning
        # (~1 partition for a few MB of id pairs), so a LARGE pair set
        # makes the CPU-dense array_intersect rescore a single-task
        # straggler (the ngram_jaccard_pairs finding: ~34 µs/pair —
        # 124 k pairs = 4.2 s on one core). The count is already paid
        # by the staging above, so the extra exchange is bought only
        # when the pair volume funds it (~5 k pairs/task target,
        # capped at 4096 partitions — cluster-sized at any scale).
        n_parts = min(4096, n_cand // 5_000)
        if n_parts > 1:
            return rescore(cand.repartition(n_parts)) \
                .localCheckpoint(eager=True)
        return rescore(cand).localCheckpoint(eager=True)
    finally:
        if owned:
            docs.unpersist()
        if sh_cached:
            sh.unpersist()
        ranked.unpersist()
        cand.unpersist()


def containment_pairs_incremental(new_df: DataFrame,
                                  corpus_docs: DataFrame,
                                  threshold: float = 0.8,
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  k: int = 3) -> DataFrame:
    """Incremental doc-in-doc containment: which NEW documents are
    mostly contained in something already ingested (or in a batch
    sibling) — boilerplate detection at ingest time. Contained side =
    the new batch; containing side = corpus ∪ batch. ``corpus_docs``
    is the corpus's stored (doc, sh) shingle index
    (:func:`shingled_docs` output) — corpus TEXT is never read.

    Lossless by the same pigeonhole as :func:`containment_pairs`: if
    |A∩B|/|A| >= t then B misses fewer than |A| - ceil(t|A|) + 1 of
    A's shingles, so ANY batch-side prefix of that size hits B. The
    batch prefix here is ranked by BATCH-local DF
    (:func:`_batch_prefix_candidates`, the core this form shares with
    :func:`jaccard_pairs_incremental_from_index`; no corpus-wide DF
    stats needed — recall is order-independent). The containing index
    is then LOSSLESSLY bounded by a semi-join
    against the batch's prefix-shingle set — per-ingest cost
    O(|batch| + Σ_{h in batch prefixes} DF(h) + matches) in SHUFFLED
    rows, never a corpus pair scan. One term is honest-to-state
    separately: the semi-join still SCANS the full stored index (Spark
    has no point lookup), a compact columnar pass at ~16 bytes/shingle
    — 1-2 orders cheaper per byte than the text it replaces. Measured
    (round 5, pre-materialized index, 4% drop): per-drop 3.1s at sf0.1
    → 5.1s at sf1, i.e. ×1.6 per decade of corpus — the gentle
    index-scan slope, vs ×10/decade for re-shingling corpus text.

    Returns (doc_a=contained NEW doc, doc_b=containing doc,
    containment), exact-rescored. Oracle: the brute-force ordered-pairs
    containment restricted to contained ∈ batch
    (dedup_containment_incr).
    """
    batch = shingled_docs(new_df, text_col, id_col, k)
    all_docs = corpus_docs.unionByName(batch)
    cand = (_batch_prefix_candidates(batch, all_docs, threshold,
                                     "doc_a", "doc_b")
            .select("doc_a", "doc_b").dropDuplicates()
            # spread the CPU-dense exact rescore (r15, guide §2.5 —
            # the ngram_jaccard_pairs single-task-straggler fix)
            .repartition(
                new_df.sparkSession.sparkContext.defaultParallelism))
    return _exact_rescore(cand, batch, all_docs, threshold, "containment",
                          _containment)


def jaccard_pairs_incremental_from_index(batch: DataFrame,
                                         corpus_index: DataFrame,
                                         threshold: float = 0.5
                                         ) -> DataFrame:
    """Shared incremental engine for SYMMETRIC shingle-set Jaccard —
    which docs of a new ``batch`` have Jaccard >= ``threshold`` against
    an already-ingested ``corpus_index`` or a batch sibling. Both
    inputs are (doc, sh) shingle frames (:func:`shingled_docs` output):
    the corpus side is the STORED index a continuously-ingesting
    pipeline persists per accepted doc, so source payloads/text are
    never re-read.

    This is the round-10 extraction of the body multimodal.video_
    neardup_pairs_incremental carried alone through round 9 — one
    verified core now serves the text (``ngram_jaccard_pairs_
    incremental``), video, and audio incrementals, exactly the way the
    batch forms all flow through :func:`ngram_jaccard_pairs`.

    Lossless by the symmetric prefix-filter pigeonhole: J(A,B) >= t
    implies |A∩B| >= t*max(|A|,|B|) >= t*|A|, so any batch-side prefix
    of size |A| - ceil(t*|A|) + 1 shares a shingle with B — a
    BATCH-side prefix alone generates every qualifying pair with at
    least one new side (the containment_pairs_incremental argument
    applied to the symmetric relation). The containing index is then
    lossless-bounded by a semi-join against the batch's prefix-shingle
    set, so per-ingest SHUFFLED rows are O(|batch| + prefix-hit index
    + matches), never a corpus pair scan. Candidates are verified by
    exact Jaccard over the stored shingle arrays.

    Emits (doc_a, doc_b, jaccard), doc_a < doc_b — exactly the
    full-corpus run's pairs with at least one new side (no-drift, the
    oracle contract). The batch-local DF path is decided as in
    containment_pairs_incremental (the decision samples the BATCH)."""
    all_docs = corpus_index.unionByName(batch)
    cand = (_batch_prefix_candidates(batch, all_docs, threshold,
                                     "doc_n", "doc_o")
            .select(F.least("doc_n", "doc_o").alias("doc_a"),
                    F.greatest("doc_n", "doc_o").alias("doc_b"))
            .dropDuplicates()
            # spread the CPU-dense exact rescore (r15, guide §2.5 —
            # the ngram_jaccard_pairs single-task-straggler fix)
            .repartition(
                batch.sparkSession.sparkContext.defaultParallelism))
    return _exact_rescore(cand, all_docs, all_docs, threshold, "jaccard",
                          _jaccard)


def ngram_jaccard_pairs_incremental(new_df: DataFrame,
                                    corpus_docs: DataFrame,
                                    threshold: float = 0.5,
                                    text_col: str = "text",
                                    id_col: str = "doc_id",
                                    k: int = 3) -> DataFrame:
    """Incremental :func:`ngram_jaccard_pairs`: which NEW documents
    have k-gram shingle Jaccard >= ``threshold`` against an
    already-ingested corpus (``corpus_docs``: the stored
    :func:`shingled_docs` index — corpus TEXT is never re-read) or a
    batch sibling. Completes the text family's incremental set
    (exact: ingest.ingest_batch's hash anti-join; MinHash:
    minhash_lsh_pairs_incremental; containment:
    containment_pairs_incremental) with the exact-Jaccard form.
    Oracle:
    dedup_ngram_jaccard_incr — brute-force all-pairs Jaccard
    restricted to pairs with at least one new side."""
    batch = shingled_docs(new_df, text_col, id_col, k)
    return jaccard_pairs_incremental_from_index(
        batch, corpus_docs, threshold=threshold)
