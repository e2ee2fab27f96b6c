"""Text analysis for training-data pipelines (SURVEY.md §7.5):
language-ID, quality scoring, token counting, document fingerprinting.

Everything here is built from JVM-side column expressions and array
higher-order functions — one codegen stage per document scan, no Python
in the hot path, no shuffle until an (optional) aggregation. Each
function has an exact DuckDB mirror (queries/text_q.py) so the
differential harness verifies values, not just row counts.

The reference has no string functions beyond date formatting
(SURVEY.md §2.7 'Absent'); this module is north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60
from .dedup import exact_dedup, shingles, tokens
from .util import ensure_parallelism

# Tiny per-language function-word lists for the n-gram/stopword heuristic
# language-ID. Deterministic, alphabetical languages, usable identically
# as SQL literals in the DuckDB oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "is", "and", "of", "to", "in", "it"),
    "es": ("el", "la", "es", "y", "de", "que", "un", "en"),
    "fr": ("le", "la", "est", "et", "de", "que", "un", "dans"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

#: BPE-ish word/number/symbol tokenizer (token counting)
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Winnowing fingerprint parameters (Schleimer et al., SIGMOD'03 —
# public algorithm): k-char grams, window w of consecutive gram hashes,
# keep each window's minimum.
WINNOW_K = 8
WINNOW_W = 4


def n_tokens(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish regex tokens (letter runs, digit runs, single
    symbols) — the cheap proxy for subword token counts."""
    return F.regexp_count(col, F.lit(BPE_RE))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(col)
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return hits.cast("double") / F.size(toks)


def lang_scores(col: Column) -> list[tuple[str, Column]]:
    """(lang, marker-hit-ratio) per language, over whitespace tokens."""
    toks = tokens(col)
    out = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
        out.append((lang, hits.cast("double") / F.size(toks)))
    return out


def lang_id_df(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", keep: tuple[str, ...] = ()) -> DataFrame:
    """(id, *keep, lang_pred): staged language-ID — marker-hit ratios are
    materialized as one column per language in a first projection, then
    argmax/tiebreak runs over cheap attribute reads. Two codegen stages,
    still zero shuffles."""
    c = F.col(text_col)
    langs = sorted(LANG_MARKERS)
    scored = df.select(
        F.col(id_col), *[F.col(k) for k in keep],
        *[s.alias(f"s_{lang}") for lang, s in lang_scores(c)])
    g = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pick = None
    for lang in langs:
        cond = F.col(f"s_{lang}") == g
        pick = F.when(cond, F.lit(lang)) if pick is None else pick.when(cond, F.lit(lang))
    return scored.select(
        id_col, *keep,
        F.when(g <= 0, F.lit("und")).otherwise(pick).alias("lang_pred"))


def quality_features(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features, all in one codegen pass:
      n_chars_m  measured character length
      n_toks     whitespace token count
      n_bpe      BPE-ish regex token count
      mean_tok_len  average token length
      alpha_ratio   fraction of [A-Za-z ] characters
      stop_ratio    English marker-word ratio
    """
    c = F.col(text_col)
    toks = tokens(c)
    return df.select(
        F.col(id_col),
        F.length(c).alias("n_chars_m"),
        F.size(toks).alias("n_toks"),
        bpe_token_count(c).alias("n_bpe"),
        (F.aggregate(toks, F.lit(0).cast("long"),
                     lambda a, t: a + F.length(t)).cast("double")
         / F.size(toks)).alias("mean_tok_len"),
        (F.length(F.regexp_replace(c, "[^A-Za-z ]", "")).cast("double")
         / F.length(c)).alias("alpha_ratio"),
        stopword_ratio(c).alias("stop_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Composite quality in [0,1]: length band + alpha ratio + stopword
    signal, equally weighted. The formula is arbitrary but fixed — its
    value is being *identically computable* in both engines, which is
    what a reproducible quality-filter pipeline needs."""
    feats = quality_features(df, text_col, id_col)
    len_ok = F.when((F.col("n_toks") >= 10) & (F.col("n_toks") <= 1000),
                    F.lit(1.0)).otherwise(F.lit(0.0))
    stop_sig = F.least(F.col("stop_ratio") * 4.0, F.lit(1.0))
    score = (len_ok + F.col("alpha_ratio") + stop_sig) / 3.0
    # quantized (floor(x*1e6+0.5), functions/hashing.quantize_sql
    # convention) — engines disagree on round-half conventions, floor
    # does not.
    q6 = F.floor(score * 1_000_000 + F.lit(0.5)).cast("long")
    return feats.select(id_col, q6.alias("quality_q6"))


def quality_q6_expr(c: Column) -> Column:
    """quality_score's composite as a single column EXPRESSION (quantized
    1e-6), for pipelines that filter mid-stream without a join — one
    codegen pass, fuses with whatever projection it rides in."""
    toks = tokens(c)
    len_ok = F.when((F.size(toks) >= 10) & (F.size(toks) <= 1000),
                    F.lit(1.0)).otherwise(F.lit(0.0))
    alpha = (F.length(F.regexp_replace(c, "[^A-Za-z ]", "")).cast("double")
             / F.length(c))
    stop_sig = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    score = (len_ok + alpha + stop_sig) / 3.0
    return F.floor(score * 1_000_000 + F.lit(0.5)).cast("long")


def corpus_prep(df: DataFrame, quality_min_q6: int = 400_000,
                budget_tokens: int = 4096,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The end-to-end corpus-preparation pipeline, composed from this
    module's operators — what a user actually runs before training:

        exact dedup -> quality gate -> train-split selection -> packing

    Returns (id, n_tok, bin): the packed training shards. The split
    step keeps the train interval of :func:`sampling.split_assign`'s
    hash-interval labels, inlined as one column predicate.

    Shuffle inventory (the whole pipeline, at any scale):
      1. content-hash aggregate for dedup keepers (bounded by distinct
         count) + the keeper semi-join (AQE broadcasts the keeper side
         when it fits, else SMJ);
      2. the packing window's sort.
    The quality gate and split assignment add ZERO shuffles — both are
    pure column predicates (quality_q6_expr, hash-interval membership)
    fused into the post-join projection, and both are deterministic
    per-row decisions, so the pipeline is restartable and incremental
    (a rerun with more docs never flips an existing doc's fate except
    through dedup keeper changes, which content addressing makes
    stable: the min-id keeper only changes if a SMALLER id arrives).
    """
    keep = exact_dedup(df, text_col, id_col) \
        .select(F.col("keep_id").alias(id_col))
    surv = df.join(keep, id_col, "left_semi")
    c = F.col(text_col)
    # train interval for the {test:.1, train:.8, val:.1} weights, sorted
    # label order (see sampling.split_assign): unit in [0.1, 0.9)
    unit = hash60(F.concat_ws("|", F.lit("split"),
                              F.col(id_col).cast("string"))) \
        .cast("double") / F.lit(float(1 << 60))
    gated = surv.where(quality_q6_expr(c) >= quality_min_q6) \
                .where((unit >= 0.1) & (unit < 0.9))
    return pack_bins(gated, budget_tokens, text_col, id_col)


def pack_bins(df: DataFrame, budget_tokens: int,
              text_col: str = "text", id_col: str = "doc_id",
              shard_col: Column | None = None) -> DataFrame:
    """Assign documents to fixed-token-budget bins (context-window
    packing / shard construction): documents in deterministic ``id``
    order accumulate BPE-ish token counts; a document's bin is
    floor(exclusive-prefix-sum / budget) — the prefix-packing rule every
    sequential packer uses, expressed as ONE window cumsum (no driver
    loop, no UDF). Bins can overflow by at most one document, the
    standard allowance when documents never split.

    shard_col partitions the packing (e.g. by language or source) so the
    window never sees more than a shard — at 100 TB pack per shard, not
    globally (a single global window is one partition's sort).
    Returns (id, n_tok, bin).
    """
    shard = shard_col if shard_col is not None else F.lit(0)
    toks = bpe_token_count(F.col(text_col))
    w = (Window.partitionBy(shard).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    prefix = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    base = df.select(F.col(id_col), toks.alias("n_tok"))
    return base.select(
        id_col, "n_tok",
        F.floor(prefix / F.lit(budget_tokens)).cast("long").alias("bin"))


def repetition_features(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals, per document, zero shuffles:

      n_toks        whitespace token count
      top_tok_q6    (most frequent token's count / n_toks), quantized
      distinct_q6   (distinct tokens / n_toks), quantized
      dup_bigram_q6 ((bigrams - distinct bigrams) / bigrams), quantized

    The most-frequent-token count is a single ``aggregate`` fold over the
    SORTED token array (equal tokens are adjacent after sort, so the max
    run length IS the max multiplicity) — no explode, no per-doc groupBy,
    one codegen pass. An exploded groupBy(doc, token) would shuffle every
    token of a 100 TB corpus just to compute a per-row feature.
    Ratios are quantized floor(x*1e6+0.5) per the determinism contract.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n = F.size(toks)
    st = F.sort_array(toks)
    zero = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))

    def _step(a, t):
        run = F.when(t == a.prev, a.run + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(t.alias("prev"), run.alias("run"),
                        F.greatest(a.best, run).alias("best"))

    top = F.aggregate(st, zero, _step, lambda a: a.best)
    bi_idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
              .otherwise(F.array().cast("array<int>"))
    bis = F.transform(bi_idx, lambda i: F.concat_ws(
        " ", F.element_at(toks, i), F.element_at(toks, i + 1)))
    n_bi = F.size(bis)
    dup_frac = F.when(n_bi == 0, F.lit(0.0)).otherwise(
        (n_bi - F.size(F.array_distinct(bis))).cast("double") / n_bi)

    def _q6(x):
        return F.floor(x * 1_000_000 + F.lit(0.5)).cast("long")

    return df.select(
        F.col(id_col),
        n.alias("n_toks"),
        _q6(top.cast("double") / n).alias("top_tok_q6"),
        _q6(F.size(F.array_distinct(toks)).cast("double") / n).alias("distinct_q6"),
        _q6(dup_frac).alias("dup_bigram_q6"),
    )


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing k-word
    shingles with an evaluation/benchmark set. Returns
    (id, n_shingles, n_hits, overlap_q6) for every training doc with at
    least one overlapping shingle.

    Scale shape: the eval side (benchmarks are small — thousands of
    docs) collapses to a DISTINCT shingle set and is broadcast; the
    corpus side computes shingles in one codegen pass and streams
    through a broadcast-hash semi-style join — the 100 TB side never
    shuffles (beyond ensure_parallelism's small-input no-op guard: the
    shingle+probe pass is expensive per row and must not run on the
    1-2 tasks a small parquet file plans to). Per-doc totals ride along
    the explode (size + explode in one projection), so the text is
    shingled exactly once.
    """
    sh = shingles(tokens(F.col(text_col)), k)
    ev = (eval_df.select(F.explode(sh).alias("sh")).distinct())
    pre = ensure_parallelism(train).select(F.col(id_col), sh.alias("shs"))
    ex = pre.select(id_col, F.size("shs").alias("n_shingles"),
                    F.explode("shs").alias("sh"))
    hits = (ex.join(F.broadcast(ev), "sh")
            .groupBy(id_col, "n_shingles")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    q6 = F.floor(F.col("n_hits").cast("double") / F.col("n_shingles")
                 * 1_000_000 + F.lit(0.5)).cast("long")
    return hits.select(id_col, "n_shingles", "n_hits", q6.alias("overlap_q6"))


#: PII patterns — deliberately RE2-compatible (no backrefs, no lookarounds)
#: so the same literal works in Java regex (Spark) and RE2 (DuckDB).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def redact_pii(col: Column) -> tuple[Column, Column, Column]:
    """(redacted, n_emails, n_phones): replace emails then phone numbers
    with typed placeholders. Counts are taken BEFORE redaction (an email
    never matches the phone pattern, so order does not bias counts).
    Pure regexp_replace/regexp_count — JVM codegen, no UDF."""
    n_email = F.regexp_count(col, F.lit(EMAIL_RE))
    n_phone = F.regexp_count(col, F.lit(PHONE_RE))
    red = F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>")
    return red, n_email, n_phone


def vocab_top_k(df: DataFrame, k: int = 20,
                text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k tokens by frequency: explode → count → top-k.
    Hot-token skew is absorbed by map-side partial aggregation (each
    input partition emits each token once), and the final top-k is a
    TakeOrderedAndProject, never a full sort. Total order (count desc,
    token asc) makes the cut deterministic."""
    return (df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("tok"))
            .limit(k))


def char_grams(col: Column, k: int = WINNOW_K) -> Column:
    """All k-char grams of the string, in order (empty array if shorter
    than k)."""
    n = F.length(col)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))) \
           .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.substring(col, i, F.lit(k)))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints: hash every k-gram (rolling-hash
    role played by md5-derived hash60 for cross-engine determinism),
    slide a window of w consecutive hashes, keep each window minimum,
    distinct. Returns (doc_id, fp) exploded — the classic
    plagiarism/near-dup fingerprint set, computed entirely in codegen.

    The gram-hash array is materialized in its own projection before the
    window pass: sliding windows random-access it w times per position,
    and an inlined expression tree would re-hash the whole document per
    window (O(n^2) md5 calls — see operators/dedup.py
    with_minhash_signature for the same Catalyst-inlining trap).
    """
    base = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col).alias("t")))
    hashed = base.select(
        id_col,
        F.transform(char_grams(F.col("t"), k), lambda g: hash60(g)).alias("hs"))
    hs = F.col("hs")
    nh = F.size(hs)
    starts = F.when(nh >= w, F.sequence(F.lit(1), nh - (w - 1))) \
              .otherwise(F.array().cast("array<int>"))
    mins = F.transform(starts, lambda s: F.array_min(F.slice(hs, s, w)))
    return hashed.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp"))


def repeated_spans(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = WINNOW_K,
                   w: int = WINNOW_W, min_docs: int = 2) -> DataFrame:
    """Cross-document repeated-span report: fingerprints shared by >=
    ``min_docs`` distinct documents, with how widely each is shared.
    Substring-level duplication detection (the training-data concern of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): doc-level near-dup ops miss a 200-char
    boilerplate block pasted into otherwise-distinct pages; winnowing
    guarantees any shared substring of length >= k+w-1 chars shares at
    least one retained fingerprint, so every such block surfaces here.

    Returns (fp, n_docs, first_doc, last_doc). Plan: the fingerprint
    pass (:func:`winnow_fingerprints`, pure codegen) then ONE hash
    aggregate on fp — map-side combine bounds the shuffle at distinct
    fingerprints per input partition; no joins, no windows, nothing
    hot-key-sensitive (a fingerprint shared by millions of docs still
    partial-aggregates map-side).
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    # winnow_fingerprints array_distincts per doc before exploding, so
    # (doc, fp) rows are already distinct: COUNT(*) == COUNT(DISTINCT
    # doc) per fp, without the two-phase distinct-aggregate expansion
    # (one exchange + a dedup pass saved; plan-budget-asserted)
    return (fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min(id_col).alias("first_doc"),
                 F.max(id_col).alias("last_doc"))
            .where(F.col("n_docs") >= min_docs))


def span_dup_ratio(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = WINNOW_K,
                   w: int = WINNOW_W) -> DataFrame:
    """Per-document span-duplication ratio: the fraction of a document's
    winnowing fingerprints that also occur in at least one OTHER
    document — "how much of this page is text found elsewhere", the
    score a corpus-prep pipeline thresholds to drop boilerplate-heavy
    pages that doc-level Jaccard/containment keep (each individual page
    is globally unique; its parts are not).

    Returns (doc_id, n_fp, n_shared, dup_ratio) for documents with at
    least one fingerprint (texts shorter than k+w-1 chars have none and
    are absent — nothing to measure). dup_ratio = n_shared/n_fp is one
    IEEE division of exact integers: cross-engine deterministic, same
    convention as the module's other scores.

    Plan: fingerprint pass, ONE hash-agg building the (fp -> n_docs)
    table (bounded by distinct fingerprints), hash-joined back onto the
    per-doc fingerprint rows (AQE broadcasts it when small; at web
    scale it is an equi-join on fp — skew-splittable, unlike a window),
    then ONE per-doc aggregate.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    # (doc, fp) rows are distinct per doc (see repeated_spans), so a
    # plain COUNT is the distinct doc count — no distinct-agg expansion
    shared = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_nd"))
    return (fps.join(shared, "fp")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_fp"),
                 F.sum((F.col("_nd") >= 2).cast("long")).alias("n_shared"))
            .select(id_col, "n_fp", "n_shared",
                    (F.col("n_shared").cast("double") / F.col("n_fp"))
                    .alias("dup_ratio")))


def familiarity_scores(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document corpus-familiarity: the mean corpus frequency of the
    document's tokens — Σ_t count(t) / (n_toks · total_tokens), where
    count(t) is the token's occurrence count over the WHOLE corpus.
    High = built from common tokens (boilerplate-leaning); low = rare
    vocabulary. The language-model-free cousin of unigram logprob
    scoring, chosen deliberately because it stays in EXACT integer
    arithmetic (float log() is the one transcendental engines disagree
    on in the last ulp): per-doc Σ count(t) is an integer, the final
    score is one rational quantized at 1e-9.

    Two passes over the token stream, both map-combined aggregates:
    (1) the corpus vocabulary count table (bounded by distinct tokens),
    (2) per-doc Σ count via a join of the exploded doc tokens against
    the vocab — at 100 TB broadcast the vocab when it fits (typical
    after BPE-ish normalization), else it is one hash join on the
    token key. Returns (doc_id, n_toks, sum_freq, fam_q9).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col)))
                     .alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # total corpus tokens as an unpartitioned window over the (bounded)
    # vocab frame — stays inside the plan, no driver-side count probe
    vocab = vocab.withColumn(
        "_total", F.sum("cnt").over(Window.partitionBy()))
    per_doc = (toks.join(vocab, "tok")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_toks"),
                    F.sum("cnt").alias("sum_freq"),
                    F.max("_total").alias("_total")))
    return per_doc.select(
        id_col, "n_toks", "sum_freq",
        F.floor(F.col("sum_freq").cast("decimal(38,0)")
                .cast("double")
                / (F.col("n_toks") * F.col("_total")).cast("double")
                * 1_000_000_000 + F.lit(0.5)).cast("long").alias("fam_q9"))


def chunk_documents(df: DataFrame, window: int = 64, overlap: int = 16,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic fixed-window chunking with overlap — the step that
    turns variable-length documents into training-window-sized pieces
    (the complement of pack_bins, which PACKS whole short docs; this
    SPLITS long ones). Chunk i covers tokens [i*stride, i*stride +
    window), stride = window - overlap; the final chunk keeps its
    natural (shorter) length; every document yields >= 1 chunk (an
    empty/short doc is its own single chunk), so no data silently
    disappears.

    Returns (id, chunk_id, chunk_text, n_tokens). Everything is integer
    arithmetic + array slicing in ONE codegen pass ending in a single
    explode — zero shuffles, no UDFs; chunk identity is
    (doc, position), so reruns and repartitionings produce identical
    chunks (the determinism training-data reproducibility needs).
    At 100 TB: output rows ~= token_mass/stride; follow with
    shard_assign/write_shards for layout.
    """
    stride = window - overlap
    if stride <= 0:
        raise ValueError(f"window {window} must exceed overlap {overlap}")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int"))
    out = (df.select(F.col(id_col), toks.alias("_toks"),
                     n_chunks.alias("_nc"))
           .select(id_col, "_toks",
                   F.explode(F.sequence(F.lit(0), F.col("_nc") - 1))
                   .alias("chunk_id"))
           .select(id_col, "chunk_id",
                   F.array_join(
                       F.slice("_toks",
                               F.col("chunk_id") * stride + 1, window),
                       " ").alias("chunk_text"),
                   F.size(F.slice("_toks",
                                  F.col("chunk_id") * stride + 1, window))
                   .alias("n_tokens")))
    return out
