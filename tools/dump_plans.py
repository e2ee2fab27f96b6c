#!/usr/bin/env python3
"""Emit PLANS.md: formatted physical plans for headline queries.

The plan-shape claims in SCALE.md are enforced by tests/test_plans.py;
this artifact makes them LEGIBLE — each section shows the actual
`.explain("formatted")` output at sf0.01 with a one-line statement of
why that shape is the right one at 100 TB. Regenerate after plan-
affecting changes: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: (query, why-this-plan-is-right-at-scale)
HEADLINERS = [
    ("kpi_derive",
     "Pure projection: zero exchanges — KPI math rides the scan inside "
     "one WholeStageCodegen span."),
    ("top_spenders_14d",
     "Date predicate reaches the parquet scan (PushedFilters); top-k is "
     "TakeOrderedAndProject (per-partition heaps), never a global sort."),
    ("revenue_by_nation",
     "Dimension tables broadcast; the fact table never shuffles for "
     "them — one agg exchange total."),
    ("incremental_anti",
     "Left-anti on the composite key with no plan-time probe job; AQE "
     "picks broadcast vs SMJ from measured shuffle sizes."),
    ("dedup_minhash_lsh",
     "Banding shuffles O(docs x bands) narrow rows; candidate pairs come "
     "from bucket grouping, never a corpus self-join."),
    ("dedup_ngram_jaccard",
     "Lossless All-Pairs prefix filter: only each doc's rarest "
     "n-ceil(t*n)+1 shingles are indexed (as xxhash64 longs), DF is a "
     "window annotation (no join-back), exact rescore on the candidate "
     "set only."),
    ("dedup_ngram_jaccard_incr",
     "Incremental exact Jaccard: one sample-bounded decision job on the "
     "BATCH picks its DF path (window annotate under the measured "
     "crossover, partial-agg + join-back past ~1M exploded rows or a "
     "hot shingle seen in >=10% and >=10 of the sampled docs); the "
     "stored corpus index is bounded by a semi-join against the batch's "
     "prefix shingles, so corpus text is never re-read."),
    ("dedup_containment",
     "Asymmetric prefix filter on one rank-annotated (doc, h) frame: "
     "row_number over the doc partition marks each doc's lossless "
     "prefix, max-over-h marks shingles occurring in >=1 prefix (the "
     "lossless containing-side bound); one hash-join + exact rescore."),
    ("ann_ivf_int8_topk",
     "Eager request, local result: three jobs run inside the call "
     "(query collect; the scan of only the probed cells' partitions of "
     "the int8 store, each task emitting its top k x rescore ids per "
     "query; the fetch of only the cut candidates' float vectors), the "
     "global cut and exact rescore run on the driver, and the returned "
     "plan is a scan of at most |queries| x k local rows. Nothing "
     "shuffles; the job count is pinned in tests/test_plans.py."),
    ("asof_click_attribution",
     "Union + single window sort (<=1 exchange) — the inequality-join "
     "formulation would plan BroadcastNestedLoopJoin."),
    ("tpch_q21_waiting_supplier",
     "Double EXISTS/NOT EXISTS collapsed to ONE per-order aggregate "
     "joined back — no lineitem self-join shuffles."),
    ("ev_hypertable_rollup",
     "Raw events aggregate once at the finest level; coarser levels "
     "re-aggregate the previous level's output (decimal associativity "
     "makes that exact)."),
    ("sample_weighted_nchars",
     "Membership is a scan predicate; the only extra is a 1-row w_max "
     "aggregate broadcast back (the cross over one row is a filter in "
     "effect)."),
    ("mv_incremental_refresh",
     "Incremental MV maintenance: view-partials UNION signed-delta-"
     "partials into ONE hash aggregate — no join anywhere, the fact "
     "table is never rescanned; refresh cost is O(groups + delta)."),
    ("dedup_incremental_minhash",
     "Incremental dedup: only the new batch is shingled/signed; the "
     "corpus side is its (band,key) signature index — one equi-join "
     "plus within-batch bucket pairs, O(batch) per ingest."),
    ("sketch_hll_custkey",
     "Mergeable distinct sketch: the only data-sized exchange carries "
     "256 register rows (map-side MAX partials), then 1-row folds — "
     "COUNT(DISTINCT) without shuffling raw keys."),
    ("shard_assign_docs",
     "Deterministic training-shard shuffle: exactly one Exchange on "
     "the shard key feeding a per-shard sort — the minimum physical "
     "work a shuffled shard writer can do."),
    ("ingest_batch_pipeline",
     "Incremental ingest composition: hash anti-join vs the corpus "
     "hash index, LSH near-dup vs the signature index, codegen "
     "quality predicate, one shard Exchange — every stage "
     "batch-sized, corpus text never read."),
    ("mixture_sample_langs",
     "Training-mix resampling: per-stratum rates from two tiny "
     "aggregates (window-min, no join node), broadcast onto a single "
     "fact scan — zero fact shuffles."),
    ("ev_twap_user_value",
     "Time-weighted average: one window sort; the per-key aggregate "
     "reuses the window's hash partitioning — one Exchange total."),
    ("drift_weekly_events",
     "Week-over-week drift: ONE conditional-aggregation scan of events "
     "(counts/distincts/quantized sums for both slices in the same "
     "hash-agg), never a two-scan self-join."),
    ("text_chunk_windows",
     "Document chunking: integer window arithmetic + array slices in "
     "one codegen pass ending in a single explode — zero exchanges."),
    ("split_leakage_free",
     "Leakage-free split: the corpus joins the (doc, keep_id) cluster "
     "map on two longs per row (AQE broadcasts it when small); the "
     "assignment hash rides the scan."),
    ("dedup_semantic",
     "SemDeDup: one Arrow cell-assignment pass, ONE hash exchange on "
     "cell; all pairwise cosine work happens inside √N-sized cell "
     "partitions (never a corpus cross-join), and the drop set comes "
     "back through a single anti-join. cells='auto' (√N) is the "
     "measured three-decade operating point (SCALE.md)."),
    ("decontaminate_semantic",
     "Embedding-space decontamination: the metadata-sized eval matrix "
     "is collected once and broadcast; the train side is a pure Arrow "
     "map-pass filter — ZERO exchanges, scan pruning fully preserved, "
     "exact recall (no cell-boundary misses)."),
    ("dedup_keep_best",
     "Quality-aware survivor selection: the quality expression is "
     "evaluated ONLY on cluster members (near-dup-bounded semi-join), "
     "the per-cluster arg-max is a struct-min hash-agg (no corpus "
     "window), and the corpus pays one anti-join against the dropped "
     "ids."),
    ("mm_image_neardup",
     "Image near-dup: the 60-bit aHash is computed in the Arrow map "
     "pass, so payload bytes never reach an Exchange — only (id, fp, "
     "chunk, cv) longs shuffle, O(images x 4) band keys, same lossless "
     "pigeonhole banding as text SimHash."),
    ("mm_ingest_pipeline",
     "Composed multimodal ingest: byte-stats gate (Arrow map pass) "
     "feeds per-modality near-dup dedup — image aHash keep-best-by-"
     "size and video frame-digest prefix-filter — each on its gated "
     "modality slice only; payloads die in the fingerprint map passes "
     "and every survivor step is a bounded anti-join, so the composed "
     "plan inherits each stage's scale contract unchanged."),
    ("dedup_ngram_keep_best",
     "One-call keep-best: the lossless prefix-filter pair plan feeds "
     "output-bounded CC iterations; quality is scored only on cluster "
     "members (semi-join pruned) with a struct-min hash-agg arg-max — "
     "the corpus is scanned for pairs once and anti-joined once, "
     "identical to the hand-wired three-step it replaces."),
    ("mm_video_neardup_incr",
     "Incremental video near-dup: only the BATCH is decoded/framed; "
     "the corpus arrives as its stored digest-shingle index, lossless-"
     "bounded by a semi-join against the batch's prefix shingles — "
     "per-ingest shuffled rows O(batch + prefix-hit index + matches), "
     "never a corpus pair scan."),
    ("mm_audio_neardup",
     "Audio near-dup (round 10): overlapping 64-byte window digests "
     "are computed in the Arrow map pass (payload bytes never reach "
     "an Exchange — only 32-char digests move), then the track-as-"
     "digest-document rides ngram_jaccard_pairs' lossless prefix "
     "filter verbatim, its sampled DF-path decision guarding the "
     "silence-run hot shingle."),
    ("mm_ingest_incremental",
     "Composed incremental multimodal ingest (round 10): the drop is "
     "gated by one Arrow byte-stats pass, each modality joins its "
     "STORED fingerprint index (corpus payloads never re-read), "
     "within-batch components run CC on the output-bounded edge list, "
     "and each modality's accept set returns through bounded "
     "anti-joins — per-drop cost O(batch + index hits), the text "
     "ingest_batch contract extended to media."),
]


#: persisted across regenerations — the round-4 bisection of the r2->r3
#: bench regression (VERDICT r3 next-round item 2)
BENCH_NOTE = """## Bench root-cause note: the r2→r3 regression, bisected (round 4)

The r3 bench's 1.4× inflation vs r2 had two independent components.
(1) **Leaked operator caches** — the two prefix-filter dedup operators
persisted corpus-sized shingle frames with no release path; fixed in
round 4 with the materialize-then-release lifecycle (eager
`localCheckpoint` of the output pairs, `unpersist` before returning).
The r4 PRIORITY basket is 0.94× r3's on identical queries, and r3's
*dedup* numbers themselves turn out to have been cache artifacts:
best-of-2 with a leaked persist let run 2 reuse run 1's cache through
CacheManager plan-matching, reporting `dedup_containment` at 2.8 s when
its honest cold time was ~12 s (now 2.2 s after the round-4 rework).
(2) **An environmental per-query floor shift** — the residual uniform
inflation on trivial unchanged-plan queries (e.g. `project_rename_format`
0.077 s → ~0.19 s) reproduces bit-for-bit with a BARE default-conf
`SparkSession` on a plain `read.parquet(...).select(...).count()`
(A/B measured: bare 0.158–0.250 s, engine session 0.172–0.246 s per
2-stage job). r2's fastest recorded entries are below today's floor for
*any* two-stage Spark job on this machine, so the residual is machine
state between driver runs, not engine code — no conf or plan diff
explains a sub-floor historical number, and no further engine-side fix
exists. Verified session aging is NOT the cause (a fresh session running
only the 64 r2-visible queries shows the same ratio)."""


#: persisted across regenerations — round-4 noise quantification +
#: round-5 A/B and gate resolutions (manual sections, kept verbatim)
EXTRA_NOTES = """Round-4 continuation datapoint, same phenomenon quantified: the SAME
code and data measured 74.3 s, 104.0 s, and 115.8 s across three
bench runs within one hour (best-of-2 each, nothing else running,
load avg 2-3.6 from outside the guest) — ambient host noise moves
totals up to ~1.55x run-to-run, uniformly across trivial and complex
queries. Per-query RATIOS between queries are stable; absolute totals
in any single BENCH_r{N}.json carry that error bar. BENCH_DETAIL.json
keeps the best observed clean run for the committed code.

## pagerank partition-sizing A/B (round 5 — closes the r4 watch item)

The r4 verdict flagged `pagerank_supplier_orders` 2.93s → 3.97s (+35%)
after the partition-sizing rule changed from a defaultParallelism floor
to edge-derived `max(4, n_edges//250k+1)`. Interleaved A/B
(tools/ab_pagerank.py: alternating arms within ONE session so host
noise hits all arms equally; 5 rounds, full drain, cache cleared
between runs; sf0.1, 176,784 edges, edge-derived = 4 partitions):

| arm | best | median | all runs |
|---|---|---|---|
| edge-derived (r4 rule, 4 parts) | 2.69s | 3.13s | 4.45 3.24 2.69 3.13 2.93 |
| defaultParallelism floor (r3 rule, 32) | 2.95s | 3.12s | 2.95 3.14 3.08 3.78 3.12 |
| fixed 8 | 2.88s | 2.95s | 3.00 2.88 2.90 5.43 2.95 |
| fixed 16 | 2.80s | 2.98s | 3.02 2.80 2.98 3.19 2.95 |

Verdict: **all four arms are statistically indistinguishable** (medians
within 6%, each arm's spread far exceeds the between-arm gap — note the
5.43s outlier on fixed-8 round 3, a textbook host-noise spike). Both
the r4 "floor rule is 25% slower" claim and the r4 bench's +35%
"regression" were single-run noise. The edge-derived rule stays: it is
never worse here, avoids near-empty per-round tasks at small graph
sizes, and converges to constant per-partition volume at scale. Honest
floor for this query on this box: ~2.7-3.0s (3 iterations = ~10
chained jobs of join+agg+localCheckpoint; the per-job scheduling floor
times the job count is the binding constant, not partition count).

## transformWithState protobuf gate — resolution (round 5)

The r4 verdict asked to "vendor or pin the protobuf dependency" so the
Spark-4 typed-state API test un-skips. Investigated and REJECTED:
pyspark's `sql/streaming/proto/StateMessage_pb2.py` needs the
`google.protobuf` *runtime* package, which is absent and cannot be pip-
installed here (environment rule), and vendoring a full third-party
runtime into the engine package is worse than the skip it removes —
hundreds of files of foreign code to keep a single already-
twin-covered test green. The import-try gate
(streaming/jobs.py:298: clear ImportError with instructions;
applyInPandasWithState `stream_user_stats` covers the arbitrary-state
contract with a driver-checked oracle) is exactly the "stub or gate
anything else behind an import-try" pattern the build rules prescribe —
same treatment as the Delta MERGE variant (operators/merge.py
`merge_upsert_delta`, gated on delta-spark, semantics-equality pytest
runs wherever the package exists). On any cluster with protobuf
installed the test runs as written; nothing further is actionable in
this environment.

## ann_ivf_topk + salted_join_nation driver-run slowdowns — A/B (round 6)

The r5 verdict flagged two unexplained driver-bench jumps on UNTOUCHED
code: `ann_ivf_topk` 1.01s (r4) → 2.08s (r5) and `salted_join_nation`
0.69s → 1.07s. Settled with the pagerank methodology generalized into
`tools/ab_query.py` (interleaved arms in one session, full drain,
cache-cleared + gc'd between runs, medians as the statistic), with two
untouched simple queries as ambient controls:

| query | best | median | r4 driver | r5 driver |
|---|---|---|---|---|
| ann_ivf_topk | 1.07s | 1.14s | 1.01s | 2.08s |
| salted_join_nation | 1.00s | 1.15s | 0.69s | 1.07s |
| revenue_by_nation (control) | 0.46s | 0.57s | 0.33s | 0.41s |
| zorder_orders (control) | 0.34s | 0.40s | 0.23s | 0.27s |

The controls expose the ambient shift: on the A/B day EVERYTHING —
including two trivial queries whose plans have not changed since round
2 — ran ~1.4-1.7× slower than the r4 driver run. RATIOS to controls
are the noise-immune statistic (PLANS.md round-4 finding: per-query
ratios are stable, absolutes are not): salted_join/revenue = 2.0
today vs 2.1 in r4 (r5's 2.6 was the outlier); salted_join/zorder =
2.9 today vs 2.9 in r4 (r5: 3.9). ann_ivf/revenue = 2.0 today vs 3.1
in r4 and 5.0 in r5 — today's interleaved median is RELATIVELY FASTER
than even r4. Verdict: **no code regression in either query**; both r5
driver one-shots were host-noise + first-execution samples (the driver
bench has no warm pass — ab_query.py's warmed round-0 for ann_ivf
still showed a 2.85s first-timed-run outlier, exactly the r5 driver's
number, before settling at 1.1s for every later round).

## ann_ivf_topk driver-run swing — A/B (round 10, VERDICT r9 #1)

The r9 driver bench showed `ann_ivf_topk` 1.37s → 3.39s (x2.48) on an
untouched code path while sibling `ann_srp_incremental` swung the
OPPOSITE way in the same run — the classic ambient signature, but the
protocol hadn't been run for this query. Run this round (5 interleaved
rounds, controls appended):

| query | best | median | all |
|---|---|---|---|
| ann_ivf_topk | 1.32s | 1.55s | 2.01 1.95 1.32 1.53 1.55 |
| ann_srp_incremental | 1.41s | 1.53s | 1.63 1.56 1.53 1.44 1.41 |
| revenue_by_nation (ctrl) | 0.57s | 0.61s | 0.67 0.63 0.61 0.57 0.58 |
| zorder_orders (ctrl) | 0.33s | 0.38s | 0.43 0.40 0.38 0.34 0.33 |

Median 1.55s sits inside the query's canonical history
(1.17/1.36/1.59s best-of-3 across r7-r9); no sample approaches the
driver's 3.39s; both controls are flat, and the ivf/revenue ratio
(2.5) matches its historical band. Verdict: **host noise, no code
regression** — the driver's single shot landed on a busy window, the
same mechanism adjudicated for this query in round 6."""


def main() -> None:
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string
    from oracle_to_snowflake_etl_spark.queries import queries
    from oracle_to_snowflake_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # the prefix-filter dedups eagerly checkpoint their result in the
    # registry path (cache-lifecycle contract); dump the REAL lazy plan
    # via materialize=False, same as tests/test_plans.py asserts on
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs)
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    def _lazy_docs_op(op):
        return lambda s, d: op(load_table(s, d, "documents"),
                               materialize=False)

    qs = dict(qs)
    qs["dedup_ngram_jaccard"] = _lazy_docs_op(ngram_jaccard_pairs)
    qs["dedup_containment"] = _lazy_docs_op(containment_pairs)

    out = [
        "# PLANS — headline physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale factor: `{sf_dir}`. Plan-shape regressions fail CI via "
        "tests/test_plans.py; SCALE.md holds the full per-operator "
        "shuffle inventory. AQE plans show `isFinalPlan=false` — runtime "
        "re-optimization (broadcast conversion, skew split, partition "
        "coalescing) happens during execution.",
        "",
        BENCH_NOTE,
        "",
        EXTRA_NOTES,
        "",
    ]
    for name, why in HEADLINERS:
        plan = plan_string(qs[name](spark, sf_dir))
        # keep the operator tree + scan details; drop the long tail of
        # per-node columns to keep the artifact reviewable
        tree, _, detail = plan.partition("\n\n")
        scans = [b.strip() for b in detail.split("\n\n")
                 if b.strip().startswith("(")
                 and "Scan parquet" in b.strip().split("\n")[0]]
        out += [f"## {name}", "", f"**Why this shape:** {why}", "",
                "```", tree.strip()]
        for s in scans:
            out += ["", s.strip()]
        out += ["```", ""]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
