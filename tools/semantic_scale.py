#!/usr/bin/env python3
"""Scale evidence for the round-8 semantic family (similarity.py:
semantic_dedup / semantic_decontaminate): measure both operators per
decade over the derived embeddings corpora and record the slope.

semantic_dedup's workload is Sum(|cell|^2) — at FIXED cell count a 10x
corpus is ~100x pair work, which is why the operator's docstring names
cell count as the cost dial (train cells ~ sqrt(N), FAISS-style, for
N^1.5 total pair work spread over N/sqrt(N) independent tasks). A
sweep that pinned cells=64 across decades would measure that known
quadratic, not the operator as it is meant to be run. So THIS sweep
does what the 100 TB story says to do: per decade it trains
cells=round(sqrt(N)) centroids on the corpus being deduplicated and
measures that. The per-decade ratio to call linear-ish is therefore
~10 x sqrt(10) / (spare parallelism) for the pair stage; the recorded
`hot_pairs` column (largest single cell's pair count, from
semantic_cell_report) shows whether training kept cells balanced —
a blow-up there, not the wall-clock, is the early skew signal.

semantic_decontaminate is the control: a broadcast map-pass with zero
shuffles whose cost is O(|train| x |eval|) vectorized flops — with the
eval side pinned (the sf0.01 embeddings, 500 vectors), its per-decade
ratio should track the scan, ~10/(spare parallelism), with no
cell-geometry caveats.

Timings use the same best-of-N + interleave-free discipline as
tools/scale_sweep.py; results are NOT comparable across hosts, only
across decades of one run.

Usage: python tools/semantic_scale.py
         [--dirs /root/testdata/sf0.1 .scaledata/sf1 .scaledata/sf10]
         [--eval-dir /root/testdata/sf0.01] [--runs 2]
         [--out SCALE_SEMANTIC.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="*",
                    default=["/root/testdata/sf0.1",
                             os.path.join(REPO, ".scaledata", "sf1"),
                             os.path.join(REPO, ".scaledata", "sf10")])
    ap.add_argument("--eval-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--threshold-q6", type=int, default=350_000)
    # historical curve (SCALE_SEMANTIC*.json rounds 8-9) was measured at
    # single-assign; the engine default flipped to SEMDEDUP_NPROBE=2 in
    # round 10, so the sweep pins nprobe explicitly to stay comparable
    # across rounds — pass --nprobe 2 to sweep the new default's slope.
    ap.add_argument("--nprobe", type=int, default=1)
    ap.add_argument("--skip-decon", action="store_true")
    ap.add_argument("--out", default=os.path.join(REPO,
                                                  "SCALE_SEMANTIC.json"))
    args = ap.parse_args()

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ivf_train_centroids,
        semantic_cell_report,
        semantic_decontaminate,
        semantic_dedup,
    )
    from oracle_to_snowflake_etl_spark.session import get_spark
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    spark = get_spark("semantic-scale")
    spark.sparkContext.setLogLevel("ERROR")
    eval_df = load_table(spark, args.eval_dir, "embeddings")

    def best_of(fn) -> tuple[float, int]:
        best, result = float("inf"), -1
        for _ in range(args.runs):
            t0 = time.perf_counter()
            result = fn()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        return best, result

    rows = []
    for d in args.dirs:
        emb = load_table(spark, d, "embeddings")
        n = emb.count()
        cells = max(16, int(round(math.sqrt(n))))
        t0 = time.perf_counter()
        cents = ivf_train_centroids(emb, cells=cells)
        t_train = time.perf_counter() - t0
        hot = (semantic_cell_report(emb, cells=cells, centroids=cents,
                                    nprobe=args.nprobe)
               .limit(1).collect())
        hot_pairs = int(hot[0]["pairs"]) if hot else 0

        t_dedup, survivors = best_of(
            lambda: semantic_dedup(
                emb, threshold_q6=args.threshold_q6,
                cells=cells, centroids=cents,
                nprobe=args.nprobe).count())
        row = {"dir": d, "n": n, "cells": cells,
               "nprobe": args.nprobe,
               "t_train": round(t_train, 3),
               "hot_pairs": hot_pairs,
               "t_dedup": round(t_dedup, 3), "survivors": survivors}
        if not args.skip_decon:
            t_decon, kept = best_of(
                lambda: semantic_decontaminate(
                    emb, eval_df, threshold_q6=args.threshold_q6).count())
            row["t_decon"] = round(t_decon, 3)
            row["decon_kept"] = kept
        rows.append(row)
        print(f"{d:28s} n={n:>9,} cells={cells:>5} train={t_train:6.2f}s "
              f"hot_pairs={hot_pairs:>10,} dedup={t_dedup:7.2f}s "
              f"(keep {survivors:,})"
              + (f" decon={row['t_decon']:7.2f}s (keep "
                 f"{row['decon_kept']:,})"
                 if not args.skip_decon else ""), flush=True)

    for prev, cur in zip(rows, rows[1:]):
        for k in ("t_dedup", "t_decon"):
            if k in cur and k in prev:
                cur[f"ratio_{k[2:]}"] = round(
                    cur[k] / max(prev[k], 1e-9), 2)
        print(f"{prev['dir']} -> {cur['dir']}: " + ", ".join(
            f"{k[2:]} x{cur[f'ratio_{k[2:]}']}"
            for k in ("t_dedup", "t_decon") if f"ratio_{k[2:]}" in cur))

    with open(args.out, "w") as fh:
        json.dump({"runs": args.runs, "eval_dir": args.eval_dir,
                   "threshold_q6": args.threshold_q6, "rows": rows},
                  fh, indent=1, sort_keys=True)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
