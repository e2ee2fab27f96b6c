#!/usr/bin/env python3
"""Scale evidence for the round-11/12 embedding operators over the
derived .scaledata corpora (the semantic_scale.py discipline: timings
comparable across decades of one run, not across hosts). All query
timings are BEST-OF-2 within the sweep (VERDICT r11 Wrong #3: runs=1
decade ratios sit inside host noise).

- ann_ivf_int8_topk in memory with every cell probed: the unpruned
  quantized scan is O(N x |queries|) integer GEMM in one map pass + a
  skinny candidate shuffle, so its decade ratio should track the scan
  (~x5, x2 per step / parallelism slack).
- ann_ivf_int8_topk over a write_ivf_int8_index store (round 12): the
  probed-cell partition pruning means the scan opens ~|probed|/cells of
  the directories AND reads int8 codes instead of floats — at the same
  decade it should beat the flat quantized scan by roughly the probed
  fraction (modulo the fixed job floor). t_index_build is the one-time
  at-rest materialization cost, reported separately.
- emb_cell_sample (cells=round(sqrt(N)) trained per decade, matching
  the semantic family's dial): one Arrow assignment pass + ONE shuffle
  on cell; decade ratio should also track the scan.

Usage: python tools/ann_scale.py [--dirs ...] [--out SCALE_ANN.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def best_of(n: int, fn) -> tuple[float, object]:
    """min wall time over n runs (JIT/page-cache discipline of bench.py)."""
    best, out = float("inf"), None
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="*",
                    default=[os.path.join(REPO, ".scaledata", "sf10"),
                             os.path.join(REPO, ".scaledata", "sf50"),
                             os.path.join(REPO, ".scaledata", "sf100")])
    ap.add_argument("--fraction", type=float, default=0.25)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-queries", type=int, default=8)
    ap.add_argument("--nprobe", type=int, default=24)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "SCALE_ANN.json"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        emb_cell_sample,
        ivf_train_centroids,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.session import get_spark
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    spark = get_spark("ann-scale")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for d in args.dirs:
        emb = load_table(spark, d, "embeddings")
        n = emb.count()
        cells = max(16, int(round(math.sqrt(n))))
        t0 = time.perf_counter()
        cents = ivf_train_centroids(emb, cells=cells)
        t_train = time.perf_counter() - t0

        q = emb.where(F.col("vec_id") < args.n_queries)
        t_ann, n_ann = best_of(
            args.runs,
            lambda: ann_ivf_int8_topk(emb, q, k=args.k, nprobe=cells,
                                      centroids=cents).count())
        spark.catalog.clearCache()

        idx = tempfile.mkdtemp(prefix="ann_scale_idx_") + "/index"
        t0 = time.perf_counter()
        write_ivf_int8_index(emb, idx, cells=cells, centroids=cents)
        t_index_build = time.perf_counter() - t0
        t_ivf, n_ivf = best_of(
            args.runs,
            lambda: ann_ivf_int8_topk(emb, q, k=args.k, cells=cells,
                                      nprobe=args.nprobe, centroids=cents,
                                      index_path=idx).count())
        shutil.rmtree(os.path.dirname(idx), ignore_errors=True)
        spark.catalog.clearCache()

        t_sample, n_kept = best_of(
            args.runs,
            lambda: emb_cell_sample(emb, args.fraction, cells=cells,
                                    centroids=cents).count())
        spark.catalog.clearCache()

        rows.append({"dir": d, "n": n, "cells": cells,
                     "nprobe": args.nprobe, "runs": args.runs,
                     "t_train": round(t_train, 3),
                     "t_ann": round(t_ann, 3), "ann_rows": n_ann,
                     "t_index_build": round(t_index_build, 3),
                     "t_ann_ivf_indexed": round(t_ivf, 3),
                     "ivf_rows": n_ivf,
                     "t_sample": round(t_sample, 3), "kept": n_kept})
        print(f"{d:28s} n={n:>9,} cells={cells:>5} "
              f"train={t_train:6.2f}s ann={t_ann:6.2f}s ({n_ann} rows) "
              f"idx_build={t_index_build:6.2f}s "
              f"ivf_indexed={t_ivf:6.2f}s ({n_ivf} rows) "
              f"sample={t_sample:6.2f}s (keep {n_kept:,})", flush=True)

    for prev, cur in zip(rows, rows[1:]):
        for k in ("t_ann", "t_ann_ivf_indexed", "t_sample"):
            cur[f"ratio_{k[2:]}"] = round(cur[k] / max(prev[k], 1e-9), 2)
        print(f"{prev['dir']} -> {cur['dir']}: "
              f"ann x{cur['ratio_ann']}, "
              f"ivf_indexed x{cur['ratio_ann_ivf_indexed']}, "
              f"sample x{cur['ratio_sample']}")

    with open(args.out, "w") as fh:
        json.dump({"fraction": args.fraction, "k": args.k,
                   "n_queries": args.n_queries, "nprobe": args.nprobe,
                   "runs": args.runs, "rows": rows},
                  fh, indent=1, sort_keys=True)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
