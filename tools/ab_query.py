#!/usr/bin/env python3
"""Interleaved clean-room timing of registered queries — the pagerank
A/B methodology (tools/ab_pagerank.py) generalized to any registry
entry, for settling "did this query regress or was it host noise?"
questions the single-shot driver bench cannot answer.

Method: all named queries run INTERLEAVED within one session (ambient
host noise hits every arm equally), N rounds, full drain per run
(count(), matching bench.py), catalog cache cleared and dead refs
GC'd between runs (bench.py's leak discipline). Reports best + median
+ all samples per query; medians are the comparison statistic (best
rewards a lucky quiet window, the driver's single shot IS one sample).

Usage:
  python tools/ab_query.py ann_ivf_int8_topk salted_join_nation \
      [--sf-dir DIR] [--rounds N]
Writes nothing; prints a table to paste into PLANS.md.
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--controls", action="store_true",
                    help="append two stable untouched control queries "
                         "(revenue_by_nation, zorder_orders) so ambient "
                         "machine-state shifts are visible in the same "
                         "table — ratios TO the controls are the "
                         "noise-immune statistic (PLANS.md round-6)")
    args = ap.parse_args()
    if args.controls:
        for c in ("revenue_by_nation", "zorder_orders"):
            if c not in args.names:
                args.names.append(c)

    from oracle_to_snowflake_etl_spark.queries import queries
    from oracle_to_snowflake_etl_spark.session import get_spark

    qs = queries()
    missing = [n for n in args.names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    spark = get_spark("ab-query")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, args.sf_dir).count()
        dt = time.perf_counter() - t0
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        gc.collect()
        spark.catalog.clearCache()
        return dt

    # warm the JVM/codegen once per query (bench.py's best-of-3 also
    # discards the first-run JIT cost; the driver's one-shot does NOT,
    # which is part of what this tool quantifies)
    for n in args.names:
        run(n)

    times: dict[str, list[float]] = {n: [] for n in args.names}
    for r in range(args.rounds):
        for n in args.names:
            times[n].append(run(n))
        print(f"round {r}: " + "  ".join(
            f"{n}={times[n][-1]:.2f}s" for n in args.names), flush=True)

    print(f"\nsf_dir={args.sf_dir} rounds={args.rounds} (interleaved)")
    print("| query | best | median | all |")
    print("|---|---|---|---|")
    for n in args.names:
        ts = sorted(times[n])
        print(f"| {n} | {ts[0]:.2f}s | {ts[len(ts) // 2]:.2f}s | "
              + " ".join(f"{t:.2f}" for t in times[n]) + " |")


if __name__ == "__main__":
    main()
