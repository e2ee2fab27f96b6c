#!/usr/bin/env python3
"""Regenerate the committed IVF centroid snapshot
(oracle_to_snowflake_etl_spark/operators/similarity_snapshot.py).

The shipped ANN default (ann_ivf_int8_topk centroids=None) TRAINS on
the corpus it indexes — deterministic spherical k-means
(operators/similarity.ivf_train_centroids: lowest-hash sample,
md5-matrix init, fixed Lloyd's iterations). DuckDB cannot train, so the
IVF and semantic oracles embed this snapshot: the training output ON THE
sf0.01 GATE CORPUS, byte-identical to what the Spark query derives at
runtime there (training is deterministic). Regenerate whenever the gate
testdata changes. Do NOT ship this snapshot as a cross-corpus default —
the round-7 sweep measured that a snapshot trained on one
uniform-random corpus transfers to a disjoint one at random-centroid
recall (0.667 vs md5 0.674 at nprobe=24), while per-corpus training
holds 0.81-0.82; per-corpus is the default for that reason.

Usage: python tools/train_ivf_snapshot.py [sf_dir]   (default sf0.01 —
the driver's correctness-gate SF)
Deterministic: same corpus -> byte-identical snapshot file.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle_to_snowflake_etl_spark.operators.similarity import (  # noqa: E402
    IVF_CELLS,
    ivf_train_centroids,
)
from oracle_to_snowflake_etl_spark.session import get_spark  # noqa: E402
from oracle_to_snowflake_etl_spark.sources.readers import load_table  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "oracle_to_snowflake_etl_spark", "operators",
                   "similarity_snapshot.py")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("train-ivf-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_train_centroids(emb, cells=IVF_CELLS)
    rows = ",\n".join(
        "    (" + ", ".join(repr(w) for w in row) + ",)" for row in cents)
    body = f'''"""IVF centroid snapshot — GENERATED by tools/train_ivf_snapshot.py.

Deterministic spherical k-means over the {os.path.basename(sf_dir)}
embeddings corpus (ivf_train_centroids: lowest-hash sample of 4096,
md5-matrix init, 10 Lloyd's iterations, cosine assignment). This is
the ORACLE's mirror of ann_ivf_int8_topk's train-on-the-corpus default at the
correctness-gate corpus — DuckDB cannot run k-means, so it embeds the
training output as a literal; determinism makes the two identical at
the gate SF. Not used by the Spark operators themselves (they train
per corpus). Regenerate with the tool when gate testdata changes;
never edit by hand.
"""

IVF_SNAPSHOT_CELLS = {len(cents)}
IVF_SNAPSHOT_DIMS = {len(cents[0])}

IVF_SNAPSHOT = (
{rows},
)
'''
    with open(OUT, "w") as fh:
        fh.write(body)
    print(f"wrote {OUT}: {len(cents)} cells x {len(cents[0])} dims")


if __name__ == "__main__":
    main()
