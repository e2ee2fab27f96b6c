"""ANN retrieval QUALITY tests (round-6 verdict item 3): the
correctness oracles prove each index returns exactly what its own spec
says; these prove what it returns is close to the TRUE neighbors.

Every quantity here is fully deterministic (md5 centroids, fixed-seed
perturbations, deterministic k-means), so the bounds are tight guards
under the measured values (tools/ann_recall.py; curves in SCALE.md),
not statistical tolerances.
"""

from __future__ import annotations

import pytest

from oracle_to_snowflake_etl_spark.operators.similarity import (
    IVF_CELLS,
    IVF_NPROBE,
    ann_recall_at_k,
    centroid_weights,
    ivf_train_centroids,
    srp_pair_recall,
)
from oracle_to_snowflake_etl_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_ivf_recall_at_default_nprobe(spark, emb):
    """IVF recall@10 at the SHIPPED default (nprobe=24 of 64 trained
    cells — centroids=None trains on the indexed corpus,
    similarity.py ann_ivf_int8_topk) on the gate corpus: measured 0.804
    (tools/ann_recall.py, 64-cell curve in SCALE.md; near-orthogonal
    random vectors are the hardest recall regime). Guard at >= 0.75
    — a tight floor under a deterministic measurement, per the
    round-6 ask's >= 0.8-recall done-criterion."""
    from pyspark.sql import functions as F

    q = emb.where(F.col("vec_id") < 50)
    assert ann_recall_at_k(emb, q, k=10, nprobe=IVF_NPROBE) >= 0.75


def test_ivf_trained_centroids_beat_random(spark, emb):
    """The deterministic k-means training (ivf_train_centroids — what
    centroids=None runs) must beat the untrained md5 centroids at the
    default nprobe: the training pass exists to buy recall (measured
    0.804 vs 0.674 at sf0.01/nprobe=24, SCALE.md). The random arm
    passes centroid_weights(IVF_CELLS) EXPLICITLY — centroids=None
    would train (similarity.py ann_ivf_int8_topk), making both arms identical
    and the comparison vacuous (round-7 verdict #2)."""
    from pyspark.sql import functions as F

    q = emb.where(F.col("vec_id") < 50)
    trained = ivf_train_centroids(emb)
    r_trained = ann_recall_at_k(emb, q, k=10, nprobe=IVF_NPROBE,
                                centroids=trained)
    r_random = ann_recall_at_k(emb, q, k=10, nprobe=IVF_NPROBE,
                               centroids=centroid_weights(IVF_CELLS))
    assert r_trained > r_random
    assert r_trained >= 0.75


def test_srp_recall_at_near_dup_operating_point(spark, emb):
    """SRP-LSH pair-recall where the operator is MEANT to operate:
    plant a true near-duplicate twin (deterministic perturbation at
    cosine ~0.95) for every corpus vector and require the 4x8 banded
    index to recover >= 0.75 of the planted pairs at threshold 0.90
    (measured 0.854 at sf0.01; LSH theory predicts 0.892 at cos 0.95
    — 1-(1-(1-acos(s)/pi)^8)^4). The corpus's own mid-similarity
    range (max pairwise cos ~0.51) is OUTSIDE the design envelope and
    its low recall there matches the same formula (SCALE.md)."""
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        plant_near_dup_twins,
    )

    planted = plant_near_dup_twins(emb)
    assert srp_pair_recall(planted, threshold_q6=900_000) >= 0.75


def test_semantic_pair_recall_floor(spark, emb):
    """semantic_dedup's cross-cell miss rate, pinned (VERDICT r8 #3;
    floors re-pinned for the round-10 default flip, VERDICT r9 #2):
    on the planted-twin corpus (cos 0.95) the fraction of true pairs
    that share a probe cell is measured (tools/semantic_recall.py,
    table + honest isotropic-corpus reading in SCALE.md):
    single-assign 0.458 at cells=64 / 0.353 at cells=256; at the NEW
    DEFAULT (SEMDEDUP_NPROBE=2) 0.691 at cells=64 / 0.676 at
    cells=256. Guards: tight floors under the deterministic
    measurements, plus the two monotone trends that make both dials
    real — more cells, more boundary misses; more probes, fewer."""
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        plant_near_dup_twins,
        semantic_pair_recall,
    )

    planted = plant_near_dup_twins(emb)
    r64 = semantic_pair_recall(planted, threshold_q6=350_000, cells=64,
                               nprobe=1)
    r256 = semantic_pair_recall(planted, threshold_q6=350_000, cells=256,
                                nprobe=1)
    assert r64 >= 0.43          # measured 0.458, deterministic
    assert r256 >= 0.33         # measured 0.353
    assert r64 > r256           # finer cells must not gain recall
    # the shipped default (nprobe=2) — the round-10 operating point
    d64 = semantic_pair_recall(planted, threshold_q6=350_000, cells=64)
    d256 = semantic_pair_recall(planted, threshold_q6=350_000, cells=256)
    assert d64 >= 0.65          # measured 0.691
    assert d256 >= 0.63         # measured 0.676
    assert d64 > r64            # the probe dial must buy recall
    assert d256 > r256


def test_int8_rescored_recall_vs_exact(spark, emb):
    """ann_ivf_int8_topk with every cell probed (quantized scan +
    float rescore of 3k candidates) against the exact brute-force
    top-10: int8 quantization costs <0.5% cosine error on unit-ish
    vectors, so with a 3x rescore margin the result should be
    essentially exact. Guard overlap at
    >= 0.95 over 50 query vectors; also pin the output contract
    (k rows per query, no self matches)."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        brute_force_topk,
    )

    q = emb.where(F.col("vec_id") < 50)
    got = ann_ivf_int8_topk(emb, q, k=10, rescore=3,
                            nprobe=IVF_CELLS).collect()
    exact = brute_force_topk(emb, q, k=10).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert all(len(v) == 10 for v in by_q.values()) and len(by_q) == 50
    hits = sum(r.neighbor_id in by_q[r.query_id] for r in exact)
    assert hits / len(exact) >= 0.95


def test_int8_topk_contract_caps(spark, emb):
    """The broadcast query matrix is contract-capped (the
    _collect_eval_matrix convention) and an empty query set returns an
    empty frame with the output schema."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
    )

    cents = centroid_weights(IVF_CELLS)
    with _pytest.raises(ValueError, match="max_queries"):
        ann_ivf_int8_topk(emb, emb.limit(3), k=2, centroids=cents,
                          max_queries=2)
    out = ann_ivf_int8_topk(emb, emb.where(F.lit(False)), k=2,
                            centroids=cents)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "sim_q6"]


def test_ivf_int8_composed_recall(spark, emb):
    """ann_ivf_int8_topk: the composed IVF-pruned quantized scan must
    hold recall at the default nprobe (measured 0.804 over 50 queries;
    guard >= 0.72 — the int8 first pass only risks the approx cut
    boundary at 3x margin). With every cell probed and a rescore
    margin covering the whole corpus, no candidate is cut, so the
    result must equal exact brute force ROW FOR ROW (sims included)."""
    import math

    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        brute_force_topk,
    )

    q = emb.where(F.col("vec_id") < 50)
    exact_rows = {tuple(r) for r in brute_force_topk(emb, q, k=10).collect()}
    exact = {(qid, nid) for qid, nid, _ in exact_rows}
    got = {(r.query_id, r.neighbor_id)
           for r in ann_ivf_int8_topk(emb, q, k=10,
                                      nprobe=IVF_NPROBE).collect()}
    assert len(got & exact) / len(exact) >= 0.72
    full = ann_ivf_int8_topk(emb, q, k=10, nprobe=IVF_CELLS,
                             rescore=math.ceil(emb.count() / 10))
    assert {tuple(r) for r in full.collect()} == exact_rows


def test_ivf_int8_indexed_equals_inmemory_and_prunes(spark, emb, tmp_path,
                                                     monkeypatch):
    """The at-rest composed form (write_ivf_int8_index + index_path)
    must return EXACTLY the in-memory form's rows — same quantization
    formula, same probe mask, two entrances, and either side of the
    request's size gates (one-task or split scan; IN-list or semi-join
    candidate fetch) — and the scan over the index must resolve the
    probed-cell set as PartitionFilters at planning time (directory
    pruning: unprobed cells are never listed), reading only probed
    cells' files."""
    import os

    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        ivf_probe_cells,
        ivf_train_centroids,
        read_ivf_centroids,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.plans.inspect import (
        partition_filters,
    )

    path = str(tmp_path / "ivf_int8")
    cents = ivf_train_centroids(emb)
    write_ivf_int8_index(emb, path, centroids=cents)
    # the geometry that assigned the cells travels with the index
    assert read_ivf_centroids(spark, path) == cents

    q = emb.where(F.col("vec_id") < 20)
    mem = {tuple(r) for r in
           ann_ivf_int8_topk(emb, q, k=10, centroids=cents).collect()}
    idx_df = ann_ivf_int8_topk(emb, q, k=10, index_path=path)
    idx = {tuple(r) for r in idx_df.collect()}
    assert idx == mem and len(idx) == 20 * 10
    from oracle_to_snowflake_etl_spark.operators import similarity

    monkeypatch.setattr(similarity, "ANN_SCAN_ONE_TASK_WORK", 0)
    monkeypatch.setattr(similarity, "ANN_FETCH_ISIN_MAX", 0)
    assert {tuple(r) for r in ann_ivf_int8_topk(
        emb, q, k=10, index_path=path).collect()} == mem

    # pruning is plan-real AND byte-real: the probed-cell isin shows up
    # as PartitionFilters, and only probed directories' files are read.
    # (20 queries x nprobe=24 covers all 64 cells — the full-recall
    # operating point; the byte cut is visible at a tighter probe)
    q2 = emb.where(F.col("vec_id") < 5)
    probed = sorted({c for r in q2.select(
        ivf_probe_cells(F.col("embedding"), nprobe=4, centroids=cents)
        .alias("p")).collect() for c in r.p})
    scan = (spark.read.parquet(path)
            .where(F.col("cell").isin(probed)))
    pf = partition_filters(scan)
    assert any("cell" in f for f in pf), pf
    n_cells = len([d for d in os.listdir(path) if d.startswith("cell=")])
    assert len(probed) < n_cells  # the cut is real on this corpus
    scanned = {r.f for r in scan.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert scanned and all(
        any(f"cell={c}/" in f for c in probed) for f in scanned)


def test_int8_ann_ids_above_2_53_exact(spark, emb):
    """Ids ride the quantized kernels in parallel int64 arrays (round
    12): ids in the hash60 range that a float64 round-trip would
    corrupt (>= 2^53, where doubles lose integer exactness) must come
    back bit-exact from the composed scan."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        ivf_train_centroids,
    )

    off = (1 << 60) + 1   # odd offset: float64 rounds it to 2^60
    big = emb.withColumn("vec_id", F.col("vec_id") + F.lit(off))
    q = big.where(F.col("vec_id") < off + 5)
    cents = ivf_train_centroids(big)
    n_vecs = emb.count()
    got = ann_ivf_int8_topk(big, q, k=5, centroids=cents).collect()
    assert len(got) == 25
    for r in got:
        # exact int64 ids: the odd +1 in the offset survives (a
        # float64 round-trip would collapse off+i to 2^60 + even)
        assert (r.query_id - off) in range(5)
        assert 0 <= (r.neighbor_id - off) < n_vecs
        assert r.neighbor_id != r.query_id


def test_ivf_int8_append_equals_index_at_once(spark, emb, tmp_path):
    """append_ivf_int8_index: a store grown base+batch must be
    indistinguishable from one indexed at once — same probed-scan rows
    as the in-memory form over the union — because appended rows are
    quantized and cell-assigned by the same kernels under the STORED
    geometry. A foreign centroid matrix must raise, not mis-assign."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        append_ivf_int8_index,
        write_ivf_int8_index,
    )

    cents = ivf_train_centroids(emb)
    path = str(tmp_path / "grown")
    base = emb.where(F.col("vec_id") % 4 != 3)
    batch = emb.where(F.col("vec_id") % 4 == 3)
    write_ivf_int8_index(base, path, centroids=cents)
    n = append_ivf_int8_index(batch, path)
    assert n == batch.count()

    q = emb.where(F.col("vec_id") < 20)
    mem = {tuple(r) for r in
           ann_ivf_int8_topk(emb, q, k=10, centroids=cents).collect()}
    idx = {tuple(r) for r in ann_ivf_int8_topk(
        emb, q, k=10, centroids=cents, index_path=path).collect()}
    assert idx == mem and len(idx) == 20 * 10

    foreign = tuple(tuple(x + 0.5 for x in row) for row in cents)
    with pytest.raises(ValueError, match="foreign matrix"):
        append_ivf_int8_index(batch, path, centroids=foreign)


def test_int8_indexed_scan_null_qb_raises(spark, emb, tmp_path):
    """A store with a NULL packed-code row (hand-edited / partial
    write) must fail with the kernel's explicit corrupt-store error,
    not b''.join's opaque TypeError."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        _write_centroids,
        ann_ivf_int8_topk,
    )

    cents = ivf_train_centroids(emb)
    path = str(tmp_path / "broken")
    rows = [(1, 0.5, bytes(64), 0), (2, 0.5, None, 0)]
    (spark.createDataFrame(
        rows, "neighbor_id long, scale double, qb binary, cell int")
     .write.partitionBy("cell").parquet(path))
    _write_centroids(spark, path, cents)
    q = emb.where(F.col("vec_id") < 2)
    with pytest.raises(Exception, match="NULL qb"):
        ann_ivf_int8_topk(emb, q, k=10, centroids=cents,
                          index_path=path).collect()


def test_filtered_ann_recall_parity_and_contracts(spark, emb, tmp_path):
    """Attribute-filtered ANN (VERDICT r14 Missing #1): the k results
    are the top k among ELIGIBLE rows, with recall measured against
    brute force over the FILTERED corpus — and the filter is applied
    BEFORE the per-partition top-R cut, so filtered search beats the
    post-filter anti-pattern (keep eligible rows of the unfiltered
    top-k), which starves at 1/3 selectivity. All four entrances
    (filter_ids / filter_pred x in-memory / index_path) must agree
    exactly; the allow-set cap and the empty allow-set are contract
    edges."""
    import numpy as np
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        brute_force_topk,
        ivf_train_centroids,
        write_ivf_int8_index,
    )

    pred = F.col("label") % 3 == 0
    elig = {r.vec_id for r in
            emb.where(pred).select("vec_id").collect()}
    ids = sorted(elig)
    q = emb.where(F.col("vec_id") < 30)
    cents = ivf_train_centroids(emb)

    p8 = str(tmp_path / "i8")
    write_ivf_int8_index(emb, p8, centroids=cents, meta_cols=("label",))

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    a = pairs(ann_ivf_int8_topk(emb, q, k=10, centroids=cents,
                                filter_ids=ids))
    b = pairs(ann_ivf_int8_topk(emb, q, k=10, centroids=cents,
                                filter_pred=pred))
    c = pairs(ann_ivf_int8_topk(emb, q, k=10, centroids=cents,
                                index_path=p8, filter_ids=ids))
    d = pairs(ann_ivf_int8_topk(emb, q, k=10, centroids=cents,
                                index_path=p8, filter_pred=pred))
    assert a == b == c == d and len(a) == 30 * 10
    assert {n for _, n in a} <= elig

    # recall vs brute force over the FILTERED corpus — the quantity
    # post-filtering cannot reach (truth among eligible rows only)
    truth = pairs(brute_force_topk(emb.where(pred), q, k=10))
    recall = len(a & truth) / len(truth)
    assert recall >= 0.70  # unfiltered composed floor is 0.72

    # the post-filter anti-pattern starves: eligible survivors of the
    # UNFILTERED top-10 average ~10/3 per query at this selectivity
    unf = pairs(ann_ivf_int8_topk(emb, q, k=10, centroids=cents))
    post = {(qq, n) for qq, n in unf if n in elig}
    assert len(post) < len(a)  # fewer results ...
    assert len(post & truth) < len(a & truth)  # ... and worse recall

    # contract edges: empty allow-set -> empty result; cap raises
    assert ann_ivf_int8_topk(emb, q, k=10, centroids=cents,
                             filter_ids=[]).count() == 0
    import pytest as _pt

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        _resolve_filter_ids,
    )
    with _pt.raises(ValueError, match="corpus-shaped"):
        _resolve_filter_ids(np.arange(11), "vec_id", max_ids=10)
    with _pt.raises(ValueError, match="corpus-shaped"):
        _resolve_filter_ids(emb.select("vec_id"), "vec_id", max_ids=10)


def test_filter_pred_pushes_to_index_scan(spark, emb, tmp_path):
    """The metadata-predicate form of filtered ANN is a PLAN-REAL
    pushed filter: the predicate over the stored attribute column
    reaches the parquet reader of the probed partitions as a
    PushedFilter (rows never reach the Arrow kernel), composed with
    the probed-cell PartitionFilters pruning the unfiltered scan
    already asserts."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ivf_train_centroids,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.plans.inspect import (
        partition_filters,
        pushed_filters,
    )

    cents = ivf_train_centroids(emb)
    path = str(tmp_path / "i8meta")
    write_ivf_int8_index(emb, path, centroids=cents,
                         meta_cols=("label",))
    # the scan frame the filtered query builds (the index branch of
    # ann_ivf_int8_topk with filter_pred): inferred schema + predicate
    scan = (spark.read.option("basePath", path).parquet(path)
            .where(F.col("cell").isin([0, 1, 2]))
            .where(F.col("label") % 3 == 0)
            .select("neighbor_id", "cell", "scale", "qb"))
    pushed = pushed_filters(scan)
    assert any("label" in f for f in pushed), pushed
    pf = partition_filters(scan)
    assert any("cell" in f for f in pf), pf
