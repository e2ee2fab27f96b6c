"""Physical-plan property tests (SURVEY.md §4): the scale-critical plan
shapes must hold — filter pushdown to parquet, broadcast joins for small
dims, distributed top-k, bounded shuffle counts."""

from __future__ import annotations

from oracle_to_snowflake_etl_spark.plans.inspect import (
    exchange_count,
    has_broadcast_join,
    has_sort_merge_join,
    has_top_k,
    pushed_filters,
    read_schemas,
)
from oracle_to_snowflake_etl_spark.queries import queries


def test_top_spenders_pushes_filter_and_uses_topk(spark, sf_dir):
    df = queries()["top_spenders_14d"](spark, sf_dir)
    # date-range predicate must reach the parquet scan
    assert any("o_orderdate" in f for f in pushed_filters(df))
    # ORDER BY ... LIMIT must plan TakeOrderedAndProject, not global sort
    assert has_top_k(df)


def test_top_spenders_prunes_columns(spark, sf_dir):
    df = queries()["top_spenders_14d"](spark, sf_dir)
    schemas = read_schemas(df)
    assert schemas, "no file scan found"
    # orders has 6 columns; the query needs exactly 3
    assert all(
        "o_custkey" in s and "o_totalprice" in s and "o_orderstatus" not in s
        for s in schemas)


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    df = queries()["revenue_by_nation"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)
    # broadcast joins add no shuffle: only the final agg + sort exchange
    assert exchange_count(df) <= 3


def test_kpi_derive_is_scan_only(spark, sf_dir):
    """Pure projection: zero shuffles."""
    df = queries()["kpi_derive"](spark, sf_dir)
    assert exchange_count(df) == 0


def test_creative_topk_single_agg_shuffle(spark, sf_dir):
    df = queries()["creative_perf_topk"](spark, sf_dir)
    assert has_top_k(df)
    assert exchange_count(df) <= 1  # one hash-agg shuffle, top-k needs none


def test_asof_is_single_shuffle(spark, sf_dir):
    """The union-sort as-of construction: ONE exchange (the window's hash
    partitioning), never an inequality-join nested loop."""
    df = queries()["asof_click_attribution"](spark, sf_dir)
    assert exchange_count(df) <= 1
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string
    assert "BroadcastNestedLoopJoin" not in plan_string(df)


def test_lsh_candidate_paths_stay_narrow(spark, sf_dir):
    """Perf-regression locks for the round-2 rewrites: SRP-LSH re-attaches
    embeddings via broadcast-able hash joins (2 exchanges: banding +
    pair dedup), MinHash stays at its banding/pair shuffles, and the
    DF-capped ngram plan stays bounded. (The int8 ANN request returns
    a local result, so its bound is a job count:
    test_ann_request_runs_three_jobs.)"""
    # earlier tests may have populated the cache (CacheManager matches
    # by plan) — clear it so the asserted shapes are the cold plans
    spark.catalog.clearCache()
    bounds = {"ann_srp_neardup": 2, "dedup_minhash_lsh": 3}
    for name, bound in bounds.items():
        df = queries()[name](spark, sf_dir)
        assert exchange_count(df) <= bound, name
    # the prefix-filter dedups eagerly checkpoint their (tiny) result and
    # release the shingle cache (round-4 lifecycle fix), so the query
    # registry's plan is a checkpoint scan; assert the REAL lazy plan via
    # materialize=False instead
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs)
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert exchange_count(
        ngram_jaccard_pairs(docs, materialize=False)) <= 8
    # +2 vs ngram: the lossless full-index semi-join bound (distinct +
    # join on h)
    assert exchange_count(
        containment_pairs(docs, materialize=False)) <= 10


def test_ann_request_runs_three_jobs(spark, sf_dir, tmp_path):
    """One at-rest ANN request is at most three Spark jobs — query
    collect, probed-cell scan, candidate fetch — with the global cut
    and rescore on the driver, and its local result collects with no
    job. Counted from the status tracker under a job group, on a tiny
    4-cell index whose handle the first request opens."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_topk, write_ivf_int8_index)
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = tuple(tuple(r.embedding) for r in
                  emb.orderBy("vec_id").limit(4).collect())
    idx = str(tmp_path / "idx")
    write_ivf_int8_index(emb, idx, centroids=cents)
    q = emb.where(F.col("vec_id") < 3)
    warm = ann_topk(emb, q, idx, k=5, nprobe=2).collect()
    sc = spark.sparkContext
    try:
        sc.setJobGroup("ann-request", "ann_topk")
        out = ann_topk(emb, q, idx, k=5, nprobe=2)
        sc.setJobGroup("ann-result", "collect")
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def jobs(group):
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert sorted(rows) == sorted(warm) and len(rows) == 3 * 5
    assert 1 <= jobs("ann-request") <= 3, jobs("ann-request")
    assert jobs("ann-result") == 0


def test_scale_safe_dedup_no_hot_key_window(spark, sf_dir, force_df_path):
    """The prefix-filter dedups' partial-agg DF path must plan
    NO window partitioned on the shingle hash ``h`` — a WindowExec
    funnels every occurrence of one key into one task with no AQE skew
    split, so a boilerplate shingle in 10% of a web corpus is a
    straggler/OOM; the scale path computes document frequency by
    groupBy partial-agg + join-back instead. Windows partitioned on
    ``doc`` remain allowed (bounded by one document's shingle count).
    Sanity: the window path DOES carry the h-window (it is the
    measured-faster small-corpus form — if it disappears, the two
    paths have converged and the decision should be retired)."""
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs)
    from oracle_to_snowflake_etl_spark.plans.inspect import (
        window_partition_cols)
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    for op in (ngram_jaccard_pairs, containment_pairs):
        force_df_path(True)
        safe = op(docs, materialize=False)
        assert all("h" not in cols for cols in window_partition_cols(safe)), \
            (op.__name__, window_partition_cols(safe))
        # doc-partitioned ranking windows are still expected in
        # containment (per-doc size, corpus-growth-independent)
        force_df_path(False)
        fast = op(docs, materialize=False)
        assert any("h" in cols for cols in window_partition_cols(fast)), \
            op.__name__


def test_hot_shingle_scale_path_bounded(spark, force_df_path):
    """Hot-shingle fixture (one boilerplate shingle in 30% of docs):
    the scale path must (a) stay exactly correct vs python brute force,
    and (b) keep its max-task input bounded. Boundedness is asserted
    mechanically: the hot shingle's (doc, h) rows only ever travel
    through partial-aggregating or AQE-splittable operators — the DF
    aggregate's map-side combine emits ONE row per distinct h per map
    partition (asserted via the agg output: one row for the hot key),
    and the join-back is a join, not a window, so OptimizeSkewedJoin
    can split it (the engagement itself is proven by
    test_aqe_skew_join_split_engages on the same join machinery). The
    window path on this corpus would put all 30% of rows in one
    window partition — the hazard the partial-agg path exists to
    avoid."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs)

    n, hot = 1000, 300
    rows = [(i, ("hot hot hot " if i < hot else "")
             + f"a{i} b{i} c{i} d{i} e{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    shs = {i: sh(t) for i, t in rows}
    want_jac = {(a, b) for a in shs for b in shs if a < b
                and len(shs[a] & shs[b])
                / len(shs[a] | shs[b]) >= 0.5}
    want_con = {(a, b) for a in shs for b in shs if a != b and shs[a]
                and len(shs[a] & shs[b]) / len(shs[a]) >= 0.8}
    force_df_path(True)
    got_jac = {(r.doc_a, r.doc_b) for r in
               ngram_jaccard_pairs(df).collect()}
    got_con = {(r.doc_a, r.doc_b) for r in
               containment_pairs(df).collect()}
    assert got_jac == want_jac
    assert got_con == want_con
    # the mechanism: after the partial agg, the hot shingle is ONE row
    # (count=300) — the shuffle carries per-map-partition partials,
    # never the 300 raw occurrences into one task
    sh_rows = (df.select("doc_id", F.explode(
        F.expr("transform(sequence(1, size(split(trim(text), ' +')) - 2),"
               " i -> concat_ws(' ', slice(split(trim(text), ' +'), i, 3)))"))
        .alias("s")))
    dfh = sh_rows.groupBy(F.xxhash64("s").alias("h")).count()
    hot_df = dfh.where(F.col("count") == hot).count()
    assert hot_df == 1


def test_auto_scale_safe_decision(spark, sf_dir):
    """The engine picks the DF regime itself on every call —
    partial-agg on the 30%-hot-shingle fixture (the
    hot_frac branch) and on anything past the volume crossover (the
    row_threshold branch), the window form on the small uniform bench
    corpus. Both decision branches + the operator-level wiring are
    covered; equality of the two forms is proven elsewhere
    (test_scale_safe_paths_equal_default), so the decision can only
    move the plan, never the answer."""
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        _auto_scale_safe, containment_pairs, ngram_jaccard_pairs,
        shingled_docs)
    from oracle_to_snowflake_etl_spark.plans.inspect import (
        window_partition_cols)
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    def decide(df, **kw):
        return _auto_scale_safe(shingled_docs(df), **kw)

    n, hot = 1000, 300
    hot_df = spark.createDataFrame(
        [(i, ("hot hot hot " if i < hot else "")
          + f"a{i} b{i} c{i} d{i} e{i}") for i in range(n)],
        "doc_id long, text string")
    docs = load_table(spark, sf_dir, "documents")

    # decision function, deterministic full-sample form: hot fixture
    # trips the hot_frac branch; the bench corpus (max shingle DF
    # ~1.4% of 500 docs, ~24k exploded rows) trips neither
    assert decide(hot_df, sample_fraction=1.0) is True
    assert decide(docs, sample_fraction=1.0) is False
    # volume branch alone: uniform corpus (no hot shingle) past an
    # artificially low row threshold
    assert decide(hot_df.where("doc_id >= 300"), sample_fraction=1.0,
                  row_threshold=100) is True
    # empty corpus -> window form trivially
    assert decide(hot_df.where("doc_id < 0"), sample_fraction=1.0) is False

    # operator wiring at the DEFAULT sample fraction (hash-sampled docs
    # are an unbiased DF estimate, deterministic for fixed ids): the
    # decision plans the partial-agg (h-window-free) form on the hot
    # fixture and the window form on the bench corpus
    for op in (ngram_jaccard_pairs, containment_pairs):
        auto_hot = op(hot_df, materialize=False)
        assert all("h" not in cols
                   for cols in window_partition_cols(auto_hot)), op.__name__
        auto_small = op(docs, materialize=False)
        assert any("h" in cols
                   for cols in window_partition_cols(auto_small)), op.__name__

    # incremental: the decision samples the BATCH (its window is
    # batch-keyed) — hot batch -> partial-agg, small uniform batch ->
    # window
    from oracle_to_snowflake_etl_spark.operators.dedup import (
        containment_pairs_incremental)

    corpus = shingled_docs(docs)
    inc_hot = containment_pairs_incremental(hot_df, corpus)
    assert all("h" not in cols for cols in window_partition_cols(inc_hot))
    inc_small = containment_pairs_incremental(docs, corpus)
    assert any("h" in cols for cols in window_partition_cols(inc_small))


def test_auto_decision_small_sample_noise_is_not_hot(spark):
    """A 150-doc corpus over a 31-word vocabulary (the benchmark's
    corpus shape) samples ~16 docs at the default fraction, where a
    shingle shared by 2 of them already reads as >=10% "hot" although
    the full frame holds its hottest shingle in ~3% of docs: the
    decision must keep the window path there. Both hot fixtures still
    take the partial-agg path: 1000 docs with a 30%-hot shingle, and
    the 400-doc corpus whose 0.1% sample is empty (full-frame
    fallback). No Spark action beyond the decisions themselves."""
    import random

    from oracle_to_snowflake_etl_spark.operators.dedup import (
        _auto_scale_safe, shingled_docs)

    vocab = ("a agg batch big column customer data dup fast filter group "
             "hash join key line merge order part query row scan slow "
             "small sort spark stream table the value vector window"
             ).split()
    rng = random.Random(5)
    texts: list[str] = []
    for i in range(150):
        r = rng.random()
        if i > 10 and r < 0.02:            # exact copy
            texts.append(texts[rng.randrange(i)])
        elif i > 10 and r < 0.08:          # near copy
            toks = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(toks) // 12)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(vocab)
                                  for _ in range(rng.randint(10, 40))))
    small = spark.createDataFrame(list(enumerate(texts)),
                                  "doc_id long, text string")
    assert _auto_scale_safe(shingled_docs(small)) is False

    def hot_fixture(n, hot):
        return spark.createDataFrame(
            [(i, ("hot hot hot " if i < hot else "")
              + f"a{i} b{i} c{i} d{i} e{i}") for i in range(n)],
            "doc_id long, text string")

    assert _auto_scale_safe(shingled_docs(hot_fixture(1000, 300))) is True
    assert _auto_scale_safe(shingled_docs(hot_fixture(400, 120)),
                            sample_fraction=0.001) is True


def test_no_cartesian_or_nested_loop_joins(spark, sf_dir):
    """Blanket scale guard: no query may plan CartesianProduct or
    BroadcastNestedLoopJoin — except the brute-force ANN baseline, whose
    broadcast-query-set crossJoin is the intended plan."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    spark.catalog.clearCache()
    # ann_brute_topk: broadcast-query-set crossJoin is the intended plan.
    # tpch_q11/q22, text_bm25_topk: a ONE-ROW broadcast scalar (total /
    # avg gate / corpus stats) attached via crossJoin — the right plan
    # for a scalar subquery; the guard is for accidental cartesians over
    # data-sized sides.
    allowed_cross = {"ann_brute_topk", "tpch_q11_important_stock",
                     "tpch_q22_global_sales_opp", "text_bm25_topk",
                     "sample_weighted_nchars",  # 1-row w_max broadcast
                     "sketch_hll_custkey"}  # 1-row est x 1-row exact
    skip = {"stream_tumbling_5m"}  # executing it drains a stream; its
    # batch result is a materialized memory table with no join plan
    for name, fn in queries().items():
        if name in allowed_cross | skip:
            continue
        plan = plan_string(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Both sides bucketed on the join key with equal bucket counts ->
    sort-merge join with ZERO Exchange (sources/readers.write_bucketed):
    the recurring fact-to-fact shuffle paid once at write time."""
    from oracle_to_snowflake_etl_spark.sources.readers import (
        load_table,
        write_bucketed,
    )

    write_bucketed(load_table(spark, sf_dir, "orders"),
                   "bkt_orders", ["o_custkey"], 8)
    write_bucketed(load_table(spark, sf_dir, "customer"),
                   "bkt_customer", ["c_custkey"], 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, c = spark.table("bkt_orders"), spark.table("bkt_customer")
        j = o.join(c, o.o_custkey == c.c_custkey) \
             .select("o_orderkey", "c_nationkey")
        assert has_sort_merge_join(j)
        assert exchange_count(j) == 0
        # sanity: the same join on the unbucketed scans DOES shuffle
        o2 = load_table(spark, sf_dir, "orders")
        c2 = load_table(spark, sf_dir, "customer")
        j2 = o2.join(c2, o2.o_custkey == c2.c_custkey) \
               .select("o_orderkey", "c_nationkey")
        assert exchange_count(j2) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_repetition_features_is_scan_only(spark, sf_dir):
    """The sorted-array fold computes per-doc repetition stats without
    explode/groupBy: zero shuffles."""
    df = queries()["text_repetition"](spark, sf_dir)
    assert exchange_count(df) == 0


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set must broadcast; the corpus side must not
    shuffle for the join (only the per-doc count agg exchanges)."""
    df = queries()["text_decontaminate"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_vocab_heavy_hitters_is_topk(spark, sf_dir):
    df = queries()["vocab_heavy_hitters"](spark, sf_dir)
    assert has_top_k(df)
    assert exchange_count(df) <= 1  # one token-count agg shuffle


def test_tpch_q10_topk_and_broadcast_dims(spark, sf_dir):
    """Q10: returnflag + date filters pushed to the scans, dims
    broadcast, top-20 via TakeOrderedAndProject."""
    df = queries()["tpch_q10_returned_items"](spark, sf_dir)
    assert has_top_k(df)
    assert has_broadcast_join(df)
    filters = " ".join(pushed_filters(df))
    assert "l_returnflag" in filters and "o_orderdate" in filters


def test_tpch_q19_brand_pushdown(spark, sf_dir):
    """Q19: Catalyst must extract the implied p_brand IN (...) from the
    disjunction and push it into the part scan."""
    df = queries()["tpch_q19_disjunctive_rev"](spark, sf_dir)
    assert any("p_brand" in f for f in pushed_filters(df))


def test_tpch_q21_single_fact_agg_no_self_joins(spark, sf_dir):
    """Q21's double EXISTS/NOT EXISTS collapses to ONE per-order
    aggregate joined back — no BroadcastNestedLoop, and the exchange
    count stays bounded (agg + join + final group, not two extra
    self-join shuffles)."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string
    df = queries()["tpch_q21_waiting_supplier"](spark, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan_string(df)
    assert exchange_count(df) <= 5


def test_tpch_q18_single_lineitem_scan_and_pinned_broadcast(spark, sf_dir):
    """Round-6 Q18 rewrite: the HAVING aggregate's per-order total IS
    the final sum_qty, so lineitem must be scanned exactly ONCE (the
    classic re-join shape scans it twice), and the tiny qualifying set
    must be broadcast by PIN, not AQE coin-flip (the sf10 second decade
    measured a 14s<->123s strategy flip on identical data before the
    pin — SCALE.md)."""
    df = queries()["tpch_q18_large_orders"](spark, sf_dir)
    schemas = read_schemas(df)
    li_scans = [s for s in schemas if "l_quantity" in s or "l_orderkey" in s]
    assert len(li_scans) == 1, schemas
    assert has_broadcast_join(df)


def test_tpch_q17_prunes_before_agg(spark, sf_dir):
    """Q17's per-part AVG aggregate runs over the part-filtered
    semi-join, not all of lineitem: the brand filter must appear as a
    pushed filter on the part scan feeding the semi-join."""
    df = queries()["tpch_q17_small_qty_revenue"](spark, sf_dir)
    assert any("p_brand" in f for f in pushed_filters(df))


def test_tpch_q4_semi_join_no_nested_loop(spark, sf_dir):
    """EXISTS with a correlated inequality must still plan as an
    equi-semi-join on l_orderkey (inequality as residual condition)."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string
    df = queries()["tpch_q4_order_priority"](spark, sf_dir)
    p = plan_string(df)
    assert "LeftSemi" in p or "left_semi" in p.lower()
    assert "BroadcastNestedLoopJoin" not in p


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """A partitioned fact joined to a filtered dim must plan DYNAMIC
    partition pruning: the dim filter's surviving keys become a runtime
    PartitionFilter on the fact scan (dynamicpruningexpression), so at
    scale only the partitions the dim selects are ever read — the
    read-side complement of write_partitioned's static pruning."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string
    from oracle_to_snowflake_etl_spark.sources.readers import (
        load_table,
        write_partitioned,
    )

    path = str(tmp_path / "orders_by_status")
    write_partitioned(load_table(spark, sf_dir, "orders"), path,
                      ["o_orderstatus"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")], ["st", "label"])
    j = fact.join(dim.where(F.col("label") == "closed"),
                  F.col("o_orderstatus") == F.col("st"))
    assert "dynamicpruning" in plan_string(j).lower()


def test_weighted_sample_is_scan_predicate(spark, sf_dir):
    """The membership test must stay a scan-side predicate: the corpus
    never shuffles — the only plan additions are the 1-row w_max
    aggregate, its broadcast back onto the scan (planned as a
    BroadcastNestedLoopJoin over the one-row build side — a filter in
    effect), and the membership condition itself."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    df = queries()["sample_weighted_nchars"](spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastExchange" in plan
    assert not has_sort_merge_join(df)
    # exchanges: the w_max single-partition agg + its broadcast; the
    # corpus side contributes none
    assert exchange_count(df) <= 2


def test_round3_operators_plan_shapes(spark, sf_dir):
    """Plan locks for the round-3 operator additions — the SCALE.md
    claims as assertions: quantization is a pure scan pass; forward
    as-of is the same single-shuffle union-sort as backward; the CDC
    fold pays one changelog window + one target anti-join; histogram is
    one agg shuffle; ratio-to-report adds only the tiny window exchange.
    None of them may plan a nested loop."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    budgets = {
        "emb_quantize_int8": 0,
        "asof_next_purchase": 1,
        "cdc_apply_changes": 2,
        "hist_order_totals": 1,
        "share_of_total_by_nation": 2,
        # round 5: drift report must stay ONE conditional-agg scan (the
        # distinct-aggregate expansion adds one extra exchange), never a
        # two-scan self-join
        "drift_weekly_events": 2,
        "source_health_report": 2,
        # chunking is one codegen pass + explode: any exchange is a bug
        "text_chunk_windows": 0,
        # round 6: substring-level dedup — fingerprint repartition + ONE
        # plain (non-distinct-expanded) fp agg; the ratio adds the
        # join-back + per-doc agg
        "text_repeated_spans": 2,
        "text_span_dup_ratio": 4,
        # point-in-time join: SCD2 history window + the as-of
        # union-sort window — never an interval nested loop
        "pit_join_purchases": 2,
    }
    qs = queries()
    for name, budget in budgets.items():
        df = qs[name](spark, sf_dir)
        assert exchange_count(df) <= budget, name
        assert "BroadcastNestedLoopJoin" not in plan_string(df), name


def test_mv_refresh_is_single_agg_no_join(spark, sf_dir):
    """Incremental MV maintenance must never join or rescan: the folded
    view plans as union -> ONE hash-agg shuffle (plus AQE output
    coalesce at most), with no join operator of any kind."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    df = queries()["mv_incremental_refresh"](spark, sf_dir)
    p = plan_string(df)
    assert "Join" not in p, p
    assert exchange_count(df) <= 2


def test_shard_assign_single_exchange(spark, sf_dir):
    """shard_assign = the minimum shard-writer work: one Exchange on the
    shard key feeding the per-shard window sort."""
    df = queries()["shard_assign_docs"](spark, sf_dir)
    assert exchange_count(df) <= 1


def test_hll_register_agg_bounded(spark, sf_dir):
    """The HLL sketch's shuffles carry registers (<=256 rows) and 1-row
    folds, never raw keys: the register aggregate + two singleton folds
    + the final join — all output-bounded."""
    df = queries()["sketch_hll_custkey"](spark, sf_dir)
    assert exchange_count(df) <= 5


def test_aqe_skew_join_split_engages(spark):
    """SCALE.md's standing answer to join-key skew is "AQE skew-join
    split handles it" — this asserts the mitigation actually ENGAGES: a
    deliberately skewed sort-merge join (90% of a padded fact on one hot
    key) must come out of execution with the join marked skew=true,
    i.e. OptimizeSkewedJoin split the hot partition into parallel
    subtasks instead of leaving one straggler. Thresholds are scaled
    down from their 256MB defaults so a local-size fact exercises the
    same code path a 100 TB fact would."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.plans.inspect import (
        executed_plan_string)

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        # force SMJ: a broadcast join has no skewed shuffle to split
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        # pad must be row-dependent and high-entropy: a constant pad
        # folds out of the shuffle entirely, and low-entropy rows
        # compress below the skew threshold in the shuffle files
        fact = (spark.range(0, 200_000)
                .select(F.when(F.col("id") % 10 < 9, F.lit(0))
                        .otherwise(F.col("id")).alias("k"),
                        F.concat(F.md5(F.col("id").cast("string")),
                                 F.md5((F.col("id") + 1).cast("string")))
                        .alias("pad")))
        dim = spark.range(0, 1_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = fact.join(dim, "k").select("k", "v", "pad")
        # collect() (not count()) so the action runs THIS DataFrame's own
        # QueryExecution — count() builds a separate aggregate plan and
        # joined's adaptive plan would never finalize
        assert len(joined.collect()) == 180_000 + 100  # hot key + tail
        final = executed_plan_string(joined)
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_global_hash_sample_is_topk(spark, sf_dir):
    """The fixed-k global sample must plan TakeOrderedAndProject
    (per-partition heaps), never a global sort of the corpus."""
    df = queries()["sample_global_topk_hash"](spark, sf_dir)
    assert has_top_k(df)
    assert exchange_count(df) == 0


def test_window_partition_cols_literal_asc_not_truncated(spark):
    """ADVICE r7: a partition-key EXPRESSION whose printed form contains
    the word ASC (here: a partition COLUMN literally named "ASC",
    whose token renders as "ASC#5L") must not be mistaken for the start
    of the sort-order tokens — that truncation would report an empty
    partition list and let the no-hot-key-window assertions pass
    vacuously. Sort detection is anchored to the trailing
    'ASC|DESC NULLS FIRST|LAST' structure instead."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.plans.inspect import (
        window_partition_cols)

    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 2).alias("ASC"),
        (F.col("id") % 3).alias("DESC"))
    w = Window.partitionBy("ASC", "DESC").orderBy("id")
    out = df.select(F.row_number().over(w).alias("rn"))
    specs = window_partition_cols(out)
    assert len(specs) == 1
    # BOTH partition columns are reported; the sort column is not
    assert "ASC" in specs[0] and "DESC" in specs[0], specs
    assert "id" not in specs[0], specs


def test_semantic_dedup_joins_on_cell_only(spark, sf_dir):
    """semantic_dedup's pairwise work must be an EQUI-join keyed on the
    cell assignment (Sum(|cell|^2) within partitions), never a corpus
    cross-join, and the survivor filter a left-anti join. The blanket
    no-cartesian guard covers the registered query; this pins the join
    keys so a refactor cannot silently widen the pair space."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    df = queries()["dedup_semantic"](spark, sf_dir)
    plan = plan_string(df)
    assert "_sd_cell" in plan  # pair join keyed on the cell column
    assert "LeftAnti" in plan  # survivors via anti-join on dropped ids
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keep_best_no_corpus_window_and_anti_join(spark, sf_dir):
    """dedup_keep_best: the per-cluster arg-max must be a struct-min
    HASH AGGREGATE on the near-dup-bounded member frame — never a
    Window over the corpus — and the corpus pays exactly one left-anti
    join against the dropped-id set."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    df = queries()["dedup_keep_best"](spark, sf_dir)
    plan = plan_string(df)
    assert "LeftAnti" in plan
    # the winner selection is an aggregate over keep_id, not a window
    # rank: no Window node may consume the quality score column
    for line in plan.splitlines():
        if "Window" in line:
            assert "_cr_score" not in line, line
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ahash_pairs_shuffles_longs_not_payloads(spark, sf_dir):
    """ahash_pairs: every Exchange in the plan moves (id, fp, chunk,
    cv) longs — the binary payload column must never reach a shuffle
    (it dies in the map pass that computes the fingerprint)."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    df = queries()["mm_image_neardup"](spark, sf_dir)
    plan = plan_string(df)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "payload" not in line, line
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_video_neardup_scale_path_no_hot_key_window(spark, sf_dir,
                                                    force_df_path):
    """video_neardup_pairs inherits the text family's scale contract:
    on the partial-agg path the frame-digest document frequency must
    come from a partial-agg join-back, never a COUNT window
    partitioned on the shingle hash (the blank/intro-frame hot-shingle
    hazard); the small-corpus window path keeps the measured-faster
    window form."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        media_from_documents, video_neardup_pairs)
    from oracle_to_snowflake_etl_spark.plans.inspect import (
        window_partition_cols)
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    force_df_path(True)
    safe = video_neardup_pairs(media, materialize=False)
    assert all("h" not in cols for cols in window_partition_cols(safe)), \
        window_partition_cols(safe)
    force_df_path(False)
    fast = video_neardup_pairs(media, materialize=False)
    assert any("h" in cols for cols in window_partition_cols(fast))


def test_modality_incrementals_no_payload_shuffle_no_cartesian(spark,
                                                               sf_dir):
    """The incremental image/video near-dups (VERDICT r8 #2) keep the
    batch forms' plan contracts: payload bytes die in the map pass
    (never reach an Exchange), and candidate generation is equi-join
    banding/prefix-filter — no cartesian or nested-loop join
    anywhere."""
    from oracle_to_snowflake_etl_spark.plans.inspect import plan_string

    for name in ("mm_image_neardup_incr", "mm_video_neardup_incr",
                 "mm_audio_neardup_incr"):
        df = queries()[name](spark, sf_dir)
        plan = plan_string(df)
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "payload" not in line, (name, line)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_audio_neardup_shuffles_digests_not_payloads(spark, sf_dir,
                                                     force_df_path):
    """audio_neardup_pairs keeps the modality-family plan contract:
    payload bytes die in the window-digest map pass (never reach an
    Exchange) and candidate generation is the equi-join prefix filter
    — no cartesian/nested-loop join; the scale path swaps the
    hot-shingle window for a partial-agg join-back exactly like the
    video form (shared ngram_jaccard_pairs machinery)."""
    from oracle_to_snowflake_etl_spark.operators.multimodal import (
        audio_neardup_pairs, media_from_documents)
    from oracle_to_snowflake_etl_spark.plans.inspect import (
        plan_string, window_partition_cols)
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    df = queries()["mm_audio_neardup"](spark, sf_dir)
    plan = plan_string(df)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "payload" not in line, line
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    force_df_path(True)
    safe = audio_neardup_pairs(media, materialize=False)
    assert all("h" not in cols for cols in window_partition_cols(safe)), \
        window_partition_cols(safe)
