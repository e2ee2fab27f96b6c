"""End-to-end reference-pipeline test (SURVEY.md §3, §5.2.2-3):
generate -> incremental load (twice: idempotent) -> curated transform ->
analytics, including the KPI zero/NULL-denominator contract on the edge
rows (FIXTURES.md §1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_to_snowflake_etl_spark import pipeline as P
from oracle_to_snowflake_etl_spark.datagen import ANCHOR_DT, ads_data


@pytest.fixture(scope="module")
def loaded(spark):
    P.drop_all(spark)
    src = ads_data(spark, num_campaigns=5)  # 5x5x3x60 = 4500 (+4 edge)
    n1 = P.incremental_load(spark, src)
    yield spark, src, n1
    P.drop_all(spark)


def test_first_load_inserts_everything(loaded):
    spark, src, n1 = loaded
    assert n1 == 4504
    assert spark.table(P.STAGING_TABLE).count() == 4504


def test_rerun_is_idempotent(loaded):
    """Reference oracle_to_snowflake.py:87 — second run inserts 0."""
    spark, src, _ = loaded
    assert P.incremental_load(spark, src) == 0
    assert spark.table(P.STAGING_TABLE).count() == 4504


def test_partial_target_gets_complement(loaded):
    """J1: with half the days pre-loaded, the delta is the other half
    (FIXTURES.md §2)."""
    spark, src, _ = loaded
    extra = ads_data(spark, num_campaigns=6, edge_rows=False) \
        .where(F.col("campaign_id") == 6)
    first_30 = extra.where(
        F.col("dt") > F.date_sub(F.to_date(F.lit(ANCHOR_DT)), 30))
    assert P.incremental_load(spark, first_30) == first_30.count()
    n = P.incremental_load(spark, extra)
    assert n == extra.count() - first_30.count()


def test_transform_and_kpi_guard(loaded):
    spark, _, _ = loaded
    n = P.transform_to_curated(spark)
    assert n == spark.table(P.STAGING_TABLE).count()
    edge = (spark.table(P.REPORT_VIEW)
            .where(F.col("campaign_id") >= 9001)
            .orderBy("campaign_id").collect())
    by_id = {r.campaign_id: r for r in edge}
    # 9001: impressions=0 clicks=0 conv=0 -> all KPIs 0
    assert (by_id[9001].ctr, by_id[9001].cpm, by_id[9001].cpc,
            by_id[9001].cpa) == (0.0, 0.0, 0.0, 0.0)
    # 9002: clicks=0 -> ctr 0-valued, cpc 0, cpa 0; cpm > 0
    assert by_id[9002].ctr == 0.0 and by_id[9002].cpc == 0.0
    assert by_id[9002].cpm == pytest.approx(50.0)
    # 9003: spend=0, clicks=200 -> cpc exactly 0.0 via division
    assert by_id[9003].cpc == 0.0 and by_id[9003].cpa == 0.0
    # 9004: NULL denominators -> 0 (NULLIF(NULL,0) IS NULL semantics)
    assert (by_id[9004].ctr, by_id[9004].cpm, by_id[9004].cpc,
            by_id[9004].cpa) == (0.0, 0.0, 0.0, 0.0)


def test_analytics_bundle_shapes(loaded):
    spark, _, _ = loaded
    P.transform_to_curated(spark)
    out = P.analytics_bundle(spark, ANCHOR_DT)
    top = out["top_spenders"].collect()
    assert 0 < len(top) <= 10
    # top-10 must be sorted desc by total_spend; the all-NULL edge
    # campaign (9004) sums to NULL, which Spark's DESC puts last
    spends = [r.total_spend for r in top]
    non_null = [s for s in spends if s is not None]
    assert non_null == sorted(non_null, reverse=True)
    assert all(s is None for s in spends[len(non_null):])
    trend = out["ctr_trend"].collect()
    assert [r.dt for r in trend] == sorted(r.dt for r in trend)
    assert 0 < len(out["creative_perf"].collect()) <= 10


def test_full_refresh_matches_ctas(loaded):
    spark, _, _ = loaded
    n_ctas = P.transform_to_curated(spark)
    n_refresh = P.full_refresh(spark)
    assert n_refresh == n_ctas


def test_analyze_table_populates_stats(spark):
    """ANALYZE must land row-count/size statistics in the catalog — the
    metadata the CBO plans joins from."""
    from oracle_to_snowflake_etl_spark.pipeline import analyze_table

    spark.range(0, 1000).withColumnRenamed("id", "k") \
        .write.mode("overwrite").saveAsTable("stats_demo")
    try:
        stats = analyze_table(spark, "stats_demo", ["k"])
        assert "Statistics" in stats
        assert "1000 rows" in stats["Statistics"], stats
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_demo")


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC boundary format (sources/readers.write_orc/read_orc): exact
    value roundtrip of a mixed-type frame, AND the scale property that
    justifies the format — a range predicate must reach the ORC scan as
    a pushed filter (stripe statistics make it a skip, not an
    annotation), with column pruning in the read schema."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.plans.inspect import (
        plan_string,
        pushed_filters,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import (
        load_table,
        read_orc,
        write_orc,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert back.schema == orders.schema
    want = {tuple(r) for r in orders.collect()}
    assert {tuple(r) for r in back.collect()} == want

    q = (back.where(F.col("o_totalprice") > 100_000)
         .select("o_orderkey", "o_totalprice"))
    assert any("o_totalprice" in f for f in pushed_filters(q))
    plan = plan_string(q)
    assert "o_orderstatus" not in plan.split("ReadSchema")[-1]

    # Partitioned ORC write: same roundtrip plus PLANNING-time partition
    # pruning — a partition-column equality must land in PartitionFilters
    # (directories never listed), not in the data-filter set.
    ppath = str(tmp_path / "orders_orc_part")
    write_orc(orders, ppath, partition_by=["o_orderstatus"])
    pback = read_orc(spark, ppath)
    assert pback.count() == orders.count()
    got = {tuple(r) for r in
           pback.select(*orders.columns).collect()}
    assert got == want
    pq = pback.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    pplan = plan_string(pq)
    assert "PartitionFilters" in pplan and "o_orderstatus" in \
        pplan.split("PartitionFilters")[-1].split("]")[0]


def test_incremental_append_parquet_target(spark, tmp_path):
    """operators.incremental.incremental_append, the README's library
    load: the first run into a missing path appends everything, a replay
    appends 0, a partial overlap appends only the new keys, and
    ``partition_by`` writes one key= directory per key."""
    from oracle_to_snowflake_etl_spark.operators.incremental import (
        incremental_append,
    )

    tgt = tmp_path / "tgt"

    def load(rows):
        src = spark.createDataFrame(rows, "key long, v string")
        return incremental_append(src, str(tgt), key_cols=["key"],
                                  partition_by=["key"])

    first = [(1, "a"), (2, "b"), (3, "c")]
    assert load(first) == 3
    assert load(first) == 0
    assert load([(3, "c"), (4, "d"), (5, "e")]) == 2
    assert sorted(r.key for r in spark.read.parquet(str(tgt))
                  .collect()) == [1, 2, 3, 4, 5]
    assert sorted(d.name for d in tgt.iterdir() if d.is_dir()) == [
        f"key={k}" for k in range(1, 6)]
