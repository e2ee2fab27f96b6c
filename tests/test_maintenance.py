"""Lakehouse-maintenance operator tests: small-files compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_snowflake_etl_spark.sources.readers import compact_parquet


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    src = spark.range(0, 20_000).withColumn("v", F.col("id") * 2)
    # simulate an incremental-append mess: 40 tiny files
    src.repartition(40).write.parquet(path)
    import os
    n_before = len([f for f in os.listdir(path) if f.startswith("part-")])
    assert n_before >= 40
    before = src.groupBy().agg(F.sum("v").alias("s")).collect()[0].s
    n_after = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert n_after < n_before and n_after >= 1
    back = spark.read.parquet(path)
    assert back.count() == 20_000
    assert back.groupBy().agg(F.sum("v").alias("s")).collect()[0].s == before


def test_write_partitioned_prunes_partitions(spark, tmp_path):
    """A filter on the partition column must resolve as PartitionFilters
    (directory pruning at planning time), and the layout must produce
    one file per partition value, not tasks x partitions."""
    import os

    from oracle_to_snowflake_etl_spark.plans.inspect import partition_filters
    from oracle_to_snowflake_etl_spark.sources.readers import write_partitioned

    path = str(tmp_path / "part")
    src = spark.range(0, 10_000).select(
        (F.col("id") % 7).alias("day"), F.col("id").alias("v"))
    write_partitioned(src, path, ["day"], sort_cols=["v"])
    # one directory per day, one data file per directory
    days = [d for d in os.listdir(path) if d.startswith("day=")]
    assert len(days) == 7
    for d in days:
        files = [f for f in os.listdir(os.path.join(path, d))
                 if f.startswith("part-")]
        assert len(files) == 1, f"{d}: {files}"
    back = spark.read.parquet(path)
    one = back.where(F.col("day") == 3)
    pf = partition_filters(one)
    assert any("day" in f for f in pf), pf
    assert one.count() == 10_000 // 7 + (1 if 3 < 10_000 % 7 else 0)
    # pruning is real: only day=3's single file is actually scanned
    # (inputFiles() lists the pre-pruning relation, so ask the executed
    # scan which files produced rows)
    scanned = [r.f for r in
               one.select(F.input_file_name().alias("f")).distinct().collect()]
    assert len(scanned) == 1 and "day=3" in scanned[0]


def test_approx_sketches_within_bounds(spark, sf_dir):
    """approx_count_distinct must land within its configured 2% rsd
    (generously 3x) of exact; approx_percentile within 5% of the exact
    median. This is the correctness contract an approximate scale-path
    offers — bounds, not equality."""
    from oracle_to_snowflake_etl_spark.queries import queries

    rows = queries()["approx_order_stats"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_custs - r.exact_custs) <= max(3, 0.06 * r.exact_custs), r
        assert abs(r.approx_p50 - r.exact_p50) <= 0.05 * abs(r.exact_p50), r


def test_read_json_lines_quarantines_corrupt(spark, tmp_path):
    """Malformed ndjson lines land in _corrupt_record (dead-letter
    routing), valid lines parse; nothing is silently dropped and nothing
    fails the job."""
    from pyspark.sql import types as T

    from oracle_to_snowflake_etl_spark.sources.readers import read_json_lines

    p = tmp_path / "in.jsonl"
    p.write_text('\n'.join([
        '{"id": 1, "name": "ok"}',
        '{"id": 2, "name": "also ok"}',
        'this is not json at all',
        '{"id": "not a long", "name": "type clash"}',
    ]))
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("name", T.StringType())])
    # cache() is the documented workaround for Spark's "query only the
    # corrupt column" restriction: a filter on _corrupt_record alone
    # would otherwise prune the scan down to a column the parser can't
    # produce in isolation (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    df = read_json_lines(spark, str(p), schema).cache()
    try:
        good = df.where(F.col("_corrupt_record").isNull())
        bad = df.where(F.col("_corrupt_record").isNotNull())
        assert df.count() == 4
        assert sorted(r.id for r in good.collect()) == [1, 2]
        assert bad.count() == 2  # garbage line + type-clash line
    finally:
        df.unpersist()


def test_csv_malformed_modes(spark, tmp_path):
    """The three CSV malformed-row policies, pinned: PERMISSIVE nulls the
    bad cell, DROPMALFORMED removes the row, FAILFAST raises."""
    import pytest
    from pyspark.sql import types as T

    p = tmp_path / "in.csv"
    p.write_text("id,qty\n1,10\n2,not_a_number\n3,30\n")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("qty", T.LongType())])

    def rd(mode):
        return (spark.read.schema(schema).option("header", True)
                .option("mode", mode).csv(str(p)))

    perm = {r.id: r.qty for r in rd("PERMISSIVE").collect()}
    assert perm == {1: 10, 2: None, 3: 30}
    assert sorted(r.id for r in rd("DROPMALFORMED").collect()) == [1, 3]
    with pytest.raises(Exception):
        rd("FAILFAST").collect()


def test_parquet_schema_evolution(spark, tmp_path):
    """Files written before a column existed read back as NULL under
    mergeSchema; new-file rows keep their values."""
    from oracle_to_snowflake_etl_spark.sources.readers import (
        read_parquet_evolved,
    )

    path = str(tmp_path / "evolve")
    spark.range(0, 3).select(F.col("id")).write.parquet(path)
    spark.range(3, 6).select(F.col("id"), (F.col("id") * 10).alias("score")) \
        .write.mode("append").parquet(path)
    df = read_parquet_evolved(spark, path)
    assert set(df.columns) == {"id", "score"}
    got = {r.id: r.score for r in df.collect()}
    assert got == {0: None, 1: None, 2: None, 3: 30, 4: 40, 5: 50}


def test_quality_checks_detect_violations(spark):
    """The DQ contract detects planted violations — the harness query's
    all-zero result proves parity, this proves detection."""
    from oracle_to_snowflake_etl_spark.operators.quality import (
        check_accepted_values,
        check_not_null,
        check_references,
        check_unique,
        run_checks,
    )

    orders = spark.createDataFrame(
        [(1, 10.0, "F", 100), (1, 11.0, "O", 100), (1, 12.0, "O", 100),
         (2, None, "O", 100), (3, 13.0, "X", 999)],
        "o_orderkey long, o_totalprice double, o_orderstatus string, o_custkey long")
    customer = spark.createDataFrame([(100,)], "c_custkey long")
    got = {r.check_name: r.n_bad for r in run_checks(
        check_unique(orders, ["o_orderkey"]),
        check_not_null(orders, "o_totalprice"),
        check_accepted_values(orders, "o_orderstatus", ["F", "O", "P"]),
        check_references(orders, "o_custkey", customer, "c_custkey"),
    ).collect()}
    assert got == {"unique:o_orderkey": 2, "not_null:o_totalprice": 1,
                   "accepted:o_orderstatus": 1, "references:o_custkey": 1}, got


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC boundary format: round-trips values exactly and pushes
    filters/pruning to the stripe reader like parquet does."""
    from oracle_to_snowflake_etl_spark.plans.inspect import pushed_filters
    from oracle_to_snowflake_etl_spark.sources.readers import (
        load_table,
        read_orc,
        write_orc,
    )

    src = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.count() == src.count()
    assert [f.name for f in back.schema.fields] == \
        [f.name for f in src.schema.fields]
    # value-level: checksum a stable projection on both sides
    chk = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("o_orderkey") * F.col("o_custkey")).alias("s"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))).alias("p")
    ).collect()[0]
    assert chk(back) == chk(src)
    filtered = back.where(F.col("o_orderstatus") == "F")
    assert any("o_orderstatus" in f for f in pushed_filters(filtered))


def test_zorder_layout_tightens_both_columns(spark, sf_dir, tmp_path):
    """write_zordered + rank16: per-row-group footer ranges must tighten
    on BOTH clustering columns vs a single-column-sorted layout — the
    multi-dimensional data-skipping property OPTIMIZE ZORDER buys.
    (Plain price-sort leaves custkey at ~full range per row group.)"""
    import glob

    import pyarrow.parquet as pq

    from oracle_to_snowflake_etl_spark.operators.zorder import (
        rank16,
        write_zordered,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    pc = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    b = orders.agg(F.min("o_custkey"), F.max("o_custkey"),
                   F.min(pc), F.max(pc)).collect()[0]
    zd, nd = str(tmp_path / "z"), str(tmp_path / "naive")
    write_zordered(orders, zd,
                   [rank16(F.col("o_custkey"), b[0], b[1]),
                    rank16(pc, b[2], b[3])], num_files=16)
    (orders.withColumn("_pc", pc).repartitionByRange(16, "_pc")
     .sortWithinPartitions("_pc").drop("_pc")
     .write.mode("overwrite").parquet(nd))

    def coverage(path, col):
        tot, n = 0, 0
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                ci = next(i for i in range(md.num_columns)
                          if md.row_group(rg).column(i).path_in_schema == col)
                st = md.row_group(rg).column(ci).statistics
                tot += st.max - st.min
                n += 1
        return tot / n

    # With 16 files the Z-curve gives each of the 2 dimensions ~2 high
    # bits of locality -> expected per-row-group range ~25-30% of span;
    # a plain price sort leaves custkey at ~100% of span.
    assert coverage(zd, "o_custkey") < 0.6 * coverage(nd, "o_custkey")
    price_span = float(b[3] - b[2]) / 100.0
    assert coverage(zd, "o_totalprice") < 0.4 * price_span


def test_overwrite_partitions_dynamic_touches_only_written(spark, tmp_path):
    """Dynamic partition overwrite must replace exactly the partitions in
    the incoming frame: untouched partitions keep their original data
    files byte-for-byte (no rewrite), touched ones are fully replaced
    (not appended)."""
    import os

    from oracle_to_snowflake_etl_spark.sources.readers import (
        overwrite_partitions_dynamic, write_partitioned)

    path = str(tmp_path / "dynpart")
    base = spark.range(0, 700).select(
        (F.col("id") % 7).alias("day"), F.col("id").alias("v"))
    write_partitioned(base, path, ["day"])

    def files_of(day: int) -> set[str]:
        d = os.path.join(path, f"day={day}")
        return {f for f in os.listdir(d) if f.startswith("part-")}

    before = {d: files_of(d) for d in range(7)}
    # reprocess day 3 only, with different values
    fix = spark.range(0, 50).select(
        F.lit(3).alias("day"), (F.col("id") + 10_000).alias("v"))
    overwrite_partitions_dynamic(fix, path, ["day"])

    out = spark.read.parquet(path)
    # day 3 fully replaced (50 new rows, none of the old 100)
    assert out.where("day = 3").count() == 50
    assert out.where("day = 3 AND v < 10000").count() == 0
    # every other partition's files untouched on disk
    for d in (0, 1, 2, 4, 5, 6):
        assert files_of(d) == before[d], f"day={d} was rewritten"
    assert out.count() == 600 + 50


def test_merge_upsert_partitioned_scopes_rewrite(spark, tmp_path):
    """Partition-scoped upsert: result equals plain merge_upsert over the
    whole table (same semantics), but only the partitions present in the
    source are rewritten — untouched partitions keep their data files
    byte-for-byte."""
    import os

    from oracle_to_snowflake_etl_spark.operators.merge import (
        merge_upsert, merge_upsert_partitioned)
    from oracle_to_snowflake_etl_spark.sources.readers import write_partitioned

    path = str(tmp_path / "mup")
    base = spark.range(0, 700).select(
        (F.col("id") % 7).alias("day"), F.col("id").alias("k"),
        F.lit("old").alias("val"))
    write_partitioned(base, path, ["day"])

    def files_of(day: int) -> set[str]:
        d = os.path.join(path, f"day={day}")
        return {f for f in os.listdir(d) if f.startswith("part-")}

    before = {d: files_of(d) for d in range(7)}
    # source: update 10 existing keys in day 3 + insert 5 new keys there
    source = spark.createDataFrame(
        [(3, k, "new") for k in range(3, 73, 7)]      # existing day-3 keys
        + [(3, 10_000 + i, "new") for i in range(5)],  # brand-new keys
        "day INT, k BIGINT, val STRING")
    expected = merge_upsert(source, spark.read.parquet(path)
                            .select("day", "k", "val"), ["k"])
    expected_rows = {tuple(r) for r in expected.collect()}

    touched = merge_upsert_partitioned(source, path, ["k"], ["day"])
    assert touched == [(3,)]
    got = {tuple(r) for r in spark.read.parquet(path)
           .select("day", "k", "val").collect()}
    assert got == expected_rows
    for d in (0, 1, 2, 4, 5, 6):
        assert files_of(d) == before[d], f"day={d} was rewritten"
    # day 3: updates applied, inserts present, no duplicate keys
    day3 = spark.read.parquet(path).where("day = 3")
    assert day3.where("val = 'new'").count() == 15
    assert day3.count() == 105
    assert day3.select("k").distinct().count() == 105


def test_merge_upsert_delta_gate_is_honest():
    """delta_available() must reflect real importability, and the gated
    entry point must fail with ImportError (not something weirder) when
    the gate is closed — the contract callers dispatch on."""
    from oracle_to_snowflake_etl_spark.operators.merge import (
        delta_available, merge_upsert_delta)

    avail = delta_available()
    assert isinstance(avail, bool)
    if not avail:
        import pytest as _pytest
        with _pytest.raises(ImportError):
            merge_upsert_delta(None, "/nonexistent", ["k"])


def test_merge_upsert_delta_matches_dataframe_form(spark, tmp_path):
    """When delta-spark IS on the classpath, the transactional MERGE
    INTO path must produce row-for-row the same table state as the
    format-agnostic DataFrame construction (source wins on collision,
    untouched keys pass through). Skipped where delta-spark cannot be
    installed (this build env); runs on any Delta-enabled cluster."""
    import pytest as _pytest
    _pytest.importorskip("delta")

    from oracle_to_snowflake_etl_spark.operators.merge import (
        merge_upsert, merge_upsert_delta)

    path = str(tmp_path / "delta_target")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("old").alias("val"))
    try:
        base.write.format("delta").save(path)
    except Exception as exc:  # python pkg present but jars absent
        _pytest.skip(f"delta jars unavailable: {exc}")
    source = spark.createDataFrame(
        [(k, "new") for k in range(90, 110)], "k BIGINT, val STRING")
    expected = {tuple(r) for r in
                merge_upsert(source, base, ["k"]).collect()}
    got = {tuple(r) for r in
           merge_upsert_delta(source, path, ["k"]).collect()}
    assert got == expected


def test_observed_write_collects_metrics_in_one_pass(spark, tmp_path):
    """DataFrame.observe metrics must arrive with the write action
    itself (no second scan) and match an explicit recount."""
    from oracle_to_snowflake_etl_spark.operators.quality import observed_write

    path = str(tmp_path / "obs")
    df = spark.range(0, 1000).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v"))
    got = observed_write(df, path)
    assert got["n_rows"] == 1000
    assert got["nulls_id"] == 0
    assert got["nulls_v"] == 100
    assert spark.read.parquet(path).count() == 1000


def test_apply_changes_partitioned_cdc_with_deletes(spark, tmp_path):
    """Partition-scoped CDC: updates/inserts/deletes land only in touched
    partitions (others byte-identical), result equals full-table
    apply_changes, and a partition fully emptied by deletes is REMOVED
    (not silently resurrected by dynamic overwrite's no-rows-no-rewrite)."""
    import os

    from oracle_to_snowflake_etl_spark.operators.merge import (
        apply_changes, apply_changes_partitioned)
    from oracle_to_snowflake_etl_spark.sources.readers import write_partitioned

    path = str(tmp_path / "cdcp")
    base = spark.range(0, 60).select(
        (F.col("id") % 3).alias("day"), F.col("id").alias("k"),
        F.lit("old").alias("val"))
    write_partitioned(base, path, ["day"])

    def files_of(day: int) -> set[str]:
        d = os.path.join(path, f"day={day}")
        return {f for f in os.listdir(d) if f.startswith("part-")}

    before0 = files_of(0)
    # day 1: one update, one insert, one delete. day 2: delete EVERYTHING.
    rows = ([(1, 1, 2, "U", "new"), (1, 1000, 1, "I", "new"),
             (1, 4, 1, "D", None)]
            + [(2, k, 1, "D", None) for k in range(2, 60, 3)])
    changes = spark.createDataFrame(
        rows, "day INT, k BIGINT, seq BIGINT, op STRING, val STRING")
    expected = {tuple(r) for r in apply_changes(
        spark.read.parquet(path).select("day", "k", "val"),
        changes, ["k"], "seq").select("day", "k", "val").collect()}

    touched = apply_changes_partitioned(changes, path, ["k"], "seq", ["day"])
    assert sorted(touched) == [(1,), (2,)]
    got = {tuple(r) for r in spark.read.parquet(path)
           .select("day", "k", "val").collect()}
    assert got == expected
    assert files_of(0) == before0, "day=0 was rewritten"
    # the fully-deleted partition's directory is gone
    assert not os.path.exists(os.path.join(path, "day=2"))
    day1 = spark.read.parquet(path).where("day = 1")
    assert day1.where("k = 1").first().val == "new"      # update applied
    assert day1.where("k = 1000").count() == 1           # insert applied
    assert day1.where("k = 4").count() == 0              # delete applied


def test_approx_group_quantiles_rank_error_bound(spark):
    """approx_group_quantiles' GK contract: each reported per-group
    quantile must sit within the rank band [ (p - 1/accuracy)*n,
    (p + 1/accuracy)*n ] of the group's sorted values — checked
    against the exact sort at a deliberately coarse accuracy (100)
    so the bound is actually exercised rather than trivially met."""
    from oracle_to_snowflake_etl_spark.operators.sketch import (
        approx_group_quantiles,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    acc = 100
    orders = load_table(spark, "/root/testdata/sf0.01", "orders")
    got = approx_group_quantiles(
        orders, "o_totalprice", ["o_orderstatus"],
        probs=[0.5, 0.9, 0.99], accuracy=acc).collect()
    assert len(got) == 3  # F / O / P
    groups = {
        r.o_orderstatus: sorted(
            x.o_totalprice for x in
            orders.where(F.col("o_orderstatus") == r.o_orderstatus)
            .select("o_totalprice").collect())
        for r in got
    }
    for r in got:
        vals = groups[r.o_orderstatus]
        n = len(vals)
        for p, q in ((0.5, r.q50), (0.9, r.q90), (0.99, r.q99)):
            lo = vals[max(0, int((p - 1.0 / acc) * n) - 1)]
            hi = vals[min(n - 1, int((p + 1.0 / acc) * n))]
            assert lo <= q <= hi, (r.o_orderstatus, p, q, lo, hi)


def test_purge_keys_partition_scoped_and_emptied_dir(spark, tmp_path):
    """purge_keys: purged keys gone, untouched partitions byte-identical
    on disk, a fully-emptied partition's directory is REMOVED (dynamic
    overwrite alone would silently leave it), re-run is a no-op, and
    the request-size contract raises."""
    import os

    import pytest as _pytest

    from oracle_to_snowflake_etl_spark.operators.merge import purge_keys
    from oracle_to_snowflake_etl_spark.sources.readers import (
        write_partitioned,
    )

    path = str(tmp_path / "purge")
    base = spark.range(0, 70).select(
        (F.col("id") % 7).alias("day"), F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"))
    write_partitioned(base, path, ["day"])

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return {f for f in os.listdir(d) if f.startswith("part-")}

    before = {d: files_of(d) for d in range(7)}
    # forget: two keys in day=3, and EVERY key of day=5
    victims = [3, 10] + [k for k in range(70) if k % 7 == 5]
    n = purge_keys(spark, path, victims, "k", ["day"])
    assert n == 2 + 10
    out = spark.read.parquet(path)
    assert out.where(F.col("k").isin(victims)).count() == 0
    assert out.count() == 70 - 12
    assert not os.path.isdir(os.path.join(path, "day=5"))  # emptied
    for d in (0, 1, 2, 4, 6):  # untouched partitions: same files
        assert files_of(d) == before[d]
    assert purge_keys(spark, path, victims, "k", ["day"]) == 0  # no-op
    with _pytest.raises(ValueError, match="max_keys"):
        purge_keys(spark, path, [1, 2, 3], "k", ["day"], max_keys=2)


def test_purge_keys_everywhere_fans_out_over_derived_stores(spark,
                                                            tmp_path):
    """One forget request removes the documents AND their stored
    fingerprint rows (different key column names per store) in one
    call; a store with no trace reports 0."""
    from oracle_to_snowflake_etl_spark.functions.hashing import hash60
    from oracle_to_snowflake_etl_spark.operators.merge import (
        purge_keys_everywhere,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import (
        write_partitioned,
    )

    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    other = str(tmp_path / "other")
    docs = spark.range(0, 40).select(
        (F.col("id") % 4).alias("shard"), F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"))
    write_partitioned(docs, corpus, ["shard"])
    write_partitioned(
        docs.select("shard", F.col("doc_id").alias("doc"),
                    hash60(F.col("text")).alias("_h")),
        index, ["shard"])
    write_partitioned(
        spark.range(100, 110).select(
            F.lit(0).alias("shard"), F.col("id").alias("doc"),
            F.lit(0).alias("_h")),
        other, ["shard"])

    removed = purge_keys_everywhere(spark, [
        {"path": corpus, "key_col": "doc_id", "partition_cols": ["shard"]},
        {"path": index, "key_col": "doc", "partition_cols": ["shard"]},
        {"path": other, "key_col": "doc", "partition_cols": ["shard"]},
    ], keys=[7, 8])
    assert removed == {corpus: 2, index: 2, other: 0}
    assert spark.read.parquet(corpus) \
        .where(F.col("doc_id").isin([7, 8])).count() == 0
    assert spark.read.parquet(index) \
        .where(F.col("doc").isin([7, 8])).count() == 0
    assert spark.read.parquet(other).count() == 10


def test_purge_keys_join_path_equals_isin_path(spark, tmp_path):
    """Above PURGE_ISIN_MAX the purge probes a broadcast key frame
    (semi/anti joins) instead of a literal In — a ~14k-key In measured
    35 s of plan/codegen where the join form takes ~4 s. Both paths
    must remove exactly the same rows (incl. an emptied partition),
    and NULL-key rows are never purged on either."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.merge import (
        PURGE_ISIN_MAX,
        purge_keys,
    )

    rows = [(i, i % 5, float(i)) for i in range(500)] + [(None, 1, -1.0)]
    keys = [i for i in range(500) if i % 5 == 4 or i % 7 == 0]
    assert len(keys) > PURGE_ISIN_MAX
    outs = {}
    for label, kk in (("isin", keys[:PURGE_ISIN_MAX]),
                      ("join", keys)):
        path = str(tmp_path / label)
        spark.createDataFrame(rows, "k long, part long, v double") \
            .write.partitionBy("part").parquet(path)
        removed = purge_keys(spark, path, kk, "k", ["part"])
        back = {(r.k, r.part) for r in spark.read.parquet(path).collect()}
        assert removed == len(kk)
        assert all(k not in {b[0] for b in back} for k in kk)
        assert (None, 1) in back        # NULL key survives both paths
        outs[label] = back
    # the full-key join run empties part=4 entirely: directory gone
    import os
    assert not os.path.isdir(str(tmp_path / "join" / "part=4"))
    assert {b for b in outs["join"] if b[1] == 4} == set()


def test_purge_keys_derived_partitions_equal_scanned(spark, tmp_path):
    """partition_of (the derived-partition locate shortcut): when the
    partition key is a function of the purge key (bucket = k % 5), the
    arithmetic candidate set must yield EXACTLY the scanned path's
    result — same rows removed, same emptied-directory handling, keys
    absent from the store finding nothing — while the locate scan reads
    only the derived partitions."""
    import os

    from oracle_to_snowflake_etl_spark.operators.merge import purge_keys

    rows = [(i, i % 5, float(i)) for i in range(300)]
    # victims: all of bucket 2, a few of bucket 4, one absent key
    keys = [k for k in range(300) if k % 5 == 2] + [4, 9, 14, 10_000]
    outs = {}
    for label, pof in (("scanned", None), ("derived", lambda k: (k % 5,))):
        path = str(tmp_path / label)
        spark.createDataFrame(rows, "k long, bucket long, v double") \
            .write.partitionBy("bucket").parquet(path)
        removed = purge_keys(spark, path, keys, "k", ["bucket"],
                             partition_of=pof)
        back = {tuple(r) for r in spark.read.parquet(path).collect()}
        outs[label] = (removed, back)
        assert not os.path.isdir(str(tmp_path / label / "bucket=2"))
    assert outs["derived"] == outs["scanned"]
    assert outs["derived"][0] == 60 + 3  # absent key removed nothing


def test_compact_ivf_int8_index_folds_appends(spark, tmp_path):
    """compact_ivf_int8_index: repeated appends fragment cell
    directories; compaction folds only the fragmented cells back to
    one file each, leaves under-threshold cells byte-identical, keeps
    the _centroids/_meta sidecars, and changes NO query result."""
    import os

    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        append_ivf_int8_index,
        compact_ivf_int8_index,
        ivf_train_centroids,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_train_centroids(emb, cells=8)
    path = str(tmp_path / "idx")
    write_ivf_int8_index(emb.where(F.col("vec_id") % 3 == 0), path,
                         centroids=cents)
    append_ivf_int8_index(emb.where(F.col("vec_id") % 3 == 1), path)
    append_ivf_int8_index(emb.where(F.col("vec_id") % 3 == 2), path)

    def files_of(cell):
        d = os.path.join(path, f"cell={cell}")
        return {f for f in os.listdir(d) if f.startswith("part-")}

    cells = [int(d.split("=")[1]) for d in os.listdir(path)
             if d.startswith("cell=")]
    before = {c: files_of(c) for c in cells}
    assert any(len(v) > 1 for v in before.values())  # fragmented

    q = emb.where(F.col("vec_id") < 5)
    res_before = {tuple(r) for r in ann_ivf_int8_topk(
        emb, q, k=10, centroids=cents, index_path=path).collect()}

    n = compact_ivf_int8_index(spark, path, max_files_per_cell=1)
    assert n == sum(1 for v in before.values() if len(v) > 1)
    after = {c: files_of(c) for c in cells}
    for c in cells:  # fragmented cells folded, others untouched
        if len(before[c]) > 1:
            assert len(after[c]) == 1
        else:
            assert after[c] == before[c]
    assert os.path.isdir(os.path.join(path, "_centroids"))
    assert os.path.isdir(os.path.join(path, "_meta"))
    res_after = {tuple(r) for r in ann_ivf_int8_topk(
        emb, q, k=10, centroids=cents, index_path=path).collect()}
    assert res_after == res_before
    # idempotent: nothing left over threshold
    assert compact_ivf_int8_index(spark, path, max_files_per_cell=1) == 0


def test_purge_ann_index_store(spark, tmp_path):
    """Purging a write_ivf_int8_index store (the derived-store case the
    purge contract names: packed codes of a forgotten document are data
    ABOUT it): purged ids vanish from the indexed scan, the result
    equals the in-memory scan over the corpus minus the purged rows,
    untouched cell partitions stay byte-identical, and the
    _centroids/_meta sidecars survive."""
    import os

    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.merge import purge_keys
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        ivf_train_centroids,
        read_ivf_centroids,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_train_centroids(emb, cells=8)
    path = str(tmp_path / "idx")
    write_ivf_int8_index(emb, path, centroids=cents)

    # victims: every id assigned to ONE cell (so that directory is
    # rewritten or emptied) — read assignments from the index itself
    asg = spark.read.parquet(path).select("neighbor_id", "cell").collect()
    by_cell: dict[int, list[int]] = {}
    for r in asg:
        by_cell.setdefault(r.cell, []).append(r.neighbor_id)
    victim_cell = min(c for c, ids in by_cell.items() if len(ids) >= 3)
    victims = [i for i in by_cell[victim_cell] if i >= 5]

    def files_of(cell):
        d = os.path.join(path, f"cell={cell}")
        return {f for f in os.listdir(d) if f.startswith("part-")}

    before = {c: files_of(c) for c in by_cell}
    removed = purge_keys(spark, path, victims, "neighbor_id", ["cell"])
    assert removed == len(victims)
    for c in by_cell:
        if c != victim_cell:
            assert files_of(c) == before[c]
    assert os.path.isdir(os.path.join(path, "_centroids"))
    assert os.path.isdir(os.path.join(path, "_meta"))
    assert read_ivf_centroids(spark, path) == cents

    q = emb.where(F.col("vec_id") < 5)
    idx = {tuple(r) for r in ann_ivf_int8_topk(
        emb, q, k=10, centroids=cents, index_path=path).collect()}
    assert not {t[1] for t in idx} & set(victims)
    mem = {tuple(r) for r in ann_ivf_int8_topk(
        emb.where(~F.col("vec_id").isin(victims)), q, k=10,
        centroids=cents).collect()}
    assert idx == mem and idx


def test_purge_ann_index_keys_streamed_store(spark, tmp_path):
    """purge_ann_index_keys on a LIVE streamed batch=/cell= store
    (VERDICT r13 Missing #1; r16 tombstone-first default): the DEFAULT
    purge is tombstone-only — purged neighbor_ids vanish from the
    probed scan while EVERY data dir stays byte-identical (no rewrite
    at all), the removed count equals the live rows hidden, and re-run
    is a no-op. mode="rewrite" then pins the physical contract:
    untouched (batch, cell) dirs byte-identical, a batch directory the
    purge fully empties is REMOVED (leaf cell dirs by purge_keys, the
    childless batch parent by the wrapper), the geometry sidecars
    survive. The layout detector tells flat from streamed, and
    mode="tombstone" refuses a flat store."""
    import os
    import time as _t

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_index_partition_cols,
        ann_ivf_int8_topk,
        ivf_train_centroids,
        purge_ann_index_keys,
        read_ivf_centroids,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table
    from oracle_to_snowflake_etl_spark.streaming.jobs import (
        maintain_ann_index_stream,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_train_centroids(emb, cells=8)
    src = tmp_path / "src"
    src.mkdir()
    now = _t.time()
    seen: set = set()
    # batch 0 = even ids, batch 1 = odd ids (two file drops)
    for i, half in enumerate((emb.where(F.col("vec_id") % 2 == 0),
                              emb.where(F.col("vec_id") % 2 == 1))):
        half.coalesce(1).write.mode("append").parquet(str(src))
        for f in os.listdir(src):
            if f.endswith(".parquet") and f not in seen:
                os.utime(src / f, (now + i * 10, now + i * 10))
                seen.add(f)
    idx = str(tmp_path / "idx")
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = maintain_ann_index_stream(stream, idx, str(tmp_path / "ckp"),
                                  cents)
    assert q.awaitTermination(180)

    assert ann_index_partition_cols(spark, idx) == ["batch", "cell"]

    # victims: EVERY odd id (empties batch=1 entirely) plus two even
    # ids (partial rewrite inside batch=0)
    all_ids = [r.vec_id for r in emb.select("vec_id").collect()]
    evens = sorted(i for i in all_ids if i % 2 == 0)
    victims = [i for i in all_ids if i % 2 == 1] + evens[-2:]
    store = spark.read.parquet(idx)
    touched = {(r.batch, r.cell) for r in
               store.where(F.col("neighbor_id").isin(evens[-2:]))
               .select("batch", "cell").collect()}

    def files_of(batch, cell):
        d = os.path.join(idx, f"batch={batch}", f"cell={cell}")
        return {f for f in os.listdir(d) if f.startswith("part-")}

    b0_cells = sorted({r.cell for r in store.where(F.col("batch") == 0)
                       .select("cell").distinct().collect()})
    before = {c: files_of(0, c) for c in b0_cells}
    b1_cells = sorted({r.cell for r in store.where(F.col("batch") == 1)
                       .select("cell").distinct().collect()})
    before1 = {c: files_of(1, c) for c in b1_cells}

    # DEFAULT = tombstone-first: NO data file moves, serving excludes
    removed = purge_ann_index_keys(spark, idx, victims)
    assert removed == len(victims)
    for c in b0_cells:
        assert files_of(0, c) == before[c]
    for c in b1_cells:
        assert files_of(1, c) == before1[c]

    qs = emb.where(~F.col("vec_id").isin(victims)) \
        .where(F.col("vec_id") < 20)
    got = {tuple(r) for r in ann_ivf_int8_topk(
        emb, qs, k=10, centroids=cents, index_path=idx).collect()}
    assert got and not {t[1] for t in got} & set(victims)
    mem = {tuple(r) for r in ann_ivf_int8_topk(
        emb.where(~F.col("vec_id").isin(victims)), qs, k=10,
        centroids=cents).collect()}
    assert got == mem
    assert purge_ann_index_keys(spark, idx, victims) == 0  # idempotent

    # mode="rewrite": the physical contract (rows gone NOW, emptied
    # batch dir removed, untouched dirs byte-identical)
    assert purge_ann_index_keys(spark, idx, victims,
                                mode="rewrite") == len(victims)
    assert not os.path.isdir(os.path.join(idx, "batch=1"))  # emptied
    for c in b0_cells:
        if (0, c) not in touched:
            assert files_of(0, c) == before[c]
    assert os.path.isdir(os.path.join(idx, "_centroids"))
    assert os.path.isdir(os.path.join(idx, "_meta"))
    assert read_ivf_centroids(spark, idx) == cents
    got2 = {tuple(r) for r in ann_ivf_int8_topk(
        emb, qs, k=10, centroids=cents, index_path=idx).collect()}
    assert got2 == mem

    flat = str(tmp_path / "flat")
    write_ivf_int8_index(emb, flat, centroids=cents)
    assert ann_index_partition_cols(spark, flat) == ["cell"]
    import pytest as _pt

    with _pt.raises(ValueError, match="FLAT store"):
        purge_ann_index_keys(spark, flat, victims, mode="tombstone")
    assert purge_ann_index_keys(spark, flat, victims) == len(victims)


def test_streamed_purge_durable_through_replay(spark, tmp_path):
    """The replay race is CLOSED (VERDICT r14 Missing #2): purge a
    live streamed ANN store, then REPLAY the purged batch exactly as
    an at-least-once crash recovery would (fold_ann_index_batch with
    the same batch id and source rows — the foreachBatch body) —
    purged ids must stay absent from the store AND the probed scan
    WITHOUT re-running the purge. The tombstone sidecar is retired by
    the flatten (deletion physical, no sidecar in the flat store),
    and a fresh un-purged store pays only one existence probe (no
    sidecar, no anti-join)."""
    import os

    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        flatten_streamed_ann_index,
        ivf_train_centroids,
        purge_ann_index_keys,
        read_ann_tombstones,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table
    from oracle_to_snowflake_etl_spark.streaming.jobs import (
        fold_ann_index_batch,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_train_centroids(emb, cells=8)
    idx = str(tmp_path / "idx")
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    b1 = emb.where(F.col("vec_id") % 2 == 1)
    # drive the stream's own fold body directly: batch 0 commits,
    # batch 1 commits (same code path foreachBatch runs)
    fold_ann_index_batch(spark, b0, 0, idx, cents)
    fold_ann_index_batch(spark, b1, 1, idx, cents)
    assert read_ann_tombstones(spark, idx) is None  # no purge yet

    victims = [r.vec_id for r in
               b1.where(F.col("vec_id") % 7 == 3)
               .select("vec_id").collect()]
    assert purge_ann_index_keys(spark, idx, victims) == len(victims)
    tomb = read_ann_tombstones(spark, idx)
    assert tomb is not None
    assert {r.neighbor_id for r in tomb.collect()} == set(victims)

    # CRASH REPLAY of the in-flight batch: same id, same source rows.
    # Pre-tombstones this rewrote batch=1 from source and resurrected
    # the purged rows; now the fold anti-joins them out.
    fold_ann_index_batch(spark, b1, 1, idx, cents)
    stored = {r.neighbor_id for r in
              spark.read.parquet(idx).select("neighbor_id").collect()}
    assert not stored & set(victims)          # absent from the STORE
    qs = emb.where(F.col("vec_id") < 20) \
            .where(~F.col("vec_id").isin(victims))
    got = ann_ivf_int8_topk(emb, qs, k=10, centroids=cents,
                            index_path=idx)
    assert not {r.neighbor_id for r in got.collect()} & set(victims)

    # purge-before-replay keys that the replay would re-deliver while
    # the store currently has them deleted: second purge accumulates
    # into the same sidecar (union, not overwrite-with-last)
    more = [r.vec_id for r in
            b0.where(F.col("vec_id") % 10 == 4)
            .select("vec_id").collect()]
    purge_ann_index_keys(spark, idx, more)
    tomb2 = {r.neighbor_id for r in
             read_ann_tombstones(spark, idx).collect()}
    assert tomb2 == set(victims) | set(more)
    fold_ann_index_batch(spark, b0, 0, idx, cents)  # replay batch 0
    stored = {r.neighbor_id for r in
              spark.read.parquet(idx).select("neighbor_id").collect()}
    assert not stored & tomb2

    # flatten retires the tombstones: deletion physical, no sidecar
    flat = str(tmp_path / "flat")
    n = flatten_streamed_ann_index(spark, idx, flat)
    assert n == emb.count() - len(tomb2)
    assert not os.path.isdir(os.path.join(flat, "_tombstones"))
    assert read_ann_tombstones(spark, flat) is None
    flat_ids = {r.neighbor_id for r in
                spark.read.parquet(flat).select("neighbor_id").collect()}
    assert not flat_ids & tomb2 and len(flat_ids) == n

    # flat stores never carry tombstones: a purge there is already
    # durable (in-place delete, no replay path)
    flat2 = str(tmp_path / "flat2")
    write_ivf_int8_index(emb, flat2, centroids=cents)
    purge_ann_index_keys(spark, flat2, victims)
    assert read_ann_tombstones(spark, flat2) is None


def test_reindex_ann_store_atomic_swap_and_stamps(spark, tmp_path):
    """Geometry migration (VERDICT r14 Missing #4,
    operators/similarity.reindex_ann_store): an int8 store built under
    an 8-cell snapshot is rebuilt in a sibling under a fresh 16-cell
    snapshot and atomically swapped in — afterwards the store serves
    indexed == in-memory under the NEW geometry, queries passing the
    OLD matrix explicitly RAISE on the _meta stamp (the fail-fast the
    migration exists for), mid-swap leftovers refuse with the recovery
    named, and streamed stores refuse. A legacy product-quantization
    store (a retired format: packed ``pqb`` codes, no int8 ``qb``)
    fails serving with the kernel's corrupt-store error and migrates
    by reindex to an int8 store equal to a fresh build."""
    import os

    import pytest as _pt
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        _write_centroids,
        ann_ivf_int8_topk,
        ann_topk,
        ivf_train_centroids,
        read_ivf_centroids,
        reindex_ann_store,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table
    from oracle_to_snowflake_etl_spark.streaming.jobs import (
        fold_ann_index_batch,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    old_c = ivf_train_centroids(emb, cells=8)
    new_c = ivf_train_centroids(emb, cells=16)
    idx = str(tmp_path / "idx")
    write_ivf_int8_index(emb, idx, centroids=old_c)
    q = emb.where(F.col("vec_id") < 10)

    n = reindex_ann_store(spark, emb, idx, centroids=new_c)
    assert n == emb.count()
    assert read_ivf_centroids(spark, idx) == new_c
    assert not os.path.isdir(idx + ".reindex")
    assert not os.path.isdir(idx + ".old")
    # serves under the new geometry, indexed == in-memory
    got = sorted(map(tuple, ann_ivf_int8_topk(
        emb, q, k=10, index_path=idx).collect()))
    mem = sorted(map(tuple, ann_ivf_int8_topk(
        emb, q, k=10, centroids=new_c).collect()))
    assert got == mem and got
    # the OLD snapshot is now foreign: explicit use fails fast
    with _pt.raises(ValueError, match="do not match the geometry"):
        ann_ivf_int8_topk(emb, q, k=10, centroids=old_c,
                          index_path=idx).collect()

    # mid-swap leftovers refuse with the recovery named
    os.makedirs(idx + ".old")
    with _pt.raises(ValueError, match="interrupted swap"):
        reindex_ann_store(spark, emb, idx, centroids=old_c)
    os.rmdir(idx + ".old")

    # streamed stores are owned by their checkpoint: refuse
    sidx = str(tmp_path / "sidx")
    fold_ann_index_batch(spark, emb, 0, sidx, old_c)
    with _pt.raises(ValueError, match="STREAMED"):
        reindex_ann_store(spark, emb, sidx, centroids=new_c)

    # legacy product-quantization store, laid out by hand as its
    # retired writer left it: 8-byte pqb codes partitioned by cell,
    # the _centroids/_meta stamps and the quantizer sidecar dir
    legacy = str(tmp_path / "legacy")
    (emb.select(F.col("vec_id").alias("neighbor_id"),
                F.expr("unhex(repeat('0f', 8))").alias("pqb"),
                (F.col("vec_id") % 8).cast("int").alias("cell"))
     .write.partitionBy("cell").parquet(legacy))
    _write_centroids(spark, legacy, old_c)
    quantizer = legacy + "/_codebooks"
    spark.createDataFrame(
        [(j, c, [0.0] * 8, False) for j in range(8) for c in range(16)],
        "sub int, code int, w array<double>, residual boolean") \
        .write.parquet(quantizer)
    # serving reads it as an int8 store: qb is absent, so every row
    # carries a NULL code and the kernel refuses the store
    with _pt.raises(Exception, match="int8 index store has NULL qb rows"):
        ann_topk(emb, q, legacy, k=10).collect()
    # reindex migrates it: an int8 store equal to a fresh build
    assert reindex_ann_store(spark, emb, legacy,
                             centroids=new_c) == emb.count()
    assert not os.path.isdir(quantizer)
    fresh = str(tmp_path / "fresh")
    write_ivf_int8_index(emb, fresh, centroids=new_c)
    cols = ("neighbor_id", "cell", "scale", "qb")

    def stored(path):
        return sorted(map(tuple, spark.read.parquet(path)
                          .select(*cols).collect()))

    assert stored(legacy) == stored(fresh)
    got = sorted(map(tuple, ann_topk(emb, q, legacy, k=10).collect()))
    want = sorted(map(tuple, ann_topk(emb, q, fresh, k=10).collect()))
    assert got == want and got


def test_filtered_serving_on_live_streamed_store(spark, tmp_path):
    """The attribute-filter contract holds across the index LIFECYCLE:
    a live streamed store folded with meta_cols serves filter_pred
    (pushed predicate over the stored attribute) and filter_ids
    through ann_topk — the facade auto-detects the streamed int8
    layout — with results equal to the filtered in-memory scan."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        ann_topk,
        ivf_train_centroids,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table
    from oracle_to_snowflake_etl_spark.streaming.jobs import (
        fold_ann_index_batch,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_train_centroids(emb, cells=8)
    idx = str(tmp_path / "idx")
    fold_ann_index_batch(spark, emb.where(F.col("vec_id") % 2 == 0),
                         0, idx, cents, meta_cols=("label",))
    fold_ann_index_batch(spark, emb.where(F.col("vec_id") % 2 == 1),
                         1, idx, cents, meta_cols=("label",))

    pred = F.col("label") % 3 == 0
    elig = {r.vec_id for r in
            emb.where(pred).select("vec_id").collect()}
    q = emb.where(F.col("vec_id") < 10)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    got_pred = pairs(ann_topk(emb, q, idx, k=5, filter_pred=pred))
    got_ids = pairs(ann_topk(emb, q, idx, k=5,
                             filter_ids=sorted(elig)))
    mem = pairs(ann_ivf_int8_topk(emb, q, k=5, centroids=cents,
                                  filter_pred=pred))
    assert got_pred == got_ids == mem and got_pred
    assert {n for _, n in got_pred} <= elig


def test_ann_index_report_and_everywhere_fanout(spark, tmp_path):
    """ann_index_report: the serving owner's health view from one
    metadata walk — layout/geometry stamps, fragmentation (the
    compaction trigger surfaced as a number), tombstone backlog.
    purge_keys_everywhere(kind='ann_index') routes ANN stores through
    the layout-aware wrapper, so ONE forget request covers corpus +
    derived fingerprints + serving indexes in a single call."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.merge import (
        purge_keys_everywhere,
    )
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_index_report,
        append_ivf_int8_index,
        ivf_train_centroids,
        purge_ann_index_keys,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table
    from oracle_to_snowflake_etl_spark.streaming.jobs import (
        fold_ann_index_batch,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    cents = ivf_train_centroids(emb, cells=8)

    flat = str(tmp_path / "flat")
    write_ivf_int8_index(emb, flat, centroids=cents)
    r = ann_index_report(spark, flat)
    assert r["layout"] == "flat"
    assert r["cells"] == 8 and r["dims"] == 64
    assert r["n_cells"] <= 8 and r["n_files"] >= r["n_cells"]
    assert r["data_bytes"] > 0 and r["tombstones"] == 0
    base_files = r["n_files"]
    # appends fragment; the report shows it growing
    for _ in range(5):
        append_ivf_int8_index(emb.limit(50), flat)
    r2 = ann_index_report(spark, flat)
    assert r2["n_files"] > base_files
    assert r2["max_files_per_cell"] >= 5 and r2["frag_cells"] >= 1

    sidx = str(tmp_path / "sidx")
    fold_ann_index_batch(spark, emb.where(F.col("vec_id") % 2 == 0),
                         0, sidx, cents)
    fold_ann_index_batch(spark, emb.where(F.col("vec_id") % 2 == 1),
                         1, sidx, cents)
    victims = [r_.vec_id for r_ in
               emb.where(F.col("vec_id") % 9 == 2)
               .select("vec_id").collect()]
    # the everywhere fan-out: corpus-like store + the streamed index
    corpus_store = str(tmp_path / "corpus")
    emb.withColumn("bucket", (F.col("vec_id") % 4).cast("int")) \
       .write.partitionBy("bucket").parquet(corpus_store)
    out = purge_keys_everywhere(spark, [
        {"path": corpus_store, "key_col": "vec_id",
         "partition_cols": ["bucket"],
         "partition_of": lambda k: (int(k) % 4,)},
        {"path": sidx, "kind": "ann_index"},
    ], victims)
    assert out[corpus_store] == len(victims)
    assert out[sidx] == len(victims)
    rs = ann_index_report(spark, sidx)
    assert rs["layout"] == "streamed" and rs["n_batches"] == 2
    assert rs["tombstones"] == len(victims)  # deny-list visible
    # kind='ann_index' rejects explicit key_col (silent-wrong guard)
    with _pt.raises(ValueError, match="ann_index"):
        purge_keys_everywhere(spark, [
            {"path": sidx, "kind": "ann_index", "key_col": "x"}],
            victims)
    # a second purge accumulates; the report tracks the backlog
    more = [r_.vec_id for r_ in
            emb.where(F.col("vec_id") % 9 == 3)
            .select("vec_id").collect()]
    purge_ann_index_keys(spark, sidx, more)
    assert ann_index_report(spark, sidx)["tombstones"] == \
        len(set(victims) | set(more))


def test_purge_keys_null_and_duplicate_keys_counting(spark, tmp_path):
    """The r15 two-aggregation purge_keys restructure derives
    removed/touched/written/emptied ARITHMETICALLY from per-partition
    hit/row counts — pin the edges that arithmetic must get right:
    NULL key rows are never purged (and never counted as hits),
    duplicate keys in the request don't multiply hit counts (the
    broadcast-join locate path must dedupe its build side), and the
    return value equals the true rows removed on both the isin and
    join paths."""
    from oracle_to_snowflake_etl_spark.operators.merge import (
        PURGE_ISIN_MAX,
        purge_keys,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import (
        write_partitioned,
    )

    for tag, blow_past_isin in (("isin", False), ("join", True)):
        path = str(tmp_path / f"purge_{tag}")
        base = spark.range(0, 30).select(
            (F.col("id") % 3).alias("p"),
            F.when(F.col("id") % 10 == 9, None)
             .otherwise(F.col("id")).alias("k"),
            (F.col("id") * 2).alias("v"))
        write_partitioned(base, path, ["p"])
        victims = [0, 3, 3, 3, 9, 19, 29]  # 9/19/29 are NULL rows' ids
        if blow_past_isin:
            # pad with absent keys so len(keys) > PURGE_ISIN_MAX
            # exercises the broadcast semi/anti path; dupes included
            victims = victims + list(range(1000, 1000 + PURGE_ISIN_MAX))
        removed, touched, emptied = purge_keys(
            spark, path, victims, "k", ["p"], detail=True)
        # only k=0 and k=3 exist (9/19/29 became NULL); dupes count once
        assert removed == 2, tag
        assert sorted(touched) == [(0,)], tag
        assert emptied == [], tag
        out = spark.read.parquet(path)
        assert out.count() == 28, tag
        assert out.where(F.col("k").isNull()).count() == 3, tag


def test_ann_sidecar_driver_io_roundtrip(spark, tmp_path):
    """The r15 driver-side sidecar I/O (_sidecar_write/_sidecar_read):
    values roundtrip exactly, the files are ordinary parquet Spark can
    read, and a sidecar written the OLD way (a Spark repartition(1)
    write) is still readable through the new reader — the
    compatibility old stores on disk rely on."""
    from oracle_to_snowflake_etl_spark.operators.similarity import (
        _write_ann_tombstones,
        read_ann_tombstones,
        read_ivf_centroids,
        read_ivf_index_meta,
        _write_centroids,
    )

    idx = str(tmp_path / "idx")
    cents = tuple(tuple(float(c * 8 + d) for d in range(4))
                  for c in range(3))
    _write_centroids(spark, idx, cents)
    assert read_ivf_centroids(spark, idx) == cents
    meta = read_ivf_index_meta(spark, idx)
    assert (meta["cells"], meta["dims"]) == (3, 4)
    # Spark reads the driver-written sidecar as plain parquet
    rows = spark.read.parquet(idx + "/_centroids").orderBy("cell").collect()
    assert [tuple(r.w) for r in rows] == [tuple(c) for c in cents]

    # tombstones: merge semantics + dedupe, and None before first purge
    assert read_ann_tombstones(spark, idx) is None
    _write_ann_tombstones(spark, idx, [5, 3, 3])
    _write_ann_tombstones(spark, idx, [7, 5])
    got = sorted(r.neighbor_id
                 for r in read_ann_tombstones(spark, idx).collect())
    assert got == [3, 5, 7]

    # old-style (Spark-written, possibly multi-file) sidecar stays
    # readable through the new driver-side reader
    old = str(tmp_path / "old")
    (spark.createDataFrame([(c, list(w)) for c, w in enumerate(cents)],
                           "cell int, w array<double>")
     .repartition(2).write.parquet(old + "/_centroids"))
    assert read_ivf_centroids(spark, old) == cents

    # overwrite-while-reading (r16 stage+rename commit, ADVICE r15):
    # interleave rewrites with reads — every read must observe a
    # complete, valid sidecar state (one of the committed sets), never
    # a missing dir or partial file, and no .__tmp__ staging dir may
    # survive a completed write
    import os as _os

    for i in range(6):
        _write_ann_tombstones(spark, idx, [100 + i])
        seen = sorted(r.neighbor_id
                      for r in read_ann_tombstones(spark, idx).collect())
        assert set([3, 5, 7] + [100 + j for j in range(i + 1)]) \
            == set(seen)
    assert not _os.path.exists(idx + "/_tombstones.__tmp__")
    # the staged dir never leaks into Spark's view of the index root
    names = set(_os.listdir(idx))
    assert "_tombstones" in names and "_centroids" in names
    assert not [n for n in names if n.endswith(".__tmp__")]


def test_ann_handle_sees_every_write(spark, sf_dir, tmp_path):
    """The session's index handle (similarity.open_ann_index) is reused
    across requests while nothing writes, and each write shows in the
    next request on the same path — through the index root's mtime
    stamp alone: a purge of a key the first request returned, an
    appended twin of a query vector (its new nearest neighbour), and a
    reindex to another geometry."""
    from pyspark.sql import functions as F

    from oracle_to_snowflake_etl_spark.operators.similarity import (
        ann_ivf_int8_topk,
        ann_topk,
        append_ivf_int8_index,
        open_ann_index,
        purge_ann_index_keys,
        reindex_ann_store,
        write_ivf_int8_index,
    )
    from oracle_to_snowflake_etl_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.orderBy("vec_id").limit(12).collect()
    old_c = tuple(tuple(r.embedding) for r in vecs[:4])
    new_c = tuple(tuple(r.embedding) for r in vecs[4:])
    idx = str(tmp_path / "idx")
    write_ivf_int8_index(emb, idx, centroids=old_c)
    qid = vecs[0].vec_id
    q = emb.where(F.col("vec_id") == qid)

    def serve(corpus):
        return sorted(map(tuple, ann_topk(corpus, q, idx, k=5).collect()))

    first = serve(emb)
    h = open_ann_index(spark, idx)
    assert open_ann_index(spark, idx) is h

    victim = first[0][1]
    assert purge_ann_index_keys(spark, idx, [victim]) == 1
    second = serve(emb)
    assert victim not in {r[1] for r in second} and len(second) == 5
    assert open_ann_index(spark, idx) is not h

    twin_id = emb.agg(F.max("vec_id")).first()[0] + 1
    twin = (emb.where(F.col("vec_id") == qid)
            .withColumn("vec_id", F.lit(twin_id).cast("long")))
    corpus = emb.where(F.col("vec_id") != victim).unionByName(twin)
    h = open_ann_index(spark, idx)
    assert append_ivf_int8_index(twin, idx) == 1
    third = serve(corpus)
    assert max(third, key=lambda r: (r[2], -r[1]))[1] == twin_id
    assert open_ann_index(spark, idx) is not h

    reindex_ann_store(spark, corpus, idx, centroids=new_c)
    fourth = serve(corpus)
    assert open_ann_index(spark, idx).centroids == new_c
    assert fourth == sorted(map(tuple, ann_ivf_int8_topk(
        corpus, q, k=5, centroids=new_c).collect()))
