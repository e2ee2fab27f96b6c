"""Sources: parquet testdata loader + the reference's CSV scan semantics.

Reference sites covered (SURVEY.md §2.1):
  S3 CSV scan of latest date-stamped file (reference insert_ads_data.py:6-10)
  parquet is the engine-native storage format (columnar, splittable,
  predicate-pushdown-capable — the replacement for the reference's
  row-oriented cursor fetch at oracle_to_snowflake.py:32-33).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver testdata table. Parquet scans are columnar and
    filter/projection-pushdown-capable — check `.explain("formatted")` for
    ``PushedFilters``/``ReadSchema`` when composing queries on top.

    SESSION SIDE EFFECT (part of this function's contract): sets
    ``spark.sql.session.timeZone=UTC`` and
    ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's
    session — the engine's cross-engine determinism contract pins all
    timestamp semantics to UTC (epoch-based window ids, DuckDB-oracle
    parity), and the testdata's ``events.ts`` physical type requires the
    nanos conf (see below). Callers embedding this reader in a session
    whose other queries rely on a non-UTC session timezone should save
    and restore ``spark.sql.session.timeZone`` around engine use."""
    # events.ts has shipped in two physical shapes across testdata
    # generations: parquet TIMESTAMP(NANOS) (Spark rejects it by default —
    # PARQUET_TYPE_ILLEGAL; nanosAsLong reads it as an epoch-nanos long)
    # and plain timestamp[us] with isAdjustedToUTC=false (arrives as
    # TIMESTAMP_NTZ). Both confs are runtime-settable, so set them here
    # rather than in the session factory: load_table must work under ANY
    # caller-provided SparkSession, not just get_spark()'s. UTC session
    # time keeps the NTZ->LTZ normalization value-exact (the engine's
    # cross-engine determinism contract; the DuckDB oracle treats these
    # timestamps as naive).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _exclude_generate_filter_rule(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_cached_schema(spark, path)).parquet(path)
    for field in df.schema.fields:
        if field.name != "ts":
            continue
        kind = field.dataType.simpleString()
        if kind == "bigint":
            # nanos-as-long: integer `div`, NOT `/` — float division of
            # epoch-nanos (~1.7e18 > 2^53) drops low bits, ±1 µs off
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "timestamp_ntz":
            # µs-precision naive timestamp: reinterpret in UTC so
            # epoch-based window ids (unix_micros) resolve; value-exact
            # under the UTC session timezone set above.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: parquet SCHEMA cache (r15, guide §1.2): every bare
#: ``spark.read.parquet(path)`` runs a schema-inference job (~0.1-0.2 s
#: of pure scheduling for a footer read) — per table, per query, per
#: bench run. The schema of an immutable testdata table never changes,
#: so cache it keyed on (path, mtime, size) — the metadata a catalog /
#: metastore would hold — and hand it to the reader explicitly. This
#: caches METADATA only, never rows or results: every query still
#: computes from the parquet bytes.
_SCHEMA_CACHE: dict = {}


def _cached_schema(spark: SparkSession, path: str) -> T.StructType:
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # non-local filesystem (s3a://, hdfs://): no cheap mtime/size
        # invalidation key exists here, so SKIP the cache entirely and
        # infer per read — caching under a bare path key would serve a
        # stale schema forever after a remote rewrite (ADVICE r15).
        return spark.read.parquet(path).schema
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


#: InferFiltersFromGenerate turns every explode into a pushed-down
#: `size(arr) > 0` filter with the generator's FULL input expression
#: inlined — an expensive array pipeline (shingling, signature folds,
#: UDF codes) is then recomputed per row below the projection that was
#: supposed to compute it once (measured 12x on 3-gram shingling). The
#: rule only saves skipping empty arrays; exclude it. Runtime-settable,
#: so it also protects queries run under a caller-provided session.
_GEN_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _exclude_generate_filter_rule(spark: SparkSession) -> None:
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    if not cur:
        spark.conf.set("spark.sql.optimizer.excludedRules", _GEN_RULE)
    elif _GEN_RULE not in cur:
        spark.conf.set("spark.sql.optimizer.excludedRules", f"{cur},{_GEN_RULE}")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_csv_latest(spark: SparkSession, directory: str, schema: T.StructType,
                    prefix: str = "ads_data_", suffix: str = ".csv") -> DataFrame:
    """Reference S3: pick the lexicographically-last matching CSV and read it
    with an EXPLICIT schema (reference insert_ads_data.py:6-10 infers via
    pandas; SURVEY.md §1.3 mandates explicit StructType in our engine).

    The single-file choice mirrors the reference exactly; at scale the
    natural form is the whole directory (``spark.read.csv(dir)``), which
    stays partition-parallel.
    """
    files = sorted(
        f for f in glob.glob(os.path.join(directory, f"{prefix}*{suffix}"))
    )
    if not files:
        raise FileNotFoundError(f"no {prefix}*{suffix} under {directory}")
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("dateFormat", "yyyy-MM-dd")
        .csv(files[-1])
    )


def versioned_csv_path(directory: str, date_str: str | None = None,
                       prefix: str = "ads_data_", suffix: str = ".csv") -> str:
    """Reference S2 (generate_ads_data.py:48-52): date-stamped filename
    with an ``A,B,C…`` version letter, bumped past every existing file —
    the reference's no-overwrite rule (the first file of a day is
    ``…A.csv``, a rerun writes ``…B.csv``, and so on)."""
    import datetime as _dt

    if date_str is None:
        date_str = _dt.date.today().strftime("%Y-%m-%d")
    letter = "A"
    while os.path.exists(os.path.join(directory, f"{prefix}{date_str}{letter}{suffix}")):
        letter = chr(ord(letter) + 1)
    return os.path.join(directory, f"{prefix}{date_str}{letter}{suffix}")


def write_csv_versioned(df: DataFrame, directory: str,
                        date_str: str | None = None,
                        prefix: str = "ads_data_", suffix: str = ".csv") -> str:
    """Single-CSV-file export under the reference's versioned naming
    (generate_ads_data.py:48-55 parity). coalesce(1) is deliberate: the
    reference contract IS one file — at scale use write_csv (a parallel
    directory write) and treat the directory as the dataset."""
    import shutil

    os.makedirs(directory, exist_ok=True)
    path = versioned_csv_path(directory, date_str, prefix, suffix)
    tmp = path + "._spark_tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = next(f for f in sorted(os.listdir(tmp)) if f.startswith("part-"))
    shutil.move(os.path.join(tmp, part), path)
    shutil.rmtree(tmp)
    return path


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference S1 CSV sink (generate_ads_data.py:55): header on, no index
    concept in Spark. Engine-native storage stays parquet; CSV is a boundary
    format only."""
    df.write.mode(mode).option("header", True).csv(path)


def read_json_lines(spark: SparkSession, path: str, schema: T.StructType,
                    corrupt_col: str = "_corrupt_record") -> DataFrame:
    """ndjson source with QUARANTINE semantics: explicit schema (never
    inferred — inference is a full extra pass and schema drift becomes
    silent), PERMISSIVE mode, and a corrupt-record column so malformed
    lines survive into the result for routing to a dead-letter sink
    instead of killing a 100 TB job (FAILFAST) or vanishing
    (DROPMALFORMED). Callers split on ``corrupt_col IS NULL``.

    Spark caveat baked in: a PERMISSIVE read cannot select ONLY the
    corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN — column pruning
    would leave the parser nothing to parse) — cache() the frame before
    splitting it into good/dead-letter halves, or carry at least one
    data column through the split.
    """
    full = T.StructType(
        schema.fields + [T.StructField(corrupt_col, T.StringType())])
    return (spark.read.schema(full)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
            .json(path))


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with SCHEMA EVOLUTION: mergeSchema unions the
    per-file schemas (files written before a column existed yield NULL
    for it). The listed-files footer merge is a driver-side metadata
    operation — no data read — but it scales with file count, which is
    why production tables promote the merged schema into a catalog
    (table format) instead of re-merging per query; this is the
    raw-directory form."""
    return spark.read.option("mergeSchema", True).parquet(path)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      sort_cols: list[str] | None = None,
                      mode: str = "overwrite") -> None:
    """Hive-style partitioned parquet layout — the at-rest half of
    partition pruning. A filter on a partition column then prunes whole
    directories at PLANNING time (scan shows non-empty PartitionFilters,
    plan-asserted in tests/test_plans.py), so a one-day query over a
    seven-year table opens one day's files.

    Two layout disciplines baked in:
      * repartition BY THE PARTITION COLUMNS first — otherwise every
        task writes a file into every partition directory it touches
        (tasks × partitions small files, the mess compact_parquet
        exists to clean up);
      * optional sortWithinPartitions gives row-group min/max locality
        on the sort keys, so predicates on those columns skip row
        groups inside the surviving partitions (the poor man's Z-order;
        single-column clustering only).

    Choose partition columns with BOUNDED cardinality (a date, a
    region): thousands of directories are fine, millions of tiny ones
    move the bottleneck to the file listing.
    """
    w = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        w = w.sortWithinPartitions(*sort_cols)
    w.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions_dynamic(df: DataFrame, path: str,
                                 partition_cols: list[str]) -> None:
    """Incremental partition refresh: replace ONLY the partitions present
    in ``df``, leaving every other partition's files untouched — the
    reprocess-one-day operation on a partitioned lakehouse table
    (reference semantics: truncate-reload, but scoped to the affected
    partitions instead of the whole table).

    Uses ``partitionOverwriteMode=dynamic`` (set per-write via
    DataFrameWriter option, so the session default stays STATIC — a
    static-mode ``overwrite`` on the same path would silently drop every
    partition NOT in ``df``, which is the classic footgun this wrapper
    exists to fence off).

    At 100 TB: the rewrite cost is proportional to the data being
    replaced, never to table size; readers of untouched partitions are
    unaffected (their files are never rewritten). For concurrent-writer
    or snapshot-isolation needs this is the hand-rolled precursor of
    Delta/Iceberg ``replaceWhere`` / ``overwritePartitions`` (README
    MERGE position).
    """
    (df.repartition(*[F.col(c) for c in partition_cols])
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_cols)
       .parquet(path))


def compact_parquet(spark: SparkSession, path: str,
                    target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-files compaction — the unglamorous operation that keeps a
    100 TB lakehouse queryable. Streaming/incremental appends leave
    thousands of KB-sized files per partition; every later scan then
    pays per-file open/footer costs and the scheduler floods with tiny
    tasks. Rewrite the directory into ~target-sized files:

      1. size the input from FILE METADATA (no data read, no count job),
      2. round-robin repartition to ceil(bytes / target) — uniform
         output files regardless of source skew,
      3. write to a sibling tmp dir, then atomically swap.

    Returns the new file count. (Table formats do this as OPTIMIZE /
    rewrite_data_files; this is the plain-parquet form.)
    """
    import shutil

    files = [f for f in os.listdir(path)
             if f.endswith(".parquet") or f.startswith("part-")]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    n_out = max(1, -(-total // target_file_bytes))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)
    bak = path.rstrip("/") + "._compact_old"
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return len([f for f in os.listdir(path) if f.startswith("part-")])


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int = 8, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed (hash-clustered) catalog table — the co-located-join
    primitive (SURVEY.md §4.2 'bucketing for co-located joins').

    Writing both sides of a hot equi-join bucketed on the join key by
    the SAME bucket count makes every later join/aggregation on that key
    SHUFFLE-FREE: Spark matches the bucket specs and plans a sort-merge
    join with zero Exchange on either side (asserted in
    tests/test_plans.py). At 100 TB this converts the dominant recurring
    shuffle of a fact-to-fact join into a one-time write-side cost;
    sortBy pre-orders within buckets so even the merge sort is cheap.
    """
    w = (df.write.mode(mode)
         .bucketBy(num_buckets, *bucket_cols)
         .sortBy(*(sort_cols or bucket_cols)))
    w.format("parquet").saveAsTable(table)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the second columnar boundary format (Hive-ecosystem
    interchange). Same pushdown properties as parquet: predicate
    pushdown + column pruning reach the stripe reader, splittable for
    partition-parallel scans. Schema comes from file metadata, like
    parquet — the CSV/JSON explicit-schema rule is about TEXT formats
    with no embedded types. Avro, by contrast, is NOT wired: Spark
    ships it as an external module absent from this environment — same
    import-try gate policy as Delta/protobuf."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    """ORC sink — min/max per stripe like parquet footers, so predicate
    pushdown and stripe skipping survive the format change (roundtrip
    pushdown asserted in tests/test_pipeline.py). Engine-native storage
    stays parquet; ORC is a boundary format for Hive-stack consumers."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
