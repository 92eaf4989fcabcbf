"""End-to-end streaming pipeline wiring (SURVEY.md §3.2 engine lifecycle).

``readStream(start dir) ∪ readStream(end dir)`` → tag (T7) → keyed state
machine (T2/T3) → ``foreachBatch`` append into the partitioned trips
store (S5), orphans quarantined.  The daily KPI job (T6) then runs as a
partition-pruned batch over the store.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from real_time_trip_processing_project_spark.operators import trip_batch
from real_time_trip_processing_project_spark.sources import sinks
from real_time_trip_processing_project_spark.streaming import correlator as C

#: RocksDB-backed streaming state store (Spark built-in since 3.2).  The
#: default HDFSBackedStateStoreProvider keeps every version of the keyed
#: state on the executor heap; with an unbounded trip-id keyspace (the
#: reference's DynamoDB table grows without limit — trip_processor.py:54,78)
#: that heap is the first thing to fall over at 100 TB.  RocksDB spills
#: state to local disk with incremental checkpointing, the standard
#: production choice for large stateful pipelines.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: Spark's default (heap-backed) state store — set explicitly when
#: ``state_store="hdfs"`` so pipelines alternating providers in one
#: session each get what they asked for (the conf is session-global).
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)

#: JSON-on-the-wire schemas per stream (datetimes are strings on the wire,
#: matching the reference's CSV→JSON events — send_to_kinesis.py:45-50).
START_WIRE = T.StructType(
    [
        T.StructField("trip_id", T.StringType(), False),
        T.StructField("pickup_location_id", T.IntegerType(), True),
        T.StructField("dropoff_location_id", T.IntegerType(), True),
        T.StructField("vendor_id", T.IntegerType(), True),
        T.StructField("pickup_datetime", T.StringType(), True),
        T.StructField("estimated_dropoff_datetime", T.StringType(), True),
        T.StructField("estimated_fare_amount", T.DoubleType(), True),
    ]
)

END_WIRE = T.StructType(
    [
        T.StructField("dropoff_datetime", T.StringType(), True),
        T.StructField("rate_code", T.DoubleType(), True),
        T.StructField("passenger_count", T.DoubleType(), True),
        T.StructField("trip_distance", T.DoubleType(), True),
        T.StructField("fare_amount", T.DoubleType(), True),
        T.StructField("tip_amount", T.DoubleType(), True),
        T.StructField("payment_type", T.DoubleType(), True),
        T.StructField("trip_type", T.DoubleType(), True),
        T.StructField("trip_id", T.StringType(), False),
    ]
)


#: Name of the PERMISSIVE-mode corrupt-record capture column (T5).
CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )


def _tag(df: DataFrame, event_type: str) -> DataFrame:
    """T7 dual-stream routing: attach the discriminator and align to the
    unified wire schema (missing fields → NULL)."""
    cols = [F.lit(event_type).alias("event_type")]
    present = set(df.columns)
    for field in C.WIRE_SCHEMA.fields:
        if field.name == "event_type":
            continue
        if field.name in present:
            cols.append(F.col(field.name).cast(field.dataType))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def tagged_union_stream(
    spark: SparkSession,
    start_dir: str,
    end_dir: str,
    max_files_per_trigger: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Two file-source streams (S4) unioned with event_type tags (T7);
    returns (tagged_valid_stream, quarantine_stream).

    ``maxFilesPerTrigger`` is the micro-batch size analogue of the
    reference's 100-record Kinesis trigger (README.md:26-28).

    Per-record error isolation (T5): the JSON sources parse in PERMISSIVE
    mode capturing malformed lines into ``_corrupt_record``.  The
    reference swallows such records with a catch-all and still returns
    200 (trip_processor.py:82-89); the engine instead routes them to a
    quarantine sink as data (rows where the capture column is set, or
    where the required ``trip_id`` key is missing).
    """

    def _read(schema: T.StructType, path: str, tag: str) -> DataFrame:
        reader = (
            spark.readStream.schema(_with_corrupt(schema))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        df = reader.json(path)
        bad = F.col(CORRUPT_COL).isNotNull() | F.col("trip_id").isNull()
        quarantine = df.filter(bad).select(
            F.lit(tag).alias("stream"),
            F.coalesce(F.col(CORRUPT_COL), F.to_json(F.struct("*"))).alias(
                "raw"
            ),
        )
        return _tag(df.filter(~bad).drop(CORRUPT_COL), tag), quarantine

    starts, bad_starts = _read(START_WIRE, start_dir, "trip_start")
    ends, bad_ends = _read(END_WIRE, end_dir, "trip_end")
    return starts.unionByName(ends), bad_starts.unionByName(bad_ends)


def tagged_union_batch(
    spark: SparkSession, start_dir: str, end_dir: str
) -> DataFrame:
    """Static twin of :func:`tagged_union_stream` (backfill / bench
    replay): same schema, PERMISSIVE decode, validity filter, tag and
    union — via ``spark.read`` instead of ``readStream`` (malformed rows
    are dropped here rather than quarantined; the streaming path owns
    T5 isolation)."""

    def _read(schema: T.StructType, path: str, tag: str) -> DataFrame:
        df = (
            spark.read.schema(_with_corrupt(schema))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .json(path)
        )
        bad = F.col(CORRUPT_COL).isNotNull() | F.col("trip_id").isNull()
        return _tag(df.filter(~bad).drop(CORRUPT_COL), tag)

    return _read(START_WIRE, start_dir, "trip_start").unionByName(
        _read(END_WIRE, end_dir, "trip_end")
    )


def decode_kafka_records(
    records: DataFrame,
    start_topic: str = "trip-start",
    end_topic: str = "trip-end",
) -> tuple[DataFrame, DataFrame]:
    """Decode Kafka-framed records (key/value binary + topic) into the same
    (tagged_valid, quarantine) pair :func:`tagged_union_stream` produces.

    This is the production wire mapping SURVEY §1 names for the
    reference's Kinesis consumer: PartitionKey=trip_id → Kafka message
    key (send_to_kinesis.py:56 uses the trip id as the partition key, so
    per-trip ordering is preserved per partition), JSON payload → message
    value, one topic per stream.  Works identically on a streaming
    ``format("kafka")`` frame or an injected batch frame with the same
    columns — which is how it is unit-tested without a broker.

    Per-record error isolation (T5): ``from_json`` in PERMISSIVE mode
    captures malformed payloads in the corrupt-record column; those rows
    (and null/missing trip ids) route to the quarantine side.
    """

    def _decode(schema: T.StructType, topic: str, tag: str):
        raw = records.filter(F.col("topic") == topic).select(
            F.col("value").cast("string").alias("raw")
        )
        parsed = raw.select(
            "raw",
            F.from_json(
                "raw",
                _with_corrupt(schema),
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            ).alias("r"),
        ).select("raw", "r.*")
        # a null Kafka value (tombstone) parses to an all-null struct and
        # lands in quarantine through the trip_id null check
        bad = F.col(CORRUPT_COL).isNotNull() | F.col("trip_id").isNull()
        quarantine = parsed.filter(bad).select(
            F.lit(tag).alias("stream"), F.col("raw").alias("raw")
        )
        ok = parsed.filter(~bad).drop(CORRUPT_COL, "raw")
        return _tag(ok, tag), quarantine

    starts, bad_starts = _decode(START_WIRE, start_topic, "trip_start")
    ends, bad_ends = _decode(END_WIRE, end_topic, "trip_end")
    return starts.unionByName(ends), bad_starts.unionByName(bad_ends)


def tagged_union_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    start_topic: str = "trip-start",
    end_topic: str = "trip-end",
    max_offsets_per_trigger: int | None = None,
    starting_offsets: str = "earliest",
) -> tuple[DataFrame, DataFrame]:
    """Kafka-source variant of :func:`tagged_union_stream` (S3/S4 beyond
    the local-dir stand-in): subscribe to both topics, decode via
    :func:`decode_kafka_records`.

    ``maxOffsetsPerTrigger`` is the micro-batch size analogue of the
    reference's 100-record Kinesis trigger.  Requires the
    ``spark-sql-kafka`` connector on the classpath at deploy time; the
    decode path itself is connector-independent and covered by tests.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", f"{start_topic},{end_topic}")
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option(
            "maxOffsetsPerTrigger", str(max_offsets_per_trigger)
        )
    return decode_kafka_records(reader.load(), start_topic, end_topic)


@dataclass
class PipelineQueries:
    """Handles for the running pipeline: the main trips query plus the
    optional quarantine query — explicit, instead of smuggled through a
    private attribute on the main query."""

    main: StreamingQuery
    quarantine: StreamingQuery | None = None

    def await_termination(self, timeout: float | None = None) -> bool:
        """Wait for both queries.  ``timeout`` (seconds) is a combined
        budget — the quarantine wait gets whatever the main wait left —
        and the return value says whether every query actually
        terminated (False = the budget ran out first).  With no timeout,
        blocks until both terminate and returns True."""
        import time

        if timeout is None:
            self.main.awaitTermination()
            if self.quarantine is not None:
                self.quarantine.awaitTermination()
            return True
        deadline = time.monotonic() + timeout
        done = bool(self.main.awaitTermination(timeout))
        if self.quarantine is not None:
            remaining = max(0.0, deadline - time.monotonic())
            done = bool(self.quarantine.awaitTermination(remaining)) and done
        return done

    def stop(self) -> None:
        for q in (self.main, self.quarantine):
            if q is not None:
                q.stop()


#: Drain-mode trigger size (r10): the r9 knee sweep (SCALE.md) measured
#: steady-state throughput near-linear in events/batch up to ≥2× the
#: operating batch, i.e. per-micro-batch fixed machinery dominates at
#: maxFilesPerTrigger=8.  4× the steady trigger is the executable form
#: of the sweep's documented backlog escalation — bigger batches, bit-
#: identical semantics (the correlator folds per trip regardless of how
#: waves land in micro-batches; parity test in test_streaming_grouped).
DRAIN_MAX_FILES_PER_TRIGGER = 32

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def start_trip_pipeline(
    spark: SparkSession,
    start_dir: str,
    end_dir: str,
    store_dir: str,
    orphan_dir: str,
    checkpoint_dir: str,
    mode: str = "buffer",
    state_ttl_ms: int | None = None,
    processing_time: str | None = None,
    available_now: bool = False,
    quarantine_dir: str | None = None,
    state_store: str = "hdfs",
    key_groups: int | None = None,
    max_files_per_trigger: int | None = None,
    evict_completed_after: int | None = C.EVICT_COMPLETED_AFTER,
    drain_mode: bool = False,
) -> PipelineQueries:
    """Wire the full pipeline and start it.

    ``key_groups`` switches the correlator to hash key-group state
    (:func:`correlator.correlate_stream_grouped`): same per-trip
    semantics, one state entry and one Python invocation per GROUP per
    micro-batch instead of per trip — the throughput configuration
    (~8× on the reference replay, where per-key invocation overhead
    dominated).  Incompatible with ``state_ttl_ms`` (per-trip timers
    need per-trip keys).

    ``available_now=True`` drains everything currently in the source dirs
    and stops — the test/backfill path.  ``processing_time`` mirrors the
    reference's 100 s trigger window (T1).  ``quarantine_dir`` (when set)
    starts a second query writing malformed source records (T5) as
    parquet rows instead of swallowing them.

    ``drain_mode=True`` applies the backlog-drain preset: trigger size
    raised to :data:`DRAIN_MAX_FILES_PER_TRIGGER` (the knee sweep's
    throughput dial), everything else — state semantics, sink
    idempotency, per-trip fold — identical, so the converged store is
    bit-for-bit the steady config's.  Mutually exclusive with an
    explicit ``max_files_per_trigger`` (the preset IS a trigger size).

    A key-group query starts with ``min(session shuffle partitions,
    key_groups, sparkContext.defaultParallelism)`` state partitions (see
    :func:`_state_partitions`).  The query copies the session conf inside
    ``start()``, so the session's own value is restored as soon as
    ``start()`` returns; the per-trip path keeps it.  Spark fixes the
    count at a query's first start and reads it back from the
    checkpoint's offset metadata on restart, so an existing checkpoint
    keeps its count and its state.

    ``state_store="rocksdb"`` switches the correlator's keyed state to
    the RocksDB provider (see :data:`ROCKSDB_PROVIDER`) — the 100 TB
    configuration, where per-executor state no longer fits on the heap.

    ``state_ttl_ms`` is for CONTINUOUS triggers only: processing-time
    timers make an ``available_now`` drain loop forever in state-cleanup
    batches ('no new data but cleaning up state') instead of
    terminating, so the combination is rejected.

    Orphan-dir contract: the path is CREATED (empty) by the first
    micro-batch even when no orphan is ever written — but an empty
    directory still needs ``spark.read.schema(...).parquet`` (no files
    to infer from); orphan files only appear in drop mode.

    Returns a :class:`PipelineQueries` with both query handles.  The
    quarantine query starts first; if the main query fails to start, the
    quarantine stream is stopped rather than leaked.
    """
    if available_now and state_ttl_ms is not None:
        raise ValueError(
            "state_ttl_ms requires a continuous trigger; an availableNow "
            "drain never terminates once processing-time timers are armed"
        )
    if state_store not in ("hdfs", "rocksdb"):
        raise ValueError(f"state_store must be 'hdfs' or 'rocksdb', got {state_store!r}")
    if key_groups is not None and state_ttl_ms is not None:
        raise ValueError(
            "state_ttl_ms needs per-trip state keys (key_groups=None): a "
            "key group's timer would reset on any member trip's event"
        )
    if drain_mode:
        if max_files_per_trigger is not None:
            raise ValueError(
                "drain_mode IS a trigger-size preset; pass either "
                "drain_mode=True or an explicit max_files_per_trigger"
            )
        max_files_per_trigger = DRAIN_MAX_FILES_PER_TRIGGER
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_PROVIDER if state_store == "rocksdb" else HDFS_PROVIDER,
    )
    tagged, quarantine = tagged_union_stream(
        spark, start_dir, end_dir,
        max_files_per_trigger=max_files_per_trigger,
    )
    if key_groups is not None:
        trips = C.correlate_stream_grouped(
            tagged, mode=mode, n_groups=key_groups,
            evict_completed_after=evict_completed_after,
        )
    else:
        trips = C.correlate_stream(tagged, mode=mode, state_ttl_ms=state_ttl_ms)
    writer = (
        trips.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: sinks.append_trip_batch(
                df, bid, store_dir, orphan_dir,
                # buffer mode never emits Orphaned rows: single-action sink
                expect_orphans=(mode == "drop"),
            )
        )
    )
    qwriter = None
    if quarantine_dir is not None:
        qwriter = (
            quarantine.writeStream.outputMode("append")
            .format("parquet")
            .option("path", quarantine_dir)
            .option("checkpointLocation", checkpoint_dir + "-quarantine")
        )
    if available_now:
        writer = writer.trigger(availableNow=True)
        if qwriter is not None:
            qwriter = qwriter.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
        if qwriter is not None:
            qwriter = qwriter.trigger(processingTime=processing_time)
    qq = qwriter.start() if qwriter is not None else None
    session_partitions = spark.conf.get(SHUFFLE_PARTITIONS)
    if key_groups is not None:
        spark.conf.set(
            SHUFFLE_PARTITIONS, str(_state_partitions(spark, key_groups))
        )
    try:
        q = writer.start()
    except Exception:
        if qq is not None:
            qq.stop()
        raise
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, session_partitions)
    return PipelineQueries(main=q, quarantine=qq)


def _state_partitions(spark: SparkSession, key_groups: int) -> int:
    """State partition count for a key-group query.  Every state
    partition runs one Python task per micro-batch, with a fixed
    start-up cost whether or not a group lands in it (SCALE.md "Python
    tasks per micro-batch"); so no more partitions than groups, and no
    more than one task per core, since tasks beyond the cores run as a
    second wave."""
    return min(
        int(spark.conf.get(SHUFFLE_PARTITIONS)),
        key_groups,
        spark.sparkContext.defaultParallelism,
    )


def with_event_time(tagged: DataFrame, col_name: str = "event_ts") -> DataFrame:
    """Attach the per-record event time to a WIRE_SCHEMA stream: pickup
    time for starts, dropoff time for ends (wire datetimes are strings —
    send_to_kinesis.py:45-50 — parsed once here)."""
    return tagged.withColumn(
        col_name,
        F.coalesce(
            F.to_timestamp("pickup_datetime"), F.to_timestamp("dropoff_datetime")
        ),
    )


def dedup_stream(
    tagged: DataFrame,
    keys: tuple[str, ...] = ("trip_id", "event_type"),
    ts_col: str = "event_ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """At-least-once → effectively-once: drop redelivered wire records.

    The reference's Kinesis→Lambda hop is at-least-once (retries /
    re-polls redeliver), which it papers over with DynamoDB upsert
    idempotency (trip_processor.py:54).  The engine-level answer is
    ``dropDuplicatesWithinWatermark``: keyed state holds one entry per
    (trip_id, event_type) only until the watermark passes, so state is
    bounded by the delay window — not by the unbounded key history an
    un-watermarked dropDuplicates would hoard at 100 TB.
    """
    if ts_col not in tagged.columns:
        tagged = with_event_time(tagged, ts_col)
    return tagged.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def interval_join_streams(
    tagged: DataFrame,
    max_trip: str = "4 hours",
    delay: str = "30 minutes",
) -> DataFrame:
    """Append-only alternative to the stateful correlator: a watermarked
    stream-stream interval join — ends match their start on trip_id
    within ``(start_ts, start_ts + max_trip]``.

    Where the applyInPandasWithState correlator (T2) owns arbitrary
    transitions (end-before-start buffering, TTL), the built-in join
    covers the common completed-trip case with zero custom state code;
    both watermarks bound the join buffers, so state is O(in-flight
    trips) — the condition every production stream-stream join must
    meet to not grow without limit.
    """
    starts = (
        tagged.filter(F.col("event_type") == "trip_start")
        .select(
            "trip_id",
            "pickup_location_id",
            "dropoff_location_id",
            "vendor_id",
            F.to_timestamp("pickup_datetime").alias("pickup_ts"),
            "estimated_fare_amount",
        )
        .withWatermark("pickup_ts", delay)
    )
    ends = (
        tagged.filter(F.col("event_type") == "trip_end")
        .select(
            F.col("trip_id").alias("trip_id_end"),
            F.to_timestamp("dropoff_datetime").alias("dropoff_ts"),
            "fare_amount",
            "tip_amount",
            "trip_distance",
            "passenger_count",
        )
        .withWatermark("dropoff_ts", delay)
    )
    cond = (
        (starts.trip_id == ends.trip_id_end)
        & (ends.dropoff_ts > starts.pickup_ts)
        & (ends.dropoff_ts <= starts.pickup_ts + F.expr(f"INTERVAL {max_trip}"))
    )
    return starts.join(ends, cond, "inner").drop("trip_id_end")


def session_activity_stream(
    tagged: DataFrame,
    gap: str = "30 minutes",
    delay: str = "30 minutes",
) -> DataFrame:
    """T11 (engine addition): per-vendor activity sessions via the
    native ``session_window`` — consecutive trip-start events merge into
    one session while the quiet period between them stays under ``gap``.

    This is the third built-in stateful windowing shape after tumbling
    (T6) and sliding: state per (vendor, open session), merged as events
    arrive, emitted in append mode once the watermark passes a session's
    close — so state is bounded by open sessions, and a vendor's session
    never sits in memory longer than ``gap`` past its last event plus
    the lateness allowance.  The batch twin is the same expression over
    ``tagged_union_batch`` (session_window works identically in both
    engines' group-by), which is what the parity test replays.
    """
    starts = with_event_time(
        tagged.filter(F.col("event_type") == "trip_start")
    )
    return (
        starts.withWatermark("event_ts", delay)
        .groupBy(
            "vendor_id", F.session_window("event_ts", gap).alias("w")
        )
        .agg(
            F.count("*").alias("n_trips"),
            F.sum(
                F.round(F.col("estimated_fare_amount") * 100).cast("long")
            ).alias("est_fare_cents"),
        )
        .select(
            "vendor_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_trips",
            (F.col("est_fare_cents").cast("double") / 100.0).alias(
                "est_fare_total"
            ),
        )
    )


def joined_daily_kpis_stream(
    tagged: DataFrame,
    max_trip: str = "4 hours",
    delay: str = "30 minutes",
) -> DataFrame:
    """Streaming-native daily KPIs: the stream-stream interval join
    chained into a watermarked 1-day tumbling aggregate — two stateful
    operators in one continuous query (supported since the
    multiple-stateful-operator work in Spark 3.5).

    The batch `daily_kpi_job` stays the system of record (reference
    parity, exact cents); this is the low-latency sibling that emits a
    day's KPIs as soon as the watermark closes the day instead of at the
    next scheduled batch.  Fare sums go through integer cents here too,
    so the two paths agree bit-for-bit on completed data.
    """
    joined = interval_join_streams(tagged, max_trip=max_trip, delay=delay)
    cents = F.round(F.col("fare_amount") * 100).cast("long")
    return (
        joined.groupBy(F.window("dropoff_ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_trips"),
            F.sum(cents).alias("fare_cents"),
            F.max("fare_amount").alias("max_fare"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("date"),
            "n_trips",
            (F.col("fare_cents").cast("double") / 100.0).alias("total_fare"),
            "max_fare",
        )
    )


def run_pipeline_to_completion(
    spark: SparkSession,
    start_dir: str,
    end_dir: str,
    store_dir: str,
    orphan_dir: str,
    checkpoint_dir: str,
    mode: str = "buffer",
    quarantine_dir: str | None = None,
    state_store: str = "hdfs",
    key_groups: int | None = None,
    drain_mode: bool = False,
) -> None:
    """Drain the stream dirs synchronously (test/backfill entry point)."""
    pq = start_trip_pipeline(
        spark,
        start_dir,
        end_dir,
        store_dir,
        orphan_dir,
        checkpoint_dir,
        mode=mode,
        available_now=True,
        quarantine_dir=quarantine_dir,
        state_store=state_store,
        key_groups=key_groups,
        drain_mode=drain_mode,
    )
    pq.await_termination()


def daily_kpi_job(
    spark: SparkSession,
    store_dir: str,
    target_date: str,
    out_root: str,
    compact_to: str | None = None,
) -> str | None:
    """T6: the scheduled daily aggregation as one partition-pruned batch.

    Reference shape (daily_kpi_aggregation.py:38-157): driver-side
    paginated fetch + 5 separate agg actions + boto3 S3 put.  Engine
    shape: partition-pruned scan (`date=` directory pruning) → dedup to
    current state → completed-only filter → ONE aggregate → JSON document.

    ``compact_to`` (when set) compacts the day's partition after the
    aggregate is written — the natural point in the schedule, since each
    date's appends stop once its KPI document is final.  Compaction
    bounds the append store's read amplification; reading the compacted
    copy through :func:`sinks.current_trips` yields identical rows.
    """
    current = sinks.current_trips(spark, store_dir)
    kpis = trip_batch.kpis_for_date(current, target_date)
    doc = kpis.select(
        F.lit(target_date).alias("date"),
        F.struct(
            F.lit(target_date).alias("trip_date"),
            F.col("total_fare"),
            F.col("count_trips"),
            F.col("average_fare"),
            F.col("max_fare"),
            F.col("min_fare"),
        ).alias("metrics"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss").alias(
            "timestamp"
        ),
    ).filter(F.col("metrics.count_trips") > 0)
    path = sinks.write_kpi_document(doc, out_root)
    if compact_to is not None:
        sinks.compact_trips(spark, store_dir, compact_to, date=target_date)
    return path


def _zscore_merge_batch(state, pdf, user_id, window_us, min_frame):
    """Shared kernel of both rolling-z-score hosts (v1
    applyInPandasWithState and v2 transformWithStateInPandas): merge a
    micro-batch of one user's arrivals into the (us, vt, eid) buffer,
    compute every arrival's trailing-window frame via prefix sums +
    binary search, return (output frame or None, evicted new state)."""
    import numpy as np
    import pandas as pd

    bus, bvt, beid = state
    pdf = pdf[pdf["value"].notna()]
    if not len(pdf):
        return None, (list(bus), list(bvt), list(beid))
    new_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    new_vt = np.floor(
        pdf["value"].to_numpy(dtype=np.float64) * 1000 + 0.5
    ).astype(np.int64)
    new_eid = pdf["event_id"].to_numpy(dtype=np.int64)
    # at-least-once delivery guard: a redelivered event (source file
    # reprocessed after checkpoint loss) must not be double-counted in
    # the prefix sums or re-emitted — drop arrivals whose event_id is
    # already buffered (the live buffer is small, set membership is
    # cheap; duplicates WITHIN one batch are new-vs-new and keep the
    # first occurrence after the lexsort)
    if len(beid):
        seen = set(map(int, beid))
        fresh = np.fromiter(
            (int(e) not in seen for e in new_eid),
            dtype=bool,
            count=len(new_eid),
        )
        if not fresh.all():
            new_us, new_vt, new_eid = (
                new_us[fresh], new_vt[fresh], new_eid[fresh],
            )
            if not len(new_eid):
                return None, (list(bus), list(bvt), list(beid))
    us = np.concatenate([np.asarray(list(bus), dtype=np.int64), new_us])
    vt = np.concatenate([np.asarray(list(bvt), dtype=np.int64), new_vt])
    eid = np.concatenate([np.asarray(list(beid), dtype=np.int64), new_eid])
    order = np.lexsort((eid, us))
    us, vt, eid = us[order], vt[order], eid[order]
    cs = np.concatenate([[0], np.cumsum(vt)])
    cs2 = np.concatenate([[0], np.cumsum(vt * vt)])
    newset = set(map(int, new_eid))
    emit_mask = np.fromiter(
        (int(e) in newset for e in eid), dtype=bool, count=len(eid)
    )
    lo = np.searchsorted(us, us - window_us, side="left")
    hi = np.searchsorted(us, us, side="right")
    n = hi - lo
    S = cs[hi] - cs[lo]
    S2 = cs2[hi] - cs2[lo]
    z_num = (vt * n - S) ** 2
    z_den = n * S2 - S * S
    keep = emit_mask & (n >= min_frame)
    out = pd.DataFrame(
        {
            "event_id": eid[keep],
            "user_id": user_id,
            "n_frame": n[keep],
            "z_num": z_num[keep],
            "z_den_var": z_den[keep],
            "is_outlier": z_num[keep] > 9 * z_den[keep],
        }
    )
    horizon = int(us.max()) - window_us
    live = us >= horizon
    new_state = (
        [int(x) for x in us[live]],
        [int(x) for x in vt[live]],
        [int(x) for x in eid[live]],
    )
    return (out if len(out) else None), new_state


ZSCORE_OUT_SCHEMA = (
    "event_id long, user_id long, n_frame long, "
    "z_num long, z_den_var long, is_outlier boolean"
)
ZSCORE_STATE_SCHEMA = "us array<long>, vt array<long>, eid array<long>"


def rolling_zscore_stream(
    events: DataFrame,
    window_us: int = 86_400_000_000,
    min_frame: int = 5,
) -> DataFrame:
    """Streaming twin of the ``events_rolling_zscore_outliers`` batch
    query: per-user trailing-window second-moment anomaly flags over a
    stream of (event_id, ts, user_id, value) — a DIFFERENT stateful
    shape from the trip correlator (sliding event-time BUFFER state
    with front eviction, not a key→record map).

    State per user: the (epoch-us, milli-tick) arrays still inside the
    trailing window of the newest seen event.  Each micro-batch merges
    its arrivals into the buffer (sort restores event-time order, so
    in-window late data is handled exactly), computes every arrival's
    frame via PREFIX SUMS + binary search — O(n log n) per batch, no
    per-event rescans — and evicts entries older than the new horizon.
    The emitted integer z-decomposition matches the batch query's
    algebra term for term, so a time-ordered replay must reproduce the
    batch rows EXACTLY (asserted in tests — the golden-parity
    discipline).  Arrivals later than ``window_us`` behind the frontier
    get best-effort frames (their older context was evicted) — the
    bounded-state trade every streaming window makes."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        if state.hasTimedOut:  # pragma: no cover - no TTL configured
            state.remove()
            return
        st = state.get if state.exists else ([], [], [])
        parts = [p for p in pdfs if len(p)]
        if not parts:
            state.update((list(st[0]), list(st[1]), list(st[2])))
            return
        pdf = (
            pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        )
        out, new_state = _zscore_merge_batch(
            st, pdf, int(key[0]), window_us, min_frame
        )
        state.update(new_state)
        if out is not None:
            yield out

    return (
        events.select("event_id", "ts", "user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=ZSCORE_OUT_SCHEMA,
            stateStructType=ZSCORE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def rolling_zscore_stream_v2(
    events: DataFrame,
    window_us: int = 86_400_000_000,
    min_frame: int = 5,
) -> DataFrame:
    """The v2 (``transformWithStateInPandas``) host of the SAME rolling
    z-score kernel — typed value state instead of the opaque tuple, the
    API the correlator's v2 twin established.  Semantics are pinned by
    the shared :func:`_zscore_merge_batch` kernel plus a replay parity
    test against the batch query."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("us", ArrayType(LongType())),
            StructField("vt", ArrayType(LongType())),
            StructField("eid", ArrayType(LongType())),
        ]
    )

    class _ZProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("buf", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            st = self._state.get() if self._state.exists() else ([], [], [])
            parts = [p for p in rows if len(p)]
            if not parts:
                self._state.update(
                    (list(st[0]), list(st[1]), list(st[2]))
                )
                return
            pdf = (
                pd.concat(parts, ignore_index=True)
                if len(parts) > 1
                else parts[0]
            )
            out, new_state = _zscore_merge_batch(
                st, pdf, int(key[0]), window_us, min_frame
            )
            self._state.update(new_state)
            if out is not None:
                yield out

        def close(self) -> None:
            pass

    return (
        events.select("event_id", "ts", "user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _ZProcessor(),
            outputStructType=ZSCORE_OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )


def enrich_stream_static(
    stream: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join — the dimension-lookup shape a
    telemetry pipeline runs constantly (reference analogue: the
    notebook's batch join of trip starts to ends, here with the fact
    side unbounded).

    Semantics: each micro-batch re-executes the static side's PLAN, but
    a path-backed parquet dim pins its file listing at plan time — so
    the slowly-changing-dimension move is a RESTART from the same
    checkpoint with a re-read dim (free: a stream-static join holds no
    state, and the source offsets give exactly-once across the restart
    — pinned by the parity test), or a metastore table + REFRESH TABLE
    for in-flight pickup.  The broadcast hint keeps each batch's join
    shuffle-free; no watermark is needed.  At 100 TB the only scaling
    concern is the dimension's broadcast size, exactly as in batch.
    LEFT join so unmatched facts survive with NULL dims
    (quarantine-friendly)."""
    return stream.join(F.broadcast(dim), key, "left")


def cms_sketch_stream(tokens: DataFrame) -> DataFrame:
    """Streaming count-min sketch maintenance: the (row, bucket)
    counter matrix as a RUNNING AGGREGATE over an unbounded token
    stream — the insight being that an additive sketch IS a streaming
    groupBy: Spark's incremental aggregation state holds exactly the
    CMS_DEPTH × CMS_WIDTH counters and every micro-batch folds in
    map-side partials.  No custom stateful operator needed, and the
    counters are BIT-IDENTICAL to the batch sketch over the same
    tokens at any drain point (counter additivity — asserted by the
    parity test), so a batch consumer can hot-swap to querying the
    live sketch.

    Input: a (possibly streaming) DataFrame with one ``w`` token
    column.  Output: (i, bucket, cnt) in update/complete mode —
    4 × 1024 bounded state regardless of stream volume, the whole
    point of maintaining the sketch instead of exact counts."""
    from real_time_trip_processing_project_spark.plans.training import (
        CMS_DEPTH,
        _cms_bucket,
    )

    hashed = tokens.select(
        "w",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("i"),
    ).withColumn(
        "bucket",
        _cms_bucket(
            F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("w")))
        ),
    )
    return hashed.groupBy("i", "bucket").agg(F.count("*").alias("cnt"))
