"""Streaming semantics tests (SURVEY.md §5.3-5.4): out-of-order arrival,
buffer-vs-drop late modes, duplicate-delivery idempotency, and the
property that any event permutation/partitioning yields the same final
trips state as the batch correlator.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from real_time_trip_processing_project_spark.sources import producer, sinks
from real_time_trip_processing_project_spark.streaming import jobs


def _start_event(i: int, day: str = "2024-05-25") -> dict:
    return {
        "trip_id": f"t{i:04d}",
        "pickup_location_id": 1 + i % 200,
        "dropoff_location_id": 1 + (i * 7) % 200,
        "vendor_id": 1 + i % 2,
        "pickup_datetime": f"{day} 10:{i % 60:02d}:00",
        "estimated_dropoff_datetime": f"{day} 11:{i % 60:02d}:00",
        "estimated_fare_amount": 10.0 + i,
    }


def _end_event(i: int, day: str = "2024-05-25") -> dict:
    return {
        "dropoff_datetime": f"{day} 11:{i % 60:02d}:30",
        "rate_code": 1.0,
        "passenger_count": 1.0 + i % 4,
        "trip_distance": 2.5 + i,
        "fare_amount": 20.0 + i,
        "tip_amount": 1.0,
        "payment_type": 1.0,
        "trip_type": 1.0,
        "trip_id": f"t{i:04d}",
    }


def _dirs(tmp_path):
    return (
        str(tmp_path / "start"),
        str(tmp_path / "end"),
        str(tmp_path / "store"),
        str(tmp_path / "orphans"),
        str(tmp_path / "ckpt"),
    )


def _drain(spark, dirs, mode="buffer"):
    start_dir, end_dir, store, orphans, ckpt = dirs
    jobs.run_pipeline_to_completion(
        spark, start_dir, end_dir, store, orphans, ckpt, mode=mode
    )


def test_end_before_start_buffer_mode(spark, tmp_path):
    """An end that arrives a micro-batch BEFORE its start still completes
    the trip (buffer mode holds it in state) — strictly better than the
    reference's warn-and-drop (trip_processor.py:60-62)."""
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, orphans, _ = dirs
    n = 6
    # batch 1: only ends
    producer.write_stream_files([_end_event(i) for i in range(n)], end_dir)
    producer.write_stream_files([], start_dir)
    _drain(spark, dirs)
    # batch 2: the matching starts
    producer.write_stream_files(
        [_start_event(i) for i in range(n)], start_dir, prefix="late"
    )
    _drain(spark, dirs)

    cur = sinks.current_trips(spark, store)
    by_status = {r["status"]: r["count"] for r in cur.groupBy("status").count().collect()}
    assert by_status == {"Completed": n}
    # fare fields from the buffered end were merged onto the start
    assert cur.filter(F.col("fare_amount").isNull()).count() == 0


def test_end_before_start_drop_mode(spark, tmp_path):
    """Reference-compat mode: an early end is surfaced to the orphan sink
    (as data, not a log line) and the trip stays Started."""
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, orphans, _ = dirs
    n = 4
    producer.write_stream_files([_end_event(i) for i in range(n)], end_dir)
    producer.write_stream_files([], start_dir)
    _drain(spark, dirs, mode="drop")
    producer.write_stream_files(
        [_start_event(i) for i in range(n)], start_dir, prefix="late"
    )
    _drain(spark, dirs, mode="drop")

    cur = sinks.current_trips(spark, store)
    by_status = {r["status"]: r["count"] for r in cur.groupBy("status").count().collect()}
    assert by_status == {"Started": n}
    orphan_df = spark.read.parquet(orphans)
    assert orphan_df.count() == n
    assert orphan_df.filter(F.col("status") == "Orphaned").count() == n


def test_duplicate_events_idempotent(spark, tmp_path):
    """Re-delivered events (at-least-once sources) must not change the
    current-state view or the KPIs — upsert-on-read semantics."""
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, _, _ = dirs
    n = 5
    starts = [_start_event(i) for i in range(n)]
    ends = [_end_event(i) for i in range(n)]
    producer.write_stream_files(starts, start_dir)
    producer.write_stream_files(ends, end_dir)
    _drain(spark, dirs)
    # duplicates arrive again in later batches
    producer.write_stream_files(starts, start_dir, prefix="dup")
    producer.write_stream_files(ends, end_dir, prefix="dup")
    _drain(spark, dirs)

    cur = sinks.current_trips(spark, store)
    assert cur.count() == n
    assert cur.filter(F.col("status") == "Completed").count() == n
    row = cur.agg(F.sum("fare_amount").alias("s")).collect()[0]
    assert row["s"] == pytest.approx(sum(20.0 + i for i in range(n)))


class _FakeState:
    """Minimal GroupState stand-in for unit-driving the correlator."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        if self._value is None:
            raise ValueError("no state")
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_state_ttl_reclaims_abandoned_trips(spark):
    """Engine addition over the reference (which leaks unmatched state
    forever): on a state timeout the correlator reclaims the entry, so an
    end arriving later finds no start and cannot complete the trip.

    Unit-driven against the correlator function: processing-time timers
    plus ``availableNow`` backfill drains loop forever at the Spark level
    ('no new data but cleaning up state'), so TTL is reserved for
    continuous triggers and its semantics are pinned here.
    """
    import json

    import pandas as pd

    from real_time_trip_processing_project_spark.streaming.correlator import (
        make_correlator,
    )

    correlate = make_correlator(mode="buffer", state_ttl_ms=60_000)

    def run(state, records):
        pdf = pd.DataFrame(records) if records else pd.DataFrame()
        return list(correlate(("t0001",), iter([pdf] if records else []), state))

    # 1. start arrives → Started emitted, state holds the start, TTL armed
    start_rec = dict(_start_event(1), event_type="trip_start")
    st = _FakeState()
    out = run(st, [start_rec])
    assert out and list(out[0]["status"]) == ["Started"]
    assert st.exists and st.timeout_set == 60_000

    # 2. timeout fires before the end → state reclaimed, nothing emitted
    st.hasTimedOut = True
    out = run(st, [])
    assert out == [] and st.removed and not st.exists

    # 3. the late end now finds no start: buffered, no completion emitted
    st = _FakeState()  # fresh (post-removal) state for the same key
    end_rec = dict(_end_event(1), event_type="trip_end")
    out = run(st, [end_rec])
    assert out == []  # buffer mode holds it; no Completed row
    held = json.loads(st.get[1])
    assert held["fare_amount"] == end_rec["fare_amount"]

    # 4. control: start + end within the TTL completes normally
    st = _FakeState()
    out = run(st, [start_rec, end_rec])
    statuses = [s for df in out for s in df["status"]]
    assert statuses == ["Started", "Completed"]


def test_corrupt_records_quarantined(spark, tmp_path):
    """T5 per-record error isolation: malformed JSON lines and records
    missing the trip_id key are routed to the quarantine sink as data;
    valid records in the same files still process normally.  (The
    reference swallows these with a catch-all and returns 200 —
    trip_processor.py:82-89.)"""
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, orphans, ckpt = dirs
    quarantine = str(tmp_path / "quarantine")
    n = 3
    producer.write_stream_files([_start_event(i) for i in range(n)], start_dir)
    producer.write_stream_files([_end_event(i) for i in range(n)], end_dir)
    # hand-append garbage: one syntactically broken line, one key-less record
    with open(f"{start_dir}/bad.json", "w") as fh:
        fh.write('{"trip_id": "tbad", "pickup_location_id": OOPS}\n')
        fh.write('{"pickup_location_id": 7, "vendor_id": 1}\n')
    jobs.run_pipeline_to_completion(
        spark, start_dir, end_dir, store, orphans, ckpt,
        quarantine_dir=quarantine,
    )
    cur = sinks.current_trips(spark, store)
    assert cur.filter(F.col("status") == "Completed").count() == n
    bad = spark.read.parquet(quarantine)
    assert bad.count() == 2
    assert {r["stream"] for r in bad.collect()} == {"trip_start"}


def test_compaction_preserves_current_state(spark, tmp_path):
    """Periodic compaction (one row per trip) must be a pure rewrite: the
    current-state view over the compacted store equals the view over the
    append log, and the version-history rows are gone."""
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, _, _ = dirs
    n = 6
    producer.write_stream_files([_start_event(i) for i in range(n)], start_dir)
    producer.write_stream_files([], end_dir)
    _drain(spark, dirs)
    producer.write_stream_files([_end_event(i) for i in range(n)], end_dir, prefix="e")
    _drain(spark, dirs)

    raw_rows = spark.read.parquet(store).count()
    assert raw_rows == 2 * n  # Started + Completed versions
    compacted = str(tmp_path / "compacted")
    sinks.compact_trips(spark, store, compacted)
    assert spark.read.parquet(compacted).count() == n
    before = {
        (r["trip_id"], r["status"], r["fare_amount"])
        for r in sinks.current_trips(spark, store).collect()
    }
    after = {
        (r["trip_id"], r["status"], r["fare_amount"])
        for r in sinks.current_trips(spark, compacted).collect()
    }
    assert before == after


def test_store_scan_prunes_date_partitions(spark, tmp_path):
    """S7: a date filter on the trips store must become a partition
    filter (directory pruning) — the Catalyst equivalent of the
    reference's KeyConditionExpression on the DynamoDB partition key
    (daily_kpi_aggregation.py:46,52)."""
    import contextlib
    import io

    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, _, _ = dirs
    events = [_start_event(i, day="2024-05-25") for i in range(3)] + [
        _start_event(i + 100, day="2024-05-26") for i in range(3)
    ]
    producer.write_stream_files(events, start_dir)
    producer.write_stream_files([], end_dir)
    _drain(spark, dirs)

    df = spark.read.parquet(store).filter(F.col("date") == "2024-05-25")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "2024-05-25" in "".join(
        l for l in plan.splitlines() if "PartitionFilters" in l
    )
    assert df.count() == 3


def test_kpi_partition_additivity(spark, tmp_path):
    """Property (SURVEY §5.4): for ANY split of the trips into two sets,
    sum/count/max/min KPIs merge to the full-set KPIs (avg only via
    sum/count).  Three different split predicates."""
    from real_time_trip_processing_project_spark.operators import trip_batch

    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, _, _ = dirs
    n = 20
    producer.write_stream_files([_start_event(i) for i in range(n)], start_dir)
    producer.write_stream_files([_end_event(i) for i in range(n)], end_dir)
    _drain(spark, dirs)
    cur = sinks.current_trips(spark, store).filter(F.col("status") == "Completed")

    full = trip_batch.daily_kpis(cur).collect()[0]
    for split in (
        F.col("vendor_id") == 1,
        F.col("fare_amount") < 30.0,
        F.col("passenger_count") <= 2,
    ):
        parts = [
            trip_batch.daily_kpis(cur.filter(split)).collect(),
            trip_batch.daily_kpis(cur.filter(~split)).collect(),
        ]
        rows = [r for p in parts for r in p]
        assert sum(r["count_trips"] for r in rows) == full["count_trips"]
        assert sum(r["total_fare"] for r in rows) == pytest.approx(
            full["total_fare"]
        )
        assert max(r["max_fare"] for r in rows) == full["max_fare"]
        assert min(r["min_fare"] for r in rows) == full["min_fare"]
        merged_avg = sum(r["total_fare"] for r in rows) / sum(
            r["count_trips"] for r in rows
        )
        assert merged_avg == pytest.approx(full["average_fare"])


def test_permutation_invariance(spark, tmp_path):
    """Property (SURVEY §5.4): ANY interleaving/partitioning of the event
    stream yields the same final completed set — state machine order-
    insensitivity.  Three seeded random shuffles across micro-batches."""
    n = 12
    want_fares = {f"t{i:04d}": 20.0 + i for i in range(n)}
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        events = [("s", _start_event(i)) for i in range(n)] + [
            ("e", _end_event(i)) for i in range(n)
        ]
        rng.shuffle(events)
        base = tmp_path / f"perm{seed}"
        base.mkdir()
        dirs = _dirs(base)
        start_dir, end_dir, store, _, _ = dirs
        # split the shuffled tape into 3 sequential micro-batch waves
        k = len(events) // 3
        for wave, chunk in enumerate(
            (events[:k], events[k : 2 * k], events[2 * k :])
        ):
            producer.write_stream_files(
                [e for t, e in chunk if t == "s"], start_dir, prefix=f"w{wave}"
            )
            producer.write_stream_files(
                [e for t, e in chunk if t == "e"], end_dir, prefix=f"w{wave}"
            )
            _drain(spark, dirs)
        cur = sinks.current_trips(spark, store)
        got = {
            r["trip_id"]: r["fare_amount"]
            for r in cur.filter(F.col("status") == "Completed").collect()
        }
        assert got == want_fares, f"seed {seed}"


def test_correlate_batch_matches_stream_completed_set(spark, tmp_path):
    """The batch twin (one in-memory 'micro-batch' through the same state
    machine — the bench probe that isolates correlator cost) must
    complete exactly the trips the streaming drain completes, with the
    same merged fields."""
    from real_time_trip_processing_project_spark.streaming import (
        correlator as C,
    )

    n = 10
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, _, _ = dirs
    producer.write_stream_files(
        [_start_event(i) for i in range(n)], start_dir
    )
    producer.write_stream_files([_end_event(i) for i in range(n)], end_dir)
    _drain(spark, dirs)
    cur = sinks.current_trips(spark, store)
    want = {
        (r["trip_id"], r["fare_amount"], str(r["date"]))
        for r in cur.filter(F.col("status") == "Completed").collect()
    }
    tagged = jobs.tagged_union_batch(spark, start_dir, end_dir)
    out = C.correlate_batch(tagged)
    got = {
        (r["trip_id"], r["fare_amount"], str(r["date"]))
        for r in out.filter(F.col("status") == "Completed").collect()
    }
    assert got == want and len(got) == n


def test_rolling_zscore_stream_matches_batch(spark, tmp_path):
    """A time-ordered replay of the events fixture through the
    streaming rolling-z-score operator must reproduce the BATCH
    query's rows exactly — same integer z-decomposition, same flags —
    because frames only ever look backward."""
    import os

    from real_time_trip_processing_project_spark.plans import REGISTRY
    from real_time_trip_processing_project_spark.sources.readers import (
        load_fixture,
    )
    from real_time_trip_processing_project_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    events = load_fixture(spark, sf, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    rows = events.orderBy("ts", "event_id").collect()
    third = max(len(rows) // 3, 1)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/batch-{i}")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch-*")
    )
    out = jobs.rolling_zscore_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("zstream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.event_id, r.user_id, r.n_frame, r.z_num, r.z_den_var, r.is_outlier)
        for r in spark.table("zstream").collect()
    }
    want = {
        (r.event_id, r.user_id, r.n_frame, r.z_num, r.z_den_var, r.is_outlier)
        for r in REGISTRY["events_rolling_zscore_outliers"].fn(spark, sf).collect()
    }
    assert got == want and want


def test_pipeline_checkpoint_resume_no_reprocess(spark, tmp_path):
    """Exactly-once bookkeeping across process restarts: drain wave 1,
    STOP, land wave 2 in the same source dirs, start a NEW pipeline on
    the SAME checkpoint — the store must contain each trip exactly once
    per status (wave 1 not reprocessed, wave 2 fully processed).  Trips
    span the restart both ways: 0–9 start in wave 1 and end in wave 2,
    25–34 end in wave 1 and start in wave 2."""
    sdir, edir = str(tmp_path / "s"), str(tmp_path / "e")
    store, orph, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "orph"),
        str(tmp_path / "ckpt"),
    )
    w0_ends = range(10, 35)
    producer.write_stream_files(
        [_start_event(i) for i in range(25)], sdir, prefix="w0"
    )
    producer.write_stream_files(
        [_end_event(i) for i in w0_ends], edir, prefix="w0"
    )
    jobs.run_pipeline_to_completion(
        spark, sdir, edir, store, orph, ckpt, key_groups=4
    )
    n_after_w0 = spark.read.parquet(store).count()
    producer.write_stream_files(
        [_start_event(i) for i in range(25, 50)], sdir, prefix="w1"
    )
    producer.write_stream_files(
        [_end_event(i) for i in range(50) if i not in w0_ends],
        edir,
        prefix="w1",
    )
    jobs.run_pipeline_to_completion(
        spark, sdir, edir, store, orph, ckpt, key_groups=4
    )
    rows = spark.read.parquet(store)
    # every (trip, status) emitted exactly once across both drains
    dupes = (
        rows.groupBy("trip_id", "status")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dupes == 0
    assert rows.count() > n_after_w0  # wave 2 actually processed
    # all 50 trips present and completed exactly once
    completed = rows.filter("status = 'Completed'")
    assert completed.select("trip_id").distinct().count() == completed.count() == 50


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static join: replaying the events fixture as a stream
    joined to a STATIC per-user dimension must equal the batch join —
    and because the static side re-resolves per micro-batch, an
    overwrite of the dimension between drains is picked up by the SAME
    running query without restart (the cheap slowly-changing-dimension
    pattern)."""
    import os

    from pyspark.sql import functions as F

    from real_time_trip_processing_project_spark.sources.readers import (
        load_fixture,
    )
    from real_time_trip_processing_project_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    events = load_fixture(spark, sf, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim_path = str(tmp_path / "dim")
    events.groupBy("user_id").agg(
        F.count("*").alias("user_total")
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path)

    rows = events.collect()
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], events.schema).coalesce(
        1
    ).write.parquet(f"{src}/b0")
    stream = spark.readStream.schema(events.schema).parquet(src + "/b*")
    sink = str(tmp_path / "sink")

    def drain():
        q = (
            jobs.enrich_stream_static(
                stream, spark.read.parquet(dim_path), key="user_id"
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()

    # dimension OVERWRITE between drains, picked up by a RESTART from
    # the SAME checkpoint: a stream-static join holds no state, so the
    # restart is free, batch 0 is NOT reprocessed (exactly-once file
    # offsets) and only the new file joins against the new dimension —
    # the checkpoint-compatible static-side swap the operator's
    # docstring prescribes for path-backed dims
    events.groupBy("user_id").agg(
        (2 * F.count("*")).alias("user_total")
    ).write.mode("overwrite").parquet(dim_path)
    spark.createDataFrame(rows[half:], events.schema).coalesce(
        1
    ).write.parquet(f"{src}/b1")
    drain()

    got = {
        r.event_id: r.user_total
        for r in spark.read.parquet(sink).collect()
    }
    base = {r["user_id"]: 0 for r in rows}
    for r in rows:
        base[r["user_id"]] += 1
    for r in rows[:half]:
        assert got[r["event_id"]] == base[r["user_id"]], r
    for r in rows[half:]:
        assert got[r["event_id"]] == 2 * base[r["user_id"]], r


def test_cms_stream_counters_equal_batch_sketch(spark, tmp_path):
    """Streaming CMS maintenance: drain the documents' token stream in
    chunks through the running-aggregate sketch — the final (i, bucket)
    counters must be BIT-IDENTICAL to the batch sketch over the same
    tokens (counter additivity is the sketch's mergeability, and
    Spark's incremental aggregation state IS the sketch)."""
    import os

    from pyspark.sql import functions as F

    from real_time_trip_processing_project_spark.functions import text as TX
    from real_time_trip_processing_project_spark.sources.readers import (
        load_fixture,
    )
    from real_time_trip_processing_project_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    docs = load_fixture(spark, sf, "documents")
    toks = docs.select(F.explode(TX.ws_tokens("text")).alias("w"))
    src = str(tmp_path / "tok")
    os.makedirs(src, exist_ok=True)
    rows = toks.collect()
    third = max(len(rows) // 3, 1)
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        spark.createDataFrame(chunk, toks.schema).coalesce(1).write.parquet(
            f"{src}/c{i}"
        )
    stream = (
        spark.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/c*")
    )
    q = (
        jobs.cms_sketch_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.i, r.bucket): r.cnt for r in spark.table("cms").collect()
    }
    want = {
        (r.i, r.bucket): r.cnt
        for r in jobs.cms_sketch_stream(toks).collect()
    }
    assert got == want and len(want) > 100
