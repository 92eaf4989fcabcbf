"""Key-group correlator tests: the throughput host for the trip state
machine (correlator.correlate_stream_grouped) must reproduce the
per-trip path's semantics exactly — same late/out-of-order behavior,
same idempotency, same final store — while keeping state per hash group
instead of per trip.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from real_time_trip_processing_project_spark.sources import producer, sinks
from real_time_trip_processing_project_spark.streaming import jobs

from tests.test_streaming_semantics import _dirs, _end_event, _start_event

#: Few groups + many trips forces multi-trip groups (the interesting case).
GROUPS = 8


def _drain(spark, dirs, mode="buffer"):
    start_dir, end_dir, store, orphans, ckpt = dirs
    jobs.run_pipeline_to_completion(
        spark, start_dir, end_dir, store, orphans, ckpt,
        mode=mode, key_groups=GROUPS,
    )


def test_grouped_end_before_start_buffer(spark, tmp_path):
    """An end arriving a micro-batch early is held in GROUP state and
    completes when the start lands — including the cross-batch case
    where the trip already has state (the per-trip fold inside the
    group)."""
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, _, _ = dirs
    n = 6
    producer.write_stream_files([_end_event(i) for i in range(n)], end_dir)
    producer.write_stream_files([], start_dir)
    _drain(spark, dirs)
    producer.write_stream_files(
        [_start_event(i) for i in range(n)], start_dir, prefix="late"
    )
    _drain(spark, dirs)

    cur = sinks.current_trips(spark, store)
    by_status = {
        r["status"]: r["count"] for r in cur.groupBy("status").count().collect()
    }
    assert by_status == {"Completed": n}
    assert cur.filter(F.col("fare_amount").isNull()).count() == 0


def test_grouped_end_before_start_drop(spark, tmp_path):
    """Drop mode parity: early ends become Orphaned rows, trips stay
    Started, orphaned ends are not resurrected from group state."""
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
    by_status = {
        r["status"]: r["count"] for r in cur.groupBy("status").count().collect()
    }
    assert by_status == {"Started": n}
    orphan_df = spark.read.parquet(orphans)
    assert orphan_df.filter(F.col("status") == "Orphaned").count() == n


def test_grouped_permutation_invariance(spark, tmp_path):
    """Any interleaving across micro-batch waves converges to the same
    completed set (seeded shuffles; mixes the vectorized fast path with
    the stateful per-trip fold)."""
    n = 12
    want_fares = {f"t{i:04d}": 20.0 + i for i in range(n)}
    for seed in (3, 11):
        rng = random.Random(seed)
        events = [("s", _start_event(i)) for i in range(n)] + [
            ("e", _end_event(i)) for i in range(n)
        ]
        rng.shuffle(events)
        base = tmp_path / f"gperm{seed}"
        base.mkdir()
        dirs = _dirs(base)
        start_dir, end_dir, store, _, _ = dirs
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


def test_grouped_matches_per_trip_store(spark, tmp_path):
    """Same event tape through both hosts ⇒ identical current-trips view
    (every column except the version stamp).  The 4-group case runs its
    state on 4 partitions of the 8-partition session (the state
    partition rule of ``jobs.start_trip_pipeline``)."""
    n = 40
    stores = {}
    for tag, groups in (
        ("per-trip", None), ("grouped", GROUPS), ("grouped-4", 4)
    ):
        base = tmp_path / tag
        base.mkdir()
        dirs = _dirs(base)
        start_dir, end_dir, store, orphans, ckpt = dirs
        # a mix: plain pairs, start-only, duplicate ends
        producer.write_stream_files(
            [_start_event(i) for i in range(n)], start_dir
        )
        producer.write_stream_files(
            [_end_event(i) for i in range(0, n, 2)]
            + [_end_event(0)],  # duplicate end for t0000
            end_dir,
        )
        jobs.run_pipeline_to_completion(
            spark, start_dir, end_dir, store, orphans, ckpt,
            key_groups=groups,
        )
        stores[tag] = store
    a = sinks.current_trips(spark, stores["per-trip"])
    cols = [c for c in a.columns if c != "updated_at"]
    for tag in ("grouped", "grouped-4"):
        b = sinks.current_trips(spark, stores[tag])
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0, tag
        assert b.select(cols).exceptAll(a.select(cols)).count() == 0, tag
    assert a.count() == n


def _reported_state_partitions(pq) -> set[int]:
    """Every state partition count the main query's batches reported."""
    return {
        p["stateOperators"][0]["numShufflePartitions"]
        for p in pq.main.recentProgress
        if p["stateOperators"]
    }


def test_state_partitions_follow_groups_and_cores(spark, tmp_path):
    """A key-group query runs its state on min(session partitions,
    groups, cores) partitions and leaves the session's own value in
    place; the per-trip query keeps the session's value."""
    assert spark.conf.get(jobs.SHUFFLE_PARTITIONS) == "8"
    assert spark.sparkContext.defaultParallelism >= 8
    for tag, groups, want in (("grouped-4", 4, 4), ("per-trip", None, 8)):
        base = tmp_path / tag
        base.mkdir()
        start_dir, end_dir, store, orphans, ckpt = _dirs(base)
        producer.write_stream_files(
            [_start_event(i) for i in range(6)], start_dir
        )
        producer.write_stream_files([_end_event(i) for i in range(6)], end_dir)
        pq = jobs.start_trip_pipeline(
            spark, start_dir, end_dir, store, orphans, ckpt,
            key_groups=groups, available_now=True,
        )
        assert spark.conf.get(jobs.SHUFFLE_PARTITIONS) == "8", tag
        pq.await_termination()
        assert _reported_state_partitions(pq) == {want}, tag


def test_restart_keeps_checkpoint_state_partitions(spark, tmp_path):
    """A checkpoint keeps the state partition count it was created with:
    a restart on a session whose rule picks another count still runs at
    the checkpoint's count, and the trips that span the restart (start
    before, end after, and the reverse) complete exactly as in one
    uninterrupted drain."""
    n = 30
    # before the restart: trips 0-19 start, 0-9 end, 25-29 end early
    first = (
        [_start_event(i) for i in range(20)],
        [_end_event(i) for i in (*range(10), *range(25, n))],
    )
    # after it: trips 20-29 start, 10-24 end
    rest = (
        [_start_event(i) for i in range(20, n)],
        [_end_event(i) for i in range(10, 25)],
    )

    def drain(dirs, tape, prefix):
        start_dir, end_dir, store, orphans, ckpt = dirs
        producer.write_stream_files(tape[0], start_dir, prefix=prefix)
        producer.write_stream_files(tape[1], end_dir, prefix=prefix)
        pq = jobs.start_trip_pipeline(
            spark, start_dir, end_dir, store, orphans, ckpt,
            key_groups=GROUPS, available_now=True,
        )
        pq.await_termination()
        return _reported_state_partitions(pq)

    dirs = _dirs(tmp_path / "restarted")
    session = spark.conf.get(jobs.SHUFFLE_PARTITIONS)
    spark.conf.set(jobs.SHUFFLE_PARTITIONS, "2")
    try:
        assert drain(dirs, first, "before") == {2}
    finally:
        spark.conf.set(jobs.SHUFFLE_PARTITIONS, session)
    # the rule now picks min(8, GROUPS, cores) = 8; the checkpoint says 2
    assert jobs._state_partitions(spark, GROUPS) == 8
    assert drain(dirs, rest, "after") == {2}

    once = _dirs(tmp_path / "single")
    drain(once, (first[0] + rest[0], first[1] + rest[1]), "all")

    a = sinks.current_trips(spark, dirs[2])
    b = sinks.current_trips(spark, once[2])
    cols = [c for c in a.columns if c != "updated_at"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0
    completed = {
        r["trip_id"]
        for r in a.filter(F.col("status") == "Completed").collect()
    }
    assert completed == {f"t{i:04d}" for i in range(n)}


def test_dtype_family_guard_raises_on_unclaimed_field():
    """A wire field no dtype family claims fails loudly — by an explicit
    raise, so the guard holds under ``python -O`` too."""
    import pathlib
    import subprocess
    import sys

    from real_time_trip_processing_project_spark.streaming import (
        correlator as C,
    )

    fields = C.START_FIELDS[1:] + C.END_FIELDS
    C._check_dtype_families(fields)
    with pytest.raises(TypeError, match="store_and_fwd_flag"):
        C._check_dtype_families(fields + ["store_and_fwd_flag"])
    probe = (
        "from real_time_trip_processing_project_spark.streaming import "
        "correlator as C\n"
        "try:\n"
        "    C._check_dtype_families(['store_and_fwd_flag'])\n"
        "except TypeError:\n"
        "    raise SystemExit(0)\n"
        "raise SystemExit(1)\n"
    )
    root = pathlib.Path(__file__).parent.parent
    optimized = subprocess.run([sys.executable, "-O", "-c", probe], cwd=root)
    assert optimized.returncode == 0


def test_grouped_matches_per_trip_random_tapes(spark, tmp_path):
    """Seeded random-tape equivalence: arbitrary interleavings of
    starts/ends with duplicates and missing halves, split across
    micro-batch waves, must leave BOTH hosts' stores identical (every
    column except the version stamp).  Exercises the group path's
    fast/slow split (stateless-clean vs stateful/multi-event trips)
    against the per-trip reference on tapes neither was written for."""
    for seed in (13, 99):
        rng = random.Random(seed)
        n = 24
        events = []
        for i in range(n):
            r = rng.random()
            if r < 0.70:  # normal pair
                events += [("s", _start_event(i)), ("e", _end_event(i))]
            elif r < 0.80:  # start only
                events.append(("s", _start_event(i)))
            elif r < 0.90:  # end only (early/orphan)
                events.append(("e", _end_event(i)))
            else:  # duplicated deliveries
                events += [
                    ("s", _start_event(i)),
                    ("e", _end_event(i)),
                    ("e", _end_event(i)),
                    ("s", _start_event(i)),
                ]
        rng.shuffle(events)
        waves = 3
        k = len(events) // waves
        stores = {}
        for tag, groups in (("v1", None), ("grp", GROUPS)):
            base = tmp_path / f"tape{seed}-{tag}"
            base.mkdir()
            dirs = _dirs(base)
            start_dir, end_dir, store, orphans, ckpt = dirs
            for wv in range(waves):
                chunk = events[wv * k :] if wv == waves - 1 else (
                    events[wv * k : (wv + 1) * k]
                )
                producer.write_stream_files(
                    [e for t, e in chunk if t == "s"], start_dir,
                    prefix=f"w{wv}",
                )
                producer.write_stream_files(
                    [e for t, e in chunk if t == "e"], end_dir,
                    prefix=f"w{wv}",
                )
                jobs.run_pipeline_to_completion(
                    spark, start_dir, end_dir, store, orphans, ckpt,
                    key_groups=groups,
                )
            stores[tag] = store
        a = sinks.current_trips(spark, stores["v1"])
        b = sinks.current_trips(spark, stores["grp"])
        cols = [c for c in a.columns if c != "updated_at"]
        d1 = a.select(cols).exceptAll(b.select(cols)).count()
        d2 = b.select(cols).exceptAll(a.select(cols)).count()
        assert d1 == 0 and d2 == 0, f"seed {seed}: {d1}/{d2} rows differ"


def test_grouped_with_rocksdb_store(spark, tmp_path):
    """The 100 TB configuration — key-group state on the RocksDB
    provider — completes the same trips as the default store."""
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, orphans, ckpt = dirs
    n = 8
    producer.write_stream_files([_start_event(i) for i in range(n)], start_dir)
    producer.write_stream_files([_end_event(i) for i in range(n)], end_dir)
    jobs.run_pipeline_to_completion(
        spark, start_dir, end_dir, store, orphans, ckpt,
        key_groups=GROUPS, state_store="rocksdb",
    )
    cur = sinks.current_trips(spark, store)
    assert cur.filter(F.col("status") == "Completed").count() == n


def test_grouped_rejects_ttl(spark, tmp_path):
    """Per-trip TTL timers are not expressible on group keys — the
    combination must fail loudly, not silently mis-expire."""
    dirs = _dirs(tmp_path)
    start_dir, end_dir, store, orphans, ckpt = dirs
    producer.write_stream_files([_start_event(0)], start_dir)
    producer.write_stream_files([], end_dir)
    with pytest.raises(ValueError, match="per-trip"):
        jobs.start_trip_pipeline(
            spark, start_dir, end_dir, store, orphans, ckpt,
            key_groups=GROUPS, state_ttl_ms=1000,
        )


def test_group_state_evicts_completed_and_placeholders():
    """Long-running-stream boundedness (direct function-level test):
    completed trips age out of the group blob after
    EVICT_COMPLETED_AFTER batches of group activity, emitted-orphan
    placeholders vanish immediately, open trips persist, and a
    duplicate end INSIDE the window still re-emits Completed like the
    per-trip host."""
    import json

    import pandas as pd

    from real_time_trip_processing_project_spark.streaming import (
        correlator as C,
    )

    class FakeState:
        def __init__(self):
            self._v = None
        hasTimedOut = False
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = v
        def remove(self):
            self._v = None

    def wire(events):
        cols = list(dict.fromkeys([*C.START_FIELDS, *C.END_FIELDS]))
        return pd.DataFrame(
            [{c: e.get(c) for c in cols} for e in events]
        ).assign(
            event_type=[
                "trip_start" if "pickup_datetime" in e else "trip_end"
                for e in events
            ]
        )

    fn = C.make_group_correlator("buffer", evict_completed_after=3)
    st = FakeState()

    def run(events):
        frames = list(fn((0,), iter([wire(events)]), st))
        return pd.concat(frames) if frames else pd.DataFrame()

    def blob():
        return json.loads(st.get[0])

    # batch 1: trip 0 completes, trip 1 stays open
    run([_start_event(0), _end_event(0), _start_event(1)])
    assert set(blob()["trips"]) == {"t0000", "t0001"}
    # batch 2 (within window): duplicate end re-emits Completed
    out = run([_end_event(0)])
    assert list(out["status"]) == ["Completed"]
    # batches 3-5 touch only other trips; t0000 ages out, t0001 stays
    for i in range(2, 5):
        run([_start_event(i), _end_event(i)])
    b = blob()["trips"]
    assert "t0000" not in b, "completed trip must age out"
    assert "t0001" in b, "open trip must survive eviction"
    # recently-completed trips are still inside their window
    assert "t0004" in b

    # drop mode: an orphaned end leaves NO placeholder behind
    fn_drop = C.make_group_correlator("drop", evict_completed_after=3)
    st = FakeState()
    frames = list(fn_drop((0,), iter([wire([_end_event(7)])]), st))
    out = pd.concat(frames)
    assert list(out["status"]) == ["Orphaned"]
    assert blob is not None and json.loads(st.get[0])["trips"] == {}


def test_group_state_accepts_legacy_r5_blob():
    """A pre-r6 state blob (bare ``{tid: [s, e, c]}``) loads as
    generation 0: its open entries keep working and its completed
    entries age out on later activity."""
    import json

    import pandas as pd

    from real_time_trip_processing_project_spark.streaming import (
        correlator as C,
    )

    class FakeState:
        def __init__(self, v):
            self._v = v
        hasTimedOut = False
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = v
        def remove(self):
            self._v = None

    legacy = json.dumps(
        {
            "t0000": [None, {"trip_id": "t0000", "fare_amount": 5.0}, False],
            "t0001": [{"trip_id": "t0001"}, {"trip_id": "t0001"}, True],
        }
    )
    st = FakeState((legacy,))
    fn = C.make_group_correlator("buffer", evict_completed_after=1)
    events = pd.DataFrame([dict(_start_event(0), event_type="trip_start")])
    frames = list(fn((0,), iter([events]), st))
    out = pd.concat(frames)
    # buffered legacy end + new start -> Completed (state still works)
    assert list(out["status"]) == ["Completed"]
    b = json.loads(st.get[0])
    assert b["__v"] == 3
    # legacy completed entry (stampless -> generation 0) aged out
    assert "t0001" not in b["trips"]


def test_group_state_v2_blob_upgrades_to_v3():
    """An r6–r16 (v2) blob — field-name dicts plus a separate ``last``
    map — must load losslessly: its open entries complete exactly as if
    they had been written in v3, its touch stamps carry over, and the
    next save is v3 positional."""
    import json

    import pandas as pd

    from real_time_trip_processing_project_spark.streaming import (
        correlator as C,
    )

    class FakeState:
        def __init__(self, v):
            self._v = v
        hasTimedOut = False
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = v
        def remove(self):
            self._v = None

    end0 = {k: _end_event(0).get(k) for k in C.END_FIELDS}
    start1 = {k: _start_event(1).get(k) for k in C.START_FIELDS}
    v2 = json.dumps(
        {
            "__v": 2,
            "n": 7,
            "trips": {
                "t0000": [None, end0, False],  # buffered early end
                "t0001": [start1, None, False],  # open started trip
            },
            "last": {"t0000": 7, "t0001": 6},
        }
    )
    st = FakeState((v2,))
    fn = C.make_group_correlator("buffer", evict_completed_after=8)
    events = pd.DataFrame([dict(_start_event(0), event_type="trip_start")])
    out = pd.concat(list(fn((0,), iter([events]), st)))
    # the v2 buffered end completes against the new start, all end
    # fields intact through the positional re-encoding
    assert list(out["status"]) == ["Completed"]
    assert out["fare_amount"].iloc[0] == _end_event(0)["fare_amount"]
    b = json.loads(st.get[0])
    assert b["__v"] == 3 and "last" not in b
    t0, t1 = b["trips"]["t0000"], b["trips"]["t0001"]
    assert t0[2] is True and t0[3] == 8  # completed, touched this batch
    # untouched open trip: payload positional, v2 stamp carried over
    assert t1[0] == [start1[f] for f in C.START_FIELDS]
    assert t1[1] is None and t1[2] is False and t1[3] == 6


def test_drain_mode_converges_to_identical_store(spark, tmp_path):
    """drain_mode=True (the r10 backlog preset: 4x trigger size per the
    knee sweep) must converge to the bit-identical store as the steady
    maxFilesPerTrigger=8 config over the SAME adversarially-ordered
    backlog — the preset changes only how many files land per
    micro-batch, never the per-trip fold or sink idempotency."""
    rng = random.Random(42)
    n = 120
    starts = [_start_event(i) for i in range(n)]
    ends = [_end_event(i) for i in range(n)]
    # adversarial interleave: shuffle both sides so many ends precede
    # their starts across micro-batch boundaries at either trigger size
    rng.shuffle(starts)
    rng.shuffle(ends)

    stores = {}
    for arm, kwargs in (
        ("steady", {"max_files_per_trigger": 8}),
        ("drain", {"drain_mode": True}),
    ):
        base = tmp_path / arm
        start_dir, end_dir = str(base / "start"), str(base / "end")
        store, orphans = str(base / "store"), str(base / "orphans")
        ckpt = str(base / "ckpt")
        # 40 files per side: 5 micro-batches steady, 2 in drain mode
        producer.write_stream_files(starts, start_dir, n_files=40)
        producer.write_stream_files(ends, end_dir, n_files=40)
        pq = jobs.start_trip_pipeline(
            spark, start_dir, end_dir, store, orphans, ckpt,
            mode="buffer", key_groups=GROUPS, available_now=True,
            **kwargs,
        )
        pq.await_termination()
        rows = sinks.current_trips(spark, store).collect()
        # updated_at is the sink's processing-time stamp — the one
        # column that legitimately differs between two physical runs
        stores[arm] = sorted(
            tuple(
                sorted(
                    (k, v)
                    for k, v in r.asDict().items()
                    if k != "updated_at"
                )
            )
            for r in rows
        )

    assert stores["steady"] == stores["drain"]
    assert len(stores["steady"]) == n
    statuses = {dict(t)["status"] for t in stores["steady"]}
    assert statuses == {"Completed"}


def test_drain_mode_rejects_explicit_trigger(spark, tmp_path):
    base = tmp_path / "x"
    with pytest.raises(ValueError, match="drain_mode"):
        jobs.start_trip_pipeline(
            spark, str(base / "s"), str(base / "e"), str(base / "st"),
            str(base / "o"), str(base / "c"),
            available_now=True, drain_mode=True, max_files_per_trigger=4,
        )
