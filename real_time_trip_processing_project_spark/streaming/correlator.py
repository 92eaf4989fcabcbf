"""The trip state machine: keyed streaming correlation of start/end events.

Engine equivalent of the reference's Lambda consumer
(``src/lambda_functions/trip_processor.py``): per ``trip_id``, hold the
start event, merge the end event onto it when it arrives, and emit
status transitions (Started → Completed).  Instead of per-record
DynamoDB get/put round-trips (trip_processor.py:54,59,78), state lives in
Spark's partitioned state store behind ``applyInPandasWithState`` — the
shuffle on ``trip_id`` IS the reference's PartitionKey hashing
(send_to_kinesis.py:56), and lookups are local to the executor.

Late/out-of-order handling (T3): the spec says events "may not be
perfectly ordered" (docs PDF p.2).  The reference warns-and-drops an end
with no stored start (trip_processor.py:60-62).  The engine supports both:

- ``mode="buffer"`` (default, strictly-better superset): an early end is
  held in state and the pair completes when the start arrives.
- ``mode="drop"`` (reference-compat): an early end is emitted as an
  ``Orphaned`` row for the orphan sink — surfaced as data, not a log line.

State TTL (engine addition; the reference leaks unmatched state forever):
``state_ttl_ms`` cleans up abandoned trips via processing-time timeout.
It cannot change matched-pair results — only unmatched state is dropped.

Deviations fixed on purpose (SURVEY §3.2 reference bugs a-c): ``date`` is
derived from ``pickup_datetime`` at start time; state is keyed
consistently by ``trip_id``; nullable numerics stay SQL NULL.
"""

from __future__ import annotations

import json
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Columns originating in the start stream (trip_processor.py:43-50).
START_FIELDS = [
    "trip_id",
    "pickup_location_id",
    "dropoff_location_id",
    "vendor_id",
    "pickup_datetime",
    "estimated_dropoff_datetime",
    "estimated_fare_amount",
]

#: Columns originating in the end stream (trip_processor.py:65-74).
END_FIELDS = [
    "dropoff_datetime",
    "rate_code",
    "passenger_count",
    "trip_distance",
    "fare_amount",
    "tip_amount",
    "payment_type",
    "trip_type",
]

#: Unified wire schema of the tagged union of both streams.  Datetimes stay
#: strings on the wire (the reference's JSON carries "YYYY-MM-DD HH:MM:SS"
#: strings); typing happens at emit.
WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("trip_id", T.StringType(), False),
        T.StructField("pickup_location_id", T.IntegerType(), True),
        T.StructField("dropoff_location_id", T.IntegerType(), True),
        T.StructField("vendor_id", T.IntegerType(), True),
        T.StructField("pickup_datetime", T.StringType(), True),
        T.StructField("estimated_dropoff_datetime", T.StringType(), True),
        T.StructField("estimated_fare_amount", T.DoubleType(), True),
        T.StructField("dropoff_datetime", T.StringType(), True),
        T.StructField("rate_code", T.DoubleType(), True),
        T.StructField("passenger_count", T.DoubleType(), True),
        T.StructField("trip_distance", T.DoubleType(), True),
        T.StructField("fare_amount", T.DoubleType(), True),
        T.StructField("tip_amount", T.DoubleType(), True),
        T.StructField("payment_type", T.DoubleType(), True),
        T.StructField("trip_type", T.DoubleType(), True),
    ]
)

#: Correlator output: typed trip rows (the sink adds ``updated_at``).
OUT_SCHEMA = T.StructType(
    [
        T.StructField("trip_id", T.StringType(), False),
        T.StructField("pickup_location_id", T.IntegerType(), True),
        T.StructField("dropoff_location_id", T.IntegerType(), True),
        T.StructField("vendor_id", T.IntegerType(), True),
        T.StructField("pickup_datetime", T.TimestampType(), True),
        T.StructField("estimated_dropoff_datetime", T.TimestampType(), True),
        T.StructField("estimated_fare_amount", T.DoubleType(), True),
        T.StructField("dropoff_datetime", T.TimestampType(), True),
        T.StructField("rate_code", T.DoubleType(), True),
        T.StructField("passenger_count", T.DoubleType(), True),
        T.StructField("trip_distance", T.DoubleType(), True),
        T.StructField("fare_amount", T.DoubleType(), True),
        T.StructField("tip_amount", T.DoubleType(), True),
        T.StructField("payment_type", T.DoubleType(), True),
        T.StructField("trip_type", T.DoubleType(), True),
        T.StructField("date", T.DateType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)

#: State per trip_id: the JSON-serialized start/end events + completion flag.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_json", T.StringType(), True),
        T.StructField("end_json", T.StringType(), True),
        T.StructField("completed", T.BooleanType(), True),
    ]
)

_TS_FIELDS = {"pickup_datetime", "estimated_dropoff_datetime", "dropoff_datetime"}
_INT_FIELDS = {"pickup_location_id", "dropoff_location_id", "vendor_id"}


def _py(v: Any) -> Any:
    """numpy/pandas scalar → plain Python (JSON-serializable state)."""
    if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NaT:
        return None
    if hasattr(v, "item"):
        v = v.item()
    return None if (isinstance(v, float) and pd.isna(v)) else v


def _emit_row(
    trip_id: str, start: dict | None, end: dict | None, status: str
) -> dict[str, Any]:
    row: dict[str, Any] = {f.name: None for f in OUT_SCHEMA.fields}
    row["trip_id"] = trip_id
    for src, fields in ((start, START_FIELDS), (end, END_FIELDS)):
        if src:
            for f in fields:
                if f != "trip_id":
                    row[f] = src.get(f)
    for f in _TS_FIELDS:
        if row[f] is not None:
            row[f] = pd.Timestamp(row[f])
    for f in _INT_FIELDS:
        if row[f] is not None:
            row[f] = int(row[f])
    # date derived at start time (fixes reference bug b — the Lambda never
    # writes the `date` attribute the README declares at README.md:34,44)
    if row["pickup_datetime"] is not None:
        row["date"] = row["pickup_datetime"].date()
    row["status"] = status
    return row


_OUT_FIELD_NAMES = [f.name for f in OUT_SCHEMA.fields]


def _frame_from_rows(out: list[dict]) -> pd.DataFrame:
    """OUT_SCHEMA frame from emitted row dicts via pre-built object
    ndarrays.  ``pd.DataFrame(list_of_dicts)`` runs per-column type
    inference (datetime sniffing, object conversion) on every per-key
    emission — the stream correlator's hottest line in profiles; object
    arrays skip the inference entirely (~2× cheaper per key) and the
    Arrow serializer coerces them to OUT_SCHEMA types just the same
    (values are already pd.Timestamp/int/float/None from
    :func:`_emit_row`)."""
    import numpy as np

    data = {
        name: np.array([r[name] for r in out], dtype=object)
        for name in _OUT_FIELD_NAMES
    }
    return pd.DataFrame(data, copy=False)


def make_correlator(mode: str = "buffer", state_ttl_ms: int | None = None):
    """Build the applyInPandasWithState function for the trip state machine."""
    if mode not in ("buffer", "drop"):
        raise ValueError(f"mode must be 'buffer' or 'drop', got {mode!r}")

    def correlate(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        trip_id = key[0]
        if state.hasTimedOut:
            # abandoned trip: reclaim state (engine addition; cannot affect
            # matched pairs — only unmatched state reaches a timeout)
            state.remove()
            return
        start_json, end_json, completed = (
            state.get if state.exists else (None, None, False)
        )
        start = json.loads(start_json) if start_json else None
        end = json.loads(end_json) if end_json else None

        out, start, end, completed = _apply_events(
            trip_id, pdfs, start, end, completed, mode
        )

        state.update(
            (
                json.dumps(start) if start else None,
                json.dumps(end) if end else None,
                completed,
            )
        )
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if out:
            yield _frame_from_rows(out)

    return correlate


def _apply_events(
    trip_id: str,
    pdfs: Iterator[pd.DataFrame],
    start: dict | None,
    end: dict | None,
    completed: bool,
    mode: str,
):
    """The trip state machine proper, shared by every host API (v1
    ``applyInPandasWithState``, v2 ``transformWithStateInPandas``, batch
    replay): fold a key's event frames into (emitted rows, new state)."""
    out: list[dict] = []
    for pdf in pdfs:
        # row extraction via to_numpy + zip: ~14× cheaper than
        # to_dict("records") on the tiny per-key frames this
        # receives, and with thousands of keys per micro-batch the
        # extraction is the correlator's hottest line (measured in
        # the bench's correlator-isolated probe)
        cols = list(pdf.columns)
        for values in pdf.to_numpy():
            rec = dict(zip(cols, values))
            etype = rec.pop("event_type")
            ev = {k: _py(v) for k, v in rec.items()}
            if etype == "trip_start":
                start = {k: ev.get(k) for k in START_FIELDS}
                if end is not None:
                    completed = True
                    out.append(_emit_row(trip_id, start, end, "Completed"))
                else:
                    out.append(_emit_row(trip_id, start, None, "Started"))
            elif etype == "trip_end":
                ev_end = {k: ev.get(k) for k in END_FIELDS}
                if start is not None:
                    end = ev_end
                    completed = True
                    out.append(_emit_row(trip_id, start, end, "Completed"))
                elif mode == "buffer":
                    end = ev_end  # hold the early end until its start
                else:  # reference-compat: surface as orphan, don't store
                    out.append(_emit_row(trip_id, None, ev_end, "Orphaned"))
            # unknown event_type: per-record isolation (T5) — skip
    return out, start, end, completed


class _BatchGroupState:
    """Minimal ``GroupState`` stand-in for single-batch replay: holds the
    state tuple in memory for the duration of one group invocation."""

    hasTimedOut = False

    def __init__(self) -> None:
        self._tuple = None

    @property
    def exists(self) -> bool:
        return self._tuple is not None

    @property
    def get(self):
        return self._tuple

    def update(self, t) -> None:
        self._tuple = t

    def remove(self) -> None:
        self._tuple = None

    def setTimeoutDuration(self, ms) -> None:
        pass


_DBL_FIELDS = {
    "estimated_fare_amount",
    "rate_code",
    "passenger_count",
    "trip_distance",
    "fare_amount",
    "tip_amount",
    "payment_type",
    "trip_type",
}


#: Wire datetime layout (send_to_kinesis.py:45-50 CSV passthrough).
#: Pinning it keeps pandas on the vectorized C parser — the generic
#: ``pd.to_datetime`` cannot infer a format from an all-None column and
#: falls back to per-element dateutil parsing (profiled as a top cost of
#: the correlator's micro-batch CPU).
_WIRE_TS_FORMAT = "%Y-%m-%d %H:%M:%S"


def _to_ts(col: pd.Series) -> pd.Series:
    try:
        return pd.to_datetime(col, format=_WIRE_TS_FORMAT)
    except (ValueError, TypeError):  # non-wire layouts: generic parse
        return pd.to_datetime(col)


_START_DATA_SET = frozenset(START_FIELDS[1:])

def _check_dtype_families(fields) -> None:
    """Every data field must be claimed by a dtype family: the columnar
    emission's else-branch astypes anything unclaimed to Float64, so a
    NEW string wire field (e.g. store_and_fwd_flag) added without a
    family would crash or silently corrupt at runtime.  Raises (rather
    than asserts) so the guard also holds under ``python -O``."""
    missing = sorted(set(fields) - (_TS_FIELDS | _INT_FIELDS | _DBL_FIELDS))
    if missing:
        raise TypeError(
            f"correlator wire field(s) {missing} missing a dtype family "
            "(_TS/_INT/_DBL_FIELDS)"
        )


# fail at import, not in the first micro-batch
_check_dtype_families(START_FIELDS[1:] + END_FIELDS)


def _merge_starts_ends(rows: pd.DataFrame) -> pd.DataFrame:
    """Outer-merge a clean batch slice (≤1 start and ≤1 end per trip)
    into one row per trip, carrying the original row positions
    (``__spos``/``__epos``) so arrival order remains decidable."""
    pos = pd.Series(range(len(rows)), index=rows.index, dtype="int64")
    is_start = rows["event_type"] == "trip_start"
    s = rows.loc[is_start, START_FIELDS].copy()
    s["__spos"] = pos[is_start]
    e = rows.loc[~is_start, ["trip_id", *END_FIELDS]].copy()
    e["__epos"] = pos[~is_start]
    return s.merge(e, on="trip_id", how="outer", sort=False)


def _batch_vectorized(rows: pd.DataFrame, mode: str) -> pd.DataFrame:
    """Vectorized state machine for trips with ≤1 start and ≤1 end in the
    batch (the overwhelmingly common replay shape): one merge + boolean
    masks reproduce exactly what the per-row loop would emit, including
    the order-dependent Started/Completed/Orphaned interleavings."""
    return _emit_from_merge(_merge_starts_ends(rows), mode)


def _emit_from_merge(m: pd.DataFrame, mode: str) -> pd.DataFrame:
    """Emission half of the vectorized state machine, over a
    :func:`_merge_starts_ends` frame.

    Fully columnar (r17): each emitted status contributes a row-INDEX
    subset of the merge frame; the output is one positional gather per
    column in final emission order, with the fields a status must not
    carry nulled by mask.  The previous shape — a typed COPY of the
    whole frame, one frame copy + constructor per status, concat, then
    a pandas sort — rebuilt pandas block managers five times per call
    and profiled as half the correlator kernel.  Emission order is
    identical: ``__trig`` (the row position of the event whose arrival
    caused the emission) under a stable sort reproduces the per-row
    loop's interleaving, same as before."""
    import numpy as np

    has_s = m["__spos"].notna().to_numpy()
    has_e = m["__epos"].notna().to_numpy()
    spos = m["__spos"].to_numpy(dtype="float64", na_value=np.nan)
    epos = m["__epos"].to_numpy(dtype="float64", na_value=np.nan)
    both = has_s & has_e
    end_first = both & np.less(
        epos, spos, out=np.zeros(len(m), dtype=bool), where=both
    )
    # (row indices, status, carries start, carries end, trigger pos)
    if mode == "buffer":
        subsets = [  # buffered end completes at start; never orphans
            (np.flatnonzero(has_s & ~end_first), "Started", True, False, spos),
            (np.flatnonzero(both), "Completed", True, True, np.fmax(spos, epos)),
        ]
    else:  # drop: an early end is surfaced as an orphan, never stored
        subsets = [
            (np.flatnonzero(has_s), "Started", True, False, spos),
            (
                np.flatnonzero(both & ~end_first),
                "Completed", True, True, np.fmax(spos, epos),
            ),
            (
                np.flatnonzero(has_e & (end_first | ~has_s)),
                "Orphaned", False, True, epos,
            ),
        ]
    idx = np.concatenate([s[0] for s in subsets])
    trig = np.concatenate([s[4][s[0]] for s in subsets])
    status = np.concatenate(
        [np.full(len(s[0]), s[1], dtype=object) for s in subsets]
    )
    null_start = np.concatenate(
        [np.full(len(s[0]), not s[2], dtype=bool) for s in subsets]
    )
    null_end = np.concatenate(
        [np.full(len(s[0]), not s[3], dtype=bool) for s in subsets]
    )
    order = np.argsort(trig, kind="stable")
    fidx = idx[order]
    cols: dict[str, object] = {
        "trip_id": m["trip_id"].to_numpy(dtype=object)[fidx]
    }
    null_start, null_end = null_start[order], null_end[order]
    for f in START_FIELDS[1:] + END_FIELDS:
        nul = null_start if f in _START_DATA_SET else null_end
        if f in _TS_FIELDS:
            arr = _to_ts(m[f]).to_numpy()[fidx]  # gather copies: safe to set
            if nul.any():
                arr[nul] = np.datetime64("NaT")
        elif f in _INT_FIELDS:
            arr = m[f].astype("Int32").array.take(fidx)
            if nul.any():
                arr[nul] = pd.NA
        else:  # every remaining data field is a _DBL_FIELDS measure
            arr = m[f].astype("Float64").array.take(fidx)
            if nul.any():
                arr[nul] = pd.NA
        cols[f] = arr
    pickup = pd.Series(cols["pickup_datetime"])
    cols["date"] = (
        pickup.dt.date.where(pickup.notna(), None).to_numpy(dtype=object)
    )
    cols["status"] = status[order]
    return pd.DataFrame(cols, copy=False)


def correlate_batch(
    tagged: DataFrame, mode: str = "buffer", n_partitions: int | None = None
) -> DataFrame:
    """Batch twin of :func:`correlate_stream`: the same per-trip state
    machine applied to a static tagged union, as if every event arrived
    in one micro-batch.

    Used for backfill replay and for the bench probe that isolates
    state-machine cost from streaming-source latency.  The plan is a
    single hash ``repartition`` on ``trip_id`` (co-locating each trip's
    events, exactly what the stream's groupBy shuffle does) followed by
    ``mapInPandas`` over whole partitions: ONE Python invocation per
    partition, not per trip or per bucket — per-group Arrow/invocation
    overhead at millions of 2-row groups would otherwise dominate the
    state machine itself.  Per-trip isolation is preserved by per-trip
    masks inside the partition.  Partition memory = that partition's
    events in pandas; size ``n_partitions`` (default: session
    ``spark.sql.shuffle.partitions``) so partitions fit, same rule as
    any shuffle.  Intra-key event order follows batch row order — the
    buffer-mode guarantee that a pair eventually completes holds either
    way, but Started/Completed interleavings are order-dependent, so
    streaming *semantics* stay tested on :func:`correlate_stream`.

    Trips whose batch slice is the clean shape — at most one start and
    one end — run through :func:`_batch_vectorized` (merge + columnar
    assembly; no per-row Python).  Only trips with multi-event
    interleavings fall back to the per-row loop, preserving exact
    emission semantics for both.
    """
    fn = make_correlator(mode=mode)
    cols = [f.name for f in OUT_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one pandas frame per partition: a trip's events may span Arrow
        # batches, and the vectorized path amortizes best over the
        # whole partition anyway
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = (
            pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        )
        frames: list[pd.DataFrame] = []
        known = pdf[pdf["event_type"].isin(("trip_start", "trip_end"))]
        if len(known):
            counts = (
                (known["event_type"] == "trip_start")
                .groupby(known["trip_id"], sort=False)
                .agg(["sum", "count"])
            )
            slow_ids = counts.index[
                (counts["sum"] > 1) | (counts["count"] - counts["sum"] > 1)
            ]
            fast = known[~known["trip_id"].isin(slow_ids)]
            if len(fast):
                frames.append(_batch_vectorized(fast, mode))
            if len(slow_ids):
                # unknown event types stay in the slow slice: the row
                # loop skips them, preserving T5 isolation semantics
                slow = pdf[pdf["trip_id"].isin(slow_ids)]
                frames.extend(
                    frame
                    for tid, sub in slow.groupby("trip_id", sort=False)
                    for frame in fn((tid,), iter([sub]), _BatchGroupState())
                )
        if not frames:
            return
        yield pd.concat(frames, ignore_index=True)[cols]

    rep = (
        tagged.repartition(n_partitions, "trip_id")
        if n_partitions is not None
        else tagged.repartition("trip_id")
    )
    return rep.mapInPandas(run, schema=OUT_SCHEMA)


def correlate_stream(
    tagged: DataFrame, mode: str = "buffer", state_ttl_ms: int | None = None
) -> DataFrame:
    """Apply the trip state machine to a tagged union stream (WIRE_SCHEMA).

    The groupBy shuffles by ``trip_id`` — the same key hashing the
    reference gets from Kinesis PartitionKey — and the state store is
    partition-local, so each micro-batch does zero remote lookups.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return tagged.groupBy("trip_id").applyInPandasWithState(
        make_correlator(mode=mode, state_ttl_ms=state_ttl_ms),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# Key-group correlator: the throughput path.
#
# ``applyInPandasWithState`` invokes the Python function once per KEY per
# micro-batch.  Keyed by ``trip_id`` that is one invocation per trip —
# with ~2 events per trip, per-invocation overhead (Arrow framing, state
# round-trip, function dispatch) dominates the state machine itself by
# ~8× (measured: 4.3 s of a 5.0 s replay batch for 5k trips).  Keying by
# a HASH BUCKET of the trip id — Flink's key-group idea — drops
# invocations from #trips to a fixed group count, and inside each group
# the clean-pair fast path (:func:`_batch_vectorized`) handles the
# common shape with zero per-row Python.
#
# Tradeoff (why the per-trip path still exists): group state is one
# value, so a batch that touches a group rewrites that group's WHOLE
# state, and per-trip TTL timers are not expressible (a group's timer
# would reset on any member's event) — state_ttl_ms therefore requires
# the per-trip path.  Groups ≫ cores keeps partitions balanced.
#
# What bounds the blob: completed entries are EVICTED once they have sat
# untouched for EVICT_COMPLETED_AFTER batches of group activity, and
# emitted-orphan placeholders ([None, None, False]) are dropped
# immediately, so a group's state is its OPEN trips plus a K-batch tail
# of recently-completed ones — not every trip ever seen (pre-r6 the map
# grew unboundedly, the one long-running-stream hazard of this path).
# Write amplification per touched group is therefore
# ∝ open-trips/G + recent-completions/G.
# ---------------------------------------------------------------------------

#: Key-group state: one JSON blob mapping trip_id → [start, end,
#: completed, last_touched_batch].  Start/end are POSITIONAL value
#: arrays in START_FIELDS/END_FIELDS order (v3 layout, r17): the blob
#: is rewritten on every batch that touches the group, so repeating the
#: 15 field names per trip (~half the v2 bytes) was pure state-store
#: write amplification plus json encode/decode time in the hot loop.
GROUP_STATE_SCHEMA = T.StructType(
    [T.StructField("trips_json", T.StringType(), True)]
)

#: Batches of group activity a completed trip's state survives before
#: eviction.  A duplicate start/end redelivered WITHIN the window
#: re-emits ``Completed`` exactly like the per-trip host; one arriving
#: after eviction is treated as a fresh event instead (buffer mode holds
#: it; drop mode orphans an end) — the documented divergence bounded by
#: this constant.  Kinesis-style redelivery happens within a few
#: consecutive polls, so the default window is generous for the
#: semantics it protects while keeping state ∝ open trips.
EVICT_COMPLETED_AFTER = 8


def _state_vals(d: dict | None, fields: list[str]) -> list | None:
    """Event dict → positional value array (v3 trip-state encoding).
    ``.get`` tolerates partial dicts from legacy (v0/v2) blobs."""
    return None if d is None else [d.get(f) for f in fields]


def _state_dict(vals: list | None, fields: list[str]) -> dict | None:
    """Positional value array → event dict (the per-trip slow path and
    :func:`_emit_row` consume dicts)."""
    return None if vals is None else dict(zip(fields, vals))


def _load_group_blob(blob: str | None) -> tuple[int, dict]:
    """(batch_seq, trips) from a state blob, trips in the v3 positional
    layout ``{tid: [s_vals, e_vals, completed, last_touched]}``.
    Accepts the v2 layout (field-name dicts + separate ``last`` map) and
    the r5 layout (bare ``{tid: [s, e, c]}``, generation 0 with no touch
    stamps — its entries age out normally from the next batch on)."""
    if not blob:
        return 0, {}
    d = json.loads(blob)
    if isinstance(d, dict) and d.get("__v") == 3:
        return d["n"], d["trips"]
    if isinstance(d, dict) and d.get("__v") == 2:
        last = d["last"]
        return d["n"], {
            tid: [
                _state_vals(s, START_FIELDS),
                _state_vals(e, END_FIELDS),
                c,
                last.get(tid, 0),
            ]
            for tid, (s, e, c) in d["trips"].items()
        }
    return 0, {
        tid: [
            _state_vals(s, START_FIELDS),
            _state_vals(e, END_FIELDS),
            c,
            0,
        ]
        for tid, (s, e, c) in d.items()
    }


def _evict_group_state(
    trips: dict, batch_no: int, keep_for: int | None
) -> None:
    """Drop state no future event can need: emitted-orphan placeholders
    (``[None, None, False]`` ≡ no state for every later transition) and
    completed trips untouched for ``keep_for`` batches (kept only to
    re-emit on redelivery)."""
    for tid in list(trips):
        s, e, c, touched = trips[tid]
        stale = keep_for is not None and batch_no - touched >= keep_for
        if (c and stale) or (s is None and e is None and not c):
            del trips[tid]


def _json_default(v: Any) -> Any:
    """numpy scalar → Python for ``json.dumps`` of group state."""
    return v.item() if hasattr(v, "item") else str(v)


def _value_rows(df: pd.DataFrame, cols: list[str]) -> list[list]:
    """Rows → positional plain-Python value arrays (``cols`` order) with
    NaN/NaT normalized to None — the v3 trip-state encoding (see
    ``_py``/:func:`_state_vals` for the dict twin).  Null-masking runs
    VECTORIZED per column (one ``pd.isna`` per column, not per value —
    the per-value form profiled as the fold's top remaining cost after
    the itertuples rewrite); the per-row work left is one ``list()``."""
    arrays = []
    for c in cols:
        col = df[c]
        arr = col.to_numpy(dtype=object)
        mask = pd.isna(col).to_numpy()
        if mask.any():
            arr = arr.copy()
            arr[mask] = None
        arrays.append(arr)
    return [list(vals) for vals in zip(*arrays)]


def _fold_merge_into_state(
    m: pd.DataFrame, mode: str, trips: dict[str, list], batch_no: int
) -> None:
    """Post-batch state for clean-shape stateless trips, derived from the
    merge frame — what the per-row loop would have left in state."""
    has_s = (m["__spos"].notna()).to_numpy()
    has_e = (m["__epos"].notna()).to_numpy()
    end_first = has_s & has_e & (m["__epos"] < m["__spos"]).to_numpy()
    svals = _value_rows(m, START_FIELDS)
    evals = _value_rows(m, END_FIELDS)
    for i, tid in enumerate(m["trip_id"].tolist()):
        s = svals[i] if has_s[i] else None
        e = evals[i] if has_e[i] else None
        if mode == "drop" and e is not None and (s is None or end_first[i]):
            e = None  # orphaned end was emitted, never stored
        trips[tid] = [s, e, s is not None and e is not None, batch_no]


def make_group_correlator(
    mode: str = "buffer",
    evict_completed_after: int | None = EVICT_COMPLETED_AFTER,
):
    """applyInPandasWithState function for one key GROUP (hash bucket of
    trip ids): same per-trip semantics as :func:`make_correlator`, with
    the batch's clean-shape stateless trips vectorized and only stateful
    or multi-event trips routed through the per-row loop.  Completed
    entries age out of group state after ``evict_completed_after``
    batches of group activity (None = keep forever, the pre-r6
    behavior); see :data:`EVICT_COMPLETED_AFTER` for the redelivery
    divergence this bounds."""
    if mode not in ("buffer", "drop"):
        raise ValueError(f"mode must be 'buffer' or 'drop', got {mode!r}")

    def correlate(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # no TTL in group mode; defensive only
            state.remove()
            return
        (blob,) = state.get if state.exists else (None,)
        batch_no, trips = _load_group_blob(blob)
        batch_no += 1
        parts = [p for p in pdfs if len(p)]
        frames: list[pd.DataFrame] = []
        if parts:
            pdf = (
                pd.concat(parts, ignore_index=True)
                if len(parts) > 1
                else parts[0]
            )
            known = pdf[pdf["event_type"].isin(("trip_start", "trip_end"))]
            if len(known):
                is_start = known["event_type"] == "trip_start"
                counts = is_start.groupby(known["trip_id"], sort=False).agg(
                    ["sum", "count"]
                )
                messy = set(
                    counts.index[
                        (counts["sum"] > 1)
                        | ((counts["count"] - counts["sum"]) > 1)
                    ]
                )
                slow_ids = messy | (
                    set(counts.index) & trips.keys()
                )  # existing state ⇒ per-trip fold
                fast = known[~known["trip_id"].isin(slow_ids)]
                if len(fast):
                    m = _merge_starts_ends(fast)
                    frames.append(_emit_from_merge(m, mode))
                    _fold_merge_into_state(m, mode, trips, batch_no)
                if slow_ids:
                    slow = pdf[pdf["trip_id"].isin(slow_ids)]
                    for tid, sub in slow.groupby("trip_id", sort=False):
                        st = trips.get(tid)
                        s0 = _state_dict(st[0], START_FIELDS) if st else None
                        e0 = _state_dict(st[1], END_FIELDS) if st else None
                        out, s2, e2, c2 = _apply_events(
                            tid, iter([sub]), s0, e0,
                            st[2] if st else False, mode,
                        )
                        trips[tid] = [
                            _state_vals(s2, START_FIELDS),
                            _state_vals(e2, END_FIELDS),
                            c2,
                            batch_no,
                        ]
                        if out:
                            frames.append(_frame_from_rows(out))
        _evict_group_state(trips, batch_no, evict_completed_after)
        state.update(
            (
                json.dumps(
                    {"__v": 3, "n": batch_no, "trips": trips},
                    default=_json_default,
                ),
            )
        )
        for f in frames:
            yield f

    return correlate


def correlate_stream_grouped(
    tagged: DataFrame,
    mode: str = "buffer",
    n_groups: int = 64,
    evict_completed_after: int | None = EVICT_COMPLETED_AFTER,
) -> DataFrame:
    """T2 keyed correlation on hash key groups — the high-throughput host
    for the same trip state machine (see the key-group design note
    above).  ``n_groups`` ≫ cores for balance; state TTL needs the
    per-trip :func:`correlate_stream`."""
    g = F.pmod(F.xxhash64(F.col("trip_id")), F.lit(n_groups)).alias("__group")
    return (
        tagged.withColumn("__group", g)
        .groupBy("__group")
        .applyInPandasWithState(
            make_group_correlator(
                mode=mode, evict_completed_after=evict_completed_after
            ),
            outputStructType=OUT_SCHEMA,
            stateStructType=GROUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def make_stateful_processor(mode: str = "buffer", state_ttl_ms: int | None = None):
    """Build the v2 ``StatefulProcessor`` for :func:`correlate_stream_v2`
    (defined inside the factory so importing this module never touches
    the stateful-processor machinery)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if mode not in ("buffer", "drop"):
        raise ValueError(f"mode must be 'buffer' or 'drop', got {mode!r}")

    #: v2 state rows are typed structs — starts/ends stored as JSON
    #: strings for exact parity with the v1 store layout (STATE_SCHEMA).
    class _TripProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "trip", STATE_SCHEMA, ttlDurationMs=state_ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            trip_id = key[0]
            existing = self._state.get() if self._state.exists() else None
            start_json, end_json, completed = existing or (None, None, False)
            start = json.loads(start_json) if start_json else None
            end = json.loads(end_json) if end_json else None
            out, start, end, completed = _apply_events(
                trip_id, rows, start, end, completed, mode
            )
            self._state.update(
                (
                    json.dumps(start) if start else None,
                    json.dumps(end) if end else None,
                    completed,
                )
            )
            if out:
                yield _frame_from_rows(out)

        def close(self) -> None:
            pass

    return _TripProcessor()


def correlate_stream_v2(
    tagged: DataFrame, mode: str = "buffer", state_ttl_ms: int | None = None
) -> DataFrame:
    """T2 on the v2 arbitrary-state API: identical event semantics to
    :func:`correlate_stream`, hosted by ``transformWithStateInPandas``.

    Why it exists alongside v1: the v2 API is where stateful Python
    streaming is headed — typed state variables (value/list/map) instead
    of one opaque tuple, native TTL per state (no processing-time timer
    dance), and a RocksDB-only store contract that matches the 100 TB
    deployment posture anyway.  The state machine itself is the shared
    :func:`_apply_events`; a parity test replays the same files through
    both hosts and asserts identical emissions.

    Requires ``spark.sql.streaming.stateStore.providerClass`` =
    RocksDB (the v2 API rejects the HDFS-backed store) and the
    ``protobuf`` package (the v2 state protocol is protobuf-framed;
    checked eagerly here because its absence otherwise surfaces as an
    opaque driver-worker crash at query start).
    """
    import importlib.util

    try:
        has_pb = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        has_pb = False
    if not has_pb:
        raise RuntimeError(
            "correlate_stream_v2 needs the 'protobuf' package "
            "(transformWithStateInPandas state protocol); this "
            "environment lacks it — use correlate_stream (v1) instead"
        )
    return tagged.groupBy("trip_id").transformWithStateInPandas(
        make_stateful_processor(mode=mode, state_ttl_ms=state_ttl_ms),
        outputStructType=OUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )
