"""Seeded generator of reference-shaped trip events, with the true KPIs.

The reference CSVs (4,999 trip starts and ends on one day) are not part of
the repository, so the benchmark draws events of the same shape
(FIXTURES.md A1/A2) and the A5 edge cases at the reference's own shares:

- ~10.6% of end events carry NULL ``rate_code``/``passenger_count``/
  ``payment_type``/``trip_type`` (531/4999 in the reference);
- ~2.3% of trips cross midnight (114/4999), so ``date`` follows pickup;
- start-only trips (never completed, excluded from KPIs) and orphan ends
  (an end whose start never arrives);
- duplicate deliveries and ends that arrive before their start, which are
  properties of arrival order rather than of a trip, so the two file
  layouts (:func:`drain_backlog`, :func:`paced_schedule`) add them.

Everything is drawn from one ``numpy`` generator seeded by the caller, so
the same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

DAY0 = np.datetime64("2024-05-25T00:00:00", "s")
NULL_END_SHARE = 531 / 4999
CROSS_MIDNIGHT_SHARE = 114 / 4999
START_ONLY_SHARE = 0.02
ORPHAN_END_SHARE = 0.01
DUPLICATE_SHARE = 0.02
EARLY_END_SHARE = 0.05
#: Waves an end trails its start by (inclusive range).  Redeliveries land
#: one wave later, so every duplicate arrives well inside the correlator's
#: completed-trip eviction window.
END_LAG = (1, 3)

START_KEYS = (
    "trip_id", "pickup_location_id", "dropoff_location_id", "vendor_id",
    "pickup_datetime", "estimated_dropoff_datetime", "estimated_fare_amount",
)
END_KEYS = (
    "dropoff_datetime", "rate_code", "passenger_count", "trip_distance",
    "fare_amount", "tip_amount", "payment_type", "trip_type", "trip_id",
)


@dataclass
class Trips:
    """One drawn population of trips.  ``starts[i]``/``ends[i]`` are the
    wire records of trip ``i`` (``None`` where the event never exists);
    ``date``/``fare`` are the pickup day and fare the KPIs group by."""

    starts: list[dict | None]
    ends: list[dict | None]
    date: np.ndarray
    fare: np.ndarray

    def __len__(self) -> int:
        return len(self.starts)

    @property
    def completed(self) -> np.ndarray:
        return np.array(
            [s is not None and e is not None
             for s, e in zip(self.starts, self.ends)]
        )


def _ts(seconds: np.ndarray) -> list[str]:
    """Epoch-offset seconds → the reference's "YYYY-MM-DD HH:MM:SS"."""
    iso = np.datetime_as_string(DAY0 + seconds.astype("timedelta64[s]"))
    return np.char.replace(iso, "T", " ").tolist()


def _nullable(values: np.ndarray, null: np.ndarray) -> list:
    out = values.tolist()
    for i in np.flatnonzero(null):
        out[i] = None
    return out


def draw_trips(
    rng: np.random.Generator, n: int, days: int, id_salt: int = 0
) -> Trips:
    """Draw ``n`` trips with pickups spread over ``days`` consecutive days
    from 2024-05-25.  Trip ids are 10 hex characters, unique within one
    salt (an odd multiplier makes ``i → id`` a bijection mod 2^40)."""
    day = rng.integers(0, days, n)
    dur = rng.integers(3 * 60, 60 * 60, n)
    cross = rng.random(n) < CROSS_MIDNIGHT_SHARE
    # a crossing trip starts within its duration of midnight; every other
    # trip ends before midnight
    offset = np.where(
        cross,
        86_400 - (rng.random(n) * (dur - 60)).astype(np.int64) - 1,
        (rng.random(n) * (86_400 - dur)).astype(np.int64),
    )
    pickup = day * 86_400 + offset
    dropoff = pickup + dur
    est_dropoff = pickup + (dur * rng.uniform(0.8, 1.2, n)).astype(np.int64)
    fare = np.round(rng.uniform(10.0, 100.0, n), 6)
    est_fare = np.round(np.clip(fare * rng.uniform(0.85, 1.15, n), 8.6, 100.0), 6)
    null_end = rng.random(n) < NULL_END_SHARE
    kind = rng.random(n)
    start_only = kind < START_ONLY_SHARE
    orphan_end = (kind >= START_ONLY_SHARE) & (
        kind < START_ONLY_SHARE + ORPHAN_END_SHARE
    )
    ids = [
        f"{(id_salt * 1_000_003 + i) * 0x9E3779B1 % (1 << 40):010x}"
        for i in range(n)
    ]
    cols_s = zip(
        ids,
        rng.integers(1, 266, n).tolist(),
        rng.integers(1, 266, n).tolist(),
        rng.integers(1, 3, n).tolist(),
        _ts(pickup),
        _ts(est_dropoff),
        est_fare.tolist(),
    )
    cols_e = zip(
        _ts(dropoff),
        _nullable(rng.integers(1, 6, n).astype(float), null_end),
        _nullable(rng.integers(0, 9, n).astype(float), null_end),
        np.round(rng.lognormal(0.9, 0.9, n), 2).tolist(),
        fare.tolist(),
        np.round(fare * rng.uniform(0.0, 0.3, n), 2).tolist(),
        _nullable(rng.integers(1, 5, n).astype(float), null_end),
        _nullable(rng.integers(1, 3, n).astype(float), null_end),
        ids,
    )
    starts = [
        None if orphan_end[i] else dict(zip(START_KEYS, v))
        for i, v in enumerate(cols_s)
    ]
    ends = [
        None if start_only[i] else dict(zip(END_KEYS, v))
        for i, v in enumerate(cols_e)
    ]
    date = np.datetime_as_string(
        DAY0 + (day * 86_400).astype("timedelta64[s]"), unit="D"
    )
    return Trips(starts=starts, ends=ends, date=date, fare=fare)


def concat(parts: list[Trips]) -> Trips:
    return Trips(
        starts=[s for p in parts for s in p.starts],
        ends=[e for p in parts for e in p.ends],
        date=np.concatenate([p.date for p in parts]),
        fare=np.concatenate([p.fare for p in parts]),
    )


def _redeliver(rng: np.random.Generator, records: list[dict]) -> list[dict]:
    """A ``DUPLICATE_SHARE`` sample of ``records``: the at-least-once
    redeliveries of those events."""
    n = int(len(records) * DUPLICATE_SHARE)
    return [records[i] for i in rng.choice(len(records), n, replace=False)]


def drain_backlog(
    rng: np.random.Generator, wave_trips: list[int], days: int
) -> tuple[Trips, list[tuple[list[dict], list[dict]]]]:
    """Backlog for the drain workload: one disjoint trip set per entry of
    ``wave_trips`` (its size), each written as one start file and one end
    file, so a trip's start and end land in the same micro-batch.  Each
    file carries its redeliveries at random positions."""
    parts, files = [], []
    for w, n in enumerate(wave_trips):
        t = draw_trips(rng, n, days, id_salt=w)
        parts.append(t)
        wave = []
        for recs in ([s for s in t.starts if s], [e for e in t.ends if e]):
            recs = recs + _redeliver(rng, recs)
            wave.append([recs[i] for i in rng.permutation(len(recs))])
        files.append((wave[0], wave[1]))
    return concat(parts), files


def paced_schedule(
    rng: np.random.Generator, waves: int, trips_per_wave: int, days: int,
    warm_trips: int,
) -> tuple[Trips, tuple[list[dict], list[dict]], list[tuple[list[dict], list[dict]]], dict[str, int]]:
    """Arrival schedule for the paced workload.

    Returns the population, a clean warm-up wave (written before the query
    starts), the paced waves (one start and one end file each), and for
    every paced trip that completes the wave of its later first delivery —
    the wave whose due time its latency is measured from.  An end arrives
    ``END_LAG`` waves after its start, or one wave before it for an
    ``EARLY_END_SHARE`` of trips; a ``DUPLICATE_SHARE`` of events is
    delivered again one wave later."""
    warm = draw_trips(rng, warm_trips, days, id_salt=0)
    paced = draw_trips(rng, trips_per_wave * waves, days, id_salt=1)
    n = len(paced)
    s_wave = np.repeat(np.arange(waves), trips_per_wave)
    lag = rng.integers(END_LAG[0], END_LAG[1] + 1, n)
    early = (rng.random(n) < EARLY_END_SHARE) & (s_wave > 0)
    e_wave = np.where(early, s_wave - 1, s_wave + lag)
    last = int(e_wave.max()) + 2
    starts: list[list[dict]] = [[] for _ in range(last)]
    ends: list[list[dict]] = [[] for _ in range(last)]
    later: dict[str, int] = {}
    for i in range(n):
        s, e = paced.starts[i], paced.ends[i]
        if s is not None:
            starts[s_wave[i]].append(s)
        if e is not None:
            ends[e_wave[i]].append(e)
        if s is not None and e is not None:
            later[s["trip_id"]] = int(max(s_wave[i], e_wave[i]))
    for stream in (starts, ends):
        for k in range(last - 1):
            stream[k + 1].extend(_redeliver(rng, stream[k]))
    warm_files = ([s for s in warm.starts if s], [e for e in warm.ends if e])
    return concat([warm, paced]), warm_files, list(zip(starts, ends)), later


def started_per_day(trips: Trips) -> dict[str, int]:
    """Trips whose start exists, per pickup day: the rows a compacted day
    partition holds (one current row per started trip)."""
    has = np.array([s is not None for s in trips.starts])
    days, counts = np.unique(trips.date[has], return_counts=True)
    return {str(d): int(c) for d, c in zip(days, counts)}


def truth_kpis(trips: Trips) -> dict[str, dict]:
    """Per-day KPIs of the completed trips (both events exist), grouped by
    pickup day — what ``jobs.daily_kpi_job`` must write."""
    done = trips.completed
    out: dict[str, dict] = {}
    for d in np.unique(trips.date[done]):
        f = trips.fare[done & (trips.date == d)]
        out[str(d)] = {
            "count_trips": int(len(f)),
            "total_fare": float(f.sum()),
            "average_fare": float(f.mean()),
            "max_fare": float(f.max()),
            "min_fare": float(f.min()),
        }
    return out


def kpis_match(got: dict, want: dict) -> bool:
    """Equal counts and extremes; sums and means equal up to 1e-9 relative,
    the rounding of a different summation order."""
    if got["count_trips"] != want["count_trips"]:
        return False
    if got["max_fare"] != want["max_fare"] or got["min_fare"] != want["min_fare"]:
        return False
    return all(
        abs(got[k] - want[k]) <= 1e-9 * abs(want[k])
        for k in ("total_fare", "average_fare")
    )


def write_events(path: str, records: list[dict], mtime: float | None = None) -> None:
    """One JSON-lines file, written under a hidden name and renamed into
    place so a file-source stream never lists a partial file.  ``mtime``
    pins the modification time the file source orders files by."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as fh:
        fh.write("".join(json.dumps(r) + "\n" for r in records))
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)
