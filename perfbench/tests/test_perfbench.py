"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402


def _write_drain(root: str, seed: int) -> list[str]:
    _, files = gen.drain_backlog(np.random.default_rng(seed), [100, 500], 3)
    names = []
    for w, (starts, ends) in enumerate(files):
        for kind, recs in (("start", starts), ("end", ends)):
            names.append(f"{kind}/w{w}.json")
            gen.write_events(os.path.join(root, names[-1]), recs)
    return names


def _write_paced(root: str, seed: int) -> list[str]:
    _, warm, waves, _ = gen.paced_schedule(np.random.default_rng(seed), 6, 100, 3, 50)
    names = []
    for k, (starts, ends) in enumerate([warm, *waves]):
        for kind, recs in (("start", starts), ("end", ends)):
            names.append(f"{kind}/p{k}.json")
            gen.write_events(os.path.join(root, names[-1]), recs)
    return names


@pytest.mark.parametrize("write", [_write_drain, _write_paced])
def test_same_seed_gives_identical_files(tmp_path, write):
    names = write(str(tmp_path / "a"), 7)
    assert write(str(tmp_path / "b"), 7) == names
    write(str(tmp_path / "c"), 8)
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False)
    assert not all(
        filecmp.cmp(tmp_path / "a" / n, tmp_path / "c" / n, shallow=False)
        for n in names
    )
    assert not any(p.name.startswith(".") for p in tmp_path.rglob("*"))


def test_population_has_the_reference_edge_cases():
    t = gen.draw_trips(np.random.default_rng(3), 20_000, 4)
    starts = [s for s in t.starts if s]
    ends = [e for e in t.ends if e]
    ids = [s["trip_id"] for s in starts]
    assert len(set(ids)) == len(ids) and all(len(i) == 10 for i in ids)
    null_share = sum(e["rate_code"] is None for e in ends) / len(ends)
    assert abs(null_share - gen.NULL_END_SHARE) < 0.01
    cross = sum(e["dropoff_datetime"][:10] != d for e, d in zip(t.ends, t.date) if e)
    assert abs(cross / len(ends) - gen.CROSS_MIDNIGHT_SHARE) < 0.005
    assert 0 < len(t) - len(ends) and 0 < len(t) - len(starts)
    truth = gen.truth_kpis(t)
    assert sum(v["count_trips"] for v in truth.values()) == int(t.completed.sum())


def test_kpis_match_tolerates_only_summation_order():
    fares = np.random.default_rng(1).uniform(10, 100, 5000).round(6)
    want = {"count_trips": 5000, "total_fare": float(fares.sum()),
            "average_fare": float(fares.mean()), "max_fare": float(fares.max()),
            "min_fare": float(fares.min())}
    shuffled = sum(sorted(fares.tolist(), reverse=True))
    assert gen.kpis_match({**want, "total_fare": shuffled}, want)
    assert not gen.kpis_match({**want, "count_trips": 4999}, want)
    assert not gen.kpis_match({**want, "total_fare": want["total_fare"] + 0.01}, want)
    assert not gen.kpis_match({**want, "max_fare": want["max_fare"] - 1e-6}, want)


def test_paced_schedule_lays_out_early_ends_and_redeliveries():
    trips, _, waves, later = gen.paced_schedule(np.random.default_rng(5), 8, 200, 2, 10)
    first_start, first_end, deliveries = {}, {}, {}
    for k, (starts, ends) in enumerate(waves):
        for kind, recs, first in (("s", starts, first_start), ("e", ends, first_end)):
            for r in recs:
                first.setdefault(r["trip_id"], k)
                deliveries[(kind, r["trip_id"])] = deliveries.get((kind, r["trip_id"]), 0) + 1
    both = set(first_start) & set(first_end)
    assert set(later) == both
    assert all(later[t] == max(first_start[t], first_end[t]) for t in both)
    assert any(first_end[t] < first_start[t] for t in both)
    assert any(n > 1 for n in deliveries.values())


def _progress(batch_id: int, start: str, trigger_ms: int) -> dict:
    return {
        "batchId": batch_id, "timestamp": start, "numInputRows": 10,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 100},
        "stateOperators": [],
    }


def test_latency_join_uses_the_emitting_batch_commit_time():
    progress = [
        _progress(0, "1970-01-01T00:00:10.000Z", 5000),   # commits at 15.0 s
        _progress(1, "1970-01-01T00:00:15.500Z", 2000),   # commits at 17.5 s
    ]
    completed = {"a": 0, "b": 1, "warm": 0}
    due = {"a": 12.0, "b": 16.0}
    assert sorted(measure.trip_latencies_ms(completed, due, progress)) == [1500.0, 3000.0]
    with pytest.raises(KeyError):
        measure.trip_latencies_ms({"c": 2}, {"c": 1.0}, progress)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert measure.tail(range(10)) is None
    assert measure.tail(range(11)) == (0.0, 100.0 / 11)
    value, pct = measure.tail(list(range(1000))[::-1])
    assert (value, pct) == (989.0, 99.0)
    assert sum(v > value for v in range(1000)) == 10


def test_uncommitted_files_counts_whole_files_in_write_order():
    log = [(0.0, 0.0, 5, 3), (0.5, 0.5, 4, 0)]
    assert run._uncommitted_files(log, 0) == 4
    assert run._uncommitted_files(log, 5) == 3
    assert run._uncommitted_files(log, 8) == 2
    assert run._uncommitted_files(log, 12) == 0
    assert run._bounded([4, 10, 6, 10, 5, 11, 6, 10])
    assert not run._bounded([4, 6, 8, 10, 14, 18, 22, 26])


def test_self_time_subtracts_direct_children():
    tr = measure.Tracer(True, "t")
    tr.spans = [
        {"name": "run", "parent": None, "run": "t", "start": 0.0, "end": 10.0},
        {"name": "a", "parent": 0, "run": "t", "start": 1.0, "end": 4.0},
        {"name": "b", "parent": 1, "run": "t", "start": 2.0, "end": 3.0},
        {"name": "a", "parent": 0, "run": "t", "start": 5.0, "end": 6.0},
    ]
    assert tr.self_ms() == {"run": 6000.0, "a": 3000.0, "b": 1000.0}
    off = measure.Tracer(False, "t")
    with off.span("x"):
        pass
    assert off.spans == []
