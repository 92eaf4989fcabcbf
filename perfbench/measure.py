"""Measurement helpers: percentile rules, the per-trip latency join over
``StreamingQuery.recentProgress``, in-memory spans, and a /proc RSS sampler.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float] | None:
    """``(value, percentile)`` of the highest percentile that still has at
    least ten samples beyond it, or ``None`` when there are ten or fewer
    samples.  With ``n`` sorted samples that is the ``n-10``-th smallest,
    the ``100 * (n - 10) / n`` percentile."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return None
    return float(v[n - 11]), 100.0 * (n - 10) / n


def batch_times(progress: list[dict]) -> dict[int, tuple[float, float]]:
    """``(start, commit)`` epoch seconds of each micro-batch: the progress
    ``timestamp`` is the trigger start, plus ``triggerExecution``."""
    out = {}
    for p in progress:
        start = datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")
        ).timestamp()
        out[int(p["batchId"])] = (
            start, start + p["durationMs"]["triggerExecution"] / 1000.0
        )
    return out


def trip_latencies_ms(
    completed_batch: dict[str, int],
    due: dict[str, float],
    progress: list[dict],
) -> list[float]:
    """Per-trip completion latency: commit time of the batch that emitted
    the trip's first ``Completed`` row minus the time the trip was due.
    Trips without a due time (outside the measured window) are skipped; a
    trip whose batch has no progress entry raises ``KeyError``."""
    times = batch_times(progress)
    return [
        (times[b][1] - due[tid]) * 1000.0
        for tid, b in completed_batch.items()
        if tid in due
    ]


def layer_medians(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the micro-batch phases and state-store figures,
    batch 0 (query start-up) excluded."""
    steady = [p for p in progress if p["batchId"] > 0] or progress
    out = {}
    for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit",
              "commitOffsets", "addBatch", "triggerExecution"):
        out[f"streaming.{k}_ms"] = median(
            p["durationMs"].get(k, 0) for p in steady
        )
    out["streaming.first_batch_ms"] = float(progress[0]["durationMs"]["triggerExecution"])
    out["streaming.batches"] = float(len(progress))
    out["streaming.batch_rows_p50"] = median(p["numInputRows"] for p in steady)
    ops = [p["stateOperators"][0] for p in steady if p["stateOperators"]]
    if ops:
        out["state.numRowsTotal"] = float(ops[-1]["numRowsTotal"])
        out["state.memoryUsedBytes_max"] = float(max(o["memoryUsedBytes"] for o in ops))
        out["state.commitTimeMs"] = median(o["commitTimeMs"] for o in ops)
        out["state.allUpdatesTimeMs"] = median(o["allUpdatesTimeMs"] for o in ops)
    return out


class Tracer:
    """Spans recorded around layer calls: name, start, end, parent and run
    id, kept in memory and written out at the end.  Disabled, ``span`` is a
    bare context manager and nothing is recorded."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id, "start": time.perf_counter(), "end": None,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        durations of its direct children (spans of one thread nest and do
        not overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c) * 1000
        return out

    def cost_per_span_ms(self, samples: int = 2000) -> float:
        """What recording one span costs, measured on a scratch tracer."""
        probe = Tracer(True, self.run_id)
        t0 = time.perf_counter()
        for _ in range(samples):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) * 1000 / samples


def host_cpu() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``host_cpu`` readings: context for a run that reads slow."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name is parenthesised and may hold spaces
                parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


class RssSampler:
    """Peak summed RSS of a process tree (the JVM and the Python workers it
    forks), sampled from /proc on a background thread.  With no root pid
    it samples nothing.  ``cpu_ms`` is the CPU time the sampling took."""

    def __init__(self, root_pid: int | None, interval_s: float = 0.5) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self.cpu_ms = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            total = sum(_rss_kb(p) for p in _descendants(self.root_pid))
            self.peak_kb = max(self.peak_kb, total)
            self.cpu_ms += (time.thread_time() - t0) * 1000
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        if self.root_pid is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
