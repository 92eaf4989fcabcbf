"""Trip-pipeline benchmark: one command, every workload, every metric.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run starts one local Spark session
over all cores, generates its inputs from ``--seed``, and drives the engine
only through its public functions:

1. stream phase — the trip pipeline (``jobs.start_trip_pipeline`` with 16
   key groups) either drains a pre-written backlog (``stream_drain``,
   closed loop) or follows a fixed-rate generator thread (``stream_paced``,
   open loop);
2. catalogue phase — the pinned declared queries over a generated fixture,
   to the noop sink;
3. KPI phase — ``jobs.daily_kpi_job`` and ``sinks.compact_trips`` for each
   day of the store the stream phase built.

Outputs are checked against the generator's truth (store, KPI documents,
compacted days) and the DuckDB oracle (queries) outside the timed regions.
The last stdout line is the result object; the line before it holds the
details (session, sample counts, tail percentiles, checks, and with
``--trace 1`` the span self times).  README.md explains the metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import platform
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

CPUS = len(os.sched_getaffinity(0))
STATE_PARTITIONS = 8
KEY_GROUPS = 16
DRIVER_HEAP = "4g"
DAYS = 3

DRAIN_TRIPS_PER_WAVE = 50_000  # ~100k events per micro-batch
#: The start-up batch pays the query's fixed start-up cost whatever its
#: size, so it stays small.
DRAIN_WARM_TRIPS = 5_000
#: Sizes the backlog from ``--seconds``: a constant, never a measured
#: rate, so a faster engine drains the same backlog.
DRAIN_PLANNED_EVENTS_PER_S = 30_000

#: A batch's duration grows with the backlog that builds while the one
#: before it runs, so near the per-trip fold path's capacity (~2.6k events
#: per busy second here) a slower host stretches the latency several
#: times over; at well under half that capacity, much less.
PACED_EVENTS_PER_S = 1_000
PACED_INTERVAL_S = 0.5
PACED_WARM_TRIPS = 2_000
PACED_DRAIN_TIMEOUT_S = 60

CATALOG_SF = 0.01
#: Two, so that 48 runs of both workloads fit the benchmark's time budget.
CATALOG_PASSES = 2
#: Pinned here, not imported from bench.py, so edits elsewhere cannot
#: change the workload: a join/aggregate pair and an as-of join from the
#: core and extended tiers, and one near-duplicate, one similarity and one
#: text operator from the training tier.
CATALOG = [
    "trip_daily_kpis",
    "multiway_join_agg",
    "asof_join_events",
    "dedup_simhash",
    "sim_cosine_topk",
    "text_fingerprint",
]


def _session():
    """The pinned local session; the package goes on the workers' path and
    all scratch stays inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no JVM writes its perf-data file to the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from real_time_trip_processing_project_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=CPUS,
        shuffle_partitions=STATE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.range(1).count()
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: the gateway JVM ends when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _collect_jvm_heap(spark) -> None:
    """A full JVM collection between phases, outside the timed regions, so
    the garbage one phase leaves is not collected inside the next."""
    spark.sparkContext._jvm.System.gc()


def _git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


class Run:
    """State of one benchmark invocation: timings, checks and spans."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        import numpy as np

        from measure import Tracer

        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(trace, f"{workload}-{seed}")
        self.setup_s = 0.0
        self.setup_parts: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.probe_files: list[str] = []
        self.timings: dict[str, list[float]] = {}
        self.dirs = {
            k: os.path.join(WORK, k)
            for k in ("start", "end", "store", "orphan", "ckpt", "kpi",
                      "compact", "fixture", "probe")
        }

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    @contextmanager
    def timed(self, name: str):
        """Time a layer call into ``timings[name]`` (always) and record its
        span (traced runs only)."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.timings.setdefault(name, []).append((time.perf_counter() - t0) * 1000)

    def setup(self, name: str, fn, *args):
        """Run one set-up step, adding its time to ``setup_s``."""
        t0 = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            out = fn(*args)
        dt = time.perf_counter() - t0
        self.setup_parts[name] = dt
        self.setup_s += dt
        return out


# --------------------------------------------------------------------------
# stream phase


def _batches(progress: list[dict]) -> list[dict]:
    """One progress entry per micro-batch that read input (idle heartbeats
    repeat the last batch id with zero rows)."""
    seen, out = set(), []
    for p in progress:
        if p["numInputRows"] > 0 and p["batchId"] not in seen:
            seen.add(p["batchId"])
            out.append(p)
    return out


def _start_pipeline(run: Run, **kw):
    from real_time_trip_processing_project_spark.streaming import jobs

    d = run.dirs
    return jobs.start_trip_pipeline(
        run.spark, d["start"], d["end"], d["store"], d["orphan"], d["ckpt"],
        key_groups=KEY_GROUPS, **kw,
    )


def drain_inputs(run: Run):
    """Write the drain backlog: a small start-up wave, then at least three
    100k-event waves (an odd count keeps the median trip inside one
    batch).  The start-up batch also warms the JIT and the Python workers,
    so the batches after it run at their steady cost.  Returns the
    population."""
    import gen

    waves = 1 + max(3, math.ceil(
        run.seconds * DRAIN_PLANNED_EVENTS_PER_S / (2 * DRAIN_TRIPS_PER_WAVE)
    ))
    trips, files = gen.drain_backlog(
        run.rng, [DRAIN_WARM_TRIPS] + [DRAIN_TRIPS_PER_WAVE] * (waves - 1), DAYS
    )
    for w, (starts, ends) in enumerate(files):
        paths = [os.path.join(run.dirs[k], f"w{w:03d}.json") for k in ("start", "end")]
        # pinned modification times order the waves for the file source
        gen.write_events(paths[0], starts, 1e9 + w)
        gen.write_events(paths[1], ends, 1e9 + w)
    run.probe_files = paths  # one batch's worth: the last wave
    run.detail["stream"] = {"waves": waves}
    return trips


def stream_drain(run: Run, trips):
    """Closed loop: one availableNow query drains the backlog, one wave per
    micro-batch.  Returns (population, None, progress): the whole backlog
    is due at once, so latency is measured from the start of each trip's
    batch."""
    with run.tracer.span("stream.drain"):
        pq = _start_pipeline(run, available_now=True, max_files_per_trigger=1)
        pq.await_termination()
    progress = _batches(pq.main.recentProgress)
    run.detail["stream"]["batches"] = len(progress)
    return trips, None, progress


def _pace(run: Run, waves, t0: float, log: list) -> None:
    """Generator thread: wave ``k`` is due at ``t0 + k * interval``; each
    wave writes one start file and one end file, whatever the engine does."""
    import gen

    for k, (starts, ends) in enumerate(waves):
        due = t0 + k * PACED_INTERVAL_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        gen.write_events(os.path.join(run.dirs["start"], f"p{k:04d}.json"), starts)
        gen.write_events(os.path.join(run.dirs["end"], f"p{k:04d}.json"), ends)
        log.append((due, time.time(), len(starts), len(ends)))


def _uncommitted_files(log: list, processed: int) -> int:
    """Files written but not yet committed, given the committed count of
    paced events: each batch consumes whole files in write order."""
    sizes = [n for _, _, n_s, n_e in list(log) for n in (n_s, n_e)]
    done = 0
    for i, n in enumerate(sizes):
        if done + n > processed:
            return len(sizes) - i
        done += n
    return 0


def _bounded(backlog: list[int]) -> bool:
    """A sustainable rate leaves the backlog oscillating around one batch's
    worth of files; an unsustainable one makes it climb.  Bounded: the
    second half's peak stays within 1.5x the first half's peak plus one
    wave."""
    if len(backlog) < 4:
        return True
    half = len(backlog) // 2
    return max(backlog[half:]) <= 1.5 * max(backlog[:half]) + 2


def _committed_rows(query) -> int:
    return sum(p["numInputRows"] for p in _batches(query.recentProgress))


def paced_inputs(run: Run):
    """Draw the paced schedule and write its warm-up wave, which the query
    reads as its start-up batch before the generator starts."""
    import gen

    n_waves = math.ceil(run.seconds / PACED_INTERVAL_S)
    per_wave = int(PACED_EVENTS_PER_S * PACED_INTERVAL_S / 2)
    schedule = gen.paced_schedule(
        run.rng, n_waves, per_wave, DAYS, PACED_WARM_TRIPS
    )
    warm = schedule[1]
    gen.write_events(os.path.join(run.dirs["start"], "warm.json"), warm[0])
    gen.write_events(os.path.join(run.dirs["end"], "warm.json"), warm[1])
    run.probe_files = [run.dirs["start"], run.dirs["end"]]
    return schedule


def stream_paced(run: Run, schedule):
    """Open loop: a generator thread writes one start and one end file
    every ``PACED_INTERVAL_S`` at ``PACED_EVENTS_PER_S`` into a running
    query on the default trigger.  Returns (population, due times,
    progress)."""
    trips, warm, waves, later = schedule
    warm_rows = len(warm[0]) + len(warm[1])
    log: list = []
    with run.tracer.span("stream.paced"):
        pq = _start_pipeline(run)
        q = pq.main
        while _committed_rows(q) < warm_rows:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(0.05)
        t0 = time.time() + PACED_INTERVAL_S
        gen_thread = threading.Thread(target=_pace, args=(run, waves, t0, log))
        gen_thread.start()
        backlog = []
        while gen_thread.is_alive():
            done = _committed_rows(q)
            backlog.append(_uncommitted_files(log, done - warm_rows))
            time.sleep(PACED_INTERVAL_S)
        gen_thread.join()
        total = warm_rows + sum(n_s + n_e for _, _, n_s, n_e in log)
        deadline = time.time() + PACED_DRAIN_TIMEOUT_S
        while _committed_rows(q) < total and time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(0.05)
        progress = _batches(q.recentProgress)
        pq.stop()
    due_of_wave = [entry[0] for entry in log]
    lateness = [(done - due) * 1000 for due, done, _, _ in log]
    run.detail["stream"] = {
        "waves": len(log), "batches": len(progress),
        "backlog_files_max": max(backlog, default=0),
        "backlog_files_last": backlog[-1] if backlog else 0,
        "generator_lateness_ms_p50": sorted(lateness)[len(lateness) // 2],
        "generator_lateness_ms_max": max(lateness),
    }
    run.check("paced.all_committed", _committed_rows(q) >= total,
              f"{_committed_rows(q)}/{total}")
    run.check("paced.backlog_bounded", _bounded(backlog), str(backlog))
    due = {tid: due_of_wave[w] for tid, w in later.items()}
    return trips, due, progress


def stream_metrics(run: Run, trips, due: dict, progress: list[dict]) -> None:
    """Check the store against the truth and derive the stream metrics.
    ``due`` maps a trip to the time it was due; ``None`` (drain) measures
    each trip from the start of the batch that completed it, batch 0 (the
    query's start-up) excluded."""
    from pyspark.sql import functions as F

    import measure
    from real_time_trip_processing_project_spark import schemas

    steady = progress[1:]
    busy_s = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000
    run.e2e["stream_events_per_s"] = sum(p["numInputRows"] for p in steady) / busy_s
    # updated_at encodes (batch id * 10 + status rank) in microseconds
    done = (
        run.spark.read.schema(schemas.TRIPS).parquet(run.dirs["store"])
        .filter(F.col("status") == "Completed")
        .groupBy("trip_id")
        .agg(F.expr("min(unix_micros(updated_at)) div 10").alias("batch"))
        .toPandas()
    )
    got = dict(zip(done["trip_id"], done["batch"].astype(int)))
    want = {
        s["trip_id"] for s, e in zip(trips.starts, trips.ends)
        if s is not None and e is not None
    }
    run.check("store.completed_trips", set(got) == want, f"{len(got)}/{len(want)}")
    if due is None:
        times = measure.batch_times(steady)
        due = {tid: times[b][0] for tid, b in got.items() if b in times}
    lat = measure.trip_latencies_ms(got, due, progress)
    run.check("stream.latency_samples", len(lat) > 10, f"{len(lat)} samples")
    run.e2e["trip_latency_p50_ms"] = measure.median(lat)
    value, pct = measure.tail(lat)
    run.e2e["trip_latency_tail_ms"] = value
    run.detail["trip_latency"] = {"samples": len(lat), "tail_percentile": pct}
    run.detail["batches"] = [
        [p["numInputRows"], p["durationMs"]["triggerExecution"]] for p in progress
    ]
    run.layers.update(measure.layer_medians(progress))


# --------------------------------------------------------------------------
# KPI phase


def kpi_phase(run: Run, trips) -> None:
    """The scheduled batch side over the store: per day the KPI job, then
    the day's compaction into a separate directory, so every day reads the
    same store.  The first calls run cold, about twice as slow as the later
    ones, and the two operations share most of their code, so a first pass
    over the days is the warm-up of both and a second pass is timed; the
    warm-up calls are timed for the detail line but left out of the
    medians."""
    import gen
    import measure
    from real_time_trip_processing_project_spark.sources import sinks
    from real_time_trip_processing_project_spark.streaming import jobs

    spark, store, d = run.spark, run.dirs["store"], run.dirs
    truth = gen.truth_kpis(trips)
    days = sorted(truth)
    paths = {}
    for day in days + days:
        with run.timed("jobs.daily_kpi_job"):
            paths[day] = jobs.daily_kpi_job(spark, store, day, d["kpi"])
        with run.timed("sinks.compact_trips"):
            sinks.compact_trips(spark, store, d["compact"], date=day)
    kpi_ms = run.timings["jobs.daily_kpi_job"]
    compact_ms = run.timings["sinks.compact_trips"]
    run.e2e["kpi_job_p50_ms"] = measure.median(kpi_ms[len(days):])
    run.e2e["compact_day_p50_ms"] = measure.median(compact_ms[len(days):])
    run.layers["sinks.compact_ms"] = run.e2e["compact_day_p50_ms"]
    run.detail["kpi"] = {"days": days, "kpi_ms": kpi_ms, "compact_ms": compact_ms}
    for day in days:
        try:
            with open(paths[day]) as fh:
                doc = json.load(fh)
            run.check(f"kpi.{day}", gen.kpis_match(doc["metrics"], truth[day]),
                      json.dumps(doc["metrics"]))
        except (OSError, TypeError, KeyError, ValueError) as exc:
            run.check(f"kpi.{day}", False, repr(exc))
    rows = spark.read.parquet(d["compact"]).groupBy("date").count().collect()
    got = {str(r["date"]): r["count"] for r in rows}
    run.check("compact.rows_per_day", got == gen.started_per_day(trips), str(got))


# --------------------------------------------------------------------------
# catalogue phase


def _write_fixture(sf_dir: str, seed: int) -> None:
    """The repo's fixture generator (``tools/gen_fixture.py``) at
    ``CATALOG_SF``; its progress lines go to stderr, so the result stays
    the last stdout line."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_fixture

    with redirect_stdout(sys.stderr):
        gen_fixture.generate(CATALOG_SF, sf_dir, seed % 2**32)


def _check_catalog(run: Run, sf_dir: str) -> None:
    """Collect every pinned query once and compare it with its DuckDB
    oracle; a query without one must return rows."""
    from real_time_trip_processing_project_spark import testing
    from real_time_trip_processing_project_spark.plans import REGISTRY

    con = testing.duckdb_conn(sf_dir)
    try:
        for name in CATALOG:
            qdef = REGISTRY[name]
            try:
                df = qdef.fn(run.spark, sf_dir)
                if qdef.oracle is None:
                    n = df.count()
                    run.check(f"query.{name}", n > 0, f"{n} rows")
                else:
                    r = testing.compare_query(name, df, qdef.oracle, con)
                    run.check(f"query.{name}", r.ok, r.detail)
            except Exception as exc:  # a failing query is a failed check
                run.check(f"query.{name}", False, repr(exc))
            run.spark.catalog.clearCache()
    finally:
        con.close()


def catalog_phase(run: Run) -> None:
    """Set-up writes the fixture.  The oracle check comes next; it is the
    warm-up pass too, but is timed on its own (``catalog_check_s`` in the
    detail line), not as set-up.  Then ``CATALOG_PASSES`` timed passes
    build and run each pinned query to the noop sink, clearing the cache
    after each; each query contributes its median build and execution
    time."""
    import measure
    from real_time_trip_processing_project_spark.plans import REGISTRY

    spark, sf_dir = run.spark, run.dirs["fixture"]

    run.setup("catalog_fixture", _write_fixture, sf_dir, run.seed)
    t0 = time.perf_counter()
    with run.tracer.span("check.catalog"):
        _check_catalog(run, sf_dir)
    run.detail["catalog_check_s"] = time.perf_counter() - t0
    for _ in range(CATALOG_PASSES):
        for name in CATALOG:
            with run.timed(f"plans.{name}"):
                with run.timed(f"plans.{name}.build"):
                    df = REGISTRY[name].fn(spark, sf_dir)
                with run.timed(f"plans.{name}.exec"):
                    df.write.mode("overwrite").format("noop").save()
            spark.catalog.clearCache()
    tiers = dict.fromkeys(("core", "extended", "training"), 0.0)
    for name in CATALOG:
        execute = measure.median(run.timings[f"plans.{name}.exec"])
        tiers[REGISTRY[name].fn.__module__.rsplit(".", 1)[1]] += execute
        run.layers[f"plans.{name}.build_ms"] = measure.median(run.timings[f"plans.{name}.build"])
        run.layers[f"plans.{name}.exec_ms"] = execute
    for tier, ms in tiers.items():
        run.layers[f"plans.{tier}.exec_ms"] = ms
    run.e2e["catalog_build_s"] = sum(run.layers[f"plans.{q}.build_ms"] for q in CATALOG) / 1000
    run.e2e["catalog_exec_s"] = sum(run.layers[f"plans.{q}.exec_ms"] for q in CATALOG) / 1000


# --------------------------------------------------------------------------
# traced run: layer probes from outside the engine


def layer_probes(run: Run, trips) -> None:
    """Per-layer figures the timed phases cannot separate, each timed from
    outside around one public call: decode, correlate and append over the
    workload's own files (``run.probe_files``: one drain wave, or every
    paced file); the store's read side over the built store."""
    import measure
    from pyspark.sql import Row
    from real_time_trip_processing_project_spark import schemas
    from real_time_trip_processing_project_spark.operators import trip_batch
    from real_time_trip_processing_project_spark.sources import sinks
    from real_time_trip_processing_project_spark.streaming import correlator, jobs

    spark, d = run.spark, run.dirs

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    def tagged():
        return jobs.tagged_union_batch(spark, *run.probe_files)

    with run.timed("sources.decode"):
        noop(tagged())
    # persisted, so the append below reads the frame this action correlates
    frame = correlator.correlate_batch(tagged()).persist()
    with run.timed("correlator.correlate_batch"):
        counts = {r["status"]: r["count"] for r in frame.groupBy("status").count().collect()}
    with run.timed("sinks.append_trip_batch"):
        sinks.append_trip_batch(frame, 0, d["probe"])
    frame.unpersist()
    with run.timed("sinks.current_trips"):
        noop(sinks.current_trips(spark, d["store"]))
    current = sinks.current_trips(spark, d["store"]).count()
    stored = spark.read.schema(schemas.TRIPS).parquet(d["store"]).count()
    files = [
        os.path.join(root, f)
        for root, _, names in os.walk(d["store"]) for f in names
        if f.endswith(".parquet")
    ]
    for day in run.detail["kpi"]["days"]:
        with run.timed("trip_batch.kpis_for_date"):
            row = trip_batch.kpis_for_date(sinks.current_trips(spark, d["store"]), day).first()
        doc = spark.createDataFrame([Row(
            date=day, metrics=Row(trip_date=day, **row.asDict()), timestamp="probe",
        )])
        with run.timed("sinks.write_kpi_document"):
            sinks.write_kpi_document(doc, os.path.join(d["probe"], "kpi"))
    t = run.timings
    run.layers.update({
        "sources.decode_ms": t["sources.decode"][0],
        "correlator.correlate_batch_ms": t["correlator.correlate_batch"][0],
        "correlator.rows_out": float(sum(counts.values())),
        "correlator.completed_rows": float(counts.get("Completed", 0)),
        "sinks.append_ms": t["sinks.append_trip_batch"][0],
        "sinks.current_trips_ms": t["sinks.current_trips"][0],
        "sinks.rows_per_trip": stored / current,
        "sinks.store_files": float(len(files)),
        "sinks.store_bytes": float(sum(os.path.getsize(f) for f in files)),
        "sinks.kpi_document_ms": measure.median(t["sinks.write_kpi_document"]),
        "trip_batch.kpis_for_date_ms": measure.median(t["trip_batch.kpis_for_date"]),
    })


# --------------------------------------------------------------------------
# entry point


def _result(run: Run, trace: bool, units: dict[str, str]) -> dict:
    failed = sum(1 for _, ok, _ in run.checks if not ok)
    values = run.layers if trace else run.e2e
    return {
        "correct": failed == 0,
        "attempted": len(run.checks),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "real_time_trip_processing_project_spark")):
        print("perfbench: engine package not found under", ROOT, file=sys.stderr)
        return 1
    sys.path.insert(0, ROOT)
    import pyspark

    import measure

    shutil.rmtree(WORK, ignore_errors=True)
    cpu0 = measure.host_cpu()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    prepare, stream = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        # the inputs are written while the JVM starts
        inputs = pool.submit(prepare, run)
        run.spark = _session()
        run.setup_parts["session"] = time.perf_counter() - t0
        state = inputs.result()
    # The generated inputs are hundreds of thousands of Python objects that
    # live to the end; frozen, the cyclic collector stops rescanning them
    # during the driver's py4j-heavy plan builds.
    gc.freeze()
    run.setup_parts["session_and_inputs"] = time.perf_counter() - t0
    run.setup_s += run.setup_parts["session_and_inputs"]
    try:
        # /proc is walked only in traced runs: peak RSS is a layer figure
        sampler = measure.RssSampler(
            run.spark.sparkContext._gateway.proc.pid if args.trace else None
        )
        with sampler, run.timed("run"):
            with run.timed("phase.stream"):
                trips, due, progress = stream(run, state)
                stream_metrics(run, trips, due, progress)
            _collect_jvm_heap(run.spark)
            # the catalogue's short jobs warm the JIT for the KPI phase
            with run.timed("phase.catalog"):
                catalog_phase(run)
            _collect_jvm_heap(run.spark)
            with run.timed("phase.kpi"):
                kpi_phase(run, trips)
            if args.trace:
                with run.timed("phase.probes"):
                    layer_probes(run, trips)
        run.layers["process.peak_rss_mb"] = sampler.peak_kb / 1024
    finally:
        _stop_session(run.spark)
    run.e2e["setup_s"] = run.setup_s
    if args.trace:
        # what tracing itself spent: recording the spans plus the /proc
        # walks; the probes run after the timed phases
        spans = len(run.tracer.spans)
        run.layers["trace.spans"] = float(spans)
        run.layers["trace.cost_ms"] = run.tracer.cost_per_span_ms() * spans + sampler.cpu_ms
        run.detail["self_ms"] = run.tracer.self_ms()
        with open(os.path.join(WORK, "spans.json"), "w") as fh:
            json.dump(run.tracer.spans, fh)
    for sub in run.dirs.values():
        shutil.rmtree(sub, ignore_errors=True)
    failed = [c for c in run.checks if not c[1]]
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "session": {
            "cpus": CPUS, "state_partitions": STATE_PARTITIONS,
            "key_groups": KEY_GROUPS, "driver_heap": DRIVER_HEAP,
            "spark": pyspark.__version__, "python": platform.python_version(),
            "git_sha": _git_sha(),
        },
        "end_to_end": run.e2e,
        "steal_pct": measure.steal_pct(cpu0, measure.host_cpu()),
        "setup_parts": run.setup_parts,
        "phase_ms": {k: v[0] for k, v in run.timings.items() if k.startswith("phase.")},
        "error_rate": len(failed) / len(run.checks),
        "failed_checks": failed,
        **run.detail,
    }
    if args.trace:
        detail["layers"] = run.layers
    print(json.dumps(detail, default=float))
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}
    print(json.dumps(_result(run, bool(args.trace), units)))
    return 0


#: workload → (input preparation, run while the session starts; stream phase)
WORKLOADS = {
    "stream_drain": (drain_inputs, stream_drain),
    "stream_paced": (paced_inputs, stream_paced),
}


if __name__ == "__main__":
    sys.exit(main())
