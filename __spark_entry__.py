"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``real_time_trip_processing_project_spark``; the
query catalogue is the plans registry (one entry per SURVEY.md §2
operator, EXTENSION-tier included).
"""

from __future__ import annotations

import glob
import json
import os
import re
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_SMOKE = "/root/testdata/sf0.001"

#: Queries whose implementing module changed since their last driver check —
#: verified near the front of the window.  Entries are
#: ``(name, round_added)`` and SELF-EXPIRING (r11 verdict item 1): a pin
#: is active only while its query's most recent driver check is either a
#: failure or older than ``round_added`` — the moment the driver's
#: post-commit CORRECTNESS file lands a green row, :func:`_active_pins`
#: drops the pin, so a stale pin can neither re-redden the rotation
#: tests nor steal a window slot from the never-checked queue.  No
#: round-start manual clearing needed (it was late twice, r10 and r11).
_RECHECK_FIRST: list[tuple[str, int]] = [
    # r14: output schema changed — the integer (slope_num, slope_den)
    # pair's true values overflow int64 at sf10 (sweep-caught
    # ARITHMETIC_OVERFLOW), replaced by DECIMAL(38,0) moments + the
    # reduced round-6 slope (corpus_zipf_fit discipline).
    ("events_trend_slopes", 14),
    # r14: same overflow class — raw Σ xₜ·yₜ₊ₗ BIGINT (~6e22 at sf10)
    # replaced by the DECIMAL-moment Pearson coefficient.
    ("ts_cross_correlation", 14),
    # The other eight r14-changed queries are NOT pinned, by the pin
    # budget policy (stalest cohort + non-cohort pins must fit the
    # window; an 8-pin list pushed past the edge and would have delayed
    # the never-checked drain).  Their outputs are bit-identical to the
    # forms last driver-checked (Arrow kernels over the same integers;
    # kernel/expression parity pinned in tests/test_training_tier.py),
    # and natural rotation re-checks them: sim_cosine_topk and
    # events_trend_slopes sit in the overdue r10 cohort this round,
    # the rest in the r11 cohort next round.
]

#: Registration round of every query that has not yet had a driver
#: check (once checked, CORRECTNESS history takes over and the entry is
#: inert).  A never-checked query that has WAITED past _MAX_STALENESS
#: rounds since registration is promoted into the overdue tier just
#: ahead of the same-age checked cohort (see _order_names) — without
#: this, the steady state of 50-query cohorts in a 50-slot window has
#: zero slack and a newly registered query would starve forever.
_REGISTERED_ROUND = {
    # r13: FULL-oracle bounded-error twins of the approximate tier
    # (r12 verdict item 2)
    "approx_sketch_bounds": 13,
    "sim_ann_recall_bounds": 13,
    "multimodal_mjpeg_px_bounds": 13,
    # r14: bounded-output siblings of the two semantics-quadratic
    # queries (r13 verdict item 4); funnel_conversion and
    # text_lm_score retired to pay the budget
    "session_overlap_top_pairs": 14,
    "graph_triangles_clustered": 14,
}

# Ladder plan (maintained per round; tests/test_entry_rotation.py
# projects it mechanically; verified against the live ordering).  r14
# window = the overdue 44-query r10 cohort (which already contains the
# schema-changed events_trend_slopes) + 1 pin (ts_cross_correlation)
# + all 5 never-checked queue entries = 50.  r14 also registered two
# bounded-output siblings (session_overlap_top_pairs,
# graph_triangles_clustered; r13 verdict item 4) and RETIRED
# funnel_conversion + text_lm_score in exchange, so r15 = the r11
# cohort + the queue tail (sim_ann_recall_bounds + the two r14
# siblings).  Every never-checked query is therefore
# driver-checked by registration + 1..3 — ahead of the promotion bound
# (registration-age promotion at > _MAX_STALENESS keeps the worst case
# at registered + _MAX_STALENESS + 2 even for back-to-back 50-cohorts).

#: A query whose last green check is older than this many rounds is
#: "overdue" and outranks never-checked newcomers in the window — without
#: this, every query-adding round re-starves the stale tail.
_MAX_STALENESS = 3


def _last_check(results_dir: str) -> tuple[dict[str, int], set[str]]:
    """Per query: the most recent round it appeared in a CORRECTNESS file,
    and the set of queries whose MOST RECENT check was a failure."""
    last: dict[str, int] = {}
    failed: set[str] = set()
    for path in glob.glob(os.path.join(results_dir, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if rnd < last.get(name, -1):
                continue
            last[name] = rnd
            err = row.get("err")
            ok = (err is None and row.get("hash_match") is True) or (
                err == "no_oracle" and (row.get("spark_rows") or 0) >= 0
            )
            if ok:
                failed.discard(name)
            else:
                failed.add(name)
    return last, failed


def _active_pins(
    last: dict[str, int], failed: set[str]
) -> dict[str, int]:
    """The self-expiry half of _RECHECK_FIRST: a pin is active only while
    its query's most recent driver check is a failure or predates the
    pin's round_added.  Pure (unit-tested); _ordered feeds it live
    CORRECTNESS history."""
    active: dict[str, int] = {}
    for name, round_added in _RECHECK_FIRST:
        if name in failed or last.get(name, -1) < round_added:
            active[name] = len(active)
    return active


def _order_names(
    names: list[str],
    last: dict[str, int],
    failed: set[str],
    recheck: dict[str, int],
    registered: dict[str, int] | None = None,
) -> list[str]:
    """Pure ordering core (unit-tested for the max-staleness bound):
    failures first, then queries overdue by more than _MAX_STALENESS
    rounds (stalest first), then changed-module rechecks, then
    never-checked, then stalest-check-first — so a fixed-size
    verification window of W slots re-checks every one of N queries at
    least once every ⌈N/W⌉ rounds, a red row always leads the very next
    window, and neither a burst of newly-registered queries nor a long
    pin list can starve an already-stale tail (r10 verdict item 1: pins
    used to outrank the overdue tier, and 10 pins + a 45-query stale
    cohort overflowed the 50-slot window — the overdue tier now ranks
    ABOVE rechecks, so staleness is bounded no matter how many pins a
    round carries).  Ladder projection (r10 verdict item 4): r11 drains
    the 45-query r7 cohort; at r12 the 49-query r8 cohort crosses the
    overdue line and fills the window first — with cohort sizes ≤ W the
    ladder sustains ⌈N/W⌉-round freshness indefinitely.

    ``registered`` (r11 verdict item 1 follow-through) maps never-checked
    query names to their registration round: one that has waited MORE
    than _MAX_STALENESS rounds is promoted into the overdue tier at
    ``registered-1`` — just AHEAD of the checked cohort of the same age —
    so it cannot starve behind back-to-back exactly-window-sized cohorts
    (the zero-slack steady state).  The bump it causes is bounded: one
    cohort member slips one round (staleness _MAX_STALENESS+2), leads the
    next window as the stalest entry, and the cascade is absorbed by the
    first sub-window cohort.  A burst of B promotions bumps exactly B
    members — proportional, never unbounded — while an already-stale
    query still outranks every newcomer younger than it."""
    now = max(last.values(), default=-1) + 1  # the round being ordered for
    registered = registered or {}

    def key(item: tuple[int, str]) -> tuple:
        idx, n = item
        if n in failed:
            return (0, idx)
        if n in last and now - last[n] > _MAX_STALENESS:
            return (1, last[n], idx)
        if n not in last and now - registered.get(n, now) > _MAX_STALENESS:
            return (1, registered[n] - 1, idx)
        if n in recheck:
            return (2, recheck[n])
        if n not in last:
            # FIFO by registration round (r13): a newly registered query
            # must not jump never-checked queries that have already
            # waited rounds for a slot just because its module imports
            # earlier in the registry.
            return (3, registered.get(n, now), idx)
        return (4, last[n], idx)

    return [n for _, n in sorted(enumerate(names), key=key)]


def _ordered(registry: dict) -> dict:
    """Order the catalogue so the verifier's fixed-size check window keeps
    every query's most-recent-green fresh (see :func:`_order_names`).
    Purely an ordering concern of this driver-facing shim — the library
    registry keeps natural registration order."""
    last, failed = _last_check(os.path.dirname(os.path.abspath(__file__)))
    unknown = [n for n, _ in _RECHECK_FIRST if n not in registry]
    if unknown:
        warnings.warn(f"_RECHECK_FIRST names not registered: {unknown}")
    recheck = _active_pins(last, failed)
    return {
        n: registry[n]
        for n in _order_names(
            list(registry), last, failed, recheck, _REGISTERED_ROUND
        )
    }


def _registry():
    from real_time_trip_processing_project_spark.plans import REGISTRY

    return _ordered(REGISTRY)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The trip-style daily KPI pipeline: start ⋈ end correlate + per-day
    five-KPI aggregate in a single pass (SURVEY.md §7 minimum slice).
    """
    return _registry()["trip_daily_kpis"].fn(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: qdef.fn for name, qdef in _registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; omitted for non-SQL-expressible
    ops (driver records a weaker rows-only check for those)."""
    return {
        name: qdef.oracle
        for name, qdef in _registry().items()
        if qdef.oracle is not None
    }
