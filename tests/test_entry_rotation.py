"""Verification-window rotation invariants of the driver-facing shim
(__spark_entry__._order_names): a fixed-size check window must re-check
every registered query within a bounded number of rounds (no
starvation), and a red row must lead the very next window.
"""

from __future__ import annotations

import importlib
import math
import sys

sys.path.insert(0, "/root/repo")
entry_mod = importlib.import_module("__spark_entry__")

WINDOW = 50  # the driver's observed check-window size


def _simulate(names, rounds, window=WINDOW, recheck=None, failed=None):
    """Run the rotation for `rounds` rounds; every checked query passes.
    Returns {name: [rounds in which it was checked]}."""
    last: dict[str, int] = {}
    fail = set(failed or ())
    checked: dict[str, list[int]] = {n: [] for n in names}
    for rnd in range(rounds):
        ordered = entry_mod._order_names(names, last, fail, recheck or {})
        for n in ordered[:window]:
            checked[n].append(rnd)
            last[n] = rnd
            fail.discard(n)
    return checked


def test_max_staleness_bound():
    """With pure rotation (no pins, no failures) every query is checked
    at least once every ⌈N/W⌉ rounds, from any starting state."""
    n_queries = len(entry_mod.queries())
    names = [f"q{i:03d}" for i in range(n_queries)]
    bound = math.ceil(n_queries / WINDOW)
    rounds = 4 * bound
    checked = _simulate(names, rounds)
    for n, rs in checked.items():
        assert rs, f"{n} never checked"
        assert rs[0] < bound, f"{n} first checked at round {rs[0]} >= {bound}"
        gaps = [b - a for a, b in zip(rs, rs[1:])]
        assert max(gaps, default=0) <= bound, f"{n} starved: gaps {gaps}"


def test_failures_always_first():
    """A query whose last check failed leads the next window regardless
    of how recently it was checked."""
    names = [f"q{i:03d}" for i in range(100)]
    last = {n: 5 for n in names}
    last["q099"] = 9  # most recently checked of all
    ordered = entry_mod._order_names(names, last, {"q099"}, {})
    assert ordered[0] == "q099"


def test_recheck_pins_follow_failures():
    """Changed-module pins come right after failures (and the overdue
    tier, empty here), in pin order."""
    names = [f"q{i:03d}" for i in range(20)]
    ordered = entry_mod._order_names(
        names, {n: 1 for n in names}, {"q007"}, {"q010": 0, "q003": 1}
    )
    assert ordered[:3] == ["q007", "q010", "q003"]


def test_overdue_outranks_recheck_pins():
    """r10 verdict item 1: a stale cohort must land in the window even
    when a long pin list is present — the overdue tier ranks ABOVE
    changed-module rechecks, so pins can never push an overdue query
    past the window edge."""
    overdue = [f"old{i:03d}" for i in range(45)]
    fresh = [f"fresh{i:03d}" for i in range(60)]
    last = {n: 2 for n in overdue}
    last.update({n: 9 for n in fresh})
    pins = {f"fresh{i:03d}": i for i in range(10)}
    ordered = entry_mod._order_names(overdue + fresh, last, set(), pins)
    # the full overdue cohort precedes every pin
    assert set(ordered[: len(overdue)]) == set(overdue)
    assert ordered[len(overdue) : len(overdue) + 10] == sorted(
        pins, key=pins.get
    )


def test_overdue_outranks_never_checked():
    """A query stale by more than _MAX_STALENESS rounds outranks a burst
    of never-checked newcomers — query-adding rounds must not re-starve
    the stale tail (r7 verdict item #1)."""
    old = [f"old{i:03d}" for i in range(10)]
    new = [f"new{i:03d}" for i in range(60)]
    # old queries last checked at round 2; one fresh check at round 7
    # anchors "now" = 8, making the old cohort 6 rounds stale.
    last = {n: 2 for n in old}
    last["old000"] = 7
    ordered = entry_mod._order_names(old + new, last, set(), {})
    head = ordered[: len(old) - 1]
    assert set(head) == set(old) - {"old000"}, head
    # never-checked newcomers follow the overdue tier
    assert ordered[len(old) - 1 : len(old) - 1 + len(new)] == new


def test_overdue_tier_preserves_staleness_bound():
    """The overdue tier must not break the ⌈N/W⌉ rotation bound when
    newcomers arrive mid-rotation."""
    names = [f"q{i:03d}" for i in range(120)]
    last: dict[str, int] = {}
    window = 50
    for rnd in range(3):
        for n in entry_mod._order_names(names, last, set(), {})[:window]:
            last[n] = rnd
    # 60 new queries register at round 3
    names += [f"late{i:03d}" for i in range(60)]
    for rnd in range(3, 12):
        for n in entry_mod._order_names(names, last, set(), {})[:window]:
            last[n] = rnd
    now = 12
    worst = max(now - last.get(n, -1) for n in names)
    bound = math.ceil(len(names) / window) + entry_mod._MAX_STALENESS
    assert worst <= bound, f"worst staleness {worst} > {bound}"


def test_r9_window_drains_r5_cohort():
    """Against the repo's real CORRECTNESS history (r8 verdict item #6,
    re-armed per round): the stalest cohort crosses the overdue line
    together, and every one of them must land in the 50-slot window —
    pins rank BELOW the overdue tier (r10 verdict item 1), so the only
    way the cohort can spill is by itself outgrowing the window."""
    last, failed = entry_mod._last_check("/root/repo")
    if not last or max(last.values()) < 8:
        return  # history not present (fresh checkout)
    names = list(entry_mod.queries())
    recheck = entry_mod._active_pins(last, failed)
    window = entry_mod._order_names(
        names, last, failed, recheck, entry_mod._REGISTERED_ROUND
    )[:WINDOW]
    oldest = min(last.values())
    cohort = {n for n in names if last.get(n) == oldest}
    spilled = cohort - set(window)
    assert len(cohort) <= WINDOW, (
        f"stalest cohort ({len(cohort)}) outgrew the window itself"
    )
    assert not spilled, f"stalest cohort spilled out of the window: {spilled}"
    # pins that aren't already stale must still fit AFTER the cohort
    assert len(cohort) + len(set(recheck) - cohort) <= WINDOW, (
        "pin list pushes past the window edge — draw pins from the "
        "stale cohort instead (see _RECHECK_FIRST policy note)"
    )


def test_registry_names_resolve():
    """Every _RECHECK_FIRST pin and _REGISTERED_ROUND entry names a
    registered query (typos warn at runtime; this keeps them from
    lingering)."""
    qs = entry_mod.queries()
    missing = [n for n, _ in entry_mod._RECHECK_FIRST if n not in qs]
    assert not missing, f"_RECHECK_FIRST names not registered: {missing}"
    missing = [n for n in entry_mod._REGISTERED_ROUND if n not in qs]
    assert not missing, f"_REGISTERED_ROUND names not registered: {missing}"


def test_pins_self_expire_on_green_check(monkeypatch):
    """r11 verdict item 1: a pin whose query has a GREEN check at or
    after its round_added is dropped; a red or older check keeps it —
    so the driver's post-commit CORRECTNESS file can never re-redden
    the suite and a satisfied pin can never steal a window slot.
    (Synthetic pins: the live list may legitimately be empty in a round
    that changed no already-checked query's module.)"""
    pins = [("alpha", 11), ("beta", 12)]
    monkeypatch.setattr(entry_mod, "_RECHECK_FIRST", pins)
    assert all(
        isinstance(n, str) and isinstance(r, int)
        for n, r in entry_mod._RECHECK_FIRST
    ), "pins must be (name, round_added) tuples"
    name, round_added = pins[0]
    # green check at round_added → expired
    assert name not in entry_mod._active_pins({name: round_added}, set())
    # green check newer than round_added → expired
    assert name not in entry_mod._active_pins(
        {name: round_added + 2}, set()
    )
    # check older than round_added → still active
    assert name in entry_mod._active_pins({name: round_added - 1}, set())
    # never checked → still active
    assert name in entry_mod._active_pins({}, set())
    # most recent check FAILED → active regardless of recency
    assert name in entry_mod._active_pins({name: round_added + 2}, {name})
    # active pins keep list order
    all_active = entry_mod._active_pins({}, set())
    assert list(all_active) == [n for n, _ in pins]
    assert list(all_active.values()) == list(range(len(pins)))


def test_live_pins_all_expired_or_satisfiable():
    """Against the repo's real CORRECTNESS history: the active pin set
    plus the stalest cohort must fit the window (the r10/r11 failure
    mode — stale pins outliving their green checks — is structurally
    impossible now, but keep the budget assert armed for future pins)."""
    last, failed = entry_mod._last_check("/root/repo")
    if not last:
        return  # fresh checkout
    active = entry_mod._active_pins(last, failed)
    oldest = min(last.values())
    cohort = {n for n in entry_mod.queries() if last.get(n) == oldest}
    assert len(cohort) + len(set(active) - cohort) <= WINDOW, (
        f"active pins {set(active) - cohort} push past the window edge"
    )


def test_never_checked_promoted_after_waiting_past_bound():
    """A never-checked query that has waited more than _MAX_STALENESS
    rounds since registration joins the overdue tier just AHEAD of the
    checked cohort of the same age — so the zero-slack steady state
    (back-to-back exactly-window-sized cohorts) cannot starve it
    forever.  A younger never-checked query stays in the queue tier."""
    ms = entry_mod._MAX_STALENESS
    # 'now' anchors at 10 via the freshest check
    cohort = [f"c{i:03d}" for i in range(WINDOW)]
    last = {n: 10 - ms - 1 for n in cohort}  # exactly-overdue cohort
    last["anchor"] = 9
    names = cohort + ["anchor", "waited", "young"]
    registered = {"waited": 10 - ms - 1, "young": 9}
    ordered = entry_mod._order_names(names, last, set(), {}, registered)
    # the waited-out newcomer leads the equally-aged cohort...
    assert ordered[0] == "waited"
    assert set(ordered[1 : WINDOW + 1]) == set(cohort)
    # ...while the young newcomer queues behind the overdue tier
    assert ordered[WINDOW + 1] == "young"
    # and a STALER checked query still outranks the promoted newcomer
    last["ancient"] = 10 - ms - 3
    ordered = entry_mod._order_names(
        names + ["ancient"], last, set(), {}, registered
    )
    assert ordered[0] == "ancient"
    assert ordered[1] == "waited"


def test_promotion_drains_zero_slack_steady_state():
    """End-to-end: with N = 4×W queries locked in window-sized cohorts
    (zero slack) and one new query registered, the newcomer is checked
    within _MAX_STALENESS + 2 rounds and no existing query's staleness
    ever exceeds _MAX_STALENESS + 2."""
    ms = entry_mod._MAX_STALENESS
    names = [f"q{i:03d}" for i in range(4 * WINDOW)]
    last: dict[str, int] = {}
    for rnd in range(4):  # lock in four window-sized cohorts
        for n in entry_mod._order_names(names, last, set(), {})[:WINDOW]:
            last[n] = rnd
    names.append("newbie")
    registered = {"newbie": 4}
    checked_at = None
    worst = 0
    for rnd in range(4, 16):
        window = entry_mod._order_names(
            names, last, set(), {}, registered
        )[:WINDOW]
        worst = max(
            worst, max(rnd - last.get(n, rnd) for n in names if n in last)
        )
        for n in window:
            if n == "newbie" and checked_at is None:
                checked_at = rnd
            last[n] = rnd
    assert checked_at is not None, "newbie starved"
    assert checked_at <= 4 + ms + 2, f"newbie checked late: r{checked_at}"
    assert worst <= ms + 2, f"staleness {worst} > {ms + 2}"


def test_registry_fits_the_freshness_budget():
    """Register-one-retire-one (r12 verdict item 4), made structural:
    with N registered queries and a W-slot window, steady-state
    freshness is ⌈N/W⌉ rounds — it must not exceed _MAX_STALENESS + 1,
    or the overdue tier saturates permanently and every registration
    starves someone.  At 187/50 the budget holds with 13 queries to
    spare; past 200, adding a query without retiring one fails here
    (retire to plans/catalog.RETIRED — retirees stay locally
    oracle-tested)."""
    import math

    n = len(entry_mod.queries())
    assert math.ceil(n / WINDOW) <= entry_mod._MAX_STALENESS + 1, (
        f"{n} registered queries exceed the {WINDOW}-slot window's "
        f"freshness budget — retire a near-duplicate before registering"
    )


def test_never_checked_tier_is_fifo_by_registration_round():
    """Within the never-checked queue, an OLDER registration outranks a
    newer one regardless of registry (module-import) order — a twin
    registered this round in an early-importing module must not jump
    queries that have already waited since earlier rounds (r13)."""
    last = {"anchor": 12}  # anchors now = 13
    names = ["anchor", "new_early_module", "old_late_module"]
    registered = {"new_early_module": 13, "old_late_module": 11}
    ordered = entry_mod._order_names(names, last, set(), {}, registered)
    assert ordered[:2] == ["old_late_module", "new_early_module"]


def test_ladder_projection_drains_every_never_checked_query():
    """r12 verdict item 4: project the rotation forward from the REAL
    registry + REAL CORRECTNESS history (every check passing) and assert
    each never-checked query lands a driver slot by registration +
    _MAX_STALENESS + 1, and that no registered query's staleness ever
    exceeds the promotion worst case (_MAX_STALENESS + 2) along the way.
    This is the executable form of the ladder-plan comment above
    _REGISTERED_ROUND."""
    last, failed = entry_mod._last_check("/root/repo")
    if not last:
        return  # fresh checkout — nothing to project
    names = list(entry_mod.queries())
    ms = entry_mod._MAX_STALENESS
    # restrict history to live registry names (retired queries keep
    # CORRECTNESS rows but no longer occupy slots)
    sim_last = {n: r for n, r in last.items() if n in names}
    now = max(sim_last.values()) + 1
    deadline = {
        n: entry_mod._REGISTERED_ROUND.get(n, now) + ms + 1
        for n in names
        if n not in sim_last
    }
    checked_at: dict[str, int] = {}
    for rnd in range(now, now + 8):
        window = entry_mod._order_names(
            names, sim_last, set(), {}, entry_mod._REGISTERED_ROUND
        )[:WINDOW]
        for n in window:
            checked_at.setdefault(n, rnd)
            sim_last[n] = rnd
        worst = max(rnd - sim_last.get(n, rnd) for n in names)
        assert worst <= ms + 2, (
            f"projected staleness {worst} > {ms + 2} at r{rnd}"
        )
    late = {
        n: (checked_at.get(n), d)
        for n, d in deadline.items()
        if checked_at.get(n, 10**9) > d
    }
    assert not late, f"never-checked queries past their deadline: {late}"
