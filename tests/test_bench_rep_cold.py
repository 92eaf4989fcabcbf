"""r18 bench-honesty pin (VERDICT r17 "what's wrong" items 1-2).

A query fn that persists a subtree registers an identical analyzed plan
every rep, and Spark's CacheManager serves later reps from the first
rep's materialized cache — the bench's min-of-N was then a warm-cache
read for every persisted query.  bench.py now evicts the cache between
reps; this test pins the mechanism: after one materialization the
CacheManager is non-empty (the query really does persist — the premise),
and after ``clearCache()`` it is empty again, so the next rep pays full
materialization.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_persisted_query_rep2_is_cold_after_clearcache(spark):
    from real_time_trip_processing_project_spark.plans import REGISTRY

    spark.catalog.clearCache()
    cm = _cache_manager(spark)
    assert cm.isEmpty(), "test precondition: session cache not empty"

    # distinct_kmv persists its shared distinct set (DISK_ONLY)
    df = REGISTRY["distinct_kmv"].fn(spark, SF_SMOKE)
    assert not cm.isEmpty(), (
        "premise broken: distinct_kmv no longer persists — "
        "drop this pin alongside the bench clearCache comment"
    )
    df.write.mode("overwrite").format("noop").save()

    # the bench's between-reps eviction: rep 2 must not find this cache
    spark.catalog.clearCache()
    assert cm.isEmpty(), "clearCache left persisted plans registered"


def test_bench_time_loop_evicts_between_reps():
    """The clearCache call must live INSIDE the per-rep loop of both
    bench timing loops (main + retest), not once per query: every call
    sits in the body of the same innermost ``for`` loop as a
    ``perf_counter()`` call, and there are at least two."""
    import ast
    import pathlib

    src = (pathlib.Path(__file__).parent.parent / "bench.py").read_text()
    tree = ast.parse(src)

    def calls(attr):
        return [
            n
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
        ]

    # ast.walk is breadth-first, so an inner loop overwrites its outer one
    innermost: dict[int, ast.For] = {}
    for loop in ast.walk(tree):
        if isinstance(loop, ast.For):
            for stmt in loop.body:
                for n in ast.walk(stmt):
                    innermost[id(n)] = loop
    timed_loops = {
        id(innermost[id(c)]) for c in calls("perf_counter") if id(c) in innermost
    }
    clears = calls("clearCache")
    assert len(clears) >= 2, "bench.py lost its between-reps cache eviction"
    for c in clears:
        loop = innermost.get(id(c))
        assert loop is not None and id(loop) in timed_loops, (
            f"bench.py:{c.lineno}: clearCache is not in the body of a timed "
            "per-rep for loop"
        )
