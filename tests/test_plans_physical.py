"""Physical-plan regression tests: the optimizations the engine's scale
story depends on must actually appear in the executed plans — predicate
pushdown, column pruning, broadcast joins, top-k without global sort,
map-side partial aggregation."""

from __future__ import annotations

import contextlib
import io

from real_time_trip_processing_project_spark.plans import REGISTRY, RETIRED

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = (REGISTRY | RETIRED)[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "filter_eq")
    assert "PushedFilters:" in plan
    # the status equality must be pushed to the parquet reader
    assert "EqualTo(o_orderstatus,F)" in plan.replace(" ", "")


def test_projection_prunes_columns(spark):
    plan = _plan(spark, "projection_cast_rename")
    # scan must read only the 5 referenced columns, not all 11
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_comment" not in read
    assert read.count(":") - 1 <= 6  # struct<...> with ≤5 fields


def test_flagship_broadcasts_and_fuses_aggregates(spark):
    plan = _plan(spark, "trip_daily_kpis")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan and "partial_count" in plan
    # exactly one shuffle (the date-key hash exchange) — all 5 KPIs fused
    simple = _plan(spark, "trip_daily_kpis", "simple")
    assert simple.count("Exchange hashpartitioning") == 1


def test_dimension_joins_broadcast(spark):
    simple = _plan(spark, "multiway_join_agg", "simple")
    assert simple.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in simple
    # both dim joins are shuffle-free: the only exchange is the final agg's
    assert simple.count("Exchange hashpartitioning") == 1


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    # no full Sort + Exchange for a LIMIT 10
    assert "GlobalLimit" not in plan or "Sort" not in plan


def test_semi_anti_join_types(spark):
    assert "LeftSemi" in _plan(spark, "join_semi")
    assert "LeftAnti" in _plan(spark, "join_anti")


def test_grouped_agg_has_mapside_partial(spark):
    plan = _plan(spark, "global_agg")
    assert "partial_sum" in plan
    assert "PushedFilters:" in plan


def test_wholestage_codegen_in_hot_paths(spark):
    for name in ("trip_daily_kpis", "filter_eq", "histogram_bucket"):
        plan = _plan(spark, name, "codegen")
        assert "WholeStageCodegen subtrees" in plan, name
        assert "Found 0" not in plan.splitlines()[1], name


def test_no_cartesian_products_in_catalogue(spark):
    """Nothing in the catalogue may fall back to an unintended cartesian
    product or nested-loop join.  The exact-pair similarity ops use an
    inequality self-join by design (bounded fixture corpus; ANN is the
    scale path) — everything else must be key-joined.  Every allowlist
    entry must still plan a nested-loop join: a listed query that no
    longer needs one is stale and fails here, so the list cannot hide a
    regression."""
    # sim_cosine_topk: bounded query-set × corpus scan by design;
    # text_bigram_lm_score / text_bm25_search: single-ROW broadcast of
    # corpus scalars (token total; N + avgdl) — the no-driver-collect
    # way to attach a global scalar; the BNLJ build side is one row at
    # any corpus size.
    allowed = {
        "sim_cosine_topk",
        "text_bigram_lm_score",  # same 1-row corpus-total broadcast
        "text_bm25_search",
        "embedding_covariance",  # 1-row broadcast of the corpus count
        # 1-row broadcast of the (n, sum) balance scalar — the Q22
        # scalar-subquery threshold, same class as the corpus scalars
        "tpch_q22_global_sales_opportunity",
        # batch-3 partsupp queries: the DERIVED partsupp attaches the
        # 1-row supplier-count scalar the same way (plans/tpch.py
        # _partsupp) — the BNLJ build side is one row at any scale
        "tpch_q2_min_cost_supplier",
        "tpch_q9_product_type_profit",
        "tpch_q11_important_stock",
        "tpch_q16_parts_supplier_relationship",
        "tpch_q20_potential_promotion",
        # 1-row broadcast of the (T, S) feature-total scalar
        "curation_importance_resample",
        "curation_dsir_pipeline",  # same scalar via _dsir_pool_scores
        # r13 bounds twins: 1-row broadcasts of the global-exact /
        # workload-size scalars, plus (sim_ann_recall_bounds) the
        # bounded query-set × corpus exact side it verifies against
        "approx_sketch_bounds",
        "sim_ann_recall_bounds",
    }
    assert allowed <= set(REGISTRY), allowed - set(REGISTRY)
    for name in REGISTRY:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name in allowed:
            assert "BroadcastNestedLoopJoin" in plan, f"stale entry {name}"
        else:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_triangle_joins_pin_both_size_regimes(spark, monkeypatch):
    """triangle_count references its disk-cached oriented-edge frame
    three times; the join regime is pinned EXPLICITLY per edge count
    because the compile-time stats above the cached input are still the
    upstream estimate and AQE never re-validates a broadcast above a
    non-exchange scan (the r14 wrong-side-broadcast class — left to
    its estimates Catalyst auto-broadcast the full edge frame and
    OOM'd the build at sf10).  Fused regime (tiny graphs): everything
    broadcast, one codegen stage, no wedge materialization.  Mid
    regime: SMJ wedge join (its INPUTS are cheap to shuffle) + a
    broadcast 2-col closing probe, so the O(m^1.5) wedge OUTPUT
    pipelines into the probe + partial agg without ever being
    exchanged.  Big regime: everything sort-merge — the honest
    global-exact shuffle (4.1× slower at sf10, SCALE.md r15; the
    clustered sibling is the scale path)."""
    from real_time_trip_processing_project_spark.operators import (
        graph as GR,
    )

    def _tri_plan() -> str:
        df = (REGISTRY | RETIRED)["graph_triangles_dedup"].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    # fused regime at fixture scale: wedge + probe + final all broadcast
    plan = _tri_plan()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    # the cached INPUT pair frame is re-read, not re-derived
    assert "InMemoryTableScan" in plan

    # mid regime (forced): SMJ wedge, broadcast LeftSemi probe, cached
    # edge frame re-read per reference
    monkeypatch.setattr(GR, "_TRI_FUSED_MAX_EDGES", 0)
    mid = _tri_plan()
    assert "BroadcastHashJoin" in mid and "LeftSemi" in mid
    assert mid.count("SortMergeJoin") >= 2
    assert mid.count("InMemoryTableScan") >= 2

    # big regime (forced): the probe must be sort-merge too
    monkeypatch.setattr(GR, "_TRI_BROADCAST_MAX_EDGES", 0)
    big = _tri_plan()
    assert big.count("SortMergeJoin") >= 3
    assert "BroadcastHashJoin" not in big


def test_embedding_pairs_plan_is_equi_joined(spark):
    """The registered near-dup pair query must run as shuffle/broadcast
    equi-joins on (cell, pair id) keys — the metric-blocked design —
    never the O(N²) nested loop it replaced."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_map_only_queries_have_no_shuffle(spark):
    """Pure per-row transforms must stay shuffle-free: deterministic
    mixture sampling, int8 quantization, interval arithmetic, unpivot,
    and the generator query are all scan→map pipelines."""
    for name in (
        "mixture_weighted_sample",
        "embedding_quantize_int8",
        "interval_arithmetic",
        "unpivot_measures",
        "explode_posexplode",
    ):
        simple = _plan(spark, name, "simple")
        assert "Exchange" not in simple, name


def test_generator_and_expand_nodes(spark):
    """posexplode runs as a pipelined Generate; unpivot as an Expand —
    both inside the scan stage, not via a join."""
    assert "Generate" in _plan(spark, "explode_posexplode", "simple")
    assert "Expand" in _plan(spark, "unpivot_measures", "simple")


def test_contamination_is_semi_joined(spark):
    """The contamination audit must probe the train vocabulary with a
    semi join on the 32 B hash key — never materialize eval×train."""
    plan = _plan(spark, "curation_contamination", "simple")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_domain_rollup_has_mapside_partial(spark):
    plan = _plan(spark, "doc_domain_stats")
    assert "partial_count" in plan or "partial_sum" in plan


def test_q3_broadcasts_dim_and_takes_ordered(spark):
    """TPC-H Q3 shape: segment-filtered customer broadcasts, the top-10
    runs as TakeOrderedAndProject, and both date filters reach the scans."""
    plan = _plan(spark, "tpch_q3_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan and "LessThan(o_orderdate" in plan


def test_join_strategy_hints_are_honored(spark):
    """Strategy control for the 100 TB tuning loop: broadcast / merge /
    shuffle_hash hints each select their physical join."""
    from real_time_trip_processing_project_spark.sources.readers import load_fixture
    from pyspark.sql import functions as F
    import contextlib, io

    o = load_fixture(spark, SF, "orders")
    c = load_fixture(spark, SF, "customer")

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    cond = o.o_custkey == c.c_custkey
    assert "BroadcastHashJoin" in plan_of(o.join(F.broadcast(c), cond))
    assert "SortMergeJoin" in plan_of(o.join(c.hint("merge"), cond))
    assert "ShuffledHashJoin" in plan_of(o.join(c.hint("shuffle_hash"), cond))


def test_aqe_splits_skewed_join_at_runtime(spark):
    """SCALE.md's skew claim, executed: a join with one hot key (90% of
    200 k rows) re-plans under AQE into SortMergeJoin(skew=true) with
    the skewed partition split — observed on the EXECUTED adaptive plan,
    not the static one.  Thresholds are lowered to make local data
    trigger the same code path production sizes would."""
    from pyspark.sql import functions as F

    saved = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": None,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": None,
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        )
        j = left.join(right, "k")
        j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed
        assert "AQEShuffleRead" in executed
    finally:
        spark.conf.unset(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        )
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            saved["spark.sql.autoBroadcastJoinThreshold"],
        )


def test_funnel_shuffles_once_per_key_level(spark):
    """funnel_conversion: exactly two exchanges — the user_id window
    shuffle (reused by the per-user aggregate, whose grouping key starts
    with user_id) and the final date histogram.  A third exchange would
    mean Catalyst stopped reusing the window partitioning and the
    per-user aggregate re-shuffles all events."""
    import re

    plan = _plan(spark, "funnel_conversion")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "Window" in plan


def test_retention_distinct_agg_is_two_phase(spark):
    """retention_cohorts: the countDistinct must expand to a two-phase
    aggregate (partial_count + map-side dedup), never a single-node
    collect-style distinct."""
    plan = _plan(spark, "retention_cohorts")
    assert "partial_count" in plan
    assert "Window" in plan


def test_onepass_argmax_partially_aggregates(spark):
    """latest_event_per_user_onepass must compile to a PARTIAL-aggregating
    max before its single exchange (the shuffle carries local winners,
    not every event) and must not fall back to the window form."""
    plan = _plan(spark, "latest_event_per_user_onepass")
    assert "Window" not in plan
    assert "partial_max" in plan
    simple = _plan(spark, "latest_event_per_user_onepass", "simple")
    assert simple.count("Exchange hashpartitioning") == 1
    # the partial agg must sit BELOW the exchange (map-side combine)
    assert simple.index("partial_max") > simple.index("Exchange")


def test_bloom_probe_broadcasts_the_bitmap(spark):
    """curation_bloom_contamination's probe join must broadcast the
    ≤2^16-row position relation (the 'ship the bitmap to the data'
    property the sketch exists for), never shuffle the eval probes
    against it with a sort-merge join."""
    plan = _plan(spark, "curation_bloom_contamination", "simple")
    assert "BroadcastHashJoin" in plan


def test_q5_join_tree_broadcasts_all_dimensions(spark):
    """tpch_q5_local_supplier: the deepest join tree in the catalogue
    must resolve every dimension side as a broadcast — no sort-merge
    join anywhere — leaving the orderkey shuffle + final agg as the
    only exchanges."""
    simple = _plan(spark, "tpch_q5_local_supplier", "simple")
    assert "SortMergeJoin" not in simple
    assert "BroadcastHashJoin" in simple
    assert simple.count("Exchange hashpartitioning") <= 2


def test_sessionize_reuses_user_window_exchange(spark):
    """sessionize_batch: both window passes (gap lag + running sum) and
    the per-(user, session) aggregate ride ONE user_id exchange — the
    aggregate's grouping key starts with user_id, so Catalyst must not
    re-shuffle."""
    import re

    plan = _plan(spark, "sessionize_batch")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Window" in plan


def test_scd2_islands_single_exchange(spark):
    """scd2_event_type_versions: same single-exchange discipline as
    sessionize — the island construction is window + grouped bounds on
    one user_id partitioning."""
    import re

    plan = _plan(spark, "scd2_event_type_versions")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_chunker_is_shuffle_free(spark):
    """doc_chunk_overlap: pure scan → generate → project; any Exchange
    means the fan-out stopped being map-only."""
    plan = _plan(spark, "doc_chunk_overlap")
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_q1_partially_aggregates_with_pushed_filter(spark):
    """tpch_q1_pricing_summary: the date filter reaches the parquet
    scan and the money sums partial-aggregate below the single
    exchange (the Q1 bandwidth-bound contract)."""
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert "PushedFilters:" in plan
    assert "partial_sum" in plan
    simple = _plan(spark, "tpch_q1_pricing_summary", "simple")
    assert simple.count("Exchange hashpartitioning") == 1


def test_q18_semi_join_broadcasts_survivors(spark):
    """tpch_q18_large_orders: the HAVING-subquery survivors must come
    back as a BROADCAST left-semi join onto lineitem, not a shuffled
    join of the whole fact against itself."""
    plan = _plan(spark, "tpch_q18_large_orders")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_zscore_single_user_exchange(spark):
    """events_rolling_zscore_outliers: the three frame aggregates share
    one user_id window exchange."""
    import re

    plan = _plan(spark, "events_rolling_zscore_outliers")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Window" in plan


def test_hashing_vectors_partially_aggregates(spark):
    """text_hashing_vectors: the (doc, bucket) term counts must
    partial-aggregate below the exchange — the shuffle carries at most
    docs×1024 partials, never raw tokens."""
    plan = _plan(spark, "text_hashing_vectors")
    assert "partial_count" in plan


def test_chunker_prunes_to_two_columns(spark):
    """doc_chunk_overlap touches only (doc_id, text) — the scan schema
    must not drag the other document columns through the fan-out."""
    plan = _plan(spark, "doc_chunk_overlap")
    seg = plan.split("ReadSchema:", 1)[1][:200]
    assert "doc_id" in seg and "text" in seg
    assert "lang" not in seg and "source" not in seg


def test_fuzzy_join_prunes_to_key_and_name(spark):
    """fuzzy_join_levenshtein reads only (c_custkey, c_name)."""
    plan = _plan(spark, "fuzzy_join_levenshtein")
    seg = plan.split("ReadSchema:", 1)[1][:200]
    assert "c_custkey" in seg and "c_name" in seg
    assert "c_acctbal" not in seg and "c_nationkey" not in seg


def test_iterative_graph_plan_depth_stays_bounded(spark):
    """The 100 TB claim for the iterative graph family rests on lineage
    truncation: localCheckpoint every k rounds must keep the physical
    plan's size FLAT in the iteration count (without it, each extra
    iteration appends a join+agg layer and the plan — and scheduler
    overhead — grows without bound).  Compare executed-plan sizes at
    low vs high iteration counts; the high-iteration plan may be at
    most the checkpoint period's worth of layers, never proportional
    to total iterations."""
    import contextlib as _ctx
    import io as _io

    from real_time_trip_processing_project_spark.operators.graph import (
        pagerank_integer,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 6), (2, 5)],
        "id_a long, id_b long",
    )

    def plan_len(iters: int) -> int:
        df = pagerank_integer(pairs, iters=iters)
        buf = _io.StringIO()
        with _ctx.redirect_stdout(buf):
            df.explain("extended")
        return len(buf.getvalue())

    short, long_ = plan_len(3), plan_len(12)
    # 12 iterations = 4 checkpoint cycles; a flat plan is within ~1.5x
    # of the 3-iteration plan, an unbounded one would be ~4x
    assert long_ <= int(short * 1.5) + 2000, (short, long_)


def test_q19_disjunction_derivatives_pushed_to_both_scans(spark):
    """tpch_q19: the OR of cross-side conjunctions can only be fully
    evaluated above the join, but Catalyst must derive each side's
    implied disjunction and push it into the parquet scan — otherwise
    the scan reads every brand and every quantity at 100 TB."""
    plan = _plan(spark, "tpch_q19_disjunctive_predicates")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    lq = [l for l in pushed if "l_quantity" in l]
    pb = [l for l in pushed if "p_brand" in l]
    assert lq and "Or(" in lq[0], lq
    assert pb and "Or(" in pb[0], pb


def test_q21_decorrelates_to_semi_and_anti(spark):
    """tpch_q21: the EXISTS / NOT EXISTS pair must plan as LEFT SEMI +
    LEFT ANTI joins (not subquery re-execution), each carrying the
    suppkey-inequality residual."""
    plan = _plan(spark, "tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert plan.count("NOT (l_suppkey") >= 2


def test_q13_left_join_then_two_level_aggregate(spark):
    """tpch_q13: zero-order customers must survive (LeftOuter), and
    both aggregation levels keep map-side partials."""
    plan = _plan(spark, "tpch_q13_customer_distribution")
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 4


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime (row-level) bloom-filter join pruning: when a selective
    dim filter feeds a shuffle join, Spark can build a bloom filter of
    the surviving keys and inject `might_contain` into the fact scan —
    at 100 TB this is the row-level sibling of dynamic partition
    pruning (shuffle bytes drop before the exchange, not after).  The
    fixture is far below the size thresholds where this fires on its
    own, so the test pins the MECHANISM with thresholds floored — the
    production posture is the default thresholds, which arm exactly in
    the big-fact regime the feature exists for."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        q = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain("formatted")
        plan = buf.getvalue()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan
        # and the filtered result is still correct
        got = {r["o_orderpriority"]: r["count"] for r in q.collect()}
        want = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .count()
        )
        assert got == {"1-URGENT": want}
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_derived_partsupp_primary_key(spark, sf_smoke):
    """The derived partsupp must uphold dbgen's (ps_partkey, ps_suppkey)
    primary key — the additive-i suppkey formula guarantees four
    DISTINCT suppkeys per part for any supplier count S >= 4.  A
    stride-form i*step collides at small S (S=10, step=5 pairs i=0/2
    and i=1/3), double-counting lineitem matches in Q9 and emitting
    duplicate rows in Q2."""
    from pyspark.sql import functions as F

    from real_time_trip_processing_project_spark.plans.tpch import _partsupp

    ps = _partsupp(spark, sf_smoke)
    total = ps.count()
    distinct = ps.select("ps_partkey", "ps_suppkey").distinct().count()
    assert total == distinct and total > 0
    # exactly 4 suppliers per part, all within [0, S)
    from real_time_trip_processing_project_spark.sources.readers import (
        load_fixture,
    )

    s_total = load_fixture(spark, sf_smoke, "supplier").count()
    per_part = ps.groupBy("ps_partkey").count().select("count").distinct()
    assert [r["count"] for r in per_part.collect()] == [4]
    bad = ps.filter(
        (F.col("ps_suppkey") < 0) | (F.col("ps_suppkey") >= s_total)
    ).count()
    assert bad == 0


def test_verify_pairs_big_regime_pins_both_joins_smj(spark):
    """r17 pin (ADVICE r16): a join-strategy hint binds only to the
    nearest join above the hinted subtree, so `_verify_pairs(big=True)`
    must re-hint the intermediate (cand ⋈ sh_a) result — BOTH verify
    joins sort-merge, zero broadcast (the r16 sf10 OOM class: the
    narrow candidate set compresses under the auto-broadcast threshold
    but deserializes to ~1 GB held across both joins).  Small regime
    keeps AQE's choice."""
    import io as _io
    import contextlib as _ctx

    from pyspark.sql import functions as F
    from real_time_trip_processing_project_spark.operators import (
        dedup as DD,
    )

    sh = (
        spark.range(200)
        .select(
            F.col("id"),
            F.array(F.concat(F.lit("s"), F.col("id").cast("string"))).alias(
                "shingles"
            ),
            F.lit(1).alias("n_sh"),
        )
    )
    cand = spark.range(100).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )

    def plan_of(df):
        buf = _io.StringIO()
        with _ctx.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    big = plan_of(DD._verify_pairs(cand, sh, 0.5, big=True))
    assert big.count("SortMergeJoin") >= 2
    assert "BroadcastHashJoin" not in big
    small = plan_of(DD._verify_pairs(cand, sh, 0.5))
    assert "BroadcastHashJoin" in small or "SortMergeJoin" not in small


def test_band_self_joins_pin_smj_in_big_regime(spark, monkeypatch):
    """r17 narrow-huge sweep: the minhash and simhash band self-joins
    carry 16×/4× the corpus in NARROW rows (minhash above a candidate
    explode, simhash above a stats-less localCheckpoint — the r14
    wrong-side-broadcast class).  Past _PREFIX_PIN_MIN_DOCS both must
    plan sort-merge; at fixture scale AQE's broadcast is kept."""
    import io as _io
    import contextlib as _ctx

    from real_time_trip_processing_project_spark.operators import (
        dedup as DD,
    )
    from real_time_trip_processing_project_spark.sources.readers import (
        load_fixture,
    )

    docs = load_fixture(spark, SF, "documents")

    def plan_of(df):
        buf = _io.StringIO()
        with _ctx.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    # big regime (forced): the band join must be sort-merge
    monkeypatch.setattr(DD, "_PREFIX_PIN_MIN_DOCS", 0)
    assert "SortMergeJoin" in plan_of(
        DD.minhash_lsh_pairs(docs, 0.9)
    )
    assert "SortMergeJoin" in plan_of(DD.simhash_pairs(docs))

    # small regime: no forced SMJ on the band join (AQE may still pick
    # one at runtime, but the compile-time pin must be absent)
    monkeypatch.setattr(DD, "_PREFIX_PIN_MIN_DOCS", 10**9)
    small_mh = plan_of(DD.minhash_lsh_pairs(docs, 0.9, docs_rows=500))
    small_sh = plan_of(DD.simhash_pairs(docs, docs_rows=500))
    # compile-time plans above AQE show the unpinned shape; assert the
    # hint did not leak into the small regime by checking the big plans
    # differ from the small ones
    assert small_mh != plan_of(DD.minhash_lsh_pairs(docs, 0.9, docs_rows=10**18))
    assert small_sh != plan_of(DD.simhash_pairs(docs, docs_rows=10**18))


def test_scalar_window_queries_plan_no_window(spark):
    """r17: tpch_q15/q11 replaced their Window.partitionBy() scalar
    attachment (the WHOLE grouped aggregate through one task) with a
    DISK_ONLY-persisted aggregate + two-stage scalar broadcast.  The
    plan must carry no Window node and must read the aggregate from
    the persisted relation (single base scan)."""
    for name in ("tpch_q15_top_supplier", "tpch_q11_important_stock"):
        plan = _plan(spark, name)
        assert "Window" not in plan, name
        assert "InMemoryRelation" in plan, name


def test_bigram_vocab_join_pins_build_side(spark, monkeypatch):
    """r17: text_bigram_lm_score must never let Catalyst broadcast the
    occurrence stream (the 4th narrow-but-huge hazard, 34 s at sf10).
    Below the doc-count pin the scored vocabulary broadcasts
    explicitly; above it the join is sort-merge."""
    from real_time_trip_processing_project_spark.plans import (
        training as TR,
    )

    fn = REGISTRY["text_bigram_lm_score"].fn

    monkeypatch.setattr(TR, "_BIGRAM_PIN_MIN_DOCS", 10**9)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(spark, SF).explain("simple")
    small = buf.getvalue()
    assert "BroadcastHashJoin" in small

    monkeypatch.setattr(TR, "_BIGRAM_PIN_MIN_DOCS", 0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(spark, SF).explain("simple")
    big = buf.getvalue()
    assert "SortMergeJoin" in big
