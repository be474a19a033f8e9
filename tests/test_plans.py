"""Physical-plan property tests: pin the scale-critical plan shapes so
a regression (lost pushdown, surprise shuffle, broadcast that stopped
broadcasting) fails CI, not a cluster run. Complements SCALE.md §2."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    from seamless_sharepoint_etl_spark import registry

    df = registry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_rel_project_pushes_filters_and_prunes_columns(spark):
    plan = _plan(spark, "rel_project_filter_predicates")
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert "GreaterThan(l_quantity,25.0" in plan  # list may be truncated
    # pruned read schema: discount/shipdate are filter-only, tax/comment
    # never referenced — comment must not be read
    assert "l_comment" not in plan


def test_dim_join_broadcasts_both_dims(spark):
    plan = _plan(spark, "join_broadcast_dim")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_full_sort(spark):
    plan = _plan(spark, "sort_top_k_global")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_pricing_summary_single_exchange(spark):
    plan = _plan(spark, "agg_pricing_summary")
    assert plan.count("Exchange") == 1  # partial agg map-side, one shuffle


def test_flagship_never_shuffles_the_fact(spark):
    """Both frontier applications are 1-row broadcasts; the only
    exchange is the final orderBy's range partitioning."""
    plan = _plan(spark, "flagship_incremental_load")
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "Exchange hashpartitioning" not in plan


def test_no_python_eval_in_relational_paths(spark):
    """Python stays out of every non-UDF hot path (JVM-only plans)."""
    for name in (
        "rel_project_filter_predicates",
        "agg_pricing_summary",
        "join_shuffle_fact",
        "win_running_sum",
        "text_quality_score",
        "dedup_ngram_jaccard",
        "sim_brute_force_topk",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_udf_paths_are_arrow_not_pickle(spark):
    for name, marker in (
        ("udf_scalar_pandas", "ArrowEvalPython"),
        ("udf_apply_in_pandas", "FlatMapGroupsInPandas"),
        ("mm_png_decode_features", "MapInPandas"),
    ):
        plan = _plan(spark, name)
        assert marker in plan, (name, plan[:500])
        assert "BatchEvalPython" not in plan, name  # no pickled row UDFs


def test_codec_queries_fuse_one_python_node_over_the_parallel_body(spark):
    """Every codec query encodes and decodes inside ONE MapInPandas
    (two chained Python nodes ship every payload JVM→Python twice), and
    every one reads the round-robin repartitioned ``documents`` so the
    decode runs on every core — ADPCM once read a single task."""
    from seamless_sharepoint_etl_spark.llm_ops import multimodal as mm

    bound = {
        name: fn.keywords["codec"]
        for name, (fn, _sql) in mm.QUERIES.items()
        if getattr(fn, "func", None) is mm.decode_features
    }
    assert sorted(bound.values()) == sorted(mm.CODECS) and len(bound) == 10
    for name in bound:
        plan = _plan(spark, name)
        assert plan.count("MapInPandas") == 1, (name, plan)
        assert "BatchEvalPython" not in plan, name
        assert "RoundRobinPartitioning" in plan, (name, plan)


def test_join_strategy_hints_respected(spark):
    """hint() steers the physical join strategy — the manual override
    when AQE's choice is wrong for a known workload."""
    from seamless_sharepoint_etl_spark import io

    o = io.load_table(spark, SF, "orders")
    li = io.load_table(spark, SF, "lineitem")
    shj = o.hint("shuffle_hash").join(li, o.o_orderkey == li.l_orderkey)
    plan = shj._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    smj = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    plan2 = smj._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan2, plan2


def test_embedding_neardup_is_blocked_equijoin(spark):
    """The exact all-pairs near-dup runs as a blocked EQUI-join on the
    block-grid key — never a BroadcastNestedLoop/cartesian over the
    full table (the round-1 scale-killer)."""
    plan = _plan(spark, "sim_embedding_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantized_topk_routes_through_ivf(spark):
    """int8 scoring runs only inside probed IVF buckets: the plan shows
    the broadcast centroid join of the router, and the final scoring
    join is an equi-join on the bucket key (no all-pairs crossJoin of
    query × base as in round 1)."""
    plan = _plan(spark, "sim_quantized_topk")
    assert "BroadcastExchange" in plan  # centroid routing table
    # the q×cand scoring join is keyed on bucket, not a cartesian
    assert "CartesianProduct" not in plan


def test_ngram_posting_cap_is_in_the_plan(spark):
    """The stop-shingle cap must be a real filter in the physical plan,
    not documentation."""
    plan = _plan(spark, "dedup_ngram_jaccard")
    from seamless_sharepoint_etl_spark.llm_ops.dedup import MAX_POSTING

    assert f"size(ds#" in plan or str(MAX_POSTING) in plan


def test_rest_topn_pushdown_no_spark_sort(spark):
    """ORDER BY + LIMIT are absorbed by the REST source (page-prefix
    read): the plan must contain neither a Spark sort nor a
    TakeOrderedAndProject over the source."""
    plan = _plan(spark, "src_rest_topn_pushdown")
    assert "TakeOrderedAndProject" not in plan
    assert "Sort " not in plan and "GlobalLimit" not in plan


def test_linkpred_no_nested_loop(spark):
    """graph_jaccard_linkpred sits on the shared cached edge relation,
    so its golden would be cache-state-dependent (trap 14); assert the
    scale property directly: vertex-keyed joins only — no
    BroadcastNestedLoopJoin, no cartesian — and a TakeOrderedAndProject
    top-k (never a global sort)."""
    plan = _plan(spark, "graph_jaccard_linkpred")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_local_clustering_no_nested_loop(spark):
    """graph_local_clustering shares the persisted edge relation, so
    its golden would be cache-state-dependent (trap 14); assert the
    scale properties directly: vertex-keyed joins only — no
    BroadcastNestedLoopJoin, no cartesian."""
    plan = _plan(spark, "graph_local_clustering")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_exact_no_nested_loop_and_no_window(spark):
    """graph_pagerank_exact shares the persisted edge relation (golden
    would be cache-state-dependent, trap 14); assert the scale shape
    directly: four vertex-keyed join+aggregate rounds — no
    BroadcastNestedLoopJoin, no cartesian, no window anywhere, and the
    top-k is TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, "graph_pagerank_exact")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_minhash_estimate_no_nested_loop(spark):
    """dedup_minhash_estimate sits on the session portable-shingle
    cache (golden would be cache-state-dependent, trap 14); assert the
    scale shape directly: component-keyed equi-joins and broadcast
    candidate joins only — no BroadcastNestedLoopJoin, no cartesian."""
    plan = _plan(spark, "dedup_minhash_estimate")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_percentiles_no_multiset_aggregate(spark):
    """agg_percentiles (rebuilt round 4): per-task state must be a
    counter, never a group's value multiset — the `percentile`/`median`
    aggregate expressions must not appear; the rank window must
    partition by (flag, metric, bucket), never run partitionless."""
    plan = _plan(spark, "agg_percentiles")
    assert "percentile(" not in plan.lower()
    assert "median(" not in plan.lower()  # qty_median the COLUMN is fine
    assert "row_number" in plan


def test_registry_wide_plan_audit(spark):
    """Every registered query's executed plan is swept for the three
    structural scale smells (cartesian product, non-scalar BNLJ,
    ordered-but-unpartitioned window) by tools/plan_audit.py; every
    acceptable occurrence is a REVIEWED allowlist entry with a reason.
    A new smell anywhere in the 282-query registry fails here, not on
    a cluster."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
    )
    from plan_audit import ALLOWLIST, audit_plan

    from seamless_sharepoint_etl_spark import registry

    # Sweep COLD plans: a MATERIALIZED InMemoryRelation prints its
    # stored adaptive plan with "== Final Plan ==" marker lines whose
    # indentation is inconsistent with the outer tree (Spark's own
    # printer), which defeats any indentation-based subtree analysis —
    # ts_kaplan_meier false-flagged bnlj whenever test_oracle_parity
    # had materialized its persisted rollups first. The audit's subject
    # is the intrinsic plan shape, so decache first (the CLI audit runs
    # cold for the same reason); known session caches are re-persisted
    # below so later tests keep their warm-path speed.
    spark.catalog.clearCache()
    findings = []
    for name, fn in registry.queries().items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        for smell in audit_plan(plan):
            if (name, smell) not in ALLOWLIST:
                findings.append((name, smell))

    _repersist_session_caches()
    assert not findings, f"un-allowlisted plan smells: {findings}"


def _repersist_session_caches():
    """Re-mark every persisted session-artifact DataFrame as persisted
    (clearCache() unpersists them but the store keeps returning the
    same objects, so consumers would silently re-expand the shared
    subtrees)."""
    from seamless_sharepoint_etl_spark import artifacts

    for df in artifacts.frames():
        if df.is_cached:
            df.persist()


def test_registry_wide_duplicate_scan_audit(spark):
    """No query's optimized plan may scan the same table more than
    SCAN_BUDGET times (NOTES trap 22b: a derived relation referenced
    N times re-executes its whole chain N times — agg_kmv_set_ops
    shipped with 8 events scans before this gate existed). Counted
    structurally via collectLeaves(), with the session caches in
    their production (persisted) state, because cached spine relations
    are exactly how the dedup/text/sim families amortize their scans."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
    )
    from plan_audit import ALLOWLIST, audit_scans

    from seamless_sharepoint_etl_spark import registry

    _repersist_session_caches()
    findings = []
    for name, fn in registry.queries().items():
        over = audit_scans(fn(spark, SF))
        if over and (name, "dup_scan") not in ALLOWLIST:
            findings.append((name, over))
    assert not findings, f"over-budget same-table scans: {findings}"


def test_bnlj_detector_inspects_only_the_build_subtree():
    """Round-5 advice: the old flat lookahead suppressed the BNLJ smell
    whenever keys=[] or LocalTableScan appeared ANYWHERE in the next
    200 lines — a warm cache or literal relation in the STREAM subtree
    false-negatived a genuinely non-scalar build side. The detector
    must (a) flag a non-scalar build even when the stream side contains
    a scalar aggregate, and (b) accept a true scalar-frontier build."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
    )
    from plan_audit import audit_plan

    # (a) stream side holds a keys=[] aggregate; build side is a
    # grouped (non-scalar) aggregate -> must flag
    bad = """\
Project [a#1L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- Project [a#1L]
   :  +- HashAggregate(keys=[], functions=[sum(v#2L)], output=[a#1L])
   :     +- LocalTableScan [v#2L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
      +- HashAggregate(keys=[k#3L], functions=[sum(v#4L)], output=[k#3L, s#5L])
         +- FileScan parquet [k#3L,v#4L]
"""
    assert "bnlj" in audit_plan(bad)

    # (b) scalar frontier build (keys=[] aggregate under the exchange)
    good = """\
Project [a#1L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
      +- HashAggregate(keys=[], functions=[max(v#2L)], output=[m#3L])
         +- FileScan parquet [v#2L]
"""
    assert "bnlj" not in audit_plan(good)

    # (c) LocalTableScan as the direct broadcast child is the accepted
    # driver-literal frontier shape
    literal = """\
Project [a#1L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=1]
      +- LocalTableScan [t#2L]
"""
    assert "bnlj" not in audit_plan(literal)
