"""Physical-plan regression guards for the round-3 additions: the
TPC-H suite completion (Q1/Q2/Q11/Q20/Q21) and the storage-layout pack.

Same contract as tests/test_plans_r2.py .. _r4.py: each assertion pins
the plan property that makes the operator survive a 100x scale-up.
"""

from __future__ import annotations

from conftest import plan_text

SF_DIR = "/root/testdata/sf0.001"


def test_tpch_q1_single_partial_agg_exchange(spark, registry):
    plan = plan_text(registry["tpch_q1"].fn(spark, SF_DIR))
    assert plan.count("Exchange") == 1, \
        "one exchange carrying partial (flag,status) states only"
    assert "PushedFilters" in plan and "l_shipdate" in plan, \
        "shipdate predicate must reach the parquet scan"
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_tpch_q2_decorrelated_min_and_heap_top100(spark, registry):
    plan = plan_text(registry["tpch_q2"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, \
        "top-100 must be a heap merge, not a global sort"
    assert "BroadcastNestedLoopJoin" not in plan, \
        "the correlated min subquery must decorrelate to a window"
    assert "Window" in plan


def test_tpch_q11_reuses_value_relation_exchange(spark, registry):
    df = registry["tpch_q11"].fn(spark, SF_DIR)
    df.collect()  # ReusedExchange only appears in the FINAL adaptive plan
    plan = plan_text(df)
    assert "ReusedExchange" in plan, \
        "the global threshold must reuse the aggregated value relation, " \
        "not rescan lineitem"
    # the only BNLJ is the 1-row scalar threshold broadcast (the executed
    # adaptive plan prints Final + initial sections, so it appears twice)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1


def test_tpch_q21_one_fact_shuffle_for_double_correlation(spark, registry):
    plan = plan_text(registry["tpch_q21"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 1, \
        "EXISTS/NOT-EXISTS collapse to windows over ONE orderkey shuffle " \
        "(the l1/l2/l3 self-join plan shuffles the fact three times)"
    assert "SortMergeJoin" not in plan, \
        "no fact-fact self-join may survive the rewrite"


def test_orc_roundtrip_pushes_filter_to_orc_scan(spark, registry):
    plan = plan_text(registry["orc_roundtrip"].fn(spark, SF_DIR))
    assert "PushedFilters" in plan and "l_discount" in plan, \
        "discount predicate must reach the ORC scan (stripe skipping)"


def test_asof_nearest_single_exchange(spark, registry):
    """Both direction windows of the nearest as-of must share ONE hash
    exchange on the key (re-sort without re-shuffle)."""
    plan = plan_text(registry["join_asof_nearest"].fn(spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning(user_id") == 1
