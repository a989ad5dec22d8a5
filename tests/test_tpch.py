"""Physical-plan assertions for the TPC-H-derived suite.

Correctness is covered by the DuckDB oracle gate (tools/check.py); these
tests pin the *plan shapes* that matter at 100 TB — a regression that
turns a broadcast join into a fact-side shuffle, or a top-k into a
global sort, passes the oracle but destroys scale behavior.
"""

from __future__ import annotations

from conftest import plan_text

SF_DIR = "/root/testdata/sf0.001"


def test_q3_topk_and_broadcast(spark, registry):
    df = registry["tpch_q3"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "TakeOrderedAndProject" in plan, "top-10 must not be a global sort"
    assert "BroadcastHashJoin" in plan, "customer dim must broadcast"
    assert df.count() <= 10


def test_q4_semi_join(spark, registry):
    df = registry["tpch_q4"].fn(spark, SF_DIR)
    assert "LeftSemi" in plan_text(df), "EXISTS must lower to a semi join"
    assert df.count() > 0


def test_q5_single_shuffle_for_facts(spark, registry):
    plan = plan_text(registry["tpch_q5"].fn(spark, SF_DIR))
    # orders⋈lineitem is the only allowed non-broadcast join.
    n_smj_shj = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert n_smj_shj <= 1, f"dims must broadcast, got:\n{plan}"
    assert plan.count("BroadcastHashJoin") >= 4


def test_q19_stays_equi_join(spark, registry):
    plan = plan_text(registry["tpch_q19"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, (
        "OR'd predicate groups must not defeat the equi-join extraction")
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join(spark, registry):
    df = registry["tpch_q22"].fn(spark, SF_DIR)
    assert "LeftAnti" in plan_text(df), "NOT EXISTS must lower to an anti join"
    assert df.count() > 0


def test_q15_single_lineitem_scan(spark, registry):
    plan = plan_text(registry["tpch_q15"].fn(spark, SF_DIR))
    # The max-revenue comparison must ride on the aggregated revenue
    # relation (window max), not re-scan lineitem for a scalar subquery.
    assert plan.count("lineitem.parquet") == 1, plan
