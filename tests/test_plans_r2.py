"""Physical-plan regression guards for the round-2 operator pack.

Each assertion codifies a scale property documented in PLANS.md: if a
future change silently degrades the plan (lost pushdown, nested-loop
fallback, extra shuffle), these fail before any benchmark notices.
"""

from __future__ import annotations

from conftest import plan_text

SF_DIR = "/root/testdata/sf0.001"


def test_lateral_topn_decorrelates(spark, registry):
    plan = plan_text(registry["lateral_topn"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, "per-key LIMIT must prune via WindowGroupLimit"
    assert "BroadcastNestedLoopJoin" not in plan, \
        "correlated LATERAL must decorrelate, not nested-loop"


def test_date_spine_no_extra_scan(spark, registry):
    plan = plan_text(registry["date_spine"].fn(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, "spine must be generated, not scanned"
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" in plan


def test_pack_sequences_single_shuffle(spark, registry):
    plan = plan_text(registry["pipeline_pack_sequences"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, \
        "window and (source, block) agg must reuse ONE source shuffle"


def test_latest_state_pushdown_and_prune(spark, registry):
    plan = plan_text(registry["events_latest_state"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, "rn=1 filter must prune map-side"


def test_funnel_no_join(spark, registry):
    plan = plan_text(registry["events_funnel"].fn(spark, SF_DIR))
    assert "Join" not in plan, "conditional-min funnel must not self-join"


def test_keywords_broadcasts_df_table(spark, registry):
    plan = plan_text(registry["text_keywords"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, "document-frequency table must broadcast"
    assert "WindowGroupLimit" in plan, "top-3 rank must prune map-side"
