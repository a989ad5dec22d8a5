"""Round-12 plan guards: the shapes the optimization rounds bought stay
bought. Pins (VERDICT r11 #6 + the r12 rewrites):

- graph_kcore's unrolled rounds are delta-degree updates — no per-round
  LeftSemi edge rewrites;
- linkage_fellegi_sunter's pair stage stays regex-split-free
  (substring_index only);
- the dq census keys build their whole answer as ONE plan (no eager
  driver .count() jobs at DataFrame build time).
"""

from __future__ import annotations

from conftest import SF_DIR, plan_text


def _no_checkpoint(monkeypatch):
    """Swap every lineage cut for the identity so iterative keys'
    UNROLLED plans (every round's joins) are assertable — the
    tools/explain.py EXPLAIN_NO_CHECKPOINT swap."""
    from excel_to_db_spark.operators import physical

    monkeypatch.setattr(physical, "cut", lambda df: df)


def test_kcore_rounds_are_delta_degree_updates(spark, monkeypatch):
    _no_checkpoint(monkeypatch)
    from excel_to_db_spark.queries.estimation import graph_kcore

    plan = plan_text(graph_kcore(spark, SF_DIR))
    assert "LeftSemi" not in plan, \
        "r11 re-materialized the edge set per round via two LeftSemi " \
        "joins; r12 rounds update the degree vector only"


def test_fellegi_pair_stage_is_regex_split_free(spark):
    from excel_to_db_spark.queries.linkage import linkage_fellegi_sunter

    plan = plan_text(linkage_fellegi_sunter(spark, SF_DIR))
    assert "substring_index" in plan
    import re

    assert not re.search(r"(?<!_)split\(", plan), \
        "agreement fields must use substring_index, not per-pair split()"


def test_dq_census_keys_are_one_aggregating_plan(spark):
    """The r10 shape ran 2N sequential driver .count() loops and
    returned a createDataFrame of the collected literals (a
    LocalTableScan leaf with no aggregates); the r11 fold returns ONE
    plan whose branches aggregate the tables themselves. Pin the
    fold: the returned plan must contain the per-branch aggregates and
    must NOT be a local literal table."""
    from excel_to_db_spark.queries.profiling2 import (
        dq_inclusion_census, dq_key_discovery, dq_orphan_audit)

    for fn, min_aggs in ((dq_inclusion_census, 5),
                         (dq_key_discovery, 5),
                         (dq_orphan_audit, 4)):
        plan = plan_text(fn(spark, SF_DIR))
        assert plan.count("HashAggregate") >= min_aggs, \
            f"{fn.__name__}: branch aggregates missing from the plan"
        assert "LocalTableScan" not in plan, \
            f"{fn.__name__}: literal result table — the r11 " \
            "single-plan fold regressed to driver-side counts"
