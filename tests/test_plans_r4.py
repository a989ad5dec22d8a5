"""Physical-plan regression guards for the warehouse analytics pack
(queries/warehouse2.py).

Same contract as tests/test_plans_r2.py / _r3.py: each assertion pins
the plan property that makes the operator survive a 100x scale-up.
"""

from __future__ import annotations

from conftest import plan_text

SF_DIR = "/root/testdata/sf0.001"


def test_basket_affinity_no_self_join_one_fact_shuffle_per_branch(spark, registry):
    plan = plan_text(registry["basket_affinity"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, \
        "part dim and brand-count sides must broadcast onto the fact/pairs"
    assert "SortMergeJoin" not in plan, \
        "pairs come from per-basket array combinatorics, never a fact self-join"
    # the only nested-loop join allowed is attaching the 1-row n_orders scalar
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "TakeOrderedAndProject" in plan, \
        "top-15 pairs must be a heap merge, not a global sort"
    # three consumers of the fact (pairs, brand counts, order count), each
    # column-pruned to its minimal scan; every orderkey exchange carries
    # partial-aggregated (deduped) rows, never the raw fact. 4 = baskets
    # x2 + the two-phase distinct of the order count.
    assert plan.count("Exchange hashpartitioning(l_orderkey") <= 4
    for scan_schema in ("struct<l_orderkey:bigint,l_partkey:bigint>",):
        assert scan_schema in plan, "fact scans must stay column-pruned"


def test_events_markov_single_user_shuffle(spark, registry):
    plan = plan_text(registry["events_markov"].fn(spark, SF_DIR))
    # lead() shuffles once on user_id; the pair groupBy and the
    # per-src normalization window operate on the tiny aggregate.
    assert plan.count("Exchange hashpartitioning(user_id") == 1, \
        "exactly one shuffle of the raw event stream (on user_id)"


def test_ts_interpolate_pushes_priority_filter(spark, registry):
    plan = plan_text(registry["ts_interpolate"].fn(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(o_orderpriority), " \
           "EqualTo(o_orderpriority,1-URGENT)]" in plan, \
        "the priority predicate must reach the parquet scan"


def test_pareto_share_partial_aggregation(spark, registry):
    plan = plan_text(registry["pareto_share"].fn(spark, SF_DIR))
    # map-side partial agg: only |suppliers| keys cross the wire, then
    # the cumulative window runs single-partition on the aggregate.
    assert plan.count("HashAggregate") >= 2, \
        "supplier revenue must partial-aggregate map-side"
    assert "Exchange SinglePartition" in plan, \
        "the cumulative window runs on the aggregate, post-shuffle"


def test_rolling_anomaly_one_stream_shuffle_no_python(spark, registry):
    plan = plan_text(registry["events_rolling_anomaly"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, \
        "all three window aggregates share one user_id shuffle"
    assert "EvalPython" not in plan, \
        "z-scoring must stay JVM-side (whole-stage codegen)"


def test_inter_arrival_two_shuffles_exact_micros(spark, registry):
    plan = plan_text(registry["events_inter_arrival"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "unix_micros" in plan, \
        "deltas must subtract integer microseconds, not float seconds"


def test_window_ewma_one_shuffle_no_python(spark, registry):
    plan = plan_text(registry["window_ewma"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, \
        "frame collection and head-row pick share one user_id shuffle"
    assert "EvalPython" not in plan, \
        "the weighted reduction must run as JVM higher-order functions"


def test_agg_decimal_exact_partial_aggregation(spark, registry):
    plan = plan_text(registry["agg_decimal_exact"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, \
        "decimal sums must partial-aggregate map-side like any sum"
    assert "sum_price" in plan


def test_mom_growth_broadcast_dim_single_fact_shuffle(spark, registry):
    plan = plan_text(registry["mom_growth"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, "customer dim must broadcast"
    assert "SortMergeJoin" not in plan
    # one fact shuffle (monthly agg); the lag window runs on the aggregate
    assert plan.count("Exchange hashpartitioning") <= 2


def test_rolling_median_single_user_shuffle(spark, registry):
    plan = plan_text(registry["window_rolling_median"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, \
        "frame median and head-row pick share one user_id shuffle"


def test_rolling_wau_explode_not_range_join(spark, registry):
    plan = plan_text(registry["rolling_wau"].fn(spark, SF_DIR))
    assert "Generate explode" in plan, \
        "WAU must explode bounded 7-day contributions, not range-join"
    # the only nested-loop join allowed is the 1-row max_day clip
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_attribution_single_window_no_self_join(spark, registry):
    plan = plan_text(registry["attribution_last_touch"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, \
        "carry-forward click runs in one user_id window shuffle"
    assert "Join" not in plan, "no purchase x click self-join"


def test_group_mad_outliers_broadcasts_stats(spark, registry):
    plan = plan_text(registry["group_mad_outliers"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, \
        "per-group median/MAD must broadcast back onto the fact rows"
    assert "SortMergeJoin" not in plan, \
        "group-stat joins must never shuffle the fact side"
