"""Round-4 analytics-batch plan guards: the two-phase distributed
skyline actually prunes locally before the global window, CUPED's
theta state broadcasts (never shuffles the per-unit table twice), the
rolling correlation computes all six moments in ONE window pass, and
the sparse-cosine similarity join is inverted-index-keyed (no
cartesian anywhere)."""

from __future__ import annotations

from excel_to_db_spark.queries.events_graph import attribution_position
from excel_to_db_spark.queries.pipeline import text_sparse_cosine
from excel_to_db_spark.queries.relational3 import skyline_pareto_front
from excel_to_db_spark.queries.stats_tests import (
    stats_cuped,
    window_rolling_corr,
)

from conftest import plan_text


def test_skyline_two_phase_window(spark, sf_dir):
    """Two Window nodes: the hash-partitioned local prune, then the
    global pass over the survivors. The global single-partition sort is
    fed by the pruned set, never by the raw scan."""
    plan = plan_text(skyline_pareto_front(spark, sf_dir))
    assert plan.count("Window") >= 2
    assert "CartesianProduct" not in plan


def test_skyline_matches_naive_antijoin(spark, sf_dir):
    """The window formulation must equal the O(n^2) dominance
    definition (exists q: q.price <= p.price, q.size >= p.size, one
    strict)."""
    from pyspark.sql import functions as F

    pts = (spark.read.parquet(f"{sf_dir}/part.parquet")
           .select(F.round(F.col("p_retailprice") * 100).cast("bigint")
                   .alias("cents"), F.col("p_size").alias("size"))
           .distinct())
    a, b = pts.alias("a"), pts.alias("b")
    dominated = a.join(
        b,
        (F.col("b.cents") <= F.col("a.cents"))
        & (F.col("b.size") >= F.col("a.size"))
        & ((F.col("b.cents") < F.col("a.cents"))
           | (F.col("b.size") > F.col("a.size"))),
        "semi")
    naive = {(round(r.cents / 100.0, 2), r.size)
             for r in pts.exceptAll(dominated).collect()}
    sky = {(r.price, r.size)
           for r in skyline_pareto_front(spark, sf_dir).collect()}
    assert sky == naive and sky


def test_cuped_broadcasts_theta_state(spark, sf_dir):
    """The 1-row moment aggregate must reach the variant rows via a
    broadcast, and the per-customer table is built by a single
    custkey-keyed aggregation."""
    plan = plan_text(stats_cuped(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_rolling_corr_single_window_pass(spark, sf_dir):
    """All six moment sums must come from one Window node over the
    daily table — adding moments widens the state, it must not add
    passes."""
    plan = plan_text(window_rolling_corr(spark, sf_dir))
    assert plan.count("Window") == 1


def test_sparse_cosine_no_cartesian(spark, sf_dir):
    """The pair generation must be an equi-join on the gram key
    (inverted index), never a cartesian/BNLJ over documents."""
    plan = plan_text(text_sparse_cosine(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_position_weights_sum_to_journeys(spark, sf_dir):
    """Per-journey credits must sum to ~1.0 (exactly 1.0 in
    micro-credit space up to the documented 0.2/(k-2) rounding), so
    total credit across channels equals the converted-journey count to
    within micro-rounding."""
    from pyspark.sql import functions as F

    res = attribution_position(spark, sf_dir)
    total_credit = res.agg(F.sum("credit")).collect()[0][0]
    e = (spark.read.parquet(f"{sf_dir}/events.parquet")
         .filter(F.col("event_type").isin("view", "click", "purchase")))
    from pyspark.sql.window import Window as W
    wp = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, -1))
    e = e.withColumn(
        "journey",
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1))
                   .over(wp), F.lit(0)))
    n_converted = (e.filter(F.col("event_type") != "purchase")
                   .join(e.filter(F.col("event_type") == "purchase")
                         .select("user_id", "journey").distinct(),
                         ["user_id", "journey"], "semi")
                   .select("user_id", "journey").distinct().count())
    assert abs(total_credit - n_converted) < 0.01 * max(n_converted, 1)


def test_pps_sampler_matches_naive_global_window(spark, sf_dir):
    """The bucketed two-phase prefix sum must produce exactly the same
    selections as the naive single-partition running sum."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from excel_to_db_spark.queries.pipeline import sample_pps_systematic

    t = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_orderkey",
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents")))
    w = W.orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, 0)
    total = t.agg(F.sum("cents").alias("tot"))
    naive = (t.withColumn("cum", F.sum("cents").over(w))
             .crossJoin(F.broadcast(total))
             .withColumn("step", F.expr("tot DIV 100"))
             .filter(F.expr("(cum - cents) DIV step < cum DIV step")))
    expect = {r.o_orderkey for r in naive.collect()}
    got = {r.o_orderkey
           for r in sample_pps_systematic(spark, sf_dir).collect()}
    assert got == expect and got
