"""Temporal-warehouse pack (Tier B/C extensions).

Incremental re-aggregation, slowly-changing-dimension (type 2)
point-in-time joins, and cumulative distinct counting — temporal
patterns every production warehouse runs; the reference reaches the
same semantics through its SQL passthrough (src/main.rs:220).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import query
from .relational import T
from ..numerics import cents_sum, cents_sum_sql, units_sum, units_sum_sql


# ------------------------------------------------- re-aggregation

@query("agg_reaggregation", oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               count(*) AS n,
               {units_sum_sql('o_totalprice', 100)} AS s
        FROM orders GROUP BY 1
    )
    SELECT CAST(date_trunc('month', day) AS DATE) AS month,
           CAST(sum(n) AS BIGINT) AS n_orders,
           round(sum(s) / 100.0, 2) AS revenue,
           round(sum(s) / 100.0 / sum(n) * 10000) / 10000.0 AS avg_price
    FROM daily GROUP BY 1
""")
def agg_reaggregation(spark, sf_dir):
    """Incremental re-aggregation: monthly metrics derived from the
    DAILY pre-aggregate's partial states (sum, count) instead of the
    fact — the materialized-view maintenance pattern. The average
    recomposes as sum(s)/sum(n); averaging the daily averages would be
    wrong, which is why partial states, not finished metrics, are what
    a rollup pipeline stores.

    At 100 TB the fact is read once into |days| rows; every coarser
    granularity re-aggregates the tiny daily table. Unrounded partial
    sums flow between levels (rounding happens only at the report
    edge) so the recomposed metrics equal a direct fact aggregation."""
    o = T(spark, sf_dir, "orders")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(F.count("*").alias("n"),
                  units_sum(F.col("o_totalprice"), 100).alias("s")))
    return (daily.groupBy(F.to_date(F.date_trunc("month", "day"))
                          .alias("month"))
            .agg(F.sum("n").cast("bigint").alias("n_orders"),
                 F.round(F.sum("s") / 100.0, 2).alias("revenue"),
                 (F.round(F.sum("s") / 100.0 / F.sum("n") * 10000)
                  / F.lit(10000.0)).alias("avg_price")))


# ----------------------------------------------------- SCD2 join

@query("join_scd2", oracle=f"""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment,
               round(c_acctbal, 2) AS acctbal,
               TIMESTAMP '1900-01-01' AS valid_from,
               TIMESTAMP '1995-07-01' AS valid_to, 1 AS ver
        FROM customer
        UNION ALL
        SELECT c_custkey, c_mktsegment,
               round(c_acctbal + 50.0, 2),
               TIMESTAMP '1995-07-01',
               TIMESTAMP '9999-01-01', 2
        FROM customer
    )
    SELECT c_mktsegment AS segment,
           CAST(ver AS INTEGER) AS ver,
           count(*) AS n_orders,
           {cents_sum_sql('acctbal')} AS sum_balance_at_order
    FROM orders
    JOIN dim ON o_custkey = c_custkey
            AND o_orderdate >= valid_from AND o_orderdate < valid_to
    GROUP BY 1, 2
""")
def join_scd2(spark, sf_dir):
    """Type-2 slowly-changing-dimension join: each order joins the
    dimension VERSION that was valid at order time (version 2 raises
    every balance by 50 as of 1995-07-01), so history reports with
    as-was attributes, not as-is.

    The join stays a hash equi-join on the key — the validity range is
    a residual filter after the key match, cheap because versions per
    key are few (here 2). The versioned dim is still dim-sized, so it
    broadcasts; the fact never shuffles. This is the standard SCD2
    plan at any scale."""
    from ..operators.temporal import scd2_customer_versions

    dim = scd2_customer_versions(T(spark, sf_dir, "customer"),
                                 F.lit("1995-07-01").cast("timestamp"))
    o = T(spark, sf_dir, "orders")
    return (o.join(F.broadcast(dim),
                   (o.o_custkey == dim.c_custkey)
                   & (o.o_orderdate >= dim.valid_from)
                   & (o.o_orderdate < dim.valid_to))
            .groupBy(F.col("c_mktsegment").alias("segment"),
                     F.col("ver").cast("int").alias("ver"))
            .agg(F.count("*").alias("n_orders"),
                 cents_sum(F.col("acctbal")).alias("sum_balance_at_order")))


# -------------------------------------------- cumulative distinct

@query("running_distinct_users", oracle="""
    WITH first_seen AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
    ),
    per_day AS (
        SELECT day, count(*) AS new_users FROM first_seen GROUP BY 1
    )
    SELECT day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM per_day
""")
def running_distinct_users(spark, sf_dir):
    """Cumulative distinct users by day — the growth-curve query. A
    running COUNT(DISTINCT) window doesn't exist in either engine (and
    would hold unbounded state); the scalable identity is: distinct
    cumulative-to-day == sum of first-seen counts, so dedup each user
    to their first day, count per day, prefix-sum the tiny daily
    series.

    Two shuffles on small keys (user_id for first-seen, day for the
    count); the window runs over |days| rows. State per user is one
    date — this is also exactly how the streaming version bounds
    memory."""
    e = T(spark, sf_dir, "events")
    first_seen = (e.groupBy("user_id")
                  .agg(F.min(F.to_date("ts")).alias("day")))
    per_day = first_seen.groupBy("day").agg(
        F.count("*").alias("new_users"))
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_day.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(wcum).cast("bigint")
         .alias("cumulative_users"))
