"""Warehouse analytics patterns pack (Tier B/C extensions).

Classic analytical shapes a user of the reference would run through its
SQL passthrough (reference src/main.rs:220) on a real warehouse: market
basket affinity, Markov transition matrices, time-series linear
interpolation, Pareto (80/20) concentration, and robust (MAD) outlier
detection. None need anything beyond declarative DataFrame ops, so every
plan property (broadcasts, partial aggregation, bounded windows) is
Catalyst-chosen and scale-invariant.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import query
from .relational import T
from ..numerics import cents_sum, cents_sum_sql


# ------------------------------------------------------- market basket

@query("basket_affinity", oracle="""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    bc AS (SELECT p_brand, count(*) AS n_b FROM ob GROUP BY 1),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               count(*) AS n_pair
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_pair,
           round(n_pair * 1.0 * n_orders / (ca.n_b * cb.n_b), 6) AS lift
    FROM pairs
    JOIN bc ca ON ca.p_brand = brand_a
    JOIN bc cb ON cb.p_brand = brand_b, n
    ORDER BY n_pair DESC, brand_a ASC, brand_b ASC
    LIMIT 15
""")
def basket_affinity(spark, sf_dir):
    """Market-basket affinity: brand pairs co-occurring in an order,
    ranked by support with lift (observed/expected co-occurrence).

    Scale shape: lineitem joins the tiny part dim broadcast-side, then
    shuffles ONCE on orderkey into per-order brand baskets
    (collect_set); pairs are generated locally per basket with array
    combinatorics — work bounded by basket size squared, no self-join,
    no second shuffle of the fact. Brand counts and the order total are
    broadcast back onto the ~|brands|^2 pair rows."""
    le = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (le.join(F.broadcast(p), le.l_partkey == p.p_partkey)
            .select("l_orderkey", "p_brand"))
    baskets = (ob.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("p_brand")).alias("brands")))
    bc = (baskets.select(F.explode("brands").alias("p_brand"))
          .groupBy("p_brand").agg(F.count("*").alias("n_b")))
    # count baskets (== distinct orderkeys) off the same subtree as the
    # other two branches, so AQE collapses all three into one
    # ReusedExchange of the orderkey shuffle at runtime.
    n = baskets.agg(F.count("*").alias("n_orders"))
    combos = F.flatten(F.transform(
        "brands",
        lambda x, i: F.transform(
            F.slice("brands", i + F.lit(2), F.size("brands") - i - 1),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    pairs = (baskets.select(F.explode(combos).alias("pair"))
             .groupBy(F.col("pair.a").alias("brand_a"),
                      F.col("pair.b").alias("brand_b"))
             .agg(F.count("*").alias("n_pair")))
    ca = bc.select(F.col("p_brand").alias("brand_a"), F.col("n_b").alias("n_a"))
    cb = bc.select(F.col("p_brand").alias("brand_b"), F.col("n_b").alias("n_bb"))
    return (pairs.join(F.broadcast(ca), "brand_a")
            .join(F.broadcast(cb), "brand_b")
            .crossJoin(F.broadcast(n))
            .select("brand_a", "brand_b", "n_pair",
                    F.round(F.col("n_pair") * F.lit(1.0) * F.col("n_orders")
                            / (F.col("n_a") * F.col("n_bb")), 6).alias("lift"))
            .orderBy(F.col("n_pair").desc(), F.col("brand_a").asc(),
                     F.col("brand_b").asc())
            .limit(15))


# --------------------------------------------------- transition matrix

@query("events_markov", oracle="""
    WITH seq AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
    )
    SELECT src, dst, count(*) AS n,
           round(count(*) * 1.0 /
                 sum(count(*)) OVER (PARTITION BY src), 6) AS prob
    FROM seq WHERE dst IS NOT NULL
    GROUP BY src, dst
""")
def events_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    P(next event type | current event type).

    lead() runs inside a per-user window (one shuffle on user_id, the
    natural stream partitioning), pair counting is a partial-aggregated
    groupBy on ~|types|^2 keys, and the row-normalization window runs on
    that tiny aggregate — per-row work never leaves the user partition.
    Ordering is pinned (ts, event_id) so ties are deterministic."""
    e = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(F.col("event_type").alias("src"),
                   F.lead("event_type").over(w).alias("dst"))
    counts = (seq.filter(F.col("dst").isNotNull())
              .groupBy("src", "dst").agg(F.count("*").alias("n")))
    wsrc = W.partitionBy("src")
    return counts.select(
        "src", "dst", "n",
        F.round(F.col("n") * F.lit(1.0) / F.sum("n").over(wsrc), 6)
         .alias("prob"))


# ----------------------------------------------- linear interpolation

@query("ts_interpolate", oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {cents_sum_sql('o_totalprice')} AS rev
        FROM orders WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM (SELECT min(day) AS lo, max(day) AS hi FROM daily)
    ),
    j AS (SELECT s.day, rev FROM spine s LEFT JOIN daily USING (day)),
    f AS (
        SELECT day, rev,
               last_value(rev IGNORE NULLS) OVER wb AS prev_v,
               last_value(CASE WHEN rev IS NOT NULL THEN day END
                          IGNORE NULLS) OVER wb AS prev_d,
               first_value(rev IGNORE NULLS) OVER wf AS next_v,
               first_value(CASE WHEN rev IS NOT NULL THEN day END
                           IGNORE NULLS) OVER wf AS next_d
        FROM j
        WINDOW wb AS (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT day,
           CASE WHEN rev IS NOT NULL THEN rev
                ELSE round((prev_v + (next_v - prev_v)
                            * (day - prev_d) / (next_d - prev_d))
                           * 10000) / 10000.0 END AS revenue,
           rev IS NULL AS interpolated
    FROM f
""")
def ts_interpolate(spark, sf_dir):
    """Linear interpolation of gaps in a daily revenue series: densify
    with a calendar spine, then lerp missing days between the last
    observation before and the first after.

    The fact aggregation carries the pushed-down priority filter; the
    spine is generated (no scan). The fill windows are global here
    because a calendar series is bounded by its span (~2.4k rows at any
    SF) — for many series you'd add the series key to partitionBy and
    the same plan runs per-key in parallel. Observed values are snapped
    to cents first so both engines lerp identical inputs."""
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(cents_sum(F.col("o_totalprice")).alias("rev")))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    j = spine.join(daily, "day", "left")
    wb = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = W.orderBy("day").rowsBetween(W.currentRow, W.unboundedFollowing)
    obs_day = F.when(F.col("rev").isNotNull(), F.col("day"))
    f = j.select(
        "day", "rev",
        F.last("rev", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("rev", ignorenulls=True).over(wf).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("next_d"))
    lerp = (F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * F.datediff("day", "prev_d") / F.datediff("next_d", "prev_d"))
    # round(x*1e4)/1e4 (not round(x, 4)): both engines then integer-round
    # the identical double, immune to decimal-midpoint disagreements.
    lerp4 = F.round(lerp * 10000) / F.lit(10000.0)
    return f.select(
        "day",
        F.when(F.col("rev").isNotNull(), F.col("rev"))
         .otherwise(lerp4).alias("revenue"),
        F.col("rev").isNull().alias("interpolated"))


# -------------------------------------------------------- pareto share

@query("pareto_share", oracle=f"""
    WITH sup AS (
        SELECT l_suppkey AS s_suppkey,
               {cents_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem GROUP BY 1
    )
    SELECT s_suppkey, revenue,
           round(sum(revenue) OVER (ORDER BY revenue DESC, s_suppkey ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
                 / sum(revenue) OVER (), 4) AS cum_share,
           CASE WHEN sum(revenue) OVER (ORDER BY revenue DESC, s_suppkey ASC
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW)
                     / sum(revenue) OVER () <= 0.8
                THEN 'head' ELSE 'tail' END AS tier
    FROM sup
""")
def pareto_share(spark, sf_dir):
    """Pareto (80/20) revenue concentration: suppliers ranked by revenue
    with running cumulative share; 'head' = suppliers covering the first
    80% of revenue.

    The heavy part is the per-supplier aggregation (map-side partial,
    shuffle carries |suppliers| keys); the cumulative window then runs
    on the aggregate, whose cardinality is the supplier count — small at
    any fact-table SF, so the single-partition running sum is safe by
    construction. Revenues are snapped to cents pre-window so both
    engines accumulate identical sequences."""
    le = T(spark, sf_dir, "lineitem")
    sup = (le.groupBy(F.col("l_suppkey").alias("s_suppkey"))
           .agg(cents_sum(le.l_extendedprice * (1 - le.l_discount))
                .alias("revenue")))
    wcum = (W.orderBy(F.col("revenue").desc(), F.col("s_suppkey").asc())
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy()
    share = F.sum("revenue").over(wcum) / F.sum("revenue").over(wall)
    return sup.select(
        "s_suppkey", "revenue",
        F.round(share, 4).alias("cum_share"),
        F.when(share <= 0.8, "head").otherwise("tail").alias("tier"))


# ------------------------------------------------- robust MAD outliers

@query("group_mad_outliers", oracle="""
    WITH med AS (
        SELECT c_nationkey, quantile_cont(c_acctbal, 0.5) AS med
        FROM customer GROUP BY 1
    ),
    dev AS (
        SELECT c.c_nationkey, med, abs(c_acctbal - med) AS dev
        FROM customer c JOIN med USING (c_nationkey)
    ),
    mad AS (
        SELECT c_nationkey, quantile_cont(dev, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.c_nationkey,
           round(max(d.med), 4) AS med,
           round(max(m.mad), 4) AS mad,
           CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (c_nationkey)
    GROUP BY d.c_nationkey
""")
def group_mad_outliers(spark, sf_dir):
    """Robust per-group outlier detection via median absolute deviation:
    per-nation median balance, MAD, and the count of customers more than
    3 MADs from the median.

    Two exact-percentile aggregations (each a single shuffle on the
    group key) with the tiny per-group stats broadcast back onto the
    fact rows — the medians never leave the JVM and the fact table is
    scanned twice, not sorted globally. Exact percentile interpolation
    matches DuckDB's quantile_cont (verified round 2)."""
    c = T(spark, sf_dir, "customer")
    med = (c.groupBy("c_nationkey")
           .agg(F.percentile("c_acctbal", 0.5).alias("med")))
    dev = (c.join(F.broadcast(med), "c_nationkey")
           .select("c_nationkey", "med",
                   F.abs(F.col("c_acctbal") - F.col("med")).alias("dev")))
    mad = (dev.groupBy("c_nationkey")
           .agg(F.percentile("dev", 0.5).alias("mad")))
    return (dev.join(F.broadcast(mad), "c_nationkey")
            .groupBy("c_nationkey")
            .agg(F.round(F.max("med"), 4).alias("med"),
                 F.round(F.max("mad"), 4).alias("mad"),
                 F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1)
                       .otherwise(0)).alias("n_outliers")))
