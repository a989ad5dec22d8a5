"""Customer-dynamics pack (round 6, batch 91). The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has no
behavioral-analytics surface; three Tier-C mission operators — the
lifecycle questions every warehouse team asks of an orders table,
stated exactly (integer cents, exact ranks, pinned tie orders):

- customer_segment_migration: value-tercile membership in the first
  vs second half of the history (exact rank cutoffs per period,
  absent = its own state) — the 4x4 migration matrix retention
  planning starts from.
- customer_order_streaks: consecutive-active-month streaks per
  customer via the gaps-and-islands rank difference — the habit
  metric behind "months active in a row".
- customer_interpurchase_hist: the inter-purchase gap distribution
  (exact day gaps, 30-day bins, micro shares) — the replenishment
  clock that sets win-back timing.

Scale shapes: per-customer collapses dominate (one shuffle each);
ranks run per-period/per-customer (partitioned windows, no global
single-task window); censuses are bounded (16 matrix cells, <=79
streak lengths, ~80 gap bins). Orders span 1995-01-01..2001-08-01
(TESTDATA.md) at every SF — the split date and month base are pinned
literals."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql

_SPLIT = "1998-05-01"     # pinned half-way month boundary

_SPEND_SQL = f"""
    spend AS (
        SELECT o_custkey AS ck,
               CASE WHEN o_orderdate < TIMESTAMP '{_SPLIT}'
                    THEN 0 ELSE 1 END AS period,
               {units_sum_sql('o_totalprice', 100)} AS cents
        FROM orders GROUP BY 1, 2
    ),
    seg AS (
        SELECT ck, period,
               (row_number() OVER (PARTITION BY period
                                   ORDER BY cents DESC, ck) - 1) * 3
               // count(*) OVER (PARTITION BY period) AS seg
        FROM spend
    )
"""


@query("customer_segment_migration", oracle=f"""
    WITH {_SPEND_SQL},
    matrix AS (
        SELECT coalesce(a.seg, 3) AS from_seg,
               coalesce(b.seg, 3) AS to_seg,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM (SELECT ck, seg FROM seg WHERE period = 0) a
        FULL JOIN (SELECT ck, seg FROM seg WHERE period = 1) b
          USING (ck)
        GROUP BY 1, 2
    )
    SELECT CAST(from_seg AS BIGINT) AS from_seg,
           CAST(to_seg AS BIGINT) AS to_seg, n_customers,
           CAST(n_customers * 1000000
                // sum(n_customers) OVER () AS BIGINT) AS share_micro
    FROM matrix
""")
def customer_segment_migration(spark, sf_dir):
    """Value-tercile migration matrix: customers ranked by exact
    integer cents spend within each half of the history (tercile =
    (rank-1)*3 div n, ties pinned by custkey), absent halves coded
    segment 3; the 4x4 matrix with micro shares. Rank windows
    partition by period (two partitions of customer-bounded size —
    at 100 TB swap in operators/ranking.distributed_rank per period);
    the matrix join is per-customer equi-join."""
    o = T(spark, sf_dir, "orders")
    spend = (o.groupBy(
        F.col("o_custkey").alias("ck"),
        F.when(F.col("o_orderdate") < F.lit(_SPLIT).cast("timestamp"),
               0).otherwise(1).alias("period"))
        .agg(units_sum(F.col("o_totalprice"), 100)
             .alias("cents")))
    w = Window.partitionBy("period").orderBy(F.col("cents").desc(),
                                             "ck")
    wp = Window.partitionBy("period")
    # the segment table feeds both sides of the full join below;
    # the cut pins it so the orders scan + rank run ONCE,
    # not once per period branch (r5 plan-growth rule — the
    # unpinned plan scanned orders twice).
    seg = spend.select(
        "ck", "period",
        ((F.row_number().over(w) - 1) * 3)
        .cast("bigint").alias("r3"),
        F.count("*").over(wp).alias("np")) \
        .select("ck", "period", F.expr("r3 div np").alias("seg")) \
        .transform(physical.cut)
    a = seg.where(F.col("period") == 0).select("ck", F.col("seg")
                                               .alias("sa"))
    b = seg.where(F.col("period") == 1).select("ck", F.col("seg")
                                               .alias("sb"))
    matrix = (a.join(b, "ck", "full")
              .groupBy(F.coalesce("sa", F.lit(3)).alias("from_seg"),
                       F.coalesce("sb", F.lit(3)).alias("to_seg"))
              .agg(F.count("*").alias("n_customers")))
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    return matrix.select(
        "from_seg", "to_seg", "n_customers",
        F.expr("n_customers * 1000000").alias("nm"),
        F.sum("n_customers").over(wall).alias("tot")) \
        .select("from_seg", "to_seg", "n_customers",
                F.expr("nm div tot").alias("share_micro"))


@query("customer_order_streaks", oracle="""
    WITH months AS (
        SELECT DISTINCT o_custkey AS ck,
               (year(o_orderdate) - 1995) * 12
               + month(o_orderdate) - 1 AS m
        FROM orders
    ),
    islands AS (
        SELECT ck,
               m - row_number() OVER (PARTITION BY ck ORDER BY m)
                 AS grp
        FROM months
    ),
    streaks AS (
        SELECT ck, CAST(count(*) AS BIGINT) AS streak_len
        FROM islands GROUP BY ck, grp
    )
    SELECT streak_len,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(count(DISTINCT ck) AS BIGINT) AS n_customers
    FROM streaks GROUP BY streak_len
""")
def customer_order_streaks(spark, sf_dir):
    """Consecutive-active-month streaks: distinct (customer, month
    index) pairs, islands by the classic m - row_number difference
    (consecutive months share a group), streak-length census with
    the distinct-customer reach of each length. All windows
    partition by customer — fully parallel; the census is bounded
    by the 79-month calendar."""
    o = T(spark, sf_dir, "orders")
    months = (o.select(
        F.col("o_custkey").alias("ck"),
        ((F.year("o_orderdate") - 1995) * 12
         + F.month("o_orderdate") - 1).alias("m"))
        .distinct())
    w = Window.partitionBy("ck").orderBy("m")
    streaks = (months
               .withColumn("grp", F.col("m") - F.row_number().over(w))
               .groupBy("ck", "grp")
               .agg(F.count("*").alias("streak_len")))
    return (streaks.groupBy("streak_len")
            .agg(F.count("*").alias("n_streaks"),
                 F.countDistinct("ck").alias("n_customers")))


@query("customer_interpurchase_hist", oracle="""
    WITH gaps AS (
        SELECT date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_d
        FROM orders
        QUALIFY gap_d IS NOT NULL
    )
    SELECT CAST(gap_d // 30 AS BIGINT) AS bin30,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_d) AS BIGINT) AS min_d,
           CAST(max(gap_d) AS BIGINT) AS max_d,
           CAST(count(*) * 1000000 // sum(count(*)) OVER ()
                AS BIGINT) AS share_micro
    FROM gaps GROUP BY 1
""")
def customer_interpurchase_hist(spark, sf_dir):
    """Inter-purchase gap histogram: per-customer consecutive order
    gaps in exact days (lag ordered by (date, orderkey) — ties
    pinned), folded into 30-day bins with min/max and micro shares.
    The lag window partitions by customer; the census is bounded by
    the ~80-bin calendar span, and the share denominator is a
    window over that bounded census only."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    gaps = (o.select(F.datediff(
        F.col("o_orderdate"),
        F.lag("o_orderdate").over(w)).alias("gap_d"))
        .where(F.col("gap_d").isNotNull()))
    hist = (gaps.groupBy(F.expr("gap_d div 30").cast("bigint")
                         .alias("bin30"))
            .agg(F.count("*").alias("n_gaps"),
                 F.min("gap_d").cast("bigint").alias("min_d"),
                 F.max("gap_d").cast("bigint").alias("max_d")))
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    return hist.select(
        "bin30", "n_gaps", "min_d", "max_d",
        F.expr("n_gaps * 1000000").alias("nm"),
        F.sum("n_gaps").over(wall).alias("tot")) \
        .select("bin30", "n_gaps", "min_d", "max_d",
                F.expr("nm div tot").alias("share_micro"))
