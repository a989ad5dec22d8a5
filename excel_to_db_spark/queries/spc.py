"""Statistical process control pack (round 6, batch 90). The reference
engine (294 LoC of Rust delegating to SQLite, reference src/main.rs)
has no SPC surface; three Tier-C mission operators — the classic
Shewhart-chart toolkit a data-quality team runs over a landing table,
stated in the repo's exact-integer contract (micro/milli fixed point,
one correctly-rounded sqrt per limit, `div`/`//` truncation on
non-negative operands only):

- spc_p_chart: the attribute p-chart — daily defective share
  (returnflag = 'R') against 3-sigma binomial limits around the
  pooled p-bar, per-day out-of-control flags.
- spc_xbar_r_chart: the variables X-bar/R chart — fixed n=5 daily
  subgroups (first five lineitems, pinned order), center lines and
  A2/D3/D4 constant limits, out-of-control day counts.
- spc_we_runs: the Western Electric run rule (9-in-a-row same side
  of center) plus longest same-side streaks, over the X-bar series —
  the drift detector the sigma limits can't see.

Scale shapes: everything collapses to the bounded ship-day calendar
(2,405 rows at ANY scale factor — orders span ~6.5 years); the only
fact-table passes are one groupBy(day) and one per-day top-5 window
(partitioned by day, so no single-task cliff); grand totals broadcast
as 1-row joins."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T

# Shewhart constants for subgroup size n = 5, milli fixed-point
# (Montgomery, Introduction to Statistical Quality Control, table VI):
# A2 = 0.577, D3 = 0, D4 = 2.114.
_A2_MILLI = 577
_D4_MILLI = 2114

# Shared X-bar/R daily-subgroup CTE: per ship-day, the first 5
# lineitems by (l_orderkey, l_linenumber); days with fewer drop on
# BOTH engines via the count(*) = 5 filter. xbar is exact milli
# (sum * 1000 div 5 = sum * 200); R is an exact integer range.
_XBAR_SQL = """
    sub AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(l_quantity AS BIGINT) AS q
        FROM lineitem
        QUALIFY row_number() OVER (PARTITION BY CAST(l_shipdate AS DATE)
                                   ORDER BY l_orderkey, l_linenumber) <= 5
    ),
    xbar AS MATERIALIZED (
        SELECT day,
               CAST(sum(q) * 200 AS BIGINT) AS xbar_milli,
               CAST(max(q) - min(q) AS BIGINT) AS r
        FROM sub GROUP BY day HAVING count(*) = 5
    ),
    grand AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(xbar_milli) // count(*) AS BIGINT) AS xbb_milli,
               CAST(sum(r) * 1000 // count(*) AS BIGINT) AS rbar_milli
        FROM xbar
    )
"""


def _xbar_series(spark, sf_dir):
    """(day, xbar_milli, r) + broadcast (n_days, xbb_milli,
    rbar_milli): the daily n=5 subgroup series both variables charts
    read. The top-5 window partitions by day (parallel); the grand
    row is a 1-row broadcast."""
    li = (T(spark, sf_dir, "lineitem")
          .select(F.col("l_shipdate").cast("date").alias("day"),
                  F.col("l_quantity").cast("bigint").alias("q"),
                  "l_orderkey", "l_linenumber"))
    w = Window.partitionBy("day").orderBy("l_orderkey", "l_linenumber")
    sub = (li.withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") <= 5))
    xbar = (sub.groupBy("day")
            .agg((F.sum("q") * 200).alias("xbar_milli"),
                 (F.max("q") - F.min("q")).alias("r"),
                 F.count("*").alias("m"))
            .where(F.col("m") == 5)
            .drop("m"))
    grand = xbar.agg(
        F.count("*").alias("n_days"),
        F.expr("sum(xbar_milli) div count(*)").alias("xbb_milli"),
        F.expr("sum(r) * 1000 div count(*)").alias("rbar_milli"))
    return xbar, grand


_P_CHART_ORACLE = """
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(count(*) FILTER (WHERE l_returnflag = 'R')
                    AS BIGINT) AS n_defect
        FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_defect) * 1000000 // sum(n_items) AS BIGINT)
               AS pbar_micro
        FROM daily
    )
    SELECT d.day, d.n_items, d.n_defect,
           CAST(d.n_defect * 1000000 // d.n_items AS BIGINT) AS p_micro,
           CAST(t.pbar_micro + CAST(round(3 * sqrt(
                CAST(t.pbar_micro * (1000000 - t.pbar_micro) AS DOUBLE)
                / d.n_items)) AS BIGINT) AS BIGINT) AS ucl_micro,
           CAST(greatest(t.pbar_micro - CAST(round(3 * sqrt(
                CAST(t.pbar_micro * (1000000 - t.pbar_micro) AS DOUBLE)
                / d.n_items)) AS BIGINT), 0) AS BIGINT) AS lcl_micro,
           CAST(CASE WHEN d.n_defect * 1000000 // d.n_items
                          > t.pbar_micro + CAST(round(3 * sqrt(
                            CAST(t.pbar_micro * (1000000 - t.pbar_micro)
                                 AS DOUBLE) / d.n_items)) AS BIGINT)
                       OR d.n_defect * 1000000 // d.n_items
                          < greatest(t.pbar_micro - CAST(round(3 * sqrt(
                            CAST(t.pbar_micro * (1000000 - t.pbar_micro)
                                 AS DOUBLE) / d.n_items)) AS BIGINT), 0)
                     THEN 1 ELSE 0 END AS BIGINT) AS ooc
    FROM daily d CROSS JOIN tot t
"""


@query("spc_p_chart", oracle=_P_CHART_ORACLE)
def spc_p_chart(spark, sf_dir):
    """Attribute p-chart: per ship-day defective share (returnflag =
    'R') in exact micro units against 3-sigma binomial limits around
    the pooled p-bar — UCL/LCL vary per day with that day's n. The
    only float ops are ONE double division of exact integers and ONE
    correctly-rounded sqrt per limit (then round — identical IEEE on
    both engines); everything else is int64. Scale shape: one fact
    groupBy(day) to the bounded 2,405-row calendar, totals as a 1-row
    broadcast."""
    return p_chart_report(p_chart_daily(T(spark, sf_dir, "lineitem")))


def p_chart_daily(lineitem):
    """Per-day (n_items, n_defect) census — the streamable stage: a
    plain groupBy(day) that Structured Streaming maintains
    incrementally in complete mode (state bounded by the 2,405-day
    calendar). `stream_spc_monitor` replays lineitem through exactly
    this aggregation."""
    return (lineitem
            .groupBy(F.col("l_shipdate").cast("date").alias("day"))
            .agg(F.count("*").alias("n_items"),
                 F.count(F.when(F.col("l_returnflag") == "R", 1))
                 .alias("n_defect")))


def p_chart_report(daily):
    """Limits + flags over a (day, n_items, n_defect) census — the
    batch-side stage both the batch key and the streaming twin's
    final emission run. The census feeds TWO consumers (the p-bar
    total and the per-day panel); a lineage cut pins the 2,405-row
    table so the fact scan behind it runs ONCE, not once per branch
    (the r5 plan-growth rule — without it the plan showed lineitem
    scanned twice)."""
    daily = daily.transform(physical.cut)
    tot = daily.agg(
        F.expr("sum(n_defect) * 1000000 div sum(n_items)")
        .alias("pbar_micro"))
    sigma3 = F.round(
        3 * F.sqrt((F.col("pbar_micro")
                    * (F.lit(1000000) - F.col("pbar_micro")))
                   .cast("double") / F.col("n_items"))).cast("bigint")
    out = (daily.crossJoin(F.broadcast(tot))
           .withColumn("p_micro",
                       F.expr("n_defect * 1000000 div n_items"))
           .withColumn("ucl_micro", F.col("pbar_micro") + sigma3)
           .withColumn("lcl_micro",
                       F.greatest(F.col("pbar_micro") - sigma3,
                                  F.lit(0).cast("bigint"))))
    return out.select(
        "day", "n_items", "n_defect", "p_micro", "ucl_micro",
        "lcl_micro",
        F.when((F.col("p_micro") > F.col("ucl_micro"))
               | (F.col("p_micro") < F.col("lcl_micro")), 1)
        .otherwise(0).cast("bigint").alias("ooc"))


@query("spc_xbar_r_chart", oracle=f"""
    WITH {_XBAR_SQL}
    SELECT g.n_days, g.xbb_milli, g.rbar_milli,
           CAST(g.xbb_milli + {_A2_MILLI} * g.rbar_milli // 1000
                AS BIGINT) AS ucl_x_milli,
           CAST(g.xbb_milli - {_A2_MILLI} * g.rbar_milli // 1000
                AS BIGINT) AS lcl_x_milli,
           CAST({_D4_MILLI} * g.rbar_milli // 1000 AS BIGINT)
               AS ucl_r_milli,
           CAST(count(*) FILTER (WHERE
                x.xbar_milli > g.xbb_milli
                                 + {_A2_MILLI} * g.rbar_milli // 1000
                OR x.xbar_milli < g.xbb_milli
                                  - {_A2_MILLI} * g.rbar_milli // 1000)
                AS BIGINT) AS n_ooc_x,
           CAST(count(*) FILTER (WHERE
                x.r * 1000 > {_D4_MILLI} * g.rbar_milli // 1000)
                AS BIGINT) AS n_ooc_r
    FROM xbar x CROSS JOIN grand g
    GROUP BY 1, 2, 3, 4, 5, 6
""")
def spc_xbar_r_chart(spark, sf_dir):
    """Variables X-bar/R chart: fixed n=5 daily subgroups (first five
    lineitems by (orderkey, linenumber) — pinned, so both engines
    pick the same five), quantity means in exact milli (sum*200) and
    integer ranges; control limits from the classic A2/D3/D4
    constants as milli literals (zero runtime libm); the report
    counts out-of-control days on both charts. All arithmetic is
    int64 with non-negative `div` operands (the A2*rbar term divides
    BEFORE the subtraction). Scale shape: per-day top-5 window
    (partitioned by day), bounded calendar aggregate, 1-row grand
    broadcast."""
    xbar, grand = _xbar_series(spark, sf_dir)
    j = xbar.crossJoin(F.broadcast(grand))
    ucl_x = F.col("xbb_milli") + F.expr(
        f"{_A2_MILLI} * rbar_milli div 1000")
    lcl_x = F.col("xbb_milli") - F.expr(
        f"{_A2_MILLI} * rbar_milli div 1000")
    ucl_r = F.expr(f"{_D4_MILLI} * rbar_milli div 1000")
    return (j.groupBy("n_days", "xbb_milli", "rbar_milli",
                      ucl_x.alias("ucl_x_milli"),
                      lcl_x.alias("lcl_x_milli"),
                      ucl_r.alias("ucl_r_milli"))
            .agg(F.count(F.when((F.col("xbar_milli") > ucl_x)
                                | (F.col("xbar_milli") < lcl_x), 1))
                 .alias("n_ooc_x"),
                 F.count(F.when(F.col("r") * 1000 > ucl_r, 1))
                 .alias("n_ooc_r")))


@query("spc_we_runs", oracle=f"""
    WITH {_XBAR_SQL},
    sided AS (
        SELECT x.day,
               CASE WHEN x.xbar_milli > g.xbb_milli THEN 1
                    WHEN x.xbar_milli < g.xbb_milli THEN -1
                    ELSE 0 END AS side,
               row_number() OVER (ORDER BY x.day) AS rn
        FROM xbar x CROSS JOIN grand g
    ),
    runs AS (
        SELECT side, count(*) AS run_len
        FROM (SELECT side, rn,
                     rn - row_number() OVER (PARTITION BY side
                                             ORDER BY rn) AS grp
              FROM sided)
        GROUP BY side, grp
    ),
    win9 AS (
        SELECT count(*) FILTER (WHERE n_above = 9) AS v_above,
               count(*) FILTER (WHERE n_below = 9) AS v_below
        FROM (SELECT sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                       OVER w AS n_above,
                     sum(CASE WHEN side = -1 THEN 1 ELSE 0 END)
                       OVER w AS n_below
              FROM sided
              WINDOW w AS (ORDER BY rn
                           ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
    )
    SELECT CAST((SELECT count(*) FROM sided) AS BIGINT) AS n_days,
           CAST(w.v_above AS BIGINT) AS n_run9_above,
           CAST(w.v_below AS BIGINT) AS n_run9_below,
           CAST((SELECT coalesce(max(run_len) FILTER (WHERE side = 1),
                                 0) FROM runs) AS BIGINT)
               AS max_run_above,
           CAST((SELECT coalesce(max(run_len) FILTER (WHERE side = -1),
                                 0) FROM runs) AS BIGINT)
               AS max_run_below
    FROM win9 w
""")
def spc_we_runs(spark, sf_dir):
    """Western Electric run rule over the X-bar series: count the
    days completing 9-in-a-row on one side of the center line (the
    drift signal sigma limits can't see), plus the longest same-side
    streaks via the gaps-and-islands rank difference (rn minus
    per-side row_number — consecutive same-side days share a group).
    Exact integer comparisons against the milli center; ties sit on
    neither side on both engines. The ordered windows run over the
    bounded 2,405-day calendar only."""
    xbar, grand = _xbar_series(spark, sf_dir)
    sided = (xbar.crossJoin(F.broadcast(grand))
             .select("day",
                     F.when(F.col("xbar_milli") > F.col("xbb_milli"), 1)
                     .when(F.col("xbar_milli") < F.col("xbb_milli"), -1)
                     .otherwise(0).alias("side"))
             .withColumn("rn", F.row_number()
                         .over(Window.orderBy("day"))))
    w9 = Window.orderBy("rn").rowsBetween(-8, 0)
    win9 = (sided
            .select(F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
                    .over(w9).alias("n_above"),
                    F.sum(F.when(F.col("side") == -1, 1).otherwise(0))
                    .over(w9).alias("n_below"))
            .agg(F.count(F.when(F.col("n_above") == 9, 1))
                 .alias("n_run9_above"),
                 F.count(F.when(F.col("n_below") == 9, 1))
                 .alias("n_run9_below")))
    wside = Window.partitionBy("side").orderBy("rn")
    runs = (sided
            .withColumn("grp", F.col("rn")
                        - F.row_number().over(wside))
            .groupBy("side", "grp")
            .agg(F.count("*").alias("run_len")))
    streaks = runs.agg(
        F.coalesce(F.max(F.when(F.col("side") == 1,
                                F.col("run_len"))), F.lit(0))
        .cast("bigint").alias("max_run_above"),
        F.coalesce(F.max(F.when(F.col("side") == -1,
                                F.col("run_len"))), F.lit(0))
        .cast("bigint").alias("max_run_below"))
    n_days = sided.agg(F.count("*").alias("n_days"))
    return (n_days.crossJoin(F.broadcast(win9))
            .crossJoin(F.broadcast(streaks))
            .select("n_days", "n_run9_above", "n_run9_below",
                    "max_run_above", "max_run_below"))
