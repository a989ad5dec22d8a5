"""Actuarial pack (round 6, batch 77). The reference engine (294 LoC
of Rust delegating to SQLite, reference src/main.rs) has no actuarial
surface; four Tier-C mission operators — the loss-reserving and
pricing computations an insurance warehouse serves, on the
order-to-ship development triangle (origin = order month, development
age = months to ship, claims = exact integer cents):

- act_chain_ladder_factors: the volume-weighted link ratios
  f_d = sum C[*,d] / sum C[*,d-1] over origins observed at both ages
  (censored at the latest calendar month, so the triangle is a real
  run-off triangle) — the Mack chain-ladder development pattern.
- act_chain_ladder_ultimate: each origin's latest diagonal developed
  to ultimate by the remaining factors via an ORDERED integer fold
  (acc * f // 1e6 per step — list_reduce / aggregate, rescaled every
  step so nothing overflows), reserve = ultimate - latest.
- act_frequency_severity: the pricing decomposition per market
  segment — claim frequency (orders per customer, milli), severity
  (cents per order), pure premium (cents per customer).
- act_earned_exposure: 90-day policies earned pro-rata across
  calendar months — exact integer day-overlap against a month
  calendar injected as IDENTICAL literals on both engines (no
  engine date arithmetic in the hot expression).

Scale shapes: the triangle is a (origin x dev) aggregate (bounded by
calendar^2); folds and ratios run on that bounded table; earned
exposure is one interval-overlap join against an 84-row calendar."""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql, wide, wide_quot

_MAX_DEV = 4          # TPC-H ships within ~121 days => dev 0..4

_TRI_SQL = f"""
    li AS (
        SELECT datediff('month', DATE '1995-01-01',
                        date_trunc('month', CAST(o_orderdate AS DATE)))
                   AS om,
               datediff('month',
                        date_trunc('month', CAST(o_orderdate AS DATE)),
                        date_trunc('month', CAST(l_shipdate AS DATE)))
                   AS dev,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    mx AS (SELECT max(om) AS m FROM li),
    inc AS (
        SELECT om, least(dev, {_MAX_DEV}) AS dev,
               CAST(sum(cents) AS BIGINT) AS c
        FROM li GROUP BY 1, 2
    ),
    grid AS (
        SELECT o.om, d.dev
        FROM (SELECT DISTINCT om FROM inc) o
        CROSS JOIN (SELECT unnest(range({_MAX_DEV + 1})) AS dev) d
    ),
    cumt AS MATERIALIZED (
        SELECT g.om, g.dev,
               CAST(coalesce(sum(i.c) OVER (PARTITION BY g.om
                                            ORDER BY g.dev), 0)
                    AS BIGINT) AS cum
        FROM grid g LEFT JOIN inc i ON i.om = g.om AND i.dev = g.dev
    ),
    factors AS MATERIALIZED (
        SELECT nxt.dev,
               CAST(sum(prv.cum) AS BIGINT) AS sum_prev,
               CAST(sum(nxt.cum) AS BIGINT) AS sum_next,
               CAST(sum(nxt.cum) * 1000000 // sum(prv.cum) AS BIGINT)
                   AS f_micro
        FROM cumt nxt
        JOIN cumt prv ON prv.om = nxt.om AND prv.dev = nxt.dev - 1
        CROSS JOIN mx
        WHERE nxt.dev >= 1 AND nxt.om + nxt.dev <= mx.m
        GROUP BY nxt.dev
    )
"""


def _dev_triangle(spark, sf_dir):
    """(cumt, factors, m): the censored cumulative triangle, the link
    ratios, and the cutoff month — exact Spark twin of `_TRI_SQL`."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    omon = F.date_trunc("month", F.col("o_orderdate").cast("date"))
    smon = F.date_trunc("month", F.col("l_shipdate").cast("date"))
    base = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(F.months_between(omon, F.lit("1995-01-01")
                                     .cast("date")).cast("bigint")
                    .alias("om"),
                    F.least(F.months_between(smon, omon).cast("bigint"),
                            F.lit(_MAX_DEV)).alias("dev"),
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("bigint").alias("cents")))
    inc = base.groupBy("om", "dev").agg(F.sum("cents").alias("c"))
    m = inc.agg(F.max("om").alias("m")).collect()[0]["m"]
    devs = spark.range(_MAX_DEV + 1).select(F.col("id").alias("dev"))
    grid = inc.select("om").distinct().crossJoin(F.broadcast(devs))
    wc = (Window.partitionBy("om").orderBy("dev")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cumt = (grid.join(inc, ["om", "dev"], "left")
            .withColumn("cum", F.coalesce(F.sum("c").over(wc), F.lit(0))
                        .cast("bigint"))
            .select("om", "dev", "cum")
            .transform(physical.cut))
    prv = cumt.select(F.col("om").alias("pom"),
                      (F.col("dev") + 1).alias("pdev"),
                      F.col("cum").alias("prev_cum"))
    factors = (cumt.where(F.col("dev") >= 1)
               .join(prv, (cumt["om"] == F.col("pom"))
                     & (cumt["dev"] == F.col("pdev")))
               .where(F.col("om") + F.col("dev") <= m)
               .groupBy("dev")
               .agg(F.sum("prev_cum").cast("bigint").alias("sum_prev"),
                    F.sum("cum").cast("bigint").alias("sum_next"))
               # floor(a*1e6/b) through a DECIMAL(38,0) intermediate:
               # the naive int64 form overflows once portfolio column
               # sums pass $92B in cents (found by the r7 sf1 scale
               # audit, ARITHMETIC_OVERFLOW under ANSI); a*1e6 in
               # 38-digit decimal is exact to a ~= 1e32, far past any
               # sum of int64 cents. Replaces r7's two-stage x1000
               # integer decomposition (value-identical, verified at
               # sf0.1) — one cast instead of four ops; both run on the
               # bounded (calendar x 5) factors table, so the r7 bench
               # delta attributed to the staged form (2.41->3.35s) was
               # suite noise: re-measured solo, either form times
               # 1.9-2.1s end to end. DuckDB oracle unchanged: its
               # sum() returns HUGEINT, so the naive text is exact.
               .select("dev", "sum_prev", "sum_next",
                       wide_quot(wide("sum_next") * 1000000, "sum_prev")
                       .alias("f_micro"))
               .transform(physical.cut))
    return cumt, factors, m


@query("act_chain_ladder_factors", oracle=f"""
    WITH {_TRI_SQL}
    SELECT dev, sum_prev, sum_next, f_micro FROM factors
""")
def act_chain_ladder_factors(spark, sf_dir):
    """Chain-ladder link ratios: the cumulative order-to-ship claims
    triangle censored at the latest calendar month (cells with
    origin + dev <= cutoff), volume-weighted f_d = column-sum ratio
    over origins observed at BOTH ages — Mack's estimator, in exact
    integer micros. The triangle is a bounded (calendar x 5)
    aggregate; one fact-table pass builds it."""
    _, factors, _ = _dev_triangle(spark, sf_dir)
    return factors.select("dev", "sum_prev", "sum_next", "f_micro")


@query("act_chain_ladder_ultimate", oracle=f"""
    WITH {_TRI_SQL},
    latest AS (
        SELECT c.om, c.cum AS latest_cents
        FROM cumt c CROSS JOIN mx
        WHERE c.dev = least(mx.m - c.om, {_MAX_DEV})
    ),
    rem AS (
        SELECT l.om, l.latest_cents,
               coalesce(list(f.f_micro ORDER BY f.dev)
                            FILTER (WHERE f.f_micro IS NOT NULL),
                        CAST([] AS BIGINT[])) AS fs
        FROM latest l CROSS JOIN mx
        LEFT JOIN factors f ON f.dev > least(mx.m - l.om, {_MAX_DEV})
        GROUP BY l.om, l.latest_cents
    )
    SELECT om, latest_cents,
           CAST(list_reduce(list_prepend(latest_cents, fs),
                            (acc, x) -> acc * x // 1000000) AS BIGINT)
               AS ultimate_cents,
           CAST(list_reduce(list_prepend(latest_cents, fs),
                            (acc, x) -> acc * x // 1000000)
                - latest_cents AS BIGINT) AS reserve_cents
    FROM rem
""")
def act_chain_ladder_ultimate(spark, sf_dir):
    """Chain-ladder ultimates: each origin's latest observed diagonal
    developed through the REMAINING link ratios by an ordered integer
    fold — acc * f_micro // 1e6 per step, rescaled every step so the
    running value stays in cents and in range — reserve = ultimate -
    latest. Fully-developed origins fold over an empty factor list
    and report zero reserve. Bounded table end to end."""
    cumt, factors, m = _dev_triangle(spark, sf_dir)
    latest = (cumt.where(
        F.col("dev") == F.least(F.lit(m) - F.col("om"),
                                F.lit(_MAX_DEV)))
        .select("om", F.col("cum").alias("latest_cents")))
    rem = (latest.crossJoin(F.broadcast(
        factors.select(F.col("dev").alias("fdev"), "f_micro")))
        .where(F.col("fdev") > F.least(F.lit(m) - F.col("om"),
                                       F.lit(_MAX_DEV)))
        .groupBy("om", "latest_cents")
        .agg(F.expr("sort_array(collect_list(struct(fdev, f_micro)))")
             .alias("fstruct"))
        .select("om", "latest_cents",
                F.expr("transform(fstruct, s -> s.f_micro)").alias("fs")))
    rem = (latest.join(rem.select("om", "fs"), "om", "left")
           .select("om", "latest_cents",
                   F.coalesce(F.col("fs"),
                              F.expr("CAST(array() AS ARRAY<BIGINT>)"))
                   .alias("fs")))
    # Fold step acc*f div 1e6 through a DECIMAL(38,0) intermediate,
    # same rationale as f_micro above: the naive int64 product wraps
    # once a running ultimate passes ~$46B in cents at f~2e6; the
    # decimal product is exact to ~1e32 and the acc type stays BIGINT
    # across aggregate() steps (the lambda must return the zero's
    # type). Value-identical to r7's staged integer form at the $92T
    # test point (tests/test_scale_robustness.py).
    ultimate = F.aggregate(
        "fs", F.col("latest_cents"),
        lambda acc, x: wide_quot(wide(acc) * x, F.lit(1000000)))
    return rem.select(
        "om", "latest_cents", ultimate.alias("ultimate_cents"),
        (ultimate - F.col("latest_cents")).alias("reserve_cents"))


@query("act_frequency_severity", oracle=f"""
    WITH seg AS (
        SELECT c.c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_custs,
               {units_sum_sql('o.o_totalprice', 100)} AS tot_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    )
    SELECT segment, n_orders, n_custs,
           n_orders * 1000 // n_custs AS freq_milli,
           tot_cents // n_orders AS severity_cents,
           tot_cents // n_custs AS pure_premium_cents
    FROM seg
""")
def act_frequency_severity(spark, sf_dir):
    """The pricing decomposition per market segment: frequency
    (orders per active customer, milli), severity (cents per order),
    and their product — pure premium (cents per customer, computed
    directly as the exact ratio, not the rounded product). One
    broadcast dim join + one grouped aggregate."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    seg = (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
           .groupBy(F.col("c_mktsegment").alias("segment"))
           .agg(F.count("*").alias("n_orders"),
                F.countDistinct("o_custkey").cast("bigint")
                .alias("n_custs"),
                units_sum(F.col("o_totalprice"), 100).cast("bigint")
                .alias("tot_cents")))
    return seg.select(
        "segment", "n_orders", "n_custs",
        F.expr("n_orders * 1000 div n_custs").alias("freq_milli"),
        F.expr("tot_cents div n_orders").alias("severity_cents"),
        F.expr("tot_cents div n_custs").alias("pure_premium_cents"))


def _month_calendar():
    """84 months 1995-01 .. 2001-12 as (idx, start_day, end_day) day
    numbers since 1995-01-01 — computed ONCE in Python and injected
    as identical literals on both engines."""
    out = []
    d0 = _dt.date(1995, 1, 1)
    for i in range(84):
        y, mth = divmod(i, 12)
        start = _dt.date(1995 + y, mth + 1, 1)
        ny, nm = (1995 + y + 1, 1) if mth == 11 else (1995 + y, mth + 2)
        end = _dt.date(ny, nm, 1)
        out.append((i, (start - d0).days, (end - d0).days))
    return out


_CAL = _month_calendar()
_CAL_SQL = ", ".join(f"({i}, {s}, {e})" for i, s, e in _CAL)


@query("act_earned_exposure", oracle=f"""
    WITH cal(mo, s, e) AS (VALUES {_CAL_SQL}),
    pol AS (
        SELECT datediff('day', DATE '1995-01-01',
                        CAST(o_orderdate AS DATE)) AS d0
        FROM orders
    )
    SELECT CAST(cal.mo AS BIGINT) AS mo,
           CAST(sum(CASE WHEN p.d0 >= cal.s AND p.d0 < cal.e
                         THEN 1 ELSE 0 END) AS BIGINT) AS written,
           CAST(sum(least(p.d0 + 90, cal.e) - greatest(p.d0, cal.s))
                AS BIGINT) AS earned_days
    FROM cal JOIN pol p
      ON p.d0 < cal.e AND p.d0 + 90 > cal.s
    GROUP BY cal.mo
""")
def act_earned_exposure(spark, sf_dir):
    """Earned exposure: every order is a 90-day policy earned
    pro-rata by exact day overlap with each calendar month — the
    month calendar is an 84-row literal table identical on both
    engines (no engine date arithmetic inside the overlap test).
    Written counts and earned policy-days per month out; the overlap
    join is calendar x policies with a tight band predicate (at
    scale: a range join that partitions by month)."""
    o = T(spark, sf_dir, "orders")
    cal = spark.createDataFrame(_CAL, ["mo", "s", "e"])
    pol = o.select(F.datediff(F.col("o_orderdate").cast("date"),
                              F.lit("1995-01-01").cast("date"))
                   .alias("d0"))
    return (pol.join(F.broadcast(cal),
                     (F.col("d0") < F.col("e"))
                     & (F.col("d0") + 90 > F.col("s")))
            .groupBy("mo")
            .agg(F.sum(F.when((F.col("d0") >= F.col("s"))
                              & (F.col("d0") < F.col("e")), 1)
                       .otherwise(0)).cast("bigint").alias("written"),
                 F.sum(F.least(F.col("d0") + 90, F.col("e"))
                       - F.greatest(F.col("d0"), F.col("s")))
                 .cast("bigint").alias("earned_days")))
