"""Inventory-economics pack (round 6, batch 71). The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has no
planning surface; these are Tier-C mission operators — the four
classical inventory-control computations a demand warehouse serves,
each exact-integer end to end (micro ratios, floor(sqrt) on integers —
IEEE sqrt is correctly rounded, so the floor is engine-stable):

- inventory_newsvendor: the critical-fractile order quantity
  Q* = F^-1(cu/(cu+co)) as an EXACT order statistic of train daily
  demand (cu=3, co=1 -> 75th percentile), graded on the test window
  with realized underage/overage cost.
- inventory_eoq_safety: EOQ = floor(sqrt(2*D*K/h)) and safety stock
  = z * sigma * sqrt(L) in exact integer form (z = 1.645 as 1645
  milli; sigma from the integer variance identity) for a pinned
  part panel.
- econ_price_elasticity: arc price elasticity per brand — split at
  the brand's EXACT median price (rank order statistic), arc formula
  ((q2-q1)/(q2+q1)) / ((p2-p1)/(p2+p1)) in integer micros on cent
  prices; no logs, no libm.
- inventory_fill_rate: type-2 service level — stock each part at its
  train P90 demand-day order statistic, fill rate on test =
  sum(min(demand, stock)) / sum(demand) per ABC revenue class
  (reusing the `inventory_abc_xyz` classification cutoffs).

Scale shapes: order statistics are per-group windows over per-part
aggregates (bounded by #parts x demand days); every final number is
a map-side-combinable sum; the train/test calendar split (day 1920,
`forecast` pack) prunes partitions at the scan when the fact table
is date-partitioned."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from .forecast import _DAILY_PART_SQL, _DAILY_TOTAL_SQL, _SPLIT, \
    _daily_part, _daily_total

_CU, _CO = 3, 1        # newsvendor underage/overage cost (per unit)


@query("inventory_newsvendor", oracle=f"""
    WITH {_DAILY_TOTAL_SQL},
    tr AS MATERIALIZED (
        SELECT q, row_number() OVER (ORDER BY q, day) AS rn,
               count(*) OVER () AS n
        FROM dt WHERE day < {_SPLIT}
    ),
    qstar AS (
        SELECT q AS stock FROM tr
        WHERE rn = (n * {_CU} + ({_CU} + {_CO}) - 1) // ({_CU} + {_CO})
    )
    SELECT stock, count(*) AS n_test,
           CAST(sum(CASE WHEN q > stock
                         THEN {_CU} * (q - stock) ELSE 0 END) AS BIGINT)
               AS underage_cost,
           CAST(sum(CASE WHEN q < stock
                         THEN {_CO} * (stock - q) ELSE 0 END) AS BIGINT)
               AS overage_cost
    FROM dt CROSS JOIN qstar
    WHERE day >= {_SPLIT}
    GROUP BY stock
""")
def inventory_newsvendor(spark, sf_dir):
    """Newsvendor order quantity at the critical fractile cu/(cu+co)
    (= 3/4 here): Q* is the EXACT ceil(n*3/4)-th order statistic of
    train daily demand (ties pinned by day), then the realized
    underage (lost sales x cu) and overage (holding x co) costs on
    the test window — the numbers that validate the fractile choice.
    One bounded rank window + one scalar broadcast over the test
    scan."""
    dt = _daily_total(spark, sf_dir).transform(physical.cut)
    w = Window.orderBy("q", "day")
    tr = (dt.where(F.col("day") < _SPLIT)
          .select("q", F.row_number().over(w).alias("rn")))
    n = dt.where(F.col("day") < _SPLIT).count()
    k = (n * _CU + (_CU + _CO) - 1) // (_CU + _CO)
    qstar = tr.where(F.col("rn") == k).select(F.col("q").alias("stock"))
    te = dt.where(F.col("day") >= _SPLIT)
    return (te.crossJoin(F.broadcast(qstar))
            .groupBy("stock")
            .agg(F.count("*").alias("n_test"),
                 F.sum(F.when(F.col("q") > F.col("stock"),
                              _CU * (F.col("q") - F.col("stock")))
                       .otherwise(0)).cast("bigint")
                 .alias("underage_cost"),
                 F.sum(F.when(F.col("q") < F.col("stock"),
                              _CO * (F.col("stock") - F.col("q")))
                       .otherwise(0)).cast("bigint")
                 .alias("overage_cost")))


@query("inventory_eoq_safety", oracle=f"""
    WITH {_DAILY_PART_SQL},
    st AS (
        SELECT part,
               CAST(sum(q) AS BIGINT) AS d_total,
               count(*) AS n_d,
               CAST(sum(q * q) AS BIGINT) AS sum_q2
        FROM pd WHERE day < {_SPLIT} GROUP BY part
    )
    SELECT part, d_total,
           CAST(floor(sqrt(2 * d_total * 100 / 5)) AS BIGINT) AS eoq,
           CAST(floor(sqrt((n_d * sum_q2 - d_total * d_total) * 1000000
                           / (n_d * n_d))) AS BIGINT) AS sigma_milli,
           1645 * CAST(floor(sqrt((n_d * sum_q2 - d_total * d_total)
                                  * 1000000 / (n_d * n_d))) AS BIGINT)
               * 2646 // 1000000 AS safety_stock_milli
    FROM st WHERE part < 40 AND n_d >= 3
""")
def inventory_eoq_safety(spark, sf_dir):
    """EOQ and safety stock in exact integer form for a pinned part
    panel: EOQ = floor(sqrt(2*D*K/h)) with ordering cost K=100 and
    holding h=5 per unit-period; sigma of demand-day sizes from the
    integer variance identity scaled x1e6 under ONE correctly-rounded
    sqrt (reported in millis); safety stock = z * sigma * sqrt(L)
    with z = 1.645 (95% service, as 1645 milli) and lead time L = 7
    days (sqrt(7) = 2.646 pinned as 2646 milli) — so the only float
    ops are IEEE sqrts of integers, identical on both engines."""
    pd_ = _daily_part(spark, sf_dir)
    st = (pd_.where(F.col("day") < _SPLIT)
          .groupBy("part")
          .agg(F.sum("q").cast("bigint").alias("d_total"),
               F.count("*").alias("n_d"),
               F.sum(F.col("q") * F.col("q")).cast("bigint")
               .alias("sum_q2")))
    sigma = ("CAST(floor(sqrt((n_d * sum_q2 - d_total * d_total)"
             " * 1000000 / (n_d * n_d))) AS BIGINT)")
    return (st.where((F.col("part") < 40) & (F.col("n_d") >= 3))
            .select("part", "d_total",
                    F.expr("CAST(floor(sqrt(2 * d_total * 100 / 5))"
                           " AS BIGINT)").alias("eoq"),
                    F.expr(sigma).alias("sigma_milli"),
                    F.expr(f"1645 * {sigma} * 2646 div 1000000")
                    .alias("safety_stock_milli")))


@query("econ_price_elasticity", oracle="""
    WITH li AS (
        SELECT p.p_brand AS brand,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                   // CAST(l_quantity AS BIGINT) AS unit_cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    ranked AS MATERIALIZED (
        SELECT brand, unit_cents, qty,
               row_number() OVER (PARTITION BY brand
                                  ORDER BY unit_cents, qty) AS rn,
               count(*) OVER (PARTITION BY brand) AS n
        FROM li
    ),
    halves AS (
        SELECT brand,
               CASE WHEN rn * 2 <= n THEN 0 ELSE 1 END AS hi,
               unit_cents, qty
        FROM ranked
    ),
    agg AS (
        SELECT brand, hi,
               CAST(sum(unit_cents * qty) // sum(qty) AS BIGINT)
                   AS avg_cents,
               CAST(sum(qty) AS BIGINT) AS tot_qty
        FROM halves GROUP BY 1, 2
    ),
    wide AS (
        SELECT lo.brand, lo.avg_cents AS p1, hi.avg_cents AS p2,
               lo.tot_qty AS q1, hi.tot_qty AS q2
        FROM agg lo JOIN agg hi
          ON lo.brand = hi.brand AND lo.hi = 0 AND hi.hi = 1
    )
    SELECT brand, p1, p2, q1, q2,
           CASE WHEN (q2 + q1) * (p2 - p1) <> 0
                THEN (q2 - q1) * (p2 + p1) * 1000000
                     // ((q2 + q1) * (p2 - p1))
                ELSE 0 END AS elasticity_micro
    FROM wide
""")
def econ_price_elasticity(spark, sf_dir):
    """Arc price elasticity per brand, log-free: line items split at
    the brand's exact median unit price (rank order statistic, ties
    pinned), each half reduced to quantity-weighted average cent price
    and total quantity, then the midpoint-arc formula
    ((q2-q1)/(q2+q1)) / ((p2-p1)/(p2+p1)) evaluated as ONE integer
    micro division — negative elasticity = demand falls with price.
    Unit prices snap to integer cents FIRST (round(price*100), the
    repo-wide safe snap), then integer-divide by quantity; after that
    (no logs — the log-log OLS twin would drag libm into the gate)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    base = (li.join(p, li["l_partkey"] == p["p_partkey"])
            .select(F.col("p_brand").alias("brand"),
                    F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"
                           " div CAST(l_quantity AS BIGINT)")
                    .alias("unit_cents"),
                    F.col("l_quantity").cast("bigint").alias("qty")))
    wr = Window.partitionBy("brand").orderBy("unit_cents", "qty")
    wn = Window.partitionBy("brand")
    ranked = base.select(
        "brand", "unit_cents", "qty",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"))
    halves = ranked.select(
        "brand", "unit_cents", "qty",
        F.when(F.col("rn") * 2 <= F.col("n"), 0).otherwise(1).alias("hi"))
    agg = (halves.groupBy("brand", "hi")
           .agg(F.expr("sum(unit_cents * qty) div sum(qty)")
                .cast("bigint").alias("avg_cents"),
                F.sum("qty").cast("bigint").alias("tot_qty")))
    lo = (agg.where(F.col("hi") == 0)
          .select("brand", F.col("avg_cents").alias("p1"),
                  F.col("tot_qty").alias("q1")))
    hi = (agg.where(F.col("hi") == 1)
          .select(F.col("brand").alias("brand2"),
                  F.col("avg_cents").alias("p2"),
                  F.col("tot_qty").alias("q2")))
    return (lo.join(hi, lo["brand"] == F.col("brand2"))
            .select("brand", "p1", "p2", "q1", "q2",
                    F.expr("CASE WHEN (q2 + q1) * (p2 - p1) <> 0"
                           " THEN (q2 - q1) * (p2 + p1) * 1000000"
                           " div ((q2 + q1) * (p2 - p1))"
                           " ELSE 0 END").alias("elasticity_micro")))


@query("inventory_fill_rate", oracle=f"""
    WITH {_DAILY_PART_SQL},
    rev AS MATERIALIZED (
        SELECT part, CAST(sum(q) AS BIGINT) AS tot,
               row_number() OVER (ORDER BY sum(q) DESC, part) AS rk,
               count(*) OVER () AS np
        FROM pd GROUP BY part
    ),
    abc AS (
        SELECT part,
               CASE WHEN rk * 5 <= np THEN 'A'
                    WHEN rk * 2 <= np THEN 'B'
                    ELSE 'C' END AS cls
        FROM rev
    ),
    stock AS (
        SELECT part, q AS stock FROM (
            SELECT part, q,
                   row_number() OVER (PARTITION BY part
                                      ORDER BY q, day) AS rn,
                   count(*) OVER (PARTITION BY part) AS n
            FROM pd WHERE day < {_SPLIT}
        ) WHERE rn = (n * 90 + 99) // 100
    ),
    te AS (
        SELECT a.cls, t.q,
               CASE WHEN t.q < s.stock THEN t.q ELSE s.stock END
                   AS filled
        FROM pd t
        JOIN stock s ON s.part = t.part
        JOIN abc a ON a.part = t.part
        WHERE t.day >= {_SPLIT}
    )
    SELECT cls, count(*) AS n_demand_days,
           CAST(sum(q) AS BIGINT) AS total_demand,
           CAST(sum(filled) AS BIGINT) AS total_filled,
           CAST(sum(filled) * 1000000 // sum(q) AS BIGINT)
               AS fill_rate_micro
    FROM te GROUP BY cls
""")
def inventory_fill_rate(spark, sf_dir):
    """Type-2 service level (fill rate) by ABC class: each part
    stocked at its train P90 demand-day order statistic (exact
    ceil-rank, ties pinned), test-window fill = min(demand, stock);
    classes are the top-20% / next-30% / rest revenue ranks (the
    `inventory_abc_xyz` cutoffs re-derived on quantity). Per-part
    order statistics are partitioned windows over the per-part daily
    aggregate; the report is three map-side-combinable sums."""
    pd_ = _daily_part(spark, sf_dir).transform(physical.cut)
    wrev = Window.orderBy(F.col("tot").desc(), F.col("part"))
    rev = (pd_.groupBy("part").agg(F.sum("q").cast("bigint").alias("tot")))
    np_ = rev.count()
    abc = (rev.select("part", F.row_number().over(wrev).alias("rk"))
           .select("part",
                   F.when(F.col("rk") * 5 <= np_, "A")
                   .when(F.col("rk") * 2 <= np_, "B")
                   .otherwise("C").alias("cls")))
    ws = Window.partitionBy("part").orderBy("q", "day")
    wn = Window.partitionBy("part")
    stock = (pd_.where(F.col("day") < _SPLIT)
             .select("part", "q",
                     F.row_number().over(ws).alias("rn"),
                     F.count("*").over(wn).alias("n"))
             .where(F.col("rn") == F.expr("(n * 90 + 99) div 100"))
             .select("part", F.col("q").alias("stock")))
    te = (pd_.where(F.col("day") >= _SPLIT)
          .join(stock, "part")
          .join(abc, "part")
          .select("cls", "q",
                  F.least(F.col("q"), F.col("stock")).alias("filled")))
    return (te.groupBy("cls")
            .agg(F.count("*").alias("n_demand_days"),
                 F.sum("q").cast("bigint").alias("total_demand"),
                 F.sum("filled").cast("bigint").alias("total_filled"),
                 F.expr("sum(filled) * 1000000 div sum(q)")
                 .cast("bigint").alias("fill_rate_micro")))
