"""Rate-audit / lifetime pack (round 6, batch 78). The reference
engine (294 LoC of Rust delegating to SQLite, reference src/main.rs)
has none of this; four Tier-C mission operators around institutional
rate comparison and customer lifetime — the epidemiology-style audits
any multi-entity rate table needs before naming winners and losers:

- epi_standardized_rates: direct standardization + indirect SIR of
  per-nation return rates against the pooled year mix (confounder =
  order year) — the adjustment that separates a genuinely high rate
  from an unlucky case mix. All integer micro/milli arithmetic with
  pinned division order.
- epi_funnel_plot: the funnel-plot audit (Spiegelhalter 2005) —
  per-nation rate vs volume with 95% control limits around the
  pooled rate; the only float op is one correctly-rounded sqrt of an
  integer variance term.
- clv_empirical_btyd: the empirical Buy-Till-You-Die matrix —
  train-window (frequency, recency) cells vs holdout repeat
  purchases, the lookup table the Pareto/NBD family is calibrated
  against (and the honest nonparametric baseline for CLV).
- ops_erlang_b_blocking: Erlang-B blocking probability B(c, a) for
  c = 1..10 servers at the measured click arrival rate (service time
  pinned 15 min) via the classic recursion, unrolled into identical
  integer micro steps on both engines.

Scale shapes: every key reduces the corpus to a bounded panel
(nation x year, f x r cells, one scalar load) before the audit
arithmetic; the Erlang recursion is 10 scalar steps."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from .forecast import _SPLIT

_BASE_SQL = """
    base AS MATERIALIZED (
        SELECT c.c_nationkey AS nation,
               year(CAST(o.o_orderdate AS DATE)) AS yr,
               count(*) AS n,
               CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0
                        END) AS BIGINT) AS cases
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    std AS MATERIALIZED (
        SELECT yr, CAST(sum(n) AS BIGINT) AS n_std,
               CAST(sum(cases) AS BIGINT) AS c_std
        FROM base GROUP BY yr
    ),
    tot AS MATERIALIZED (
        SELECT CAST(sum(n_std) AS BIGINT) AS big_n,
               CAST(sum(c_std) AS BIGINT) AS big_c FROM std)
"""


def _base(spark, sf_dir):
    """(nation, yr, n, cases): per-nation-year return census — the
    bounded panel every key in this pack audits."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .groupBy(F.col("c_nationkey").alias("nation"),
                     F.year(F.col("o_orderdate").cast("date"))
                     .alias("yr"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("l_returnflag") == "R", 1)
                       .otherwise(0)).cast("bigint").alias("cases"))
            .transform(physical.cut))


@query("epi_standardized_rates", oracle=f"""
    WITH {_BASE_SQL}
    SELECT b.nation,
           CAST(sum(b.n) AS BIGINT) AS n_obs,
           CAST(sum(b.cases) AS BIGINT) AS observed,
           CAST(sum(b.cases) * 1000000 // sum(b.n) AS BIGINT)
               AS crude_micro,
           CAST(sum((b.cases * 1000000 // b.n) * s.n_std) // t.big_n
                AS BIGINT) AS direct_micro,
           CAST(sum(b.cases) * 1000000
                // (sum(b.n * (s.c_std * 1000000 // s.n_std)) // 1000)
                AS BIGINT) AS sir_milli
    FROM base b
    JOIN std s ON s.yr = b.yr
    CROSS JOIN tot t
    GROUP BY b.nation, t.big_n
""")
def epi_standardized_rates(spark, sf_dir):
    """Direct standardization (nation-year rates weighted by the
    POOLED year mix) and the indirect SIR (observed over expected at
    pooled year rates, x1000) of per-nation return rates — the two
    classic case-mix adjustments, with every division order pinned in
    integer micro/milli units. The panel is nations x years; one
    fact-table pass builds it."""
    base = _base(spark, sf_dir)
    std = (base.groupBy("yr")
           .agg(F.sum("n").cast("bigint").alias("n_std"),
                F.sum("cases").cast("bigint").alias("c_std")))
    big_n = (std.agg(F.sum("n_std").cast("bigint").alias("x"))
             .collect()[0]["x"])
    j = base.join(F.broadcast(std), "yr")
    return (j.groupBy("nation")
            .agg(F.sum("n").cast("bigint").alias("n_obs"),
                 F.sum("cases").cast("bigint").alias("observed"),
                 F.expr("sum(cases) * 1000000 div sum(n)")
                 .cast("bigint").alias("crude_micro"),
                 F.expr(f"sum((cases * 1000000 div n) * n_std)"
                        f" div {big_n}").cast("bigint")
                 .alias("direct_micro"),
                 F.expr("sum(cases) * 1000000"
                        " div (sum(n * (c_std * 1000000 div n_std))"
                        " div 1000)").cast("bigint").alias("sir_milli")))


@query("epi_funnel_plot", oracle=f"""
    WITH {_BASE_SQL},
    nat AS (
        SELECT nation, CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(cases) AS BIGINT) AS cases
        FROM base GROUP BY nation
    ),
    marked AS (
        SELECT nation, n, cases,
               cases * 1000000 // n AS rate_micro,
               t.big_c * 1000000 // t.big_n AS p_std,
               CAST(floor(sqrt((t.big_c * 1000000 // t.big_n)
                    * (1000000 - t.big_c * 1000000 // t.big_n) // n))
                    AS BIGINT) AS sd_micro
        FROM nat CROSS JOIN tot t
    )
    SELECT nation, n, CAST(rate_micro AS BIGINT) AS rate_micro,
           CAST(greatest(p_std - 1960 * sd_micro // 1000, 0) AS BIGINT)
               AS lo_micro,
           CAST(p_std + 1960 * sd_micro // 1000 AS BIGINT) AS hi_micro,
           CASE WHEN rate_micro > p_std + 1960 * sd_micro // 1000
                  OR rate_micro < greatest(p_std
                                           - 1960 * sd_micro // 1000, 0)
                THEN 1 ELSE 0 END AS outside
    FROM marked
""")
def epi_funnel_plot(spark, sf_dir):
    """Funnel-plot audit: each nation's return rate plotted against
    its volume with 95% control limits around the POOLED rate
    (p +- 1.96 * sqrt(p(1-p)/n), evaluated in integer micros with one
    correctly-rounded sqrt) — the institutional-comparison chart that
    separates signal from small-sample noise; `outside` flags true
    outliers. Panel arithmetic on the 25-row nation table."""
    base = _base(spark, sf_dir)
    tot = base.agg(F.sum("n").cast("bigint").alias("big_n"),
                   F.sum("cases").cast("bigint").alias("big_c")) \
        .collect()[0]
    p_std = tot["big_c"] * 1_000_000 // tot["big_n"]
    nat = (base.groupBy("nation")
           .agg(F.sum("n").cast("bigint").alias("n"),
                F.sum("cases").cast("bigint").alias("cases")))
    marked = nat.select(
        "nation", "n",
        F.expr("cases * 1000000 div n").cast("bigint")
        .alias("rate_micro"),
        F.expr(f"CAST(floor(sqrt({p_std * (1_000_000 - p_std)}"
               f" div n)) AS BIGINT)").alias("sd_micro"))
    hi = F.expr(f"{p_std} + 1960 * sd_micro div 1000")
    lo = F.expr(f"greatest({p_std} - 1960 * sd_micro div 1000, 0)")
    return marked.select(
        "nation", "n", "rate_micro",
        lo.cast("bigint").alias("lo_micro"),
        hi.cast("bigint").alias("hi_micro"),
        F.when((F.col("rate_micro") > hi)
               | (F.col("rate_micro") < lo), 1).otherwise(0)
        .alias("outside"))


@query("clv_empirical_btyd", oracle=f"""
    WITH od AS (
        SELECT o_custkey AS cust,
               datediff('day', DATE '1995-01-01',
                        CAST(o_orderdate AS DATE)) AS day
        FROM orders
    ),
    tr AS MATERIALIZED (
        SELECT cust, least(count(*), 5) AS f,
               least(({_SPLIT} - max(day)) // 240, 4) AS r
        FROM od WHERE day < {_SPLIT} GROUP BY cust
    ),
    te AS (
        SELECT cust, CAST(count(*) AS BIGINT) AS t
        FROM od WHERE day >= {_SPLIT} GROUP BY cust
    )
    SELECT CAST(tr.f AS BIGINT) AS f, CAST(tr.r AS BIGINT) AS r,
           count(*) AS n_custs,
           CAST(sum(coalesce(te.t, 0)) AS BIGINT) AS holdout_orders,
           CAST(sum(coalesce(te.t, 0)) * 1000 // count(*) AS BIGINT)
               AS avg_holdout_milli
    FROM tr LEFT JOIN te ON te.cust = tr.cust
    GROUP BY tr.f, tr.r
""")
def clv_empirical_btyd(spark, sf_dir):
    """Empirical Buy-Till-You-Die matrix: customers bucketed by
    train-window frequency (orders, capped 5) x recency (240-day
    bands since last order, capped 4), each cell scored with its
    holdout-window repeat purchases — the nonparametric lookup table
    Pareto/NBD-style CLV models are judged against (high-frequency
    recent cells should buy most). Two per-customer aggregates and a
    left join; the matrix is <= 5x5 cells."""
    o = T(spark, sf_dir, "orders")
    od = o.select(F.col("o_custkey").alias("cust"),
                  F.datediff(F.col("o_orderdate").cast("date"),
                             F.lit("1995-01-01").cast("date"))
                  .alias("day"))
    tr = (od.where(F.col("day") < _SPLIT)
          .groupBy("cust")
          .agg(F.least(F.count("*").cast("bigint"), F.lit(5))
               .cast("bigint").alias("f"),
               F.least(F.expr(f"({_SPLIT} - max(day)) div 240"),
                       F.lit(4)).cast("bigint").alias("r")))
    te = (od.where(F.col("day") >= _SPLIT)
          .groupBy("cust").agg(F.count("*").alias("t")))
    return (tr.join(te, "cust", "left")
            .groupBy("f", "r")
            .agg(F.count("*").alias("n_custs"),
                 F.sum(F.coalesce(F.col("t"), F.lit(0)))
                 .cast("bigint").alias("holdout_orders"),
                 F.expr("sum(coalesce(t, 0)) * 1000 div count(*)")
                 .cast("bigint").alias("avg_holdout_milli")))


def _erlang_b_sql() -> str:
    """Unrolled Erlang-B recursion as SQL (identical integer steps to
    the Python fold in the Spark body)."""
    ctes = ["lam AS (SELECT count(*) * 1000000"
            " // count(DISTINCT CAST(floor(epoch(ts)) AS BIGINT)"
            " // 3600) AS l"
            " FROM events WHERE event_type = 'click')",
            "a0 AS (SELECT CAST(l // 4 AS BIGINT) AS a FROM lam)",
            "b0 AS (SELECT a, CAST(1000000 AS BIGINT) AS b FROM a0)"]
    sel = []
    for c in range(1, 11):
        ctes.append(
            f"b{c} AS (SELECT a, (a * b // 1000000) * 1000000"
            f" // ({c} * 1000000 + a * b // 1000000) AS b"
            f" FROM b{c - 1})")
        sel.append(f"SELECT {c} AS servers, CAST(a AS BIGINT)"
                   f" AS offered_micro, CAST(b AS BIGINT)"
                   f" AS blocking_micro FROM b{c}")
    return "WITH " + ",\n    ".join(ctes) + "\n" \
        + "\n    UNION ALL ".join(sel)


@query("ops_erlang_b_blocking", oracle=_erlang_b_sql())
def ops_erlang_b_blocking(spark, sf_dir):
    """Erlang-B blocking probability B(c, a) for c = 1..10 trunks at
    the measured click load (arrivals per active hour, 15-minute
    pinned service time): the classic recursion B_c = aB/(c + aB)
    unrolled into the SAME integer micro steps on both engines — the
    sizing curve for any connection-limited resource. The engine
    reduces the corpus to one scalar load; the recursion is 10 scalar
    steps (driver-side fold here, CTE chain in the oracle, identical
    arithmetic)."""
    ev = T(spark, sf_dir, "events")
    row = (ev.where(F.col("event_type") == "click")
           .agg(F.count("*").alias("nc"),
                F.countDistinct(F.expr("unix_timestamp(ts) div 3600"))
                .alias("nh"))
           .collect()[0])
    lam = row["nc"] * 1_000_000 // row["nh"]
    a = lam // 4
    rows = []
    b = 1_000_000
    for c in range(1, 11):
        x = a * b // 1_000_000
        b = x * 1_000_000 // (c * 1_000_000 + x)
        rows.append((c, a, b))
    return spark.createDataFrame(
        rows, "servers int, offered_micro long, blocking_micro long")