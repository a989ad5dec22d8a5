"""Anytime-valid / financial-index pack (round 5, batch 50): a
betting-style e-process sign test, a risk-adjusted-return panel, the
Paasche + Fisher ideal price indices, and Yuen's trimmed-mean t test.
The reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators:

- E-process (Ville 1939; Shafer 2021; Ramdas et al. 2023): a
  nonnegative supermartingale under H0 — evidence you may monitor
  CONTINUOUSLY and stop anytime without alpha-spending, the modern
  fix for the peeking problem the repo's fixed-n tests all have.
  Here: a Kelly bet on daily up-moves against the fair-coin null.
- Sharpe / Sortino / Calmar: the three standard risk-adjusted
  return ratios over daily log returns — mean per unit of total,
  downside, and drawdown risk respectively.
- Paasche + Fisher ideal (Fisher 1922): the current-basket and
  geometric-mean price indices that bound the true cost-of-living
  index from the two sides Laspeyres alone cannot
  (price_index_laspeyres is the repo's base-basket member).
- Yuen's t (Yuen 1974): the trimmed-mean two-sample test — Welch's
  t that heavy tails cannot hijack (pairs with agg_trimmed_mean).

Determinism contract (SURVEY §4.3): up/down counts, micro-int log
returns, basket cross terms (1e4-snapped), trimmed/winsorized masses
(exact rank-range interval overlaps), and all cumulative walks are
exact integers or pinned-order window sums; e-values exponentiate
exact count combinations; p-values use the A-S erfc on snapped t."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import (
    comoment, comoment_sql, erfc, erfc_sql, units_sum, units_sum_sql, wide,
    wide_sql)
from .registry import query
from .relational import T


# ------------------------------------------------ e-process sign test

@query("stats_e_process", oracle=f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               {units_sum_sql('o_totalprice', 100)} AS y
        FROM orders GROUP BY 1
    ),
    moves AS (
        SELECT d,
               CASE WHEN y > lag(y) OVER (ORDER BY d) THEN 1
                    WHEN y < lag(y) OVER (ORDER BY d) THEN -1
               END AS s
        FROM day
    ),
    walk AS (
        SELECT d,
               CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                    OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS ups,
               CAST(sum(CASE WHEN s IS NOT NULL THEN 1 ELSE 0 END)
                    OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS n
        FROM moves WHERE s IS NOT NULL
    ),
    ev AS (
        SELECT d, ups, n,
               ups * ln(1.2) + (n - ups) * ln(0.8) AS log_e
        FROM walk
    )
    SELECT CAST(max(n) AS BIGINT) AS n_moves,
           round(exp(max(CASE WHEN n = (SELECT max(n) FROM ev)
                         THEN log_e END)), 6) AS final_e,
           round(exp(max(log_e)), 6) AS max_e,
           min(CASE WHEN log_e > ln(20.0) THEN d END)
               AS first_rejection_day
    FROM ev
""")
def stats_e_process(spark, sf_dir):
    """Anytime-valid sign test as a betting e-process (Shafer 2021;
    Ramdas et al. 2023): bet a fixed Kelly fraction lambda = 0.2 on
    every daily revenue UP-move — under the fair-coin null the wealth
    E_t = prod (1 + 0.2 s_t) is a supermartingale, so by Ville's
    inequality P(sup E_t >= 20) <= 1/20 = 0.05 NO MATTER WHEN you
    look. first_rejection_day is the first time the evidence crossed
    that always-valid threshold (NULL if never) — the peeking-proof
    monitoring the repo's fixed-n tests (and SPRT's two-point
    alternative) cannot offer.

    The wealth collapses to exact counts: log E_t = ups*ln(1.2) +
    downs*ln(0.8) — cumulative up/down counts are exact integers in
    pinned window order; ties (exact-cent equal days) sit out the
    bet, exactly as a real bet would.

    Scale shape: day-spine collapse + one lag window + one running
    window + a 1-row reduce."""
    day = (T(spark, sf_dir, "orders")
           .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("y")))
    w = Window.orderBy("d")
    moves = (day.select(
        "d",
        F.when(F.col("y") > F.lag("y").over(w), 1)
        .when(F.col("y") < F.lag("y").over(w), -1).alias("s"))
        .filter(F.col("s").isNotNull()))
    wrun = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = moves.select(
        "d",
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).over(wrun)
        .alias("ups"),
        F.count("*").over(wrun).alias("n"))
    ev = walk.select(
        "d", "ups", "n",
        (F.col("ups") * F.log(F.lit(1.2))
         + (F.col("n") - F.col("ups")) * F.log(F.lit(0.8)))
        .alias("log_e"))
    nmax = ev.agg(F.max("n").alias("nm"))
    return (ev.crossJoin(F.broadcast(nmax))
            .agg(F.max("n").alias("n_moves"),
                 F.round(F.exp(F.max(F.when(F.col("n") == F.col("nm"),
                                            F.col("log_e")))), 6)
                 .alias("final_e"),
                 F.round(F.exp(F.max("log_e")), 6).alias("max_e"),
                 F.min(F.when(F.col("log_e") > F.log(F.lit(20.0)),
                              F.col("d"))).alias("first_rejection_day")))


# ---------------------------------------- risk-adjusted return panel

@query("ts_risk_adjusted_returns", oracle=f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               {units_sum_sql('value', 100)}
                   AS y
        FROM events GROUP BY 1
    ),
    lr AS (
        SELECT d,
               CAST(round(ln(CAST(y AS DOUBLE)
                             / lag(y) OVER (ORDER BY d)) * 1e6)
                    AS BIGINT) AS r
        FROM day
    ),
    cum AS (
        SELECT d, r,
               CAST(sum(r) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c
        FROM lr WHERE r IS NOT NULL
    ),
    dd AS (
        SELECT CAST(max(mx - c) AS BIGINT) AS maxdd_u FROM (
            SELECT c, max(c) OVER (ORDER BY d
                   ROWS UNBOUNDED PRECEDING) AS mx
            FROM cum)
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(r) AS BIGINT) AS s,
               sum({wide_sql('r')} * r) AS q,
               sum(CASE WHEN r < 0 THEN {wide_sql('r')} * r
                   ELSE 0 END) AS qd
        FROM cum
    )
    SELECT n,
           round((CAST(s AS DOUBLE) / n)
                 / sqrt(CAST({comoment_sql('n', 'q', 's', 's')} AS DOUBLE))
                 * CAST(n AS DOUBLE), 6) AS sharpe_daily,
           round((CAST(s AS DOUBLE) / n)
                 / sqrt(CAST(qd AS DOUBLE) / n) / 1e6 * 1e6, 6)
               AS sortino_daily,
           round((CAST(s AS DOUBLE) / n)
                 / CAST(maxdd_u AS DOUBLE), 6) AS calmar_daily
    FROM st, dd
""")
def ts_risk_adjusted_returns(spark, sf_dir):
    """Risk-adjusted return panel over daily revenue log returns:
    Sharpe (mean / population std), Sortino (mean / downside
    semideviation — only losses count as risk), and Calmar (mean /
    max drawdown of the cumulative log-return path) — the three
    ratios that rank two equal-mean series by HOW they earned it.
    All daily-scale (annualization is one literal multiply the
    consumer applies); zero risk-free rate, documented.

    Log returns snap to micro-int units at the lag step (the
    ts_var_cvar protocol); every moment then accumulates exactly
    (the Sharpe denominator uses the exact n-multiplied variance
    form — note mean/std = n*mean / (n*std) so the n factors write
    out explicitly); the drawdown is an exact integer off the
    running-max walk. Sortino's denominator is the exact
    downside second moment around zero.

    Scale shape: day-spine collapse + lag window + running-max
    window + two 1-row reduces."""
    day = (T(spark, sf_dir, "events")
           .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
           .agg(units_sum(F.col("value"), 100)
                .alias("y")))
    w = Window.orderBy("d")
    lr = (day.select(
        "d",
        F.round(F.log(F.col("y").cast("double")
                      / F.lag("y").over(w)) * 1e6).cast("bigint")
        .alias("r"))
        .filter(F.col("r").isNotNull()))
    wrun = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = lr.select("d", "r", F.sum("r").over(wrun).alias("c"))
    dd = (cum.select((F.max("c").over(wrun) - F.col("c")).alias("ddv"))
          .agg(F.max("ddv").alias("maxdd_u")))
    st = cum.agg(
        F.count("*").alias("n"),
        F.sum("r").alias("s"),
        F.sum(wide("r") * F.col("r")).alias("q"),
        F.sum(F.when(F.col("r") < 0,
                     wide("r") * F.col("r"))
              .otherwise(wide(F.lit(0)))).alias("qd"))
    mean = F.col("s").cast("double") / F.col("n")
    return (st.crossJoin(F.broadcast(dd))
            .select(
                "n",
                F.round(mean / F.sqrt(
                    comoment("n", "q", "s", "s").cast("double"))
                    * F.col("n").cast("double"), 6)
                .alias("sharpe_daily"),
                F.round(mean / F.sqrt(F.col("qd").cast("double")
                                      / F.col("n")) / 1e6 * 1e6, 6)
                .alias("sortino_daily"),
                F.round(mean / F.col("maxdd_u").cast("double"), 6)
                .alias("calmar_daily")))


# ------------------------------------------- Paasche + Fisher ideal

_IN_1996 = ("l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate <  TIMESTAMP '1997-01-01'")
_IN_1998 = ("l_shipdate >= TIMESTAMP '1998-01-01'"
            " AND l_shipdate <  TIMESTAMP '1999-01-01'")


@query("price_index_fisher", oracle=f"""
    WITH per AS (
        SELECT l_partkey,
               {units_sum_sql('l_extendedprice', 100, where=_IN_1996)} AS c0,
               {units_sum_sql('l_quantity', where=_IN_1996)} AS q0,
               {units_sum_sql('l_extendedprice', 100, where=_IN_1998)} AS c1,
               {units_sum_sql('l_quantity', where=_IN_1998)} AS q1
        FROM lineitem GROUP BY 1
    ),
    basket AS (
        SELECT q0, q1,
               c0 / CAST(q0 AS DOUBLE) AS p0,
               c1 / CAST(q1 AS DOUBLE) AS p1
        FROM per WHERE q0 > 0 AND q1 > 0
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n_parts,
               {units_sum_sql('q0 * p1', 1e4)} AS l_num,
               {units_sum_sql('q0 * p0', 1e4)} AS l_den,
               {units_sum_sql('q1 * p1', 1e4)} AS p_num,
               {units_sum_sql('q1 * p0', 1e4)} AS p_den
        FROM basket
    )
    SELECT n_parts,
           round(CAST(l_num AS DOUBLE) / l_den, 6) AS laspeyres,
           round(CAST(p_num AS DOUBLE) / p_den, 6) AS paasche,
           round(sqrt((CAST(l_num AS DOUBLE) / l_den)
                      * (CAST(p_num AS DOUBLE) / p_den)), 6)
               AS fisher
    FROM st
""")
def price_index_fisher(spark, sf_dir):
    """Paasche and Fisher-ideal price indices, 1998 vs the 1996 base
    (Fisher 1922), completing the index-number family whose base-
    basket member the repo already ships (price_index_laspeyres, same
    basket/periods/unit-price conventions): Paasche weights by the
    CURRENT basket (sum q1 p1 / sum q1 p0), so Laspeyres >= truth >=
    Paasche under substitution, and Fisher = sqrt(L*P) is the ideal
    index satisfying the time-reversal test both one-sided indices
    fail. Reporting all three bounds the substitution bias instead
    of hiding it.

    Unit prices are exact cents/quantity rationals; each basket
    cross term snaps to 1e4 fixed-point before the unordered sums
    (the laspeyres protocol); the three indices are fixed float
    expressions over four exact BIGINT sums.

    Scale shape: ONE filtered scan to per-part rows + a 1-row
    reduce."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity", "l_shipdate")

    def yr(col, y):
        return F.sum(F.when(
            (F.col("l_shipdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{y + 1}-01-01")
               .cast("timestamp")), col))

    per = (li.groupBy("l_partkey")
           .agg(yr(F.round(F.col("l_extendedprice") * 100)
                   .cast("bigint"), 1996).alias("c0"),
                yr(F.round(F.col("l_quantity")).cast("bigint"), 1996)
                .alias("q0"),
                yr(F.round(F.col("l_extendedprice") * 100)
                   .cast("bigint"), 1998).alias("c1"),
                yr(F.round(F.col("l_quantity")).cast("bigint"), 1998)
                .alias("q1")))
    basket = (per.filter((F.col("q0") > 0) & (F.col("q1") > 0))
              .select("q0", "q1",
                      (F.col("c0") / F.col("q0").cast("double"))
                      .alias("p0"),
                      (F.col("c1") / F.col("q1").cast("double"))
                      .alias("p1")))
    st = basket.agg(
        F.count("*").alias("n_parts"),
        units_sum(F.col("q0") * F.col("p1"), 1e4)
        .alias("l_num"),
        units_sum(F.col("q0") * F.col("p0"), 1e4)
        .alias("l_den"),
        units_sum(F.col("q1") * F.col("p1"), 1e4)
        .alias("p_num"),
        units_sum(F.col("q1") * F.col("p0"), 1e4)
        .alias("p_den"))
    lasp = F.col("l_num").cast("double") / F.col("l_den")
    paas = F.col("p_num").cast("double") / F.col("p_den")
    return st.select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"))


# --------------------------------------------------- Yuen trimmed t


def _yuen_side_sql(grp: str) -> str:
    """Per-group trimmed mean + winsorized SS from the value
    histogram: kept mass by exact rank-interval overlap; clamped
    tails re-enter at the trim-boundary order statistics."""
    return f"""
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(max(n) - 2 * (max(n) // 10) AS BIGINT) AS h,
               {wide_sql('sum(c * greatest(keep, 0))')} AS tsum,
               CAST(max(CASE WHEN cm - cnt < (n // 10) + 1
                             AND cm >= (n // 10) + 1 THEN c END)
                    AS BIGINT) AS lo_c,
               CAST(max(CASE WHEN cm - cnt < n - (n // 10)
                             AND cm >= n - (n // 10) THEN c END)
                    AS BIGINT) AS hi_c
        FROM (
            SELECT c, cnt, cm, n,
                   least(cm, n - (n // 10))
                   - greatest(cm - cnt, n // 10) AS keep
            FROM (
                SELECT c, cnt,
                       CAST(sum(cnt) OVER (ORDER BY c
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
                       CAST(sum(cnt) OVER () AS BIGINT) AS n
                FROM (
                    SELECT CAST(round(value * 100) AS BIGINT) AS c,
                           CAST(count(*) AS BIGINT) AS cnt
                    FROM events WHERE event_type = '{grp}'
                    GROUP BY 1
                )
            )
        ) WHERE TRUE
    """


@query("stats_yuen_t", oracle=f"""
    WITH a AS ({_yuen_side_sql("click")}),
    b AS ({_yuen_side_sql("view")}),
    aw AS (
        SELECT a.n, a.h,
               round((CAST(a.tsum AS DOUBLE) / a.h) / 100.0, 6)
                   AS tmean,
               (SELECT sum({wide_sql('least(greatest(c, a.lo_c), a.hi_c)')}
                           * cnt) FROM (
                    SELECT CAST(round(value * 100) AS BIGINT) AS c,
                           CAST(count(*) AS BIGINT) AS cnt
                    FROM events WHERE event_type = 'click' GROUP BY 1))
                   AS wsum,
               (SELECT sum({wide_sql('least(greatest(c, a.lo_c), a.hi_c)')}
                           * least(greatest(c, a.lo_c), a.hi_c) * cnt)
                FROM (
                    SELECT CAST(round(value * 100) AS BIGINT) AS c,
                           CAST(count(*) AS BIGINT) AS cnt
                    FROM events WHERE event_type = 'click' GROUP BY 1))
                   AS wss
        FROM a
    ),
    bw AS (
        SELECT b.n, b.h,
               round((CAST(b.tsum AS DOUBLE) / b.h) / 100.0, 6)
                   AS tmean,
               (SELECT sum({wide_sql('least(greatest(c, b.lo_c), b.hi_c)')}
                           * cnt) FROM (
                    SELECT CAST(round(value * 100) AS BIGINT) AS c,
                           CAST(count(*) AS BIGINT) AS cnt
                    FROM events WHERE event_type = 'view' GROUP BY 1))
                   AS wsum,
               (SELECT sum({wide_sql('least(greatest(c, b.lo_c), b.hi_c)')}
                           * least(greatest(c, b.lo_c), b.hi_c) * cnt)
                FROM (
                    SELECT CAST(round(value * 100) AS BIGINT) AS c,
                           CAST(count(*) AS BIGINT) AS cnt
                    FROM events WHERE event_type = 'view' GROUP BY 1))
                   AS wss
        FROM b
    ),
    tt AS (
        SELECT aw.n AS n1, bw.n AS n2, aw.tmean AS tmean1,
               bw.tmean AS tmean2,
               round((aw.tmean - bw.tmean)
                     / sqrt(
                       (CAST(aw.n AS DOUBLE) * aw.wss
                        - CAST(aw.wsum AS DOUBLE) * aw.wsum)
                       / aw.n / (aw.h - 1) / aw.h / 1e4
                       + (CAST(bw.n AS DOUBLE) * bw.wss
                          - CAST(bw.wsum AS DOUBLE) * bw.wsum)
                         / bw.n / (bw.h - 1) / bw.h / 1e4), 5) AS t
        FROM aw, bw
    )
    SELECT n1, n2, tmean1, tmean2, t,
           round({erfc_sql('abs(tt.t) / sqrt(2.0)')}, 8)
               AS p_approx
    FROM tt
""")
def stats_yuen_t(spark, sf_dir):
    """Yuen's trimmed-mean two-sample t (Yuen 1974): compare click vs
    view values by their 10%-trimmed means, with WINSORIZED variances
    in the standard error — the robust Welch's t that a handful of
    tail values cannot hijack (the ordinary t's mean AND variance are
    both tail-fragile; Yuen repairs both at once). p_approx uses the
    normal tail on the snapped t (the exact reference is t with
    Welch-Yuen df; at these h the difference is < 1e-3, documented).

    All machinery is exact histogram algebra: trimmed sums by
    rank-interval overlap (the agg_trimmed_mean shape), trim-boundary
    order statistics picked by exact rank, winsorized first/second
    moments as exact HUGEINT/DECIMAL(38,0) sums of CLAMPED values
    (clamp = least/greatest against the boundary statistics — pure
    integer ops); the t ratio is one fixed float expression.

    Scale shape: per-group value histograms + ordered prefix passes +
    1-row reduces — no global row sort, no row leaves the cluster."""

    def side(grp):
        v = (T(spark, sf_dir, "events")
             .filter(F.col("event_type") == grp)
             .select(F.round(F.col("value") * 100).cast("bigint")
                     .alias("c")))
        vh = v.groupBy("c").agg(F.count("*").alias("cnt"))
        cum = vh.select(
            "c", "cnt",
            F.sum("cnt").over(Window.orderBy("c").rowsBetween(
                Window.unboundedPreceding, 0)).alias("cm"),
            F.sum("cnt").over(
                Window.partitionBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding,
                    Window.unboundedFollowing)).alias("n"))
        g = F.expr("n DIV 10")
        kept = cum.select(
            "c", "cnt", "cm", "n",
            (F.least(F.col("cm"), F.col("n") - g)
             - F.greatest(F.col("cm") - F.col("cnt"), g)).alias("keep"))
        st = kept.agg(
            F.max("n").alias("n"),
            (F.max("n") - 2 * F.expr("max(n) DIV 10")).alias("h"),
            F.sum(wide("c")
                  * F.greatest(F.col("keep"), F.lit(0))).alias("tsum"),
            F.max(F.when((F.col("cm") - F.col("cnt")
                          < g + 1) & (F.col("cm") >= g + 1),
                         F.col("c"))).alias("lo_c"),
            F.max(F.when((F.col("cm") - F.col("cnt")
                          < F.col("n") - g)
                         & (F.col("cm") >= F.col("n") - g),
                         F.col("c"))).alias("hi_c"))
        wins = (vh.crossJoin(F.broadcast(st))
                .select(F.least(F.greatest(F.col("c"), F.col("lo_c")),
                                F.col("hi_c")).alias("wc"),
                        "cnt", "n", "h", "tsum"))
        return wins.groupBy("n", "h", "tsum").agg(
            F.sum(wide("wc") * F.col("cnt")).alias("wsum"),
            F.sum(wide("wc") * F.col("wc") * F.col("cnt"))
            .alias("wss"))

    a = side("click").select(
        F.col("n").alias("n1"), F.col("h").alias("h1"),
        F.col("tsum").alias("t1"), F.col("wsum").alias("ws1"),
        F.col("wss").alias("q1"))
    b = side("view").select(
        F.col("n").alias("n2"), F.col("h").alias("h2"),
        F.col("tsum").alias("t2"), F.col("wsum").alias("ws2"),
        F.col("wss").alias("q2"))
    j = a.crossJoin(F.broadcast(b))
    tm1 = F.round((F.col("t1").cast("double") / F.col("h1")) / 100.0, 6)
    tm2 = F.round((F.col("t2").cast("double") / F.col("h2")) / 100.0, 6)
    d1 = ((F.col("n1").cast("double") * F.col("q1").cast("double")
           - F.col("ws1").cast("double") * F.col("ws1").cast("double"))
          / F.col("n1") / (F.col("h1") - 1) / F.col("h1") / 1e4)
    d2 = ((F.col("n2").cast("double") * F.col("q2").cast("double")
           - F.col("ws2").cast("double") * F.col("ws2").cast("double"))
          / F.col("n2") / (F.col("h2") - 1) / F.col("h2") / 1e4)
    tt = j.select(
        "n1", "n2", tm1.alias("tmean1"), tm2.alias("tmean2"),
        F.round((tm1 - tm2) / F.sqrt(d1 + d2), 5).alias("t"))
    z = F.abs(F.col("t")) / F.sqrt(F.lit(2.0))
    return tt.select("n1", "n2", "tmean1", "tmean2", "t",
                     F.round(erfc(z), 8).alias("p_approx"))
