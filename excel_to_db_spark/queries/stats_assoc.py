"""Association & robust-stats pack (round 5, batch 22): Cramér's V
effect size for categorical association, skewness/kurtosis from exact
integer power sums, Warner randomized response with debiasing, and the
Friedman rank test for complete blocks. The reference engine (294 LoC
of Rust delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators in the style of
queries/stats_tests.py:

- Cramér's V is the chi-square effect size — the number that stays
  meaningful at 100 TB, where every chi-square test is "significant"
  because n is astronomical and only effect sizes rank findings.
- Higher moments (skew/kurtosis) from raw integer power sums are the
  one-pass, merge-associative way to profile a distribution's shape —
  no second centered pass, no float accumulation.
- Randomized response (Warner 1965) is the original local-DP
  mechanism: each record randomizes itself BEFORE aggregation, so the
  engine can estimate a sensitive rate it never observes directly.
- Friedman's test is the nonparametric repeated-measures ANOVA: does
  any event type consistently rank higher across days, judged only on
  within-day ranks (so day-level drift cancels out).

Determinism contract (SURVEY §4.3): all ranks are 2x-scaled integer
midranks (exact under ties), all moment accumulations are integer
power sums or fixed-point cents, and every float expression is a
single deterministic function of already-exact integers, snapped once.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import (
    chi2_sf, chi2_sf_sql, fixed_sum, h32, h32_sql, units_sum_sql)
from .registry import query
from .relational import T


# ------------------------------------------------------- Cramér's V

@query("stats_cramers_v", oracle=f"""
    WITH obs AS (
        SELECT o_orderstatus AS r, o_orderpriority AS c,
               CAST(count(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS nr FROM obs GROUP BY r),
    ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM obs GROUP BY c),
    tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS nrows,
               CAST(count(DISTINCT c) AS BIGINT) AS ncols
        FROM obs
    ),
    chi AS (
        SELECT round({units_sum_sql(
                         '(o - nr * nc * 1.0 / n) * (o - nr * nc * 1.0 / n)'
                         ' / (nr * nc * 1.0 / n)', 1e8)}
                   / 1e8, 4) AS chi2
        FROM obs JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot
    )
    SELECT n, nrows, ncols,
           (nrows - 1) * (ncols - 1) AS dof, chi2,
           round(sqrt(chi2 / (n * least(nrows - 1, ncols - 1))), 6)
               AS cramers_v
    FROM chi, tot
""")
def stats_cramers_v(spark, sf_dir):
    """Cramér's V (Cramér 1946): the [0,1]-normalized effect size of
    the r x c chi-square association between order status and order
    priority — V = sqrt(chi2 / (n * min(r-1, c-1))).

    At warehouse scale the chi-square STATISTIC is useless on its own
    (with n in the billions everything is "significant"); V is the
    quantity that still ranks associations. Per-cell (o-e)^2/e terms
    are snapped to 1e-8 fixed-point integers before summation (the
    stats_chi_square protocol), so the 15-cell reduction is order-free.

    Scale shape: one map-side-combinable contingency aggregate (r x c
    cells — bounded by category cardinalities, never corpus-sized),
    margins re-aggregated FROM the cell table (no second corpus scan),
    then closed-form scalar math on a 15-row join."""
    o = T(spark, sf_dir, "orders").select("o_orderstatus",
                                          "o_orderpriority")
    obs = (o.groupBy(F.col("o_orderstatus").alias("r"),
                     F.col("o_orderpriority").alias("c"))
           .agg(F.count("*").alias("o")))
    rt = obs.groupBy("r").agg(F.sum("o").alias("nr"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("nc"))
    tot = obs.agg(F.sum("o").alias("n"),
                  F.countDistinct("r").alias("nrows"),
                  F.countDistinct("c").alias("ncols"))
    e = F.col("nr") * F.col("nc") * 1.0 / F.col("n")
    chi = (obs.join(F.broadcast(rt), "r").join(F.broadcast(ct), "c")
           .crossJoin(F.broadcast(tot))
           .agg(fixed_sum((F.col("o") - e) * (F.col("o") - e) / e,
                          1e8, 4).alias("chi2")))
    return (chi.crossJoin(F.broadcast(tot))
            .select("n", "nrows", "ncols",
                    ((F.col("nrows") - 1) * (F.col("ncols") - 1))
                    .alias("dof"),
                    "chi2",
                    F.round(F.sqrt(F.col("chi2")
                                   / (F.col("n")
                                      * F.least(F.col("nrows") - 1,
                                                F.col("ncols") - 1))), 6)
                    .alias("cramers_v")))


# ----------------------------- skewness/kurtosis from raw power sums

@query("agg_higher_moments", oracle="""
    WITH s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
        FROM lineitem
    ),
    m AS (
        SELECT n, s1 * 1.0 / n AS mu,
               s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n) AS m2,
               s3 * 1.0 / n
               - 3 * (s1 * 1.0 / n) * (s2 * 1.0 / n)
               + 2 * (s1 * 1.0 / n) * (s1 * 1.0 / n) * (s1 * 1.0 / n)
                   AS m3,
               s4 * 1.0 / n
               - 4 * (s1 * 1.0 / n) * (s3 * 1.0 / n)
               + 6 * (s1 * 1.0 / n) * (s1 * 1.0 / n) * (s2 * 1.0 / n)
               - 3 * (s1 * 1.0 / n) * (s1 * 1.0 / n) * (s1 * 1.0 / n)
                   * (s1 * 1.0 / n) AS m4
        FROM s
    )
    SELECT n, round(mu, 6) AS mean_qty, round(m2, 6) AS m2,
           round(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)), 6) AS skewness,
           round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
    FROM m
""")
def agg_higher_moments(spark, sf_dir):
    """Distribution-shape profile (skewness, excess kurtosis) of
    l_quantity from raw integer power sums S1..S4 — the one-pass,
    merge-associative formulation (central moments via the binomial
    expansion, e.g. m2 = S2/n - mu^2).

    Why power sums and not a centered second pass: BIGINT sums of
    q, q^2, q^3, q^4 are exact and associative, so Spark's partial
    aggregation merges them in any order without drift — the
    properties a 100 TB single-scan profiler needs (q <= 50 keeps
    S4 < 2^63 through sf100). All float math happens AFTER the
    reduction, on one row, with the operation order written
    identically on both engines (the stats_fdr_bh libm protocol);
    the builtin skewness()/kurtosis() aggregates are avoided
    precisely because their internal accumulation order is not
    contracted cross-engine.

    Scale shape: ONE map-side-combinable aggregate; nothing but five
    integers crosses the wire."""
    q = F.col("l_quantity").cast("bigint")
    s = (T(spark, sf_dir, "lineitem").select(q.alias("q"))
         .agg(F.count("*").alias("n"),
              F.sum("q").alias("s1"),
              F.sum(F.col("q") * F.col("q")).alias("s2"),
              F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
              F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q"))
              .alias("s4")))
    mu = F.col("s1") * 1.0 / F.col("n")
    m2 = F.col("s2") * 1.0 / F.col("n") - mu * mu
    m3 = (F.col("s3") * 1.0 / F.col("n")
          - 3 * mu * (F.col("s2") * 1.0 / F.col("n"))
          + 2 * mu * mu * mu)
    m4 = (F.col("s4") * 1.0 / F.col("n")
          - 4 * mu * (F.col("s3") * 1.0 / F.col("n"))
          + 6 * mu * mu * (F.col("s2") * 1.0 / F.col("n"))
          - 3 * mu * mu * mu * mu)
    return s.select(
        "n", F.round(mu, 6).alias("mean_qty"),
        F.round(m2, 6).alias("m2"),
        F.round(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6)
         .alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 6).alias("kurtosis_excess"))


# ------------------------------------- Warner randomized response


@query("privacy_randomized_response", oracle=f"""
    WITH coin AS (
        SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS truth,
               {h32_sql("'rr:' || CAST(event_id AS VARCHAR)")} % 2 AS b1,
               ({h32_sql("'rr:' || CAST(event_id AS VARCHAR)")} // 2) % 2
                   AS b2
        FROM events
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(truth) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN b1 = 1 THEN truth ELSE b2 END)
                    AS BIGINT) AS n_reported
        FROM coin
    )
    SELECT n, n_true, n_reported,
           round(n_reported * 1.0 / n, 6) AS p_obs,
           round(2.0 * (n_reported * 1.0 / n) - 0.5, 6) AS pi_est,
           round(n_true * 1.0 / n, 6) AS pi_true,
           round(abs(round(2.0 * (n_reported * 1.0 / n) - 0.5, 6)
                     - round(n_true * 1.0 / n, 6)), 6) AS abs_err,
           round(ln(3.0), 6) AS epsilon
    FROM agg
""")
def privacy_randomized_response(spark, sf_dir):
    """Warner randomized response (Warner 1965) — the original local
    differential-privacy mechanism: each record answers truthfully
    with probability 1/2, otherwise reports a fair coin. The
    aggregator sees only the randomized bit yet debiases the
    population rate exactly: pi_hat = 2*p_obs - 1/2, with privacy
    epsilon = ln(P(report=1|true)/P(report=1|false)) = ln(3).

    Sensitive attribute: "this event is an error". Both coins come
    from the repo's standard md5 lanes (deterministic, so the oracle
    replays the identical randomization — in production these are
    client-side RNG flips and the engine NEVER sees the truth column;
    here it is retained purely to exhibit the estimator's error).

    Scale shape: ONE map-side-combinable conditional-count aggregate;
    the mechanism is per-row and embarrassingly parallel, which is the
    entire point of LOCAL DP at 100 TB — no trusted curator, no
    central noise step, no shuffle beyond the 1-row reduce."""
    ev = T(spark, sf_dir, "events").select("event_id", "event_type")
    h = h32(F.concat(F.lit("rr:"), F.col("event_id").cast("string")))
    coin = ev.select(
        F.when(F.col("event_type") == "error", 1).otherwise(0)
         .alias("truth"),
        (h % 2).alias("b1"),
        # h // 2 (exact: h < 2^32 so h/2 is representable; cast floors
        # the nonnegative quotient, matching DuckDB's integer //)
        ((h / 2).cast("bigint") % 2).alias("b2"))
    agg = coin.agg(
        F.count("*").alias("n"),
        F.sum("truth").alias("n_true"),
        F.sum(F.when(F.col("b1") == 1, F.col("truth"))
              .otherwise(F.col("b2"))).alias("n_reported"))
    p_obs = F.col("n_reported") * 1.0 / F.col("n")
    pi_est = F.round(2.0 * p_obs - 0.5, 6)
    pi_true = F.round(F.col("n_true") * 1.0 / F.col("n"), 6)
    return agg.select(
        "n", "n_true", "n_reported",
        F.round(p_obs, 6).alias("p_obs"),
        pi_est.alias("pi_est"),
        pi_true.alias("pi_true"),
        F.round(F.abs(pi_est - pi_true), 6).alias("abs_err"),
        F.round(F.log(F.lit(3.0)), 6).alias("epsilon"))


# ------------------------------------------- Friedman complete-block test

@query("stats_friedman", oracle=f"""
    WITH cell AS (
        SELECT date_trunc('day', ts) AS d, event_type AS trt,
               CAST(round({units_sum_sql('value', 100)} * 10.0
                          / count(*)) AS BIGINT) AS mean_milli
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT d, trt, mean_milli,
               2 * rank() OVER (PARTITION BY d ORDER BY mean_milli)
               + CAST(count(*) OVER (PARTITION BY d, mean_milli)
                      AS BIGINT) - 1 AS midrank2
        FROM cell
    ),
    rsum AS (
        SELECT trt, CAST(sum(midrank2) AS BIGINT) AS r2
        FROM ranked GROUP BY trt
    ),
    dims AS (
        SELECT CAST(count(DISTINCT d) AS BIGINT) AS n,
               CAST(count(DISTINCT trt) AS BIGINT) AS k
        FROM cell
    ),
    ties AS (
        SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tsum
        FROM (SELECT CAST(count(*) AS BIGINT) AS t
              FROM cell GROUP BY d, mean_milli)
    ),
    stat AS (
        SELECT n, k,
               round((3.0 / (n * k * (k + 1)))
                     * (SELECT sum(r2 * r2) FROM rsum)
                     - 3.0 * n * (k + 1), 6) AS chi2_raw,
               round(1.0 - tsum * 1.0 / (n * k * (k * k - 1)), 6)
                   AS tie_c
        FROM dims, ties
    ),
    corr AS (
        SELECT n, k, chi2_raw, tie_c,
               round(chi2_raw / tie_c, 6) AS chi2
        FROM stat
    )
    SELECT n AS n_blocks, k AS k_treatments, chi2_raw, tie_c, chi2,
           round({chi2_sf_sql('chi2', '(k - 1)')}, 8) AS p_value
    FROM corr
""")
def stats_friedman(spark, sf_dir):
    """Friedman rank test for complete blocks (Friedman 1937), tie-
    corrected: do the 5 event types rank consistently across the 30
    days, judged only on within-day ranks (so any day-level level
    shift cancels)?

    Cell value = per-(day, type) mean event value snapped to integer
    tenth-of-cents (exact cents sum, one deterministic rounding).
    Ranks are 2x-scaled integer midranks (2*rank + ties - 1), so tied
    cells contribute EXACT average ranks with no fractions; rank sums
    and the tie term sum(t^3 - t) are pure BIGINTs, and chi2_raw =
    3/(n k (k+1)) * sum((2R_j)^2/... ) collapses to a single float
    expression over those integers. The p-value maps chi2/(k-1)
    through the Wilson-Hilferty cube-root normal approximation into
    the A-S erfc polynomial (stats_fdr_bh protocol), snapped to 8 dp.

    Scale shape: the corpus reduces FIRST to the (day, type) cell
    table — one map-side-combinable aggregate, n*k rows bounded by
    the calendar x category grid. Ranking windows partition BY day
    (k=5 rows each); everything after is scalar math on <= k rows."""
    ev = T(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.col("event_type").alias("trt"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    cell = (ev.groupBy("d", "trt")
            .agg(F.round(F.sum("cents") * 10.0 / F.count("*"))
                 .cast("bigint").alias("mean_milli")))
    w_rank = Window.partitionBy("d").orderBy("mean_milli")
    w_eq = Window.partitionBy("d", "mean_milli")
    ranked = cell.select(
        "d", "trt",
        (2 * F.rank().over(w_rank)
         + F.count("*").over(w_eq).cast("bigint") - 1).alias("midrank2"))
    rsum = ranked.groupBy("trt").agg(F.sum("midrank2").alias("r2"))
    dims = cell.agg(F.countDistinct("d").alias("n"),
                    F.countDistinct("trt").alias("k"))
    ties = (cell.groupBy("d", "mean_milli")
            .agg(F.count("*").alias("t"))
            .agg(F.sum(F.col("t") * F.col("t") * F.col("t")
                       - F.col("t")).alias("tsum")))
    ssq = rsum.agg(F.sum(F.col("r2") * F.col("r2")).alias("ssq"))
    stat = (dims.crossJoin(F.broadcast(ties))
            .crossJoin(F.broadcast(ssq))
            .select(
                "n", "k",
                F.round((3.0 / (F.col("n") * F.col("k")
                                * (F.col("k") + 1))) * F.col("ssq")
                        - 3.0 * F.col("n") * (F.col("k") + 1), 6)
                 .alias("chi2_raw"),
                F.round(1.0 - F.col("tsum") * 1.0
                        / (F.col("n") * F.col("k")
                           * (F.col("k") * F.col("k") - 1)), 6)
                 .alias("tie_c")))
    corr = stat.withColumn(
        "chi2", F.round(F.col("chi2_raw") / F.col("tie_c"), 6))
    return corr.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        "chi2_raw", "tie_c", "chi2",
        F.round(chi2_sf(F.col("chi2"), (F.col("k") - 1).cast("double")), 8)
        .alias("p_value"))
