"""Robust-estimation / regression-diagnostics pack (round 5, batch
44): a Huber M-estimator of location, Cook's distance influence
ranking, a two-feature ridge shrinkage path, and the Breusch-Pagan
heteroscedasticity test. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators — the model-diagnostics
panel for the repo's OLS family (stats_ols_multi, ts_adf_test,
agg_regression):

- Huber M-estimation (Huber 1964): a location estimate that takes
  the mean's efficiency on the bulk and the median's resistance to
  tails — two IRLS steps, each ONE aggregate of sufficient
  statistics (the ml_logistic_newton distribution pattern).
- Cook's distance (Cook 1977): which single days move the trend fit
  most — the influence audit for any fitted line.
- Ridge path (Hoerl & Kennard 1970): coefficient shrinkage of the
  (t, t^2) trend fit across a relative-lambda grid, solved in closed
  2x2 form per lambda.
- Breusch-Pagan (1979): does residual variance grow along the
  regressor? The heteroscedasticity gate on OLS standard errors.

Determinism contract (SURVEY §4.3): day indices, cents, and their
power/cross sums are exact BIGINT/DECIMAL(38,0)/HUGEINT; IRLS
weights and squared residuals snap to fixed-point BEFORE their
unordered sums (weighted terms in cents, squared residuals in 1e6
dollar^2 units — then the auxiliary regression's moments are EXACT
integers of the snapped values); influence ordering uses doubles
built identically on both engines from exact inputs, day tie-break."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import (
    comoment, comoment_sql, erfc, erfc_sql, units_sum, units_sum_sql, wide,
    wide_sql)
from .registry import query
from .relational import T


# Daily order revenue (cents) with a 0-based day index off the
# calendar-bounded spine — the shared base for the OLS diagnostics.
_DAYSER_SQL = f"""
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS t,
           d, y
    FROM (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               {units_sum_sql('o_totalprice', 100)} AS y
        FROM orders GROUP BY 1
    )
"""


def _dayser(spark, sf_dir):
    day = (T(spark, sf_dir, "orders")
           .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("y")))
    return day.select(
        (F.row_number().over(Window.orderBy("d")).cast("bigint") - 1)
        .alias("t"), "d", "y")


# ----------------------------------------------- Huber M location

@query("stats_huber_m_estimate", oracle=f"""
    WITH day AS (
        SELECT {units_sum_sql('o_totalprice', 100)} AS x
        FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    m0 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x)')} AS s,
               sum({wide_sql('x')} * x) AS q
        FROM day
    ),
    base AS (
        SELECT n, CAST(s AS DOUBLE) / n AS mu0,
               1.345 * (sqrt(CAST({comoment_sql('n', 'q', 's', 's')}
                                  AS DOUBLE)) / n) AS k
        FROM m0
    ),
    it1 AS (
        SELECT n, k,
               {units_sum_sql('least(1.0, k / abs(x - mu0))', 1e6)} AS sw_u,
               {wide_sql(units_sum_sql(
                        'least(1.0, k / abs(x - mu0)) * x'))} AS swx
        FROM day, base GROUP BY n, k
    ),
    mu1t AS (
        SELECT n, k, CAST(swx AS DOUBLE) * 1e6 / sw_u AS mu1 FROM it1
    ),
    it2 AS (
        SELECT n,
               round(mu1 / 100.0, 4) AS huber_mu_step1,
               {units_sum_sql('least(1.0, k / abs(x - mu1))', 1e6)} AS sw_u,
               {wide_sql(units_sum_sql(
                        'least(1.0, k / abs(x - mu1)) * x'))} AS swx
        FROM day, mu1t GROUP BY n, mu1
    )
    SELECT n, huber_mu_step1,
           round(CAST(swx AS DOUBLE) * 1e6 / sw_u / 100.0, 4)
               AS huber_mu,
           round(CAST(sw_u AS DOUBLE) / (n * 1e6), 6)
               AS mean_weight
    FROM it2
""")
def stats_huber_m_estimate(spark, sf_dir):
    """Huber M-estimator of the daily-revenue location (Huber 1964),
    two IRLS steps at the textbook tuning k = 1.345 sigma (95%
    Gaussian efficiency): weights w = min(1, k/|x - mu|) downweight
    tail days the mean would chase; mean_weight reports how much of
    the corpus the estimator kept at full weight. Starts at the exact
    mean with the exact-form population sigma.

    Each IRLS step is ONE aggregate of two snapped sufficient
    statistics — w (1e6 fixed-point) and w*x (whole cents; the cent
    grid keeps the sum inside HUGEINT/DECIMAL(38,0) at any sf while
    losing only sub-cent precision per day) — the
    ml_logistic_newton distribution pattern: rows never carry state,
    iterations are broadcast-scalar crossJoins (AQE reuses the
    exchange).

    Scale shape: day-spine collapse + three 1-row aggregates."""
    day = (T(spark, sf_dir, "orders")
           .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("x")))
    m0 = day.agg(F.count("*").alias("n"), F.sum("x").alias("s"),
                 F.sum(wide("x") * F.col("x")).alias("q"))
    base = m0.select(
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu0"),
        (1.345 * (F.sqrt(comoment("n", "q", "s", "s")
                         .cast("double")) / F.col("n"))).alias("k"))

    def step(mu_col):
        w = F.least(F.lit(1.0), F.col("k") / F.abs(F.col("x") - mu_col))
        return (units_sum(w, 1e6).alias("sw_u"),
                F.sum(wide(F.round(w * F.col("x")))).alias("swx"))

    sw1, swx1 = step(F.col("mu0"))
    it1 = (day.crossJoin(F.broadcast(base))
           .groupBy("n", "k").agg(sw1, swx1))
    mu1t = it1.select(
        "n", "k",
        (F.col("swx").cast("double") * 1e6 / F.col("sw_u"))
        .alias("mu1"))
    sw2, swx2 = step(F.col("mu1"))
    it2 = (day.crossJoin(F.broadcast(mu1t))
           .groupBy("n", "mu1").agg(sw2, swx2)
           .select("n",
                   F.round(F.col("mu1") / 100.0, 4)
                   .alias("huber_mu_step1"),
                   "sw_u", "swx"))
    return it2.select(
        "n", "huber_mu_step1",
        F.round(F.col("swx").cast("double") * 1e6 / F.col("sw_u")
                / 100.0, 4).alias("huber_mu"),
        F.round(F.col("sw_u").cast("double") / (F.col("n") * 1e6), 6)
        .alias("mean_weight"))


# -------------------------------------------------- Cook's distance

@query("stats_cooks_distance", oracle=f"""
    WITH ser AS ({_DAYSER_SQL}),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(t)')} AS st,
               sum({wide_sql('t')} * t) AS stt,
               {wide_sql('sum(y)')} AS sy,
               sum({wide_sql('t')} * y) AS sty,
               sum({wide_sql('y')} * y) AS syy
        FROM ser
    ),
    fit AS (
        SELECT n,
               CAST(n * sty - st * sy AS DOUBLE)
                   / CAST(n * stt - st * st AS DOUBLE) AS b,
               CAST(sy AS DOUBLE) / n
               - (CAST(n * sty - st * sy AS DOUBLE)
                  / CAST(n * stt - st * st AS DOUBLE))
                 * (CAST(st AS DOUBLE) / n) AS a,
               CAST(st AS DOUBLE) / n AS tbar,
               CAST(n * stt - st * st AS DOUBLE) / n AS sttc,
               (CAST(n * syy - sy * sy AS DOUBLE) / n
                - (CAST(n * sty - st * sy AS DOUBLE)
                   / CAST(n * stt - st * st AS DOUBLE))
                  * (CAST(n * sty - st * sy AS DOUBLE) / n))
               / (n - 2) AS s2
        FROM m
    ),
    per AS (
        SELECT d, t,
               (y - a - b * t) AS e,
               1.0 / n + (t - tbar) * (t - tbar) / sttc AS h
        FROM ser, fit
    ),
    ranked AS (
        SELECT d, e, h,
               (e * e / (2.0 * (SELECT s2 FROM fit)))
               * (h / ((1.0 - h) * (1.0 - h))) AS cd
        FROM per
        ORDER BY cd DESC, d ASC LIMIT 5
    )
    SELECT d AS day, round(e / 100.0, 2) AS residual,
           round(h, 8) AS leverage,
           round(cd, 6) AS cooks_d
    FROM ranked
""")
def stats_cooks_distance(spark, sf_dir):
    """Cook's distance influence ranking of the daily-revenue trend
    fit (Cook 1977): D_i = (e_i^2 / (p*s^2)) * h_i/(1-h_i)^2 with
    p = 2 and the simple-regression leverage h_i = 1/n +
    (t_i - tbar)^2/S_tt — the five days that, removed, would move the
    fitted line most. The audit that separates "big residual" from
    "big influence" (endpoint days get influence at modest
    residuals because leverage peaks at the time extremes).

    The fit comes from exact HUGEINT/DECIMAL(38,0) moment sums;
    per-day residual/leverage/D are fixed IEEE expressions of those
    exact inputs (identical doubles on both engines), so the top-5
    ordering cannot diverge; ties break on day. Rounding happens
    AFTER selection.

    Scale shape: day-spine collapse + 1-row fit + broadcast-scalar
    join + TakeOrdered(5)."""
    ser = _dayser(spark, sf_dir)
    m = ser.agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum(wide("t") * F.col("t")).alias("stt"),
        F.sum("y").alias("sy"),
        F.sum(wide("t") * F.col("y")).alias("sty"),
        F.sum(wide("y") * F.col("y")).alias("syy"))
    bnum = comoment("n", "sty", "st", "sy").cast("double")
    bden = comoment("n", "stt", "st", "st").cast("double")
    b = bnum / bden
    fit = m.select(
        "n", b.alias("b"),
        (F.col("sy").cast("double") / F.col("n")
         - b * (F.col("st").cast("double") / F.col("n"))).alias("a"),
        (F.col("st").cast("double") / F.col("n")).alias("tbar"),
        (bden / F.col("n")).alias("sttc"),
        ((comoment("n", "syy", "sy", "sy")
          .cast("double") / F.col("n") - b * (bnum / F.col("n")))
         / (F.col("n") - 2)).alias("s2"))
    per = (ser.crossJoin(F.broadcast(fit))
           .select("d",
                   (F.col("y") - F.col("a") - F.col("b") * F.col("t"))
                   .alias("e"),
                   (1.0 / F.col("n")
                    + (F.col("t") - F.col("tbar"))
                    * (F.col("t") - F.col("tbar")) / F.col("sttc"))
                   .alias("h"),
                   F.col("s2")))
    ranked = (per.select(
        "d", "e", "h",
        ((F.col("e") * F.col("e") / (2.0 * F.col("s2")))
         * (F.col("h") / ((1.0 - F.col("h")) * (1.0 - F.col("h")))))
        .alias("cd"))
        .orderBy(F.col("cd").desc(), F.col("d").asc()).limit(5))
    return ranked.select(
        F.col("d").alias("day"),
        F.round(F.col("e") / 100.0, 2).alias("residual"),
        F.round(F.col("h"), 8).alias("leverage"),
        F.round(F.col("cd"), 6).alias("cooks_d"))


# ---------------------------------------------------- ridge path

@query("ml_ridge_path", oracle=f"""
    WITH ser AS ({_DAYSER_SQL}),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(t)')} AS s1,
               sum({wide_sql('t')} * t) AS s2_,
               sum({wide_sql('t')} * t * t) AS s3,
               sum({wide_sql('t')} * t * t * t) AS s4,
               {wide_sql('sum(y)')} AS sy,
               sum({wide_sql('t')} * y) AS s1y,
               sum({wide_sql('t')} * t * y) AS s2y
        FROM ser
    ),
    cen AS (
        SELECT n,
               CAST(n * s2_ - s1 * s1 AS DOUBLE) / n AS c11,
               CAST(n * s3 - s1 * s2_ AS DOUBLE) / n AS c12,
               CAST(n * s4 - s2_ * s2_ AS DOUBLE) / n AS c22,
               CAST(n * s1y - s1 * sy AS DOUBLE) / n AS c1y,
               CAST(n * s2y - s2_ * sy AS DOUBLE) / n AS c2y
        FROM m
    ),
    grid AS (SELECT unnest([0.0, 0.1, 1.0, 10.0]) AS lam_rel)
    SELECT lam_rel,
           round(((c22 + lam_rel * (c11 + c22) / 2.0) * c1y
                  - c12 * c2y)
                 / ((c11 + lam_rel * (c11 + c22) / 2.0)
                    * (c22 + lam_rel * (c11 + c22) / 2.0)
                    - c12 * c12) * 1e6, 6) AS b1_x1e6,
           round(((c11 + lam_rel * (c11 + c22) / 2.0) * c2y
                  - c12 * c1y)
                 / ((c11 + lam_rel * (c11 + c22) / 2.0)
                    * (c22 + lam_rel * (c11 + c22) / 2.0)
                    - c12 * c12) * 1e9, 6) AS b2_x1e9
    FROM grid, cen
    ORDER BY lam_rel
""")
def ml_ridge_path(spark, sf_dir):
    """Ridge-regression shrinkage path for the quadratic trend fit
    (y on centered t, t^2; Hoerl & Kennard 1970): solve the 2x2
    penalized normal equations (C + lambda I) b = c at lambda =
    lam_rel * trace(C)/2 for lam_rel in {{0, 0.1, 1, 10}} — the
    trace-relative grid makes the path scale-invariant (an absolute
    lambda would be meaningless against cents^2 magnitudes). The
    closed-form 2x2 solve per grid point shows the whole
    regularization path costs ONE pass of moment sums — at 100 TB
    you fit the entire path from one aggregate, not one job per
    lambda.

    All seven moment sums are exact HUGEINT/DECIMAL(38,0); the
    centered matrix entries and each solve are fixed IEEE
    expressions; coefficients are reported in 1e6/1e9-scaled units
    (their natural magnitudes are tiny against cents).

    Scale shape: day-spine collapse + ONE moment aggregate + a
    constant 4-row grid join."""
    ser = _dayser(spark, sf_dir)
    t = wide("t")
    m = ser.agg(
        F.count("*").alias("n"),
        F.sum("t").alias("s1"),
        F.sum(t * F.col("t")).alias("s2_"),
        F.sum(t * F.col("t") * F.col("t")).alias("s3"),
        F.sum(t * F.col("t") * F.col("t") * F.col("t")).alias("s4"),
        F.sum("y").alias("sy"),
        F.sum(t * F.col("y")).alias("s1y"),
        F.sum(t * F.col("t") * F.col("y")).alias("s2y"))

    def cen(q, sa, sb):
        return (comoment("n", q, sa, sb).cast("double") / F.col("n"))

    cenf = m.select(
        "n",
        cen("s2_", "s1", "s1").alias("c11"),
        cen("s3", "s1", "s2_").alias("c12"),
        cen("s4", "s2_", "s2_").alias("c22"),
        cen("s1y", "s1", "sy").alias("c1y"),
        cen("s2y", "s2_", "sy").alias("c2y"))
    grid = (spark.range(4).select(
        F.element_at(F.array(F.lit(0.0), F.lit(0.1), F.lit(1.0),
                             F.lit(10.0)),
                     (F.col("id") + 1).cast("int")).alias("lam_rel")))
    j = grid.crossJoin(F.broadcast(cenf))
    lam = F.col("lam_rel") * (F.col("c11") + F.col("c22")) / 2.0
    a11 = F.col("c11") + lam
    a22 = F.col("c22") + lam
    det = a11 * a22 - F.col("c12") * F.col("c12")
    return (j.select(
        "lam_rel",
        F.round((a22 * F.col("c1y") - F.col("c12") * F.col("c2y"))
                / det * 1e6, 6).alias("b1_x1e6"),
        F.round((a11 * F.col("c2y") - F.col("c12") * F.col("c1y"))
                / det * 1e9, 6).alias("b2_x1e9"))
        .orderBy("lam_rel"))


# ---------------------------------------------- Breusch-Pagan test

@query("stats_breusch_pagan", oracle=f"""
    WITH ser AS ({_DAYSER_SQL}),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(t)')} AS st,
               sum({wide_sql('t')} * t) AS stt,
               {wide_sql('sum(y)')} AS sy,
               sum({wide_sql('t')} * y) AS sty
        FROM ser
    ),
    fit AS (
        SELECT n,
               CAST(n * sty - st * sy AS DOUBLE)
                   / CAST(n * stt - st * st AS DOUBLE) AS b,
               CAST(sy AS DOUBLE) / n
               - (CAST(n * sty - st * sy AS DOUBLE)
                  / CAST(n * stt - st * st AS DOUBLE))
                 * (CAST(st AS DOUBLE) / n) AS a
        FROM m
    ),
    aux AS (
        SELECT t,
               CAST(round((y - a - b * t) * (y - a - b * t) / 1e10)
                    AS BIGINT) AS v
        FROM ser, fit
    ),
    am AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(t)')} AS st,
               sum({wide_sql('t')} * t) AS stt,
               {wide_sql('sum(v)')} AS sv,
               sum({wide_sql('t')} * v) AS stv,
               sum({wide_sql('v')} * v) AS svv
        FROM aux
    ),
    lm AS (
        SELECT n,
               round(n * (CAST(n * stv - st * sv AS DOUBLE)
                          * CAST(n * stv - st * sv AS DOUBLE))
                     / (CAST(n * stt - st * st AS DOUBLE)
                        * CAST(n * svv - sv * sv AS DOUBLE)), 4)
                   AS lm_stat
        FROM am
    )
    SELECT n, lm_stat,
           round({erfc_sql('sqrt(lm_stat / 2.0)')}, 8)
               AS p_value
    FROM lm
""")
def stats_breusch_pagan(spark, sf_dir):
    """Breusch-Pagan heteroscedasticity test on the daily-revenue
    trend fit (Breusch & Pagan 1979, Koenker's studentized LM form):
    regress the squared residuals on the regressor; LM = n * R^2_aux
    is chi-square(1) under homoscedasticity — the gate that says
    whether the fit's standard errors can be believed (revenue
    variance typically GROWS with level, and this is the test that
    catches it).

    The trend fit comes from exact moment sums; each squared
    residual snaps to 1e10 cents^2 units (= 1e6 dollar^2 — relative
    granularity ~1e-8 at sf0.01, finer at scale) BEFORE the
    auxiliary moments, so the aux regression's R^2 is computed from
    EXACT integers of the snapped values — snap once, then exact
    algebra (the stats_huber protocol's stronger cousin). p maps
    through the 1-df chi-square tail erfc(sqrt(LM/2)).

    Scale shape: day-spine collapse + two 1-row aggregates with a
    broadcast-scalar join between them."""
    ser = _dayser(spark, sf_dir)
    m = ser.agg(
        F.count("*").alias("n"), F.sum("t").alias("st"),
        F.sum(wide("t") * F.col("t")).alias("stt"),
        F.sum("y").alias("sy"),
        F.sum(wide("t") * F.col("y")).alias("sty"))
    b = (comoment("n", "sty", "st", "sy").cast("double")
         / comoment("n", "stt", "st", "st").cast("double"))
    fit = m.select(
        "n", b.alias("b"),
        (F.col("sy").cast("double") / F.col("n")
         - b * (F.col("st").cast("double") / F.col("n"))).alias("a"))
    e = F.col("y") - F.col("a") - F.col("b") * F.col("t")
    aux = (ser.crossJoin(F.broadcast(fit))
           .select("t", F.round(e * e / 1e10).cast("bigint")
                   .alias("v")))
    am = aux.agg(
        F.count("*").alias("n"), F.sum("t").alias("st"),
        F.sum(wide("t") * F.col("t")).alias("stt"),
        F.sum("v").alias("sv"),
        F.sum(wide("t") * F.col("v")).alias("stv"),
        F.sum(wide("v") * F.col("v")).alias("svv"))
    num = comoment("n", "stv", "st", "sv").cast("double")
    lm = am.select(
        "n",
        F.round(F.col("n") * (num * num)
                / (comoment("n", "stt", "st", "st").cast("double")
                   * comoment("n", "svv", "sv", "sv")
                   .cast("double")), 4).alias("lm_stat"))
    z = F.sqrt(F.col("lm_stat") / 2.0)
    return lm.select("n", "lm_stat",
                     F.round(erfc(z), 8).alias("p_value"))
