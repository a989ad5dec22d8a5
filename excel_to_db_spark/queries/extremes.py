"""Extreme-value / drift-detection pack (round 5, batch 37): a Gumbel
block-maxima fit with return levels, the rescaled-range Hurst
exponent, Grubbs' outlier test, and Page-Hinkley drift detection. The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators — the tail-risk / regime-change panel for operational
telemetry:

- Gumbel block maxima (Gumbel 1958; Fisher-Tippett type I): fit
  location/scale to per-day maxima of hourly revenue by moments and
  read off the T-period return level — the classical "how bad can a
  peak hour get" estimate.
- Hurst exponent via R/S (Hurst 1951; Mandelbrot & Wallis 1969):
  H > 0.5 means long-range persistence, H < 0.5 anti-persistence —
  the memory diagnostic that decides whether naive CLT scaling of
  aggregates is even valid.
- Grubbs' test (Grubbs 1950): is the single most extreme day a
  statistical outlier against a normal bulk?
- Page-Hinkley (Page 1954; Hinkley 1971): cumulative deviation from
  the RUNNING mean with a running-minimum anchor — the sequential
  changepoint statistic that complements the repo's fixed-reference
  CUSUM key.

Determinism contract (SURVEY §4.3): block maxima/sums are exact
integers; variances live in n-multiplied exact integer forms; per-
block R/S ratios are exact-int / sqrt(exact-int) and snap at 1e6
before unordered block means; Page-Hinkley's running sums are ordered
window accumulations (frame order pinned by ORDER BY — the numerics
module's running-sum exemption), identical on both engines."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import (
    comoment, comoment_sql, units_sum, units_sum_sql, wide, wide_sql)

_HOUR_SQL = f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
           {units_sum_sql('value', 100)} AS x
    FROM events GROUP BY 1
"""

_DAY_SQL = f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {units_sum_sql('value', 100)} AS x
    FROM events GROUP BY 1
"""


def _hourly(spark, sf_dir):
    return (T(spark, sf_dir, "events")
            .groupBy(F.date_trunc("hour", F.col("ts")).alias("hr"))
            .agg(units_sum(F.col("value"), 100)
                 .alias("x")))


def _daily(spark, sf_dir):
    return (T(spark, sf_dir, "events")
            .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
            .agg(units_sum(F.col("value"), 100)
                 .alias("x")))


# ------------------------------------------ Gumbel block maxima fit

_EULER = "0.5772156649015329"
_PI = "3.141592653589793"


@query("stats_gumbel_maxima", oracle=f"""
    WITH hour AS ({_HOUR_SQL}),
    bmax AS (
        SELECT CAST(date_trunc('day', hr) AS TIMESTAMP) AS blk,
               CAST(max(x) AS BIGINT) AS m
        FROM hour GROUP BY 1
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(m) AS BIGINT) AS s,
               sum({wide_sql('m')} * m) AS q
        FROM bmax
    ),
    fit AS (
        SELECT n,
               (sqrt(CAST({comoment_sql('n', 'q', 's', 's')} AS DOUBLE)) / n)
                   * (sqrt(6.0) / {_PI}) AS beta,
               CAST(s AS DOUBLE) / n AS mean_m
        FROM st
    )
    SELECT n AS n_blocks,
           round(beta / 100.0, 4) AS beta_hat,
           round((mean_m - {_EULER} * beta) / 100.0, 4) AS mu_hat,
           round(((mean_m - {_EULER} * beta)
                  - beta * ln(-ln(1.0 - 1.0 / 365.0))) / 100.0, 4)
               AS return_level_365
    FROM fit
""")
def stats_gumbel_maxima(spark, sf_dir):
    """Gumbel (EV type I) fit to the per-day maxima of HOURLY revenue
    by the method of moments, plus the 365-day return level: beta =
    s*sqrt(6)/pi, mu = mean - gamma*beta (gamma = Euler-Mascheroni),
    x_T = mu - beta*ln(-ln(1 - 1/T)) — "the hourly peak a once-a-year
    day would reach". The Fisher-Tippett theorem makes Gumbel the
    canonical domain of attraction for light-tailed hourly sums; the
    repo's stats_hill_tail_index covers the heavy-tailed (Frechet)
    regime.

    Block maxima are exact BIGINTs off the hourly collapse; the
    population std enters as sqrt(n*q - s^2)/n over exact HUGEINT /
    DECIMAL(38,0) forms; gamma and pi are literal double constants
    (identical on both engines), so the fit is one fixed IEEE
    expression rounded at 4dp (reported in dollars).

    Scale shape: hour-spine collapse (one shuffle) + per-day max +
    ONE 1-row reduce."""
    bmax = (_hourly(spark, sf_dir)
            .groupBy(F.date_trunc("day", F.col("hr")).alias("blk"))
            .agg(F.max("x").alias("m")))
    st = bmax.agg(F.count("*").alias("n"), F.sum("m").alias("s"),
                  F.sum(wide("m") * F.col("m")).alias("q"))
    euler = float(_EULER)
    pi = float(_PI)
    beta = (F.sqrt(comoment("n", "q", "s", "s").cast("double"))
            / F.col("n")) * (F.sqrt(F.lit(6.0)) / F.lit(pi))
    mean_m = F.col("s").cast("double") / F.col("n")
    fit = st.select(F.col("n").alias("n_blocks"),
                    beta.alias("beta"), mean_m.alias("mean_m"))
    mu = F.col("mean_m") - euler * F.col("beta")
    return fit.select(
        "n_blocks",
        F.round(F.col("beta") / 100.0, 4).alias("beta_hat"),
        F.round(mu / 100.0, 4).alias("mu_hat"),
        F.round((mu - F.col("beta")
                 * F.log(-F.log(F.lit(1.0 - 1.0 / 365.0)))) / 100.0, 4)
        .alias("return_level_365"))


# --------------------------------------------- Hurst exponent (R/S)

def _rs_oracle(b: int) -> str:
    """Mean R/S over complete blocks of size `b` of the hourly series,
    1e6-snapped per block — exact-int range over sqrt(exact-int) std."""
    return f"""
        SELECT CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(rs_u) AS BIGINT) AS rs_sum
        FROM (
            SELECT blk,
                   CAST(round(CAST(max(zb) - min(zb) AS DOUBLE)
                        / sqrt(CAST({b} * qb - sb * sb AS DOUBLE))
                        * 1e6) AS BIGINT) AS rs_u
            FROM (
                SELECT blk,
                       {b} * sum(x) OVER (PARTITION BY blk ORDER BY rn
                           ROWS UNBOUNDED PRECEDING)
                       - (rn - blk * {b} + 1) * sb AS zb,
                       sb, qb
                FROM (
                    SELECT rn, x, rn // {b} AS blk,
                           CAST(sum(x) OVER (PARTITION BY rn // {b})
                                AS BIGINT) AS sb,
                           sum({wide_sql('x')} * x)
                               OVER (PARTITION BY rn // {b}) AS qb,
                           CAST(count(*) OVER (PARTITION BY rn // {b})
                                AS BIGINT) AS cb
                    FROM ser
                ) WHERE cb = {b}
            ) GROUP BY blk, sb, qb
        )
    """


@query("ts_hurst_exponent", oracle=f"""
    WITH hour AS ({_HOUR_SQL}),
    ser AS (
        SELECT x, CAST(row_number() OVER (ORDER BY hr) AS BIGINT) - 1
                   AS rn
        FROM hour
    ),
    rs8 AS ({_rs_oracle(8)}),
    rs32 AS ({_rs_oracle(32)})
    SELECT rs8.n_blocks AS blocks_8, rs32.n_blocks AS blocks_32,
           round(rs8.rs_sum / (rs8.n_blocks * 1e6), 6) AS rs_8,
           round(rs32.rs_sum / (rs32.n_blocks * 1e6), 6) AS rs_32,
           round((ln(rs32.rs_sum / (rs32.n_blocks * 1e6))
                  - ln(rs8.rs_sum / (rs8.n_blocks * 1e6)))
                 / ln(4.0), 4) AS hurst
    FROM rs8, rs32
""")
def ts_hurst_exponent(spark, sf_dir):
    """Hurst exponent of the hourly revenue series by rescaled-range
    analysis at block sizes 8 and 32: H = (ln R/S(32) - ln R/S(8)) /
    ln 4 — the two-point slope of the log-log R/S growth law
    (Hurst 1951). H ~ 0.5 is short-memory; H > 0.5 says shocks
    persist (aggregation windows must grow superlinearly to average
    them out).

    Exactness per block: the cumulative deviation is held b-multiplied
    — z_t*b = b*cumsum(x) - t*S_b, an exact BIGINT off the pinned-
    order running sum — so the range R*b = max z - min z is exact; the
    population std enters as sqrt(b*q_b - S_b^2) (exact HUGEINT /
    DECIMAL(38,0)), and R/S = (R*b)/(b*std) cancels to
    exact-int / sqrt(exact-int). Each block's ratio snaps at 1e6
    before the unordered cross-block mean. Incomplete tail blocks
    drop.

    Scale shape: hour-spine collapse + per-block windows (partitioned
    by block — parallel) + two bounded reduces; the global
    row_number is over the calendar-bounded hourly spine."""
    hour = _hourly(spark, sf_dir)
    ser = hour.select(
        "x", (F.row_number().over(Window.orderBy("hr")).cast("bigint")
              - 1).alias("rn"))

    def rs(b: int):
        wb = Window.partitionBy("blk")
        blk = ser.select(
            "rn", "x", F.expr(f"rn DIV {b}").alias("blk"))
        blk = blk.select(
            "rn", "x", "blk",
            F.sum("x").over(wb).alias("sb"),
            F.sum(wide("x") * F.col("x")).over(wb)
            .alias("qb"),
            F.count("*").over(wb).alias("cb")).filter(F.col("cb") == b)
        z = blk.select(
            "blk", "sb", "qb",
            (b * F.sum("x").over(
                Window.partitionBy("blk").orderBy("rn")
                .rowsBetween(Window.unboundedPreceding, 0))
             - (F.col("rn") - F.col("blk") * b + 1) * F.col("sb"))
            .alias("zb"))
        per = (z.groupBy("blk", "sb", "qb")
               .agg(F.round((F.max("zb") - F.min("zb")).cast("double")
                            / F.sqrt(comoment(F.lit(b), "qb", "sb", "sb")
                                     .cast("double"))
                            * 1e6).cast("bigint").alias("rs_u")))
        return per.agg(F.count("*").alias("n_blocks"),
                       F.sum("rs_u").alias("rs_sum"))

    r8 = rs(8).select(F.col("n_blocks").alias("blocks_8"),
                      F.col("rs_sum").alias("sum8"))
    r32 = rs(32).select(F.col("n_blocks").alias("blocks_32"),
                        F.col("rs_sum").alias("sum32"))
    j = r8.crossJoin(F.broadcast(r32))
    m8 = F.col("sum8") / (F.col("blocks_8") * 1e6)
    m32 = F.col("sum32") / (F.col("blocks_32") * 1e6)
    return j.select(
        "blocks_8", "blocks_32",
        F.round(m8, 6).alias("rs_8"),
        F.round(m32, 6).alias("rs_32"),
        F.round((F.log(m32) - F.log(m8)) / F.log(F.lit(4.0)), 4)
        .alias("hurst"))


# ------------------------------------------------ Grubbs' outlier test

@query("stats_grubbs_outlier", oracle=f"""
    WITH day AS ({_DAY_SQL}),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               sum({wide_sql('x')} * x) AS q
        FROM day
    ),
    dev AS (
        SELECT day, abs(n * x - s) AS adev, n, s, q
        FROM day, st
        ORDER BY abs(n * x - s) DESC, day ASC LIMIT 1
    )
    SELECT n, day AS extreme_day,
           round(CAST(adev AS DOUBLE) / n
                 / sqrt(CAST({comoment_sql('n', 'q', 's', 's')} AS DOUBLE)
                        / (CAST(n AS DOUBLE) * (n - 1))), 4) AS g_stat
    FROM dev
""")
def stats_grubbs_outlier(spark, sf_dir):
    """Grubbs' maximum-deviation outlier test over the daily revenue
    series (Grubbs 1950): G = max |x - mean| / s — is the single most
    extreme day inconsistent with the normal bulk? The argmax is
    decided on the exact n-multiplied integer |n*x - S| (no float
    enters the ORDERING), earliest-day tie rule; the statistic then
    divides by the sample std held in its exact integer form
    sqrt((n*q - s^2)/(n(n-1))).

    Scale shape: day-spine collapse + broadcast-scalar join +
    TakeOrdered(1) on the exact deviation key + one fixed float
    expression. At a 100 TB corpus the day spine is still calendar-
    bounded; nothing here grows with row count."""
    day = _daily(spark, sf_dir)
    st = day.agg(F.count("*").alias("n"), F.sum("x").alias("s"),
                 F.sum(wide("x") * F.col("x")).alias("q"))
    dev = (day.crossJoin(F.broadcast(st))
           .select("day", "n", "s", "q",
                   F.abs(F.col("n") * F.col("x") - F.col("s"))
                   .alias("adev"))
           .orderBy(F.col("adev").desc(), F.col("day").asc())
           .limit(1))
    g = (F.col("adev").cast("double") / F.col("n")
         / F.sqrt(comoment("n", "q", "s", "s").cast("double")
                  / (F.col("n").cast("double") * (F.col("n") - 1))))
    return dev.select("n", F.col("day").alias("extreme_day"),
                      F.round(g, 4).alias("g_stat"))


# ---------------------------------------------- Page-Hinkley drift

@query("ts_page_hinkley", oracle=f"""
    WITH hour AS ({_HOUR_SQL}),
    ser AS (
        SELECT hr, x,
               CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS t,
               CAST(sum(x) OVER (ORDER BY hr
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS px
        FROM hour
    ),
    m AS (
        SELECT hr,
               sum(CAST(x AS DOUBLE) - CAST(px AS DOUBLE) / t)
                   OVER (ORDER BY hr ROWS UNBOUNDED PRECEDING) AS mt
        FROM ser
    ),
    ph AS (
        SELECT hr, mt,
               mt - min(mt) OVER (ORDER BY hr ROWS UNBOUNDED PRECEDING)
                   AS ph_t
        FROM m
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM ser
    ),
    sd AS (
        SELECT sqrt(CAST({comoment_sql('n', 'q', 's', 's')} AS DOUBLE))
               / CAST(n AS DOUBLE) AS sigma
        FROM (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS s,
                     sum({wide_sql('x')} * x) AS q FROM hour)
    ),
    best AS (
        SELECT hr, ph_t FROM ph
        ORDER BY ph_t DESC, hr ASC LIMIT 1
    )
    SELECT n, best.hr AS peak_hour,
           round(best.ph_t / 100.0, 2) AS ph_stat,
           round(best.ph_t / sigma, 4) AS ph_norm
    FROM best, st, sd
""")
def ts_page_hinkley(spark, sf_dir):
    """Page-Hinkley drift statistic over the hourly revenue series
    (Page 1954; Hinkley 1971): m_t = sum_{{s<=t}} (x_s - running_mean_s),
    PH_t = m_t - min_{{s<=t}} m_s, reported at its maximum with the
    peak hour — how far the series has climbed above its own running
    baseline, the sequential changepoint score whose running-mean
    anchor distinguishes it from the repo's fixed-reference
    ts_cusum_detection. ph_norm rescales by the exact-form global
    sigma so thresholds transfer across corpus sizes.

    Determinism: prefix sums px are exact BIGINTs; the per-step
    deviation x - px/t and its running sum accumulate in ORDERED
    window frames (frame order pinned by ORDER BY hr — the numerics
    module's running-sum exemption: both engines stream the same
    doubles in the same order); the peak is picked by (ph DESC, hour
    ASC) on those identical doubles.

    Scale shape: hour-spine collapse + three ordered window passes
    over the calendar-bounded hourly spine + TakeOrdered(1)."""
    hour = _hourly(spark, sf_dir)
    w = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    ser = hour.select(
        "hr", "x",
        F.row_number().over(Window.orderBy("hr")).cast("bigint")
        .alias("t"),
        F.sum("x").over(w).alias("px"))
    m = ser.select(
        "hr",
        F.sum(F.col("x").cast("double")
              - F.col("px").cast("double") / F.col("t")).over(w)
        .alias("mt"))
    ph = m.select(
        "hr", "mt",
        (F.col("mt") - F.min("mt").over(w)).alias("ph_t"))
    st = ser.agg(F.count("*").alias("n"))
    sd = hour.agg(
        F.count("*").alias("nn"), F.sum("x").alias("s"),
        F.sum(wide("x") * F.col("x")).alias("q")).select(
        (F.sqrt(comoment("nn", "q", "s", "s").cast("double"))
         / F.col("nn").cast("double")).alias("sigma"))
    best = ph.orderBy(F.col("ph_t").desc(), F.col("hr").asc()).limit(1)
    return (best.crossJoin(F.broadcast(st))
            .crossJoin(F.broadcast(sd))
            .select("n", F.col("hr").alias("peak_hour"),
                    F.round(F.col("ph_t") / 100.0, 2).alias("ph_stat"),
                    F.round(F.col("ph_t") / F.col("sigma"), 4)
                    .alias("ph_norm")))
