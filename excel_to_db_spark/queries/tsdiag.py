"""Time-series / goodness-of-fit diagnostics pack (round 5, batch 33):
Jarque-Bera normality, Durbin-Watson serial correlation, the Ljung-Box
portmanteau test, and the likelihood-ratio G-test of independence. The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators — the residual-diagnostics panel every forecasting /
experimentation team runs before trusting a model:

- Jarque-Bera (Jarque & Bera 1980) rejects normality from skewness
  and excess kurtosis — the standard pre-flight for any test that
  assumes Gaussian errors.
- Durbin-Watson (Durbin & Watson 1950) detects lag-1 serial
  correlation in a residual series — the first autocorrelation alarm.
- Ljung-Box (Ljung & Box 1978) is the portmanteau version: one Q
  statistic over the first h autocorrelations, chi-square(h) under
  the white-noise null.
- The G-test is the likelihood-ratio twin of Pearson's chi-square
  (additive across partitions of the table, preferred for small
  expected counts).

Determinism contract (SURVEY §4.3): every moment / lagged cross
product accumulates in exact integer units (BIGINT cents widened
through DECIMAL(38,0) on Spark / HUGEINT on DuckDB, both exact well
past sf100); the final statistics are fixed float expressions over
the exact 1-row state using only IEEE-correctly-rounded ops (+,-,*,
/, sqrt) in an identical order on both engines, except where noted
(G-test ln terms are 1e6-snapped per cell before the exact sum — the
text_kl_matrix protocol; the p-value maps through Wilson-Hilferty
into the A-S erfc polynomial AFTER the statistic snaps — the
stats_kruskal_wallis protocol).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import (
    chi2_sf, chi2_sf_sql, comoment, comoment_sql, units_sum, units_sum_sql,
    wide, wide_sql)
from .registry import query
from .relational import T

# Day-collapsed event revenue in exact integer cents: the shared base
# series for the two autocorrelation diagnostics (the ts_bollinger /
# stats_sprt day-spine convention).
_DAY_SQL = f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {units_sum_sql('value', 100)} AS x
    FROM events GROUP BY 1
"""


def _daily(spark, sf_dir):
    return (T(spark, sf_dir, "events")
            .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
            .agg(units_sum(F.col("value"), 100)
                 .alias("x")))


# --------------------------------------------- Jarque-Bera normality

@query("stats_jarque_bera", oracle=f"""
    WITH v AS (
        SELECT CAST(round(o_totalprice) AS BIGINT) AS x FROM orders
    ),
    piv AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x)')} AS s1,
               CAST(sum(x) // count(*) AS BIGINT) AS a
        FROM v
    ),
    cm AS (
        SELECT {wide_sql('sum(x - a)')} AS sd,
               sum({wide_sql('(x - a) * (x - a)')}) AS d2,
               sum({wide_sql('(x - a) * (x - a)')} * (x - a)) AS d3,
               sum({wide_sql('(x - a) * (x - a)')}
                   * ((x - a) * (x - a))) AS d4
        FROM v, piv
    )
    SELECT n,
           round((CAST(d3 AS DOUBLE) / n
                  - (3.0 * (CAST(sd AS DOUBLE) / n))
                    * (CAST(d2 AS DOUBLE) / n)
                  + (2.0 * (CAST(sd AS DOUBLE) / n))
                    * ((CAST(sd AS DOUBLE) / n)
                       * (CAST(sd AS DOUBLE) / n)))
                 / ((CAST(d2 AS DOUBLE) / n
                     - (CAST(sd AS DOUBLE) / n)
                       * (CAST(sd AS DOUBLE) / n))
                    * sqrt(CAST(d2 AS DOUBLE) / n
                           - (CAST(sd AS DOUBLE) / n)
                             * (CAST(sd AS DOUBLE) / n))), 6) AS skewness,
           round((CAST(d4 AS DOUBLE) / n
                  - (4.0 * (CAST(sd AS DOUBLE) / n))
                    * (CAST(d3 AS DOUBLE) / n)
                  + (6.0 * ((CAST(sd AS DOUBLE) / n)
                            * (CAST(sd AS DOUBLE) / n)))
                    * (CAST(d2 AS DOUBLE) / n)
                  - 3.0 * ((CAST(sd AS DOUBLE) / n)
                           * (CAST(sd AS DOUBLE) / n))
                        * ((CAST(sd AS DOUBLE) / n)
                           * (CAST(sd AS DOUBLE) / n)))
                 / ((CAST(d2 AS DOUBLE) / n
                     - (CAST(sd AS DOUBLE) / n)
                       * (CAST(sd AS DOUBLE) / n))
                    * (CAST(d2 AS DOUBLE) / n
                       - (CAST(sd AS DOUBLE) / n)
                         * (CAST(sd AS DOUBLE) / n))), 6) AS kurtosis
    FROM cm, piv
""")
def stats_jarque_bera(spark, sf_dir):
    """Skewness + kurtosis moment panel for the Jarque-Bera normality
    test over order totals (Jarque & Bera 1980; JB = n/6*(S^2 +
    (K-3)^2/4) is one fixed expression over the two reported moments
    — reported separately so each moment is independently checkable).

    Numeric architecture: raw power sums of dollar amounts overflow
    every integer width at scale (x^4 ~ 6e22 per row), so the pass
    PIVOTS first — a = floor-mean (exact integer DIV, engine-proof for
    positive sums) — and accumulates power sums of d = x - a, which
    stay inside DECIMAL(38,0)/HUGEINT past sf100 (sum d^4 ~ 4e30).
    Central moments then come from the exact (sd, d2, d3, d4) state
    via the binomial shift identities with mu = sd/n (|mu| < 1): a
    fixed float expression using only IEEE-exact ops (+,-,*,/,sqrt),
    transcribed operation-for-operation into the oracle, so both
    engines compute bit-identical doubles before the 6dp round.

    Scale shape: two scans (pivot, then centered powers — the
    drift_psi broadcast-scalar crossJoin pattern; AQE reuses the
    exchange), each a ONE-row map-side-combinable aggregate. Kurtosis
    here is the raw m4/m2^2 (normal => 3)."""
    v = T(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"))
    piv = v.agg(F.count("*").alias("n"), F.sum("x").alias("s1")) \
           .select("n", F.expr("CAST(s1 DIV n AS BIGINT)").alias("a"))
    d = F.col("x") - F.col("a")
    d2 = d * d
    cm = (v.crossJoin(F.broadcast(piv))
          .agg(F.max("n").alias("n"),
               F.sum(d).alias("sd"),
               F.sum(wide(d2)).alias("d2"),
               F.sum(wide(d2) * d).alias("d3"),
               F.sum(wide(d2) * d2).alias("d4")))
    n = F.col("n").cast("double")
    mu = F.col("sd").cast("double") / n
    m2 = F.col("d2").cast("double") / n - mu * mu
    m3 = (F.col("d3").cast("double") / n
          - (3.0 * mu) * (F.col("d2").cast("double") / n)
          + (2.0 * mu) * (mu * mu))
    m4 = (F.col("d4").cast("double") / n
          - (4.0 * mu) * (F.col("d3").cast("double") / n)
          + (6.0 * (mu * mu)) * (F.col("d2").cast("double") / n)
          - 3.0 * ((mu * mu) * (mu * mu)))
    return cm.select(
        "n",
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2), 6).alias("kurtosis"))


# ------------------------------------------ Durbin-Watson lag-1 test

@query("ts_durbin_watson", oracle=f"""
    WITH day AS ({_DAY_SQL}),
    lagged AS (
        SELECT x, lag(x) OVER (ORDER BY day) AS xp FROM day
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x)')} AS s,
               sum({wide_sql('x')} * x) AS sxx,
               sum(CASE WHEN xp IS NOT NULL THEN
                        {wide_sql('(x - xp)')} * (x - xp) END) AS sdd
        FROM lagged
    )
    SELECT n,
           round(CAST({wide_sql('n')} * sdd AS DOUBLE)
                 / CAST({comoment_sql('n', 'sxx', 's', 's')} AS DOUBLE), 5)
               AS dw,
           round(1.0 - round(CAST({wide_sql('n')} * sdd AS DOUBLE)
                 / CAST({comoment_sql('n', 'sxx', 's', 's')} AS DOUBLE), 5)
                 / 2.0, 5) AS rho1_approx
    FROM st
""")
def ts_durbin_watson(spark, sf_dir):
    """Durbin-Watson statistic of the mean-residual daily revenue
    series (Durbin & Watson 1950): DW = sum (e_t - e_{t-1})^2 /
    sum e_t^2, where e is the day series minus its mean. DW ~ 2 means
    no lag-1 serial correlation; rho1_approx = 1 - DW/2 is the
    textbook first-autocorrelation readout.

    Exactness: the mean CANCELS in the numerator differences, so the
    numerator is the exact integer sum of squared day-over-day deltas;
    the denominator multiplies through by n — n*sum(e^2) = n*sxx - s^2
    exactly — so DW = n*sdd / (n*sxx - s^2) is one float division of
    two exact DECIMAL(38,0)/HUGEINT integers (identical doubles on
    both engines; cents magnitudes stay under 1e33 past sf100).
    rho1_approx derives from the SNAPPED dw (snap, then consume).

    Scale shape: day-spine collapse (one groupBy shuffle) + one
    ordered lag window over the bounded day series + a 1-row
    aggregate."""
    day = _daily(spark, sf_dir)
    lagged = day.select(
        "x", F.lag("x").over(Window.orderBy("day")).alias("xp"))
    st = lagged.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(wide("x") * F.col("x")).alias("sxx"),
        F.sum(F.when(F.col("xp").isNotNull(),
                     wide(F.col("x") - F.col("xp"))
                     * (F.col("x") - F.col("xp")))).alias("sdd"))
    dw = F.round(
        (wide("n") * F.col("sdd")).cast("double")
        / comoment("n", "sxx", "s", "s").cast("double"), 5)
    return (st.select("n", dw.alias("dw"))
            .select("n", "dw",
                    F.round(1.0 - F.col("dw") / 2.0, 5)
                    .alias("rho1_approx")))


# ------------------------------------------- Ljung-Box portmanteau Q

_LB_LAGS = 6


def _lb_oracle() -> str:
    lag_cols = ",\n               ".join(
        f"lag(x, {k}) OVER (ORDER BY day) AS l{k}"
        for k in range(1, _LB_LAGS + 1))
    aggs = ",\n               ".join(
        f"sum({wide_sql('x')} * l{k}) AS sxy{k},\n               "
        f"{wide_sql(f'sum(l{k})')} AS h{k},\n               "
        f"{wide_sql(f'sum(CASE WHEN l{k} IS NOT NULL THEN x END)')}"
        f" AS t{k}" for k in range(1, _LB_LAGS + 1))
    gk = " + ".join(
        f"(CAST({wide_sql('n')} * n * sxy{k}"
        f" - {wide_sql('n')} * s * (h{k} + t{k})"
        f" + (n - {k}) * ({wide_sql('s')} * s) AS DOUBLE) / g0)"
        f" * (CAST({wide_sql('n')} * n * sxy{k}"
        f" - {wide_sql('n')} * s * (h{k} + t{k})"
        f" + (n - {k}) * ({wide_sql('s')} * s) AS DOUBLE) / g0)"
        f" / (n - {k})" for k in range(1, _LB_LAGS + 1))
    return f"""
    WITH day AS ({_DAY_SQL}),
    lagged AS (
        SELECT x,
               {lag_cols}
        FROM day
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x)')} AS s,
               sum({wide_sql('x')} * x) AS sxx,
               {aggs}
        FROM lagged
    ),
    base AS (
        SELECT *,
               CAST({wide_sql('n')} * n * sxx
                    - {wide_sql('n')} * (s * s) AS DOUBLE) AS g0
        FROM st
    )
    SELECT n, CAST({_LB_LAGS} AS BIGINT) AS df,
           round((CAST({wide_sql('n')} * n * sxy1
                       - {wide_sql('n')} * s * (h1 + t1)
                       + (n - 1) * ({wide_sql('s')} * s) AS DOUBLE)
                  / g0), 6) AS rho1,
           round((CAST(n AS DOUBLE) * (n + 2)) * ({gk}), 4) AS q_stat
    FROM base
"""


@query("ts_ljung_box", oracle=_lb_oracle())
def ts_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau white-noise test over the daily revenue
    series (Ljung & Box 1978): Q = n(n+2) * sum_{{k=1..6}}
    rho_k^2/(n-k), chi-square(6) under the null of no autocorrelation
    at any of the first 6 lags — the one-number residual-diagnostics
    gate after any forecast fit.

    Exactness: each lag-k autocovariance is held in its n^2-multiplied
    integer form G_k = n^2*sum'(x_t*x_{{t+k}}) - n*S*(H_k+T_k) +
    (n-k)*S^2 (H/T = head/tail partial sums over the n-k aligned
    pairs) — every term an exact DECIMAL(38,0)/HUGEINT integer
    (~1e32 at sf100, inside both widths), so rho_k = G_k/G_0 is one
    float division of exact integers and Q is a FIXED 6-term float
    expression in pinned k order (IEEE ops only — bit-identical
    cross-engine before the 4dp round).

    Scale shape: day-spine collapse + ONE ordered window pass
    producing all 6 lag columns + a 1-row aggregate; the series is
    calendar-bounded so the single ordered window is safe at any sf
    (the ts_bollinger justification)."""
    day = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    lagged = day.select(
        "x", *[F.lag("x", k).over(w).alias(f"l{k}")
               for k in range(1, _LB_LAGS + 1)])
    aggs = [F.count("*").alias("n"), F.sum("x").alias("s"),
            F.sum(wide("x") * F.col("x")).alias("sxx")]
    for k in range(1, _LB_LAGS + 1):
        aggs += [
            F.sum(wide("x") * F.col(f"l{k}")).alias(f"sxy{k}"),
            F.sum(f"l{k}").alias(f"h{k}"),
            F.sum(F.when(F.col(f"l{k}").isNotNull(), F.col("x")))
             .alias(f"t{k}")]
    st = lagged.agg(*aggs)
    n, s = F.col("n"), F.col("s")
    base = st.withColumn(
        "g0", (wide(n) * n * F.col("sxx")
               - wide(n) * (wide(s) * s)).cast("double"))

    def g(k: int):
        return (wide(n) * n * F.col(f"sxy{k}")
                - wide(n) * s * (F.col(f"h{k}") + F.col(f"t{k}"))
                + (n - k) * (wide(s) * s)).cast("double")

    qsum = None
    for k in range(1, _LB_LAGS + 1):
        rho = g(k) / F.col("g0")
        term = rho * rho / (F.col("n") - k)
        qsum = term if qsum is None else qsum + term
    return base.select(
        "n", F.lit(_LB_LAGS).cast("bigint").alias("df"),
        F.round(g(1) / F.col("g0"), 6).alias("rho1"),
        F.round((F.col("n").cast("double") * (F.col("n") + 2)) * qsum, 4)
         .alias("q_stat"))


# ------------------------------------- likelihood-ratio G-test

@query("stats_g_test", oracle=f"""
    WITH rows_ AS (
        SELECT event_type AS et,
               CAST(((date_diff('day', DATE '1995-01-02',
                                CAST(ts AS DATE)) % 7) + 7) % 7
                    AS INTEGER) AS dow
        FROM events
    ),
    obs AS (
        SELECT et, dow, CAST(count(*) AS BIGINT) AS o
        FROM rows_ GROUP BY 1, 2
    ),
    marg AS (
        SELECT et, dow, o,
               sum(o) OVER (PARTITION BY et)  AS r,
               sum(o) OVER (PARTITION BY dow) AS c,
               sum(o) OVER ()                 AS n
        FROM obs
    ),
    gsum AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST((count(DISTINCT et) - 1)
                    * (count(DISTINCT dow) - 1) AS BIGINT) AS df,
               round(2.0 * {units_sum_sql(
                               'o * ln((CAST(o AS DOUBLE)'
                               ' * CAST(n AS DOUBLE)) / (CAST(r AS DOUBLE)'
                               ' * CAST(c AS DOUBLE)))', 1e6)} / 1e6, 5) AS g_stat
        FROM marg
    )
    SELECT n, df, g_stat,
           round({chi2_sf_sql('g_stat', 'df')}, 8) AS p_value
    FROM gsum
""")
def stats_g_test(spark, sf_dir):
    """Likelihood-ratio G-test of independence on the event-type x
    weekday contingency table: G = 2 * sum O*ln(O*N/(R*C)), the
    log-likelihood-ratio twin of Pearson's chi-square (additive across
    table partitions — the right choice when cells will be drilled
    into). Weekday uses the repo's pmod days-since-Monday rule.

    Determinism: O/R/C/N are exact integers; each cell's O*ln(.) term
    snaps to 1e6 fixed-point BEFORE the cross-cell sum (ln is not
    correctly rounded, so the snap absorbs last-ulp libm differences —
    the text_kl_matrix protocol); absent cells (O=0) contribute
    exactly their true limit, 0. G snaps at 5dp, THEN the p-value maps
    G/df through Wilson-Hilferty into the A-S erfc polynomial (the
    stats_kruskal_wallis protocol, snapped input => stable output).

    Scale shape: one (et, dow) count aggregate (map-side combined; the
    grid is ~35 cells regardless of corpus size) + margins via windows
    over the bounded cell table + a 1-row reduce."""
    rows = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        F.pmod(F.datediff(F.col("ts").cast("date"),
                          F.lit("1995-01-02").cast("date")), 7)
        .cast("int").alias("dow"))
    obs = rows.groupBy("et", "dow").agg(F.count("*").alias("o"))
    marg = obs.select(
        "et", "dow", "o",
        F.sum("o").over(Window.partitionBy("et")).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).alias("c"),
        F.sum("o").over(
            Window.partitionBy(F.lit(1))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)).alias("n"))
    term = F.round(
        F.col("o") * F.log(
            (F.col("o").cast("double") * F.col("n").cast("double"))
            / (F.col("r").cast("double") * F.col("c").cast("double")))
        * 1e6).cast("bigint")
    gsum = marg.agg(
        F.max("n").alias("n"),
        ((F.countDistinct("et") - 1) * (F.countDistinct("dow") - 1))
        .cast("bigint").alias("df"),
        F.round(2.0 * F.sum(term) / 1e6, 5).alias("g_stat"))
    return gsum.select("n", "df", "g_stat",
                       F.round(chi2_sf(F.col("g_stat"),
                                       F.col("df").cast("double")), 8)
                       .alias("p_value"))
