"""Classical-inference completion pack (round 5, batch 57): one-way
ANCOVA, Engle's ARCH LM test, Spearman-Brown split-half reliability,
and Mood's median test. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators:

- ANCOVA (Fisher 1932): the group F test AFTER regressing out a
  covariate — order value differs by weekday, but is that still true
  once order SIZE (quantity) is adjusted for? The adjusted
  comparison every segment readout silently needs.
- ARCH LM (Engle 1982): do squared returns predict tomorrow's
  squared returns? Volatility clustering breaks every i.i.d.-based
  interval in the repo's return keys; this is the one-lag LM gate.
- Spearman-Brown (1910): from a split-half correlation, the
  projected reliability of the full-length instrument — the
  psychometric prophecy formula that pairs with
  stats_cronbach_alpha.
- Mood's median test (Mood 1950): k groups, one grand median,
  above/below counts, one chi-square — cruder than Kruskal-Wallis
  but robust to ANY monotone contamination of the scale.

Determinism contract (SURVEY §4.3): all moment/cell counts are exact
integers (HUGEINT/DECIMAL(38,0) products); the grand median is an
exact order statistic; F/LM/chi2 are fixed expressions over exact
sums; p-values map through Wilson-Hilferty / A-S erfc on snapped
statistics."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import (
    chi2_sf, chi2_sf_sql, comoment, comoment_sql, erfc, erfc_sql,
    fixed_sum_sql, units_sum, units_sum_sql, wide, wide_sql)
from .registry import query
from .relational import T


# ------------------------------------------------------ ANCOVA

@query("stats_ancova", oracle=f"""
    WITH rows_ AS (
        SELECT CAST(((date_diff('day', DATE '1995-01-02',
                                CAST(l.l_shipdate AS DATE)) % 7) + 7)
                    % 7 AS INTEGER) AS g,
               CAST(round(l.l_quantity) AS BIGINT) AS x,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem l
    ),
    grp AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x)')} AS sx,
               {wide_sql('sum(y)')} AS sy,
               sum({wide_sql('x')} * x) AS sxx,
               sum({wide_sql('x')} * y) AS sxy,
               sum({wide_sql('y')} * y) AS syy
        FROM rows_ GROUP BY g
    ),
    pooled AS (
        -- within-group centered cross moments, snapped to whole
        -- cents^2 units per group (finer scales overflow BIGINT)
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nt,
               {units_sum_sql(
                   f'CAST({comoment_sql("n", "sxx", "sx", "sx")}'
                   ' AS DOUBLE) / n')}
                   * 1.0 AS wxx,
               {units_sum_sql(
                   f'CAST({comoment_sql("n", "sxy", "sx", "sy")}'
                   ' AS DOUBLE) / n')}
                   * 1.0 AS wxy,
               {units_sum_sql(
                   f'CAST({comoment_sql("n", "syy", "sy", "sy")}'
                   ' AS DOUBLE) / n')}
                   * 1.0 AS wyy
        FROM grp
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n,
               {wide_sql('sum(sx)')} AS sx,
               {wide_sql('sum(sy)')} AS sy,
               {wide_sql('sum(sxx)')} AS sxx,
               {wide_sql('sum(sxy)')} AS sxy,
               {wide_sql('sum(syy)')} AS syy
        FROM grp
    ),
    ss AS (
        SELECT pooled.k, pooled.nt,
               pooled.wyy - pooled.wxy * pooled.wxy / pooled.wxx
                   AS sse_w,
               (CAST({comoment_sql('tot.n', 'tot.syy', 'tot.sy', 'tot.sy')}
                     AS DOUBLE) / tot.n)
               - (CAST({comoment_sql('tot.n', 'tot.sxy', 'tot.sx', 'tot.sy')}
                       AS DOUBLE) / tot.n)
                 * (CAST({comoment_sql('tot.n', 'tot.sxy', 'tot.sx', 'tot.sy')}
                         AS DOUBLE) / tot.n)
                 / (CAST({comoment_sql('tot.n', 'tot.sxx', 'tot.sx', 'tot.sx')}
                         AS DOUBLE) / tot.n)
                   AS sse_t
        FROM pooled, tot
    )
    SELECT k AS k_groups, nt AS n,
           round(((sse_t - sse_w) / (k - 1))
                 / (sse_w / (nt - k - 1)), 4) AS f_adjusted
    FROM ss
""")
def stats_ancova(spark, sf_dir):
    """One-way ANCOVA: does line revenue differ by ship WEEKDAY after
    adjusting for QUANTITY (the covariate that mechanically drives
    revenue)? F = ((SSE_total - SSE_within)/(k-1)) /
    (SSE_within/(N-k-1)), where each SSE is the residual sum of
    squares from the covariate regression — pooled within groups vs
    one total fit. The unadjusted weekday ANOVA (stats_anova_f)
    confounds day effects with day-to-day quantity mix; this is the
    adjusted readout.

    Per-group moment sums are exact HUGEINT/DECIMAL(38,0); the
    within-group centered quadratics snap to whole cents^2 units per
    group before pooling (unequal n; finer scales overflow BIGINT);
    the total-fit quadratics stay in exact n-multiplied forms; F is
    one fixed expression. Slopes are assumed common (the ANCOVA
    textbook assumption; the per-group-slope interaction test is the
    stats_anova_twoway family's job).

    Scale shape: ONE (weekday) moment aggregate + two 1-row
    reduces."""
    rows_ = T(spark, sf_dir, "lineitem").select(
        F.pmod(F.datediff(F.col("l_shipdate").cast("date"),
                          F.lit("1995-01-02").cast("date")), 7)
        .cast("int").alias("g"),
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("y"))
    grp = rows_.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(wide("x") * F.col("x")).alias("sxx"),
        F.sum(wide("x") * F.col("y")).alias("sxy"),
        F.sum(wide("y") * F.col("y")).alias("syy"))

    def cw(q, sa, sb):
        # whole cents^2 units: a 1e2 scale overflows BIGINT on the
        # y-quadratic at corpus magnitudes; unit granularity on ~1e17
        # sums is 1e-17 relative -- far beyond the 4dp F round
        return F.round(comoment("n", q, sa, sb).cast("double") / F.col("n")) \
            .cast("bigint")

    pooled = grp.agg(
        F.count("*").alias("k"), F.sum("n").alias("nt"),
        (F.sum(cw("sxx", "sx", "sx")) * 1.0).alias("wxx"),
        (F.sum(cw("sxy", "sx", "sy")) * 1.0).alias("wxy"),
        (F.sum(cw("syy", "sy", "sy")) * 1.0).alias("wyy"))
    tot = grp.agg(F.sum("n").alias("n"),
                  F.sum("sx").alias("sx"), F.sum("sy").alias("sy"),
                  F.sum("sxx").alias("sxx"), F.sum("sxy").alias("sxy"),
                  F.sum("syy").alias("syy"))
    cyy = comoment("n", "syy", "sy", "sy").cast("double") / F.col("n")
    cxy = comoment("n", "sxy", "sx", "sy").cast("double") / F.col("n")
    cxx = comoment("n", "sxx", "sx", "sx").cast("double") / F.col("n")
    tt = tot.select((cyy - cxy * cxy / cxx).alias("sse_t"))
    ss = pooled.crossJoin(F.broadcast(tt))
    sse_w = F.col("wyy") - F.col("wxy") * F.col("wxy") / F.col("wxx")
    return ss.select(
        F.col("k").alias("k_groups"), F.col("nt").alias("n"),
        F.round(((F.col("sse_t") - sse_w) / (F.col("k") - 1))
                / (sse_w / (F.col("nt") - F.col("k") - 1)), 4)
        .alias("f_adjusted"))


# ------------------------------------------------------ ARCH LM

@query("ts_arch_lm", oracle=f"""
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
    sq AS (
        SELECT d, {wide_sql('r')} * r AS r2,
               lag({wide_sql('r')} * r) OVER (ORDER BY d) AS r2l
        FROM lr WHERE r IS NOT NULL
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(r2)')} AS sy,
               {wide_sql('sum(r2l)')} AS sx,
               sum(r2 * r2) AS syy,
               sum(r2l * r2l) AS sxx,
               sum(r2 * r2l) AS sxy
        FROM sq WHERE r2l IS NOT NULL
    ),
    lm AS (
        SELECT n,
               round(n * (CAST(n * sxy - sx * sy AS DOUBLE)
                          * CAST(n * sxy - sx * sy AS DOUBLE))
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 4)
                   AS lm_stat
        FROM st
    )
    SELECT n, lm_stat,
           round({erfc_sql('sqrt(lm_stat / 2.0)')}, 8)
               AS p_value
    FROM lm
""")
def ts_arch_lm(spark, sf_dir):
    """Engle's ARCH LM test, one lag (Engle 1982): regress today's
    SQUARED daily log return on yesterday's; LM = n * R^2 is
    chi-square(1) under no-ARCH. Volatility clustering (significant
    LM) invalidates every constant-variance interval around the
    repo's return statistics (ts_risk_adjusted_returns,
    ts_var_cvar) — this is the gate that says whether those numbers
    need GARCH-style caveats. The squared-series twin of
    ts_ljung_box (which tests the LEVELS).

    Returns snap to micro-int at the lag step; squared returns and
    all five aux moments are exact HUGEINT/DECIMAL(38,0) integers
    off one more lag pass; LM is the exact-moment R^2 form (the
    stats_breusch_pagan machinery pointed at time).

    Scale shape: day-spine collapse + two lag windows + a 1-row
    reduce."""
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
    sq = (lr.select(
        "d",
        (wide("r") * F.col("r")).alias("r2"))
        .select("d", "r2",
                F.lag("r2").over(Window.orderBy("d")).alias("r2l"))
        .filter(F.col("r2l").isNotNull()))
    st = sq.agg(
        F.count("*").alias("n"),
        F.sum("r2").alias("sy"), F.sum("r2l").alias("sx"),
        F.sum(F.col("r2") * F.col("r2")).alias("syy"),
        F.sum(F.col("r2l") * F.col("r2l")).alias("sxx"),
        F.sum(F.col("r2") * F.col("r2l")).alias("sxy"))
    num = comoment("n", "sxy", "sx", "sy").cast("double")
    lm = st.select(
        "n",
        F.round(F.col("n") * (num * num)
                / (comoment("n", "sxx", "sx", "sx").cast("double")
                   * comoment("n", "syy", "sy", "sy")
                   .cast("double")), 4).alias("lm_stat"))
    return lm.select(
        "n", "lm_stat",
        F.round(erfc(F.sqrt(F.col("lm_stat") / 2.0)), 8)
        .alias("p_value"))


# ----------------------------------- Spearman-Brown split-half

@query("stats_split_half_reliability", oracle=f"""
    WITH per AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type IN ('click', 'view')
                        THEN 1 ELSE 0 END) AS BIGINT) AS h1,
               CAST(sum(CASE WHEN event_type IN ('purchase', 'signup')
                        THEN 1 ELSE 0 END) AS BIGINT) AS h2
        FROM events GROUP BY user_id
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(h1)')} AS s1,
               {wide_sql('sum(h2)')} AS s2,
               sum({wide_sql('h1')} * h1) AS q1,
               sum({wide_sql('h2')} * h2) AS q2,
               sum({wide_sql('h1')} * h2) AS q12
        FROM per
    ),
    rr AS (
        SELECT n,
               round(CAST(n * q12 - s1 * s2 AS DOUBLE)
                     / (sqrt(CAST(n * q1 - s1 * s1 AS DOUBLE))
                        * sqrt(CAST(n * q2 - s2 * s2 AS DOUBLE))), 6)
                   AS r_half
        FROM st
    )
    SELECT n, r_half,
           round(2.0 * r_half / (1.0 + r_half), 6) AS spearman_brown
    FROM rr
""")
def stats_split_half_reliability(spark, sf_dir):
    """Spearman-Brown split-half reliability (Spearman 1910; Brown
    1910) of the per-user engagement scale: correlate each user's
    two half-scores (clicks+views vs purchases+signups), then
    prophesy the full-length reliability r_full = 2r/(1+r) — the
    classical answer to "is this composite score stable enough to
    rank users by?", and the historical ancestor of
    stats_cronbach_alpha (alpha equals the average over all possible
    split halves; this key is ONE canonical split, cheap and
    interpretable).

    Half-scores are exact per-user counts; the correlation uses
    exact n-multiplied moment forms; r snaps at 6dp before the
    prophecy formula (snap, then consume).

    Scale shape: one per-user conditional aggregate + a 1-row
    reduce."""
    per = (T(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(F.sum(F.when(F.col("event_type")
                             .isin("click", "view"), 1).otherwise(0))
                .alias("h1"),
                F.sum(F.when(F.col("event_type")
                             .isin("purchase", "signup"), 1)
                      .otherwise(0)).alias("h2")))
    st = per.agg(
        F.count("*").alias("n"),
        F.sum("h1").alias("s1"), F.sum("h2").alias("s2"),
        F.sum(wide("h1") * F.col("h1")).alias("q1"),
        F.sum(wide("h2") * F.col("h2")).alias("q2"),
        F.sum(wide("h1") * F.col("h2")).alias("q12"))
    r = F.round(
        comoment("n", "q12", "s1", "s2").cast("double")
        / (F.sqrt(comoment("n", "q1", "s1", "s1").cast("double"))
           * F.sqrt(comoment("n", "q2", "s2", "s2").cast("double"))), 6)
    rr = st.select("n", r.alias("r_half"))
    return rr.select(
        "n", "r_half",
        F.round(2.0 * F.col("r_half") / (1.0 + F.col("r_half")), 6)
        .alias("spearman_brown"))


# -------------------------------------------- Mood's median test

@query("stats_mood_median", oracle=f"""
    WITH v AS (
        SELECT event_type AS grp,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    ranked AS (
        SELECT grp, c,
               CAST(row_number() OVER (ORDER BY c) AS BIGINT) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM v
    ),
    med AS (
        SELECT CAST(max(CASE WHEN 2 * rk = n OR 2 * rk = n + 1
                        THEN c END) AS BIGINT) AS gm
        FROM ranked
    ),
    cells AS (
        SELECT grp,
               CAST(sum(CASE WHEN c > gm THEN 1 ELSE 0 END) AS BIGINT)
                   AS above,
               CAST(sum(CASE WHEN c <= gm THEN 1 ELSE 0 END)
                    AS BIGINT) AS below
        FROM v, med GROUP BY grp
    ),
    tot AS (
        SELECT CAST(sum(above) AS BIGINT) AS ta,
               CAST(sum(below) AS BIGINT) AS tb,
               CAST(count(*) AS BIGINT) AS k
        FROM cells
    ),
    chi AS (
        SELECT tot.k,
               {fixed_sum_sql(
                   'pow(above - CAST(above + below AS DOUBLE) * ta / (ta'
                   ' + tb), 2) / (CAST(above + below AS DOUBLE) * ta / (ta'
                   ' + tb)) + pow(below - CAST(above + below AS DOUBLE) * tb'
                   ' / (ta + tb), 2) / (CAST(above + below AS DOUBLE) * tb'
                   ' / (ta + tb))', 1e8, 4)} AS chi2
        FROM cells, tot GROUP BY tot.k
    )
    SELECT k AS k_groups, chi2,
           round({chi2_sf_sql('chi2', '(k - 1)')}, 8) AS p_value
    FROM chi
""")
def stats_mood_median(spark, sf_dir):
    """Mood's median test over the 5 event types (Mood 1950): one
    grand median, per-group above/at-or-below counts, one chi-square
    over the 5x2 table — less powerful than Kruskal-Wallis but its
    only input is WHICH SIDE of the median each value falls on, so
    ANY monotone corruption of the scale (clipped sensors, saturated
    counters) leaves it untouched. The robustness floor of the
    k-group location family.

    The grand median is the exact lower/upper order statistic
    (2rk = n or n+1 — the stats_median_ci trick); cells are exact
    integers; each group's chi-square contribution snaps to 1e8
    before the sum; p maps chi2/(k-1) through Wilson-Hilferty (the
    stats_kruskal_wallis protocol).

    Scale shape: one rank pass for the median + one conditional
    aggregate + 1-row reduce; at 100 TB the median comes from the
    value histogram (the stats_qq_deciles shape)."""
    v = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = v.select(
        "c",
        F.row_number().over(Window.orderBy("c")).cast("bigint")
        .alias("rk"),
        F.count("*").over(wall).cast("bigint").alias("n"))
    med = ranked.agg(F.max(F.when(
        (2 * F.col("rk") == F.col("n"))
        | (2 * F.col("rk") == F.col("n") + 1), F.col("c")))
        .cast("bigint").alias("gm"))
    cells = (v.crossJoin(F.broadcast(med))
             .groupBy("grp")
             .agg(F.sum(F.when(F.col("c") > F.col("gm"), 1)
                        .otherwise(0)).alias("above"),
                  F.sum(F.when(F.col("c") <= F.col("gm"), 1)
                        .otherwise(0)).alias("below")))
    tot = cells.agg(F.sum("above").alias("ta"),
                    F.sum("below").alias("tb"),
                    F.count("*").alias("k"))
    j = cells.crossJoin(F.broadcast(tot))
    ea = (F.col("above") + F.col("below")).cast("double") \
        * F.col("ta") / (F.col("ta") + F.col("tb"))
    eb = (F.col("above") + F.col("below")).cast("double") \
        * F.col("tb") / (F.col("ta") + F.col("tb"))
    term = F.round(
        (F.pow(F.col("above") - ea, F.lit(2.0)) / ea
         + F.pow(F.col("below") - eb, F.lit(2.0)) / eb) * 1e8) \
        .cast("bigint")
    chi = j.groupBy("k").agg(
        F.round(F.sum(term) / 1e8, 4).alias("chi2"))
    return chi.select(F.col("k").alias("k_groups"), "chi2",
                      F.round(chi2_sf(F.col("chi2"),
                                      (F.col("k") - 1).cast("double")), 8)
                      .alias("p_value"))
