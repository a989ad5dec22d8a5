"""Trend / parametric-post-hoc / cost pack (round 5, batch 55): the
Cochran-Armitage trend test, Tukey's HSD panel, a cost-sensitive
threshold picker, and the survey design effect. The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has
none of this surface; these are Tier-C mission operators:

- Cochran-Armitage (Cochran 1954; Armitage 1955): does the purchase
  RATE trend monotonically across ordered value quintiles? The
  dose-response test a plain chi-square (which ignores order)
  cannot run.
- Tukey HSD (Tukey 1949): the parametric all-pairs post-hoc after
  ANOVA — studentized-range q per event-type pair against the fixed
  k=5 critical value (the nonparametric twin is stats_dunn_posthoc).
- Cost-sensitive threshold: with a false negative 5x as costly as a
  false positive, the accuracy-optimal cut is WRONG; this key sweeps
  the exact histogram for the expected-cost minimizer (the
  decision-theory layer over eval_youden_threshold).
- Design effect (Kish 1965): DEFF = 1 + (m-bar - 1) * ICC for
  user-clustered samples — how many i.i.d.-equivalent observations a
  clustered sample really contains; the correction every
  user-sampled metric needs before quoting a CI.

Determinism contract (SURVEY §4.3): quintile boundaries come from
exact integer rank thresholds; all cell/side counts are exact; q and
z statistics are fixed expressions over exact sums; cost sweep
argmins order on exact integer costs with smallest-threshold ties."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import (
    comoment, comoment_sql, erfc, erfc_sql, units_sum, units_sum_sql, wide,
    wide_sql)
from .registry import query
from .relational import T


# ------------------------------------------ Cochran-Armitage trend

@query("stats_cochran_armitage", oracle=f"""
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    vh AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM v
           GROUP BY c),
    cum AS (
        SELECT c,
               CAST(sum(cnt) OVER (ORDER BY c
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM vh
    ),
    qb AS (
        SELECT qs.q AS grp, CAST(min(cum.c) AS BIGINT) AS ub
        FROM cum JOIN (SELECT unnest([1, 2, 3, 4]) AS q) qs
            ON cum.cm >= (qs.q * cum.n + 4) // 5
        GROUP BY qs.q
    ),
    cells AS (
        SELECT least(4,
            (SELECT CAST(count(*) AS BIGINT) FROM qb
             WHERE qb.ub < v.c)) AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS r
        FROM v GROUP BY 1
    ),
    st AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(r) AS BIGINT) AS rr,
               CAST(sum(grp * r) AS BIGINT) AS sgr,
               CAST(sum(grp * n) AS BIGINT) AS sgn,
               sum({wide_sql('grp')} * grp * n) AS sggn
        FROM cells
    ),
    zz AS (
        SELECT nn,
               round((CAST(sgr AS DOUBLE)
                      - CAST(rr AS DOUBLE) * sgn / nn)
                     / sqrt(CAST(rr AS DOUBLE) * (nn - rr) / nn
                            * (CAST(sggn AS DOUBLE)
                               - CAST(sgn AS DOUBLE) * sgn / nn)
                            / nn), 5) AS z
        FROM st
    )
    SELECT nn AS n, z,
           round({erfc_sql('abs(zz.z) / sqrt(2.0)')}, 8)
               AS p_value
    FROM zz
""")
def stats_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test: does the purchase rate rise (or
    fall) MONOTONICALLY across the five value quintiles? Integer
    scores 0..4 on ordered groups give the dose-response z =
    (sum g r_g - R sum g n_g / N) / sqrt(R(N-R)/N * (sum g^2 n_g -
    (sum g n_g)^2/N) / N) — one degree of freedom pointed AT the
    ordering, which is why it beats the omnibus chi-square whenever
    the alternative is a trend.

    Quintile upper bounds come from exact integer rank thresholds
    ((q*n+4) DIV 5 — the stats_qq_deciles protocol); group
    assignment counts boundary-strict bounds below each value; all
    score sums are exact HUGEINT/DECIMAL(38,0); z snaps before the
    A-S erfc p.

    Scale shape: value histogram + prefix pass for boundaries + one
    (group) aggregate + 1-row reduce."""
    v = (T(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("purchase", "view"))
         .select(F.round(F.col("value") * 100).cast("bigint")
                 .alias("c"),
                 F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("y")))
    vh = v.groupBy("c").agg(F.count("*").alias("cnt"))
    cum = vh.select(
        "c",
        F.sum("cnt").over(Window.orderBy("c").rowsBetween(
            Window.unboundedPreceding, 0)).alias("cm"),
        F.sum("cnt").over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding,
                Window.unboundedFollowing)).alias("n"))
    qs = spark.range(1, 5).select(F.col("id").cast("int").alias("q"))
    qb = (cum.crossJoin(F.broadcast(qs))
          .filter(F.col("cm") >= F.expr("(q * n + 4) DIV 5"))
          .groupBy("q").agg(F.min("c").alias("ub")))
    bounds = qb.groupBy().pivot("q", [1, 2, 3, 4]).agg(F.min("ub"))
    cells = (v.crossJoin(F.broadcast(bounds))
             .select("y",
                     (F.when(F.col("c") <= F.col("1"), 0)
                      .when(F.col("c") <= F.col("2"), 1)
                      .when(F.col("c") <= F.col("3"), 2)
                      .when(F.col("c") <= F.col("4"), 3)
                      .otherwise(4)).alias("grp"))
             .groupBy("grp")
             .agg(F.count("*").alias("n"), F.sum("y").alias("r")))
    st = cells.agg(
        F.sum("n").alias("nn"), F.sum("r").alias("rr"),
        F.sum(F.col("grp") * F.col("r")).alias("sgr"),
        F.sum(F.col("grp") * F.col("n")).alias("sgn"),
        F.sum(wide("grp") * F.col("grp") * F.col("n"))
        .alias("sggn"))
    z = F.round(
        (F.col("sgr").cast("double")
         - F.col("rr").cast("double") * F.col("sgn") / F.col("nn"))
        / F.sqrt(F.col("rr").cast("double")
                 * (F.col("nn") - F.col("rr")) / F.col("nn")
                 * (F.col("sggn").cast("double")
                    - F.col("sgn").cast("double") * F.col("sgn")
                    / F.col("nn")) / F.col("nn")), 5)
    zz = st.select(F.col("nn").alias("n"), z.alias("z"))
    return zz.select(
        "n", "z",
        F.round(erfc(F.abs(F.col("z")) / F.sqrt(F.lit(2.0))), 8)
        .alias("p_value"))


# ------------------------------------------------ Tukey HSD panel

@query("stats_tukey_hsd", oracle=f"""
    WITH v AS (
        SELECT event_type AS grp,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    st AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s,
               sum({wide_sql('c')} * c) AS q
        FROM v GROUP BY grp
    ),
    mse AS (
        -- pooled MSW = sum_g SS_g / (N - k); each group's
        -- SS_g = (n*q - s^2)/n snaps to 1e-2 cents^2 units before
        -- the 5-term sum
        SELECT {units_sum_sql(
                   f'CAST({comoment_sql("n", "q", "s", "s")} AS DOUBLE) / n',
                   1e2)} / 1e2
               / CAST(sum(n) - count(*) AS DOUBLE) AS s2w,
               CAST(sum(n) - count(*) AS BIGINT) AS df_w
        FROM st
    )
    SELECT a.grp AS grp_a, b.grp AS grp_b,
           round((CAST(a.s AS DOUBLE) / a.n
                  - CAST(b.s AS DOUBLE) / b.n) / 100.0, 4)
               AS mean_diff,
           round(abs(CAST(a.s AS DOUBLE) / a.n
                     - CAST(b.s AS DOUBLE) / b.n)
                 / sqrt(mse.s2w / 2.0
                        * (1.0 / a.n + 1.0 / b.n)), 4) AS q_stat,
           CASE WHEN round(abs(CAST(a.s AS DOUBLE) / a.n
                               - CAST(b.s AS DOUBLE) / b.n)
                      / sqrt(mse.s2w / 2.0
                             * (1.0 / a.n + 1.0 / b.n)), 4) > 3.86
                THEN 1 ELSE 0 END AS significant_05
    FROM st a JOIN st b ON a.grp < b.grp CROSS JOIN mse
    ORDER BY grp_a, grp_b
""")
def stats_tukey_hsd(spark, sf_dir):
    """Tukey HSD all-pairs panel over the 5 event types (Tukey 1949):
    the studentized-range q = |mean_i - mean_j| / sqrt(MSE/2 *
    (1/n_i + 1/n_j)) (Tukey-Kramer unequal-n form) for every pair,
    flagged against the fixed q_{0.05}(5, inf) = 3.86 critical value
    (df_within is corpus-sized, so the asymptotic critical value is
    exact for all practical purposes — documented). The parametric
    post-hoc that controls the FAMILY error rate where 10 t-tests
    would not; stats_dunn_posthoc is its rank-based twin.

    Group moments are exact integer power sums; the pooled MSE is
    one ratio of exact HUGEINT/DECIMAL(38,0) sums (sum of per-group
    n-multiplied SS over sum n(n-1)); each q is a fixed expression;
    the significance flag reads the SNAPPED q against the literal.

    Scale shape: ONE group aggregate + a bounded 5x5 self-join."""
    v = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    st = v.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("c").alias("s"),
        F.sum(wide("c") * F.col("c")).alias("q"))
    mse = st.agg(
        (units_sum(comoment("n", "q", "s", "s")
                       .cast("double") / F.col("n"), 1e2) / 1e2
         / (F.sum("n") - F.count("*")).cast("double")).alias("s2w"),
        (F.sum("n") - F.count("*")).alias("df_w"))
    a = st.select(F.col("grp").alias("grp_a"),
                  F.col("n").alias("na"), F.col("s").alias("sa"))
    b = st.select(F.col("grp").alias("grp_b"),
                  F.col("n").alias("nb"), F.col("s").alias("sb"))
    pairs = (a.join(b, F.col("grp_a") < F.col("grp_b"))
             .crossJoin(F.broadcast(mse)))
    ma = F.col("sa").cast("double") / F.col("na")
    mb = F.col("sb").cast("double") / F.col("nb")
    qstat = F.round(
        F.abs(ma - mb) / F.sqrt(F.col("s2w") / 2.0
                                * (1.0 / F.col("na")
                                   + 1.0 / F.col("nb"))), 4)
    return (pairs.select(
        "grp_a", "grp_b",
        F.round((ma - mb) / 100.0, 4).alias("mean_diff"),
        qstat.alias("q_stat"),
        F.when(qstat > 3.86, 1).otherwise(0).alias("significant_05"))
        .orderBy("grp_a", "grp_b"))


# -------------------------------------------- cost-optimal threshold

@query("ml_cost_threshold", oracle="""
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS b,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    hist AS (
        SELECT b, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(y) AS BIGINT) AS pos
        FROM v GROUP BY b
    ),
    sweep AS (
        -- predict positive ABOVE the threshold; FN cost 5, FP cost 1
        SELECT b AS thr,
               5 * pl + (ct - cl - (pt - pl)) AS cost
        FROM (
            SELECT b,
                   CAST(sum(cnt) OVER (ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cl,
                   CAST(sum(pos) OVER (ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pl,
                   CAST(sum(cnt) OVER () AS BIGINT) AS ct,
                   CAST(sum(pos) OVER () AS BIGINT) AS pt
            FROM hist
        )
    ),
    base AS (
        SELECT CAST(sum(pos) AS BIGINT) AS pt,
               CAST(sum(cnt) AS BIGINT) AS ct,
               CAST(min(b) AS BIGINT) AS bmin
        FROM hist
    ),
    full_sweep AS (
        SELECT thr, cost FROM sweep
        UNION ALL
        -- the all-positive endpoint (threshold below every bucket)
        SELECT bmin - 1, ct - pt FROM base
    ),
    best AS (
        SELECT thr, cost FROM full_sweep
        ORDER BY cost ASC, thr ASC LIMIT 1
    )
    SELECT best.thr AS threshold,
           best.cost AS expected_cost,
           least(5 * base.pt, base.ct - base.pt) AS trivial_cost,
           round(1.0 - CAST(best.cost AS DOUBLE)
                 / least(5 * base.pt, base.ct - base.pt), 6)
               AS cost_reduction
    FROM best, base
""")
def ml_cost_threshold(spark, sf_dir):
    """Cost-sensitive decision threshold for the purchase-vs-view
    value classifier: with a missed purchase (FN) costing 5 and a
    false alarm (FP) costing 1, sweep the exact $10-bucket histogram
    for the threshold minimizing total cost 5*FN + FP — which lands
    FAR from both the accuracy optimum and Youden's J
    (eval_youden_threshold maximizes sensitivity+specificity with
    equal costs; real operations rarely have equal costs).
    cost_reduction benchmarks against the best TRIVIAL policy
    (always-positive vs always-negative, whichever is cheaper) — an
    honest baseline, since with asymmetric costs 'always positive'
    can be surprisingly competitive.

    Cumulative FN/FP counts are exact integers off one ordered pass;
    the argmin orders on EXACT integer cost with smallest-threshold
    ties — no float enters the selection.

    Scale shape: ONE histogram aggregate + one ordered pass +
    TakeOrdered(1)."""
    v = (T(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("purchase", "view"))
         .select(F.expr("CAST(round(value * 100) AS BIGINT)"
                        " DIV 1000").alias("b"),
                 F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("y")))
    hist = v.groupBy("b").agg(F.count("*").alias("cnt"),
                              F.sum("y").alias("pos"))
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    sweep = (hist.select(
        F.col("b").alias("thr"),
        (5 * F.sum("pos").over(wc)
         + (F.sum("cnt").over(wt) - F.sum("cnt").over(wc)
            - (F.sum("pos").over(wt) - F.sum("pos").over(wc))))
        .alias("cost")))
    base = hist.agg(F.sum("pos").alias("pt"), F.sum("cnt").alias("ct"),
                    F.min("b").alias("bmin"))
    allpos = base.select((F.col("bmin") - 1).alias("thr"),
                         (F.col("ct") - F.col("pt")).alias("cost"))
    best = (sweep.unionAll(allpos)
            .orderBy(F.col("cost").asc(), F.col("thr").asc())
            .limit(1))
    trivial = F.least(5 * F.col("pt"), F.col("ct") - F.col("pt"))
    return (best.crossJoin(F.broadcast(base))
            .select(F.col("thr").alias("threshold"),
                    F.col("cost").alias("expected_cost"),
                    trivial.alias("trivial_cost"),
                    F.round(1.0 - F.col("cost").cast("double")
                            / trivial, 6).alias("cost_reduction")))


# ------------------------------------------------- design effect

@query("stats_design_effect", oracle=f"""
    WITH per AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    grp AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS m,
               CAST(sum(c) AS BIGINT) AS sg,
               sum({wide_sql('c')} * c) AS qg
        FROM per GROUP BY user_id
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS g,
               CAST(sum(m) AS BIGINT) AS n,
               {wide_sql('sum(sg)')} AS t,
               {wide_sql('sum(qg)')} AS q,
               {units_sum_sql('CAST(sg AS DOUBLE) * sg / m', 1e2)} AS ssg_u
        FROM grp
    ),
    anova AS (
        SELECT g, n,
               (CAST(ssg_u AS DOUBLE) / 1e2
                - CAST(t AS DOUBLE) * t / n) / (g - 1) AS msb,
               (CAST(q AS DOUBLE) - CAST(ssg_u AS DOUBLE) / 1e2)
               / (n - g) AS msw,
               CAST(n AS DOUBLE) / g AS mbar
        FROM st
    ),
    icc AS (
        SELECT g, n, mbar,
               (msb - msw) / (msb + (mbar - 1.0) * msw) AS rho
        FROM anova
    )
    SELECT g AS n_users, n AS n_events,
           round(rho, 6) AS icc,
           round(1.0 + (mbar - 1.0) * rho, 4) AS deff,
           round(n / (1.0 + (mbar - 1.0) * rho), 1) AS n_effective
    FROM icc
""")
def stats_design_effect(spark, sf_dir):
    """Kish design effect for user-clustered sampling (Kish 1965):
    DEFF = 1 + (m-bar - 1) * ICC, where ICC is the one-way ANOVA
    intraclass correlation of event values within users (ANOVA
    estimator with the average cluster size m-bar) — how much wider
    a per-user-sampled metric's CI really is, and n_effective = n /
    DEFF, the i.i.d.-equivalent sample the CI should be computed
    from. The honesty correction behind stats_delta_method_ratio's
    clustered SEs, exposed as its own auditable number.

    Per-user (m, sum, sum-of-squares) are exact integers; the
    between-group sum of sg^2/m snaps to 1e-2 units (unequal m, so
    the exact-DIV trick does not apply; the snap keeps the unordered
    sum exact); MSB/MSW/ICC/DEFF are fixed expressions over the
    snapped state.

    Scale shape: one per-user aggregate + ONE 1-row reduce."""
    per = T(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    grp = per.groupBy("user_id").agg(
        F.count("*").alias("m"), F.sum("c").alias("sg"),
        F.sum(wide("c") * F.col("c")).alias("qg"))
    st = grp.agg(
        F.count("*").alias("g"), F.sum("m").alias("n"),
        F.sum("sg").alias("t"), F.sum("qg").alias("q"),
        units_sum(F.col("sg").cast("double") * F.col("sg")
                      / F.col("m"), 1e2)
        .alias("ssg_u"))
    msb = ((F.col("ssg_u").cast("double") / 1e2
            - F.col("t").cast("double") * F.col("t") / F.col("n"))
           / (F.col("g") - 1))
    msw = ((F.col("q").cast("double")
            - F.col("ssg_u").cast("double") / 1e2)
           / (F.col("n") - F.col("g")))
    mbar = F.col("n").cast("double") / F.col("g")
    anova = st.select("g", "n", msb.alias("msb"), msw.alias("msw"),
                      mbar.alias("mbar"))
    rho = ((F.col("msb") - F.col("msw"))
           / (F.col("msb") + (F.col("mbar") - 1.0) * F.col("msw")))
    icc = anova.select("g", "n", "mbar", rho.alias("rho"))
    return icc.select(
        F.col("g").alias("n_users"), F.col("n").alias("n_events"),
        F.round(F.col("rho"), 6).alias("icc"),
        F.round(1.0 + (F.col("mbar") - 1.0) * F.col("rho"), 4)
        .alias("deff"),
        F.round(F.col("n")
                / (1.0 + (F.col("mbar") - 1.0) * F.col("rho")), 1)
        .alias("n_effective"))
