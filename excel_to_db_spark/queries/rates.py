"""Rate-comparison / resampling pack (round 5, batch 41): the
two-sample Poisson rate-ratio test, the two-proportion z test, a
leave-one-group-out jackknife standard error for a ratio estimator,
and Cohen's h effect size. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators — the A/B-readout
batch that complements the repo's CUPED/SRM/MDE experiment keys:

- Poisson rate ratio (Przyborowski & Wilenski 1940 lineage): are two
  event streams firing at the same rate over a common exposure? The
  log-ratio z with 1/c1 + 1/c2 variance.
- Two-proportion z: the textbook conversion-rate comparison, pooled
  variance under H0, unpooled for the CI.
- Jackknife SE (Quenouille 1956; Tukey 1958): the ratio estimator
  revenue-per-order has no closed-form variance; leave-one-NATION-out
  pseudo-values give a group-robust SE in ONE pass over group sums —
  the resampling pattern that actually distributes (no row resamples).
- Cohen's h (Cohen 1988): the arcsine-stabilized effect size for
  proportions — the "is this difference MATERIAL" readout a bare
  p-value hides.

Determinism contract (SURVEY §4.3): counts and group sums are exact
integers; leave-one-out thetas snap to 1e6 before deviation algebra
(exact BIGINT/DECIMAL forms after the snap); z/CI/h are fixed float
expressions over exact or snapped inputs; proportions snap at 8dp
before asin (snap, then consume); p-values use the A-S erfc
polynomial on snapped z."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..numerics import (
    comoment, erfc, erfc_sql, units_sum, units_sum_sql, wide, wide_sql)
from .registry import query
from .relational import T


# ------------------------------------------ Poisson two-rate test

@query("stats_poisson_two_rate", oracle=f"""
    WITH st AS (
        SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS BIGINT) AS c2
        FROM events
    ),
    zz AS (
        SELECT c1, c2,
               round(CAST(c1 AS DOUBLE) / c2, 6) AS rate_ratio,
               round(ln(CAST(c1 AS DOUBLE) / c2)
                     / sqrt(1.0 / c1 + 1.0 / c2), 5) AS z,
               sqrt(1.0 / c1 + 1.0 / c2) AS se
        FROM st
    )
    SELECT c1, c2, rate_ratio, z,
           round(exp(ln(CAST(c1 AS DOUBLE) / c2) - 1.96 * se), 6)
               AS rr_lo,
           round(exp(ln(CAST(c1 AS DOUBLE) / c2) + 1.96 * se), 6)
               AS rr_hi,
           round({erfc_sql('abs(z) / sqrt(2.0)')}, 8)
               AS p_value
    FROM zz
""")
def stats_poisson_two_rate(spark, sf_dir):
    """Two-sample Poisson rate-ratio test: do clicks and purchases
    arrive at the same rate over the shared 30-day exposure? The
    common exposure cancels, so the statistic is the count-only
    log-ratio z = ln(c1/c2)/sqrt(1/c1 + 1/c2) with the standard
    delta-method CI exp(ln RR +- 1.96 se) — the incident-rate
    comparison every error-budget and alert-volume review runs.

    c1/c2 are exact conditional counts; z snaps at 5dp before the
    A-S erfc two-sided p (snap, then consume); the CI re-derives
    from the exact counts in a fixed IEEE expression (ln/exp wiggle
    sits far below the 6dp round).

    Scale shape: ONE conditional-count aggregate — two integers
    out."""
    st = T(spark, sf_dir, "events").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("c2"))
    lnrr = F.log(F.col("c1").cast("double") / F.col("c2"))
    se = F.sqrt(1.0 / F.col("c1") + 1.0 / F.col("c2"))
    zz = st.select(
        "c1", "c2",
        F.round(F.col("c1").cast("double") / F.col("c2"), 6)
        .alias("rate_ratio"),
        F.round(lnrr / se, 5).alias("z"),
        (lnrr - 1.96 * se).alias("lo_ln"),
        (lnrr + 1.96 * se).alias("hi_ln"))
    return zz.select(
        "c1", "c2", "rate_ratio", "z",
        F.round(F.exp(F.col("lo_ln")), 6).alias("rr_lo"),
        F.round(F.exp(F.col("hi_ln")), 6).alias("rr_hi"),
        F.round(erfc(F.abs(F.col("z")) / F.sqrt(F.lit(2.0))), 8)
        .alias("p_value"))


# --------------------------------------------- two-proportion z test

_CONV_SQL = """
    SELECT ((user_id % 2) + 2) % 2 AS seg,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS BIGINT) AS conv
    FROM events GROUP BY user_id, date_trunc('day', ts)
"""


@query("stats_two_prop_z", oracle=f"""
    WITH conv AS ({_CONV_SQL}),
    st AS (
        SELECT CAST(sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN seg = 0 THEN conv ELSE 0 END)
                    AS BIGINT) AS x1,
               CAST(sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2,
               CAST(sum(CASE WHEN seg = 1 THEN conv ELSE 0 END)
                    AS BIGINT) AS x2
        FROM conv
    ),
    zz AS (
        SELECT n1, x1, n2, x2,
               round(CAST(x1 AS DOUBLE) / n1, 8) AS p1,
               round(CAST(x2 AS DOUBLE) / n2, 8) AS p2,
               round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                     / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                            * (1.0 - CAST(x1 + x2 AS DOUBLE)
                               / (n1 + n2))
                            * (1.0 / n1 + 1.0 / n2)), 5) AS z
        FROM st
    )
    SELECT n1, n2, p1, p2, z,
           round((p1 - p2)
                 - 1.96 * sqrt(p1 * (1.0 - p1) / n1
                               + p2 * (1.0 - p2) / n2), 6) AS diff_lo,
           round((p1 - p2)
                 + 1.96 * sqrt(p1 * (1.0 - p1) / n1
                               + p2 * (1.0 - p2) / n2), 6) AS diff_hi,
           round({erfc_sql('abs(z) / sqrt(2.0)')}, 8)
               AS p_value
    FROM zz
""")
def stats_two_prop_z(spark, sf_dir):
    """Two-proportion z test on per-user purchase conversion between
    the even/odd user segments: pooled-variance z under H0 (the
    textbook form), unpooled Wald CI for the difference — the
    conversion-rate readout behind every A/B dashboard (the repo's
    stats_srm_check guards the denominator split; this key reads the
    numerators).

    Conversion is per USER-DAY (max of the purchase indicator over
    each user's day — every user converts at least once over the full
    window, so the user grain is degenerate at p = 1; the user-day
    grain has a scale-stable ~35% base rate). n1/x1/n2/x2 are exact
    integers off one (user, day) collapse. p1/p2 snap at 8dp, z at
    5dp before the A-S erfc p (snap, then consume); the CI consumes
    the snapped p1/p2. (User-day units are correlated within user —
    the repo's stats_delta_method_ratio key handles that clustering;
    this key is the textbook iid form.)

    Scale shape: one (user, day) aggregate + ONE 1-row conditional
    reduce."""
    conv = (T(spark, sf_dir, "events")
            .groupBy("user_id",
                     F.date_trunc("day", F.col("ts")).alias("d"))
            .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("conv"))
            .select(F.pmod(F.col("user_id"), 2).alias("seg"), "conv"))
    st = conv.agg(
        F.sum(F.when(F.col("seg") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("seg") == 0, F.col("conv")).otherwise(0))
        .alias("x1"),
        F.sum(F.when(F.col("seg") == 1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("seg") == 1, F.col("conv")).otherwise(0))
        .alias("x2"))
    pp = (F.col("x1") + F.col("x2")).cast("double") \
        / (F.col("n1") + F.col("n2"))
    zz = st.select(
        "n1", "n2",
        F.round(F.col("x1").cast("double") / F.col("n1"), 8)
        .alias("p1"),
        F.round(F.col("x2").cast("double") / F.col("n2"), 8)
        .alias("p2"),
        F.round((F.col("x1").cast("double") / F.col("n1")
                 - F.col("x2").cast("double") / F.col("n2"))
                / F.sqrt(pp * (1.0 - pp)
                         * (1.0 / F.col("n1") + 1.0 / F.col("n2"))), 5)
        .alias("z"))
    sediff = F.sqrt(F.col("p1") * (1.0 - F.col("p1")) / F.col("n1")
                    + F.col("p2") * (1.0 - F.col("p2")) / F.col("n2"))
    return zz.select(
        "n1", "n2", "p1", "p2", "z",
        F.round((F.col("p1") - F.col("p2")) - 1.96 * sediff, 6)
        .alias("diff_lo"),
        F.round((F.col("p1") - F.col("p2")) + 1.96 * sediff, 6)
        .alias("diff_hi"),
        F.round(erfc(F.abs(F.col("z")) / F.sqrt(F.lit(2.0))), 8)
        .alias("p_value"))


# ------------------------------------------- jackknife SE of a ratio

@query("stats_jackknife_se", oracle=f"""
    WITH grp AS (
        SELECT c.c_nationkey AS g,
               {units_sum_sql('o.o_totalprice', 100)} AS s_g,
               CAST(count(*) AS BIGINT) AS c_g
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(s_g) AS BIGINT) AS s,
               CAST(sum(c_g) AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS g
        FROM grp
    ),
    loo AS (
        SELECT CAST(round(CAST(s - s_g AS DOUBLE) / (c - c_g) * 1e6)
                    AS BIGINT) AS th_u
        FROM grp, tot
    ),
    jk AS (
        SELECT CAST(count(*) AS BIGINT) AS g,
               {wide_sql('sum(th_u)')} AS s1,
               sum({wide_sql('th_u')} * th_u) AS s2
        FROM loo
    )
    SELECT tot.g AS n_groups,
           round(CAST(tot.s AS DOUBLE) / tot.c / 100.0, 4) AS theta,
           round(sqrt((CAST(jk.g - 1 AS DOUBLE) / jk.g)
                      * (CAST(jk.g * s2 - s1 * s1 AS DOUBLE)
                         / CAST(jk.g AS DOUBLE)))
                 / 1e6 / 100.0, 6) AS jackknife_se
    FROM jk, tot
""")
def stats_jackknife_se(spark, sf_dir):
    """Leave-one-NATION-out jackknife standard error for the ratio
    estimator theta = total revenue / total orders (Quenouille 1956;
    Tukey 1958): each pseudo-replicate drops one nation's sums,
    theta_(i) = (S - S_i)/(C - C_i), and SE_jack = sqrt((g-1)/g *
    sum (theta_(i) - mean)^2). Ratio estimators have no closed-form
    variance; the GROUPED jackknife is the resampling design that
    actually distributes — g pseudo-values from one pass over group
    sums, rows never resampled (contrast: bootstrap-by-row would
    shuffle the corpus 25 times; the repo's stats_bootstrap_ci
    hash-trick covers that family).

    Group sums are exact integers; each theta_(i) snaps to 1e6
    units, making the deviation algebra exact (g*s2 - s1^2 in
    HUGEINT/DECIMAL(38,0)); one sqrt ends it. Robust to unequal
    group sizes by construction (delete-a-group form).

    Scale shape: one (nation) aggregate + broadcast-scalar crossJoin
    + a 1-row reduce — the 25 pseudo-values never leave the plan."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    grp = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .groupBy(F.col("c_nationkey").alias("g"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("s_g"),
                F.count("*").alias("c_g")))
    tot = grp.agg(F.sum("s_g").alias("s"), F.sum("c_g").alias("c"),
                  F.count("*").alias("g"))
    loo = (grp.crossJoin(F.broadcast(tot))
           .select(F.round((F.col("s") - F.col("s_g")).cast("double")
                           / (F.col("c") - F.col("c_g")) * 1e6)
                   .cast("bigint").alias("th_u")))
    jk = loo.agg(F.count("*").alias("gj"),
                 F.sum("th_u").alias("s1"),
                 F.sum(wide("th_u") * F.col("th_u"))
                 .alias("s2"))
    return (jk.crossJoin(F.broadcast(tot))
            .select(
                F.col("g").alias("n_groups"),
                F.round(F.col("s").cast("double") / F.col("c") / 100.0,
                        4).alias("theta"),
                F.round(F.sqrt(
                    ((F.col("gj") - 1).cast("double") / F.col("gj"))
                    * (comoment("gj", "s2", "s1", "s1").cast("double")
                       / F.col("gj").cast("double")))
                    / 1e6 / 100.0, 6).alias("jackknife_se")))


# ------------------------------------------------------- Cohen's h

@query("stats_cohens_h", oracle=f"""
    WITH conv AS ({_CONV_SQL}),
    st AS (
        SELECT CAST(sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN seg = 0 THEN conv ELSE 0 END)
                    AS BIGINT) AS x1,
               CAST(sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2,
               CAST(sum(CASE WHEN seg = 1 THEN conv ELSE 0 END)
                    AS BIGINT) AS x2
        FROM conv
    ),
    ph AS (
        SELECT n1, n2,
               round(CAST(x1 AS DOUBLE) / n1, 8) AS p1,
               round(CAST(x2 AS DOUBLE) / n2, 8) AS p2
        FROM st
    ),
    hh AS (
        SELECT n1, n2, p1, p2,
               round(2.0 * asin(sqrt(p1)) - 2.0 * asin(sqrt(p2)), 6)
                   AS cohens_h
        FROM ph
    )
    SELECT n1, n2, p1, p2, cohens_h,
           CASE WHEN abs(cohens_h) < 0.2 THEN 'negligible'
                WHEN abs(cohens_h) < 0.5 THEN 'small'
                WHEN abs(cohens_h) < 0.8 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM hh
""")
def stats_cohens_h(spark, sf_dir):
    """Cohen's h effect size for the two segment conversion rates
    (Cohen 1988): h = 2 asin(sqrt(p1)) - 2 asin(sqrt(p2)) — the
    arcsine transform equalizes the variance of proportions across
    the 0..1 range, so ONE set of thresholds (0.2/0.5/0.8) grades any
    pair of rates. The materiality companion to stats_two_prop_z's
    p-value: at 100 TB every difference is "significant"; h says
    whether anyone should care.

    p1/p2 snap at 8dp before the transform and h snaps at 6dp before
    the CASE banding (snap, then consume — asin's sub-ulp libm
    wiggle cannot flip a band whose edges sit at 1dp).

    Scale shape: one (user, day) aggregate + ONE 1-row reduce —
    shares the user-day conversion collapse with stats_two_prop_z."""
    conv = (T(spark, sf_dir, "events")
            .groupBy("user_id",
                     F.date_trunc("day", F.col("ts")).alias("d"))
            .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("conv"))
            .select(F.pmod(F.col("user_id"), 2).alias("seg"), "conv"))
    st = conv.agg(
        F.sum(F.when(F.col("seg") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("seg") == 0, F.col("conv")).otherwise(0))
        .alias("x1"),
        F.sum(F.when(F.col("seg") == 1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("seg") == 1, F.col("conv")).otherwise(0))
        .alias("x2"))
    ph = st.select(
        "n1", "n2",
        F.round(F.col("x1").cast("double") / F.col("n1"), 8)
        .alias("p1"),
        F.round(F.col("x2").cast("double") / F.col("n2"), 8)
        .alias("p2"))
    hh = ph.select(
        "n1", "n2", "p1", "p2",
        F.round(2.0 * F.asin(F.sqrt(F.col("p1")))
                - 2.0 * F.asin(F.sqrt(F.col("p2"))), 6)
        .alias("cohens_h"))
    return hh.select(
        "n1", "n2", "p1", "p2", "cohens_h",
        F.when(F.abs(F.col("cohens_h")) < 0.2, "negligible")
        .when(F.abs(F.col("cohens_h")) < 0.5, "small")
        .when(F.abs(F.col("cohens_h")) < 0.8, "medium")
        .otherwise("large").alias("magnitude"))
