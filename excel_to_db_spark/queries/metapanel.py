"""Meta-analysis / decomposition pack (round 5, batch 53): a
fixed+random-effects meta-analysis with heterogeneity statistics, the
between/within Theil decomposition, a multi-scale Fano-factor curve,
and the Pythagorean means panel. The reference engine (294 LoC of
Rust delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators:

- Meta-analysis (DerSimonian & Laird 1986): pool 25 per-nation
  effect estimates with inverse-variance weights, quantify
  heterogeneity (Cochran's Q, I^2, tau^2) and re-pool under random
  effects — THE way multi-site experiment readouts combine.
- Theil decomposition: T = T_between + sum share_g * T_within_g —
  the additivity that is the entire reason to prefer Theil over
  Gini (stats_theil_index ships the total; this key PROVES the
  split adds back in-row).
- Fano-factor curve (Fano 1947): var/mean of event counts in 1min /
  10min / 1h windows — the clustering-timescale fingerprint (Poisson
  = 1 at every scale; bursty traffic rises with window width).
- Pythagorean means per nation: AM >= GM >= HM with the inequality
  asserted in-row — the right mean depends on the question (HM for
  rates, GM for growth), and the panel shows the spread.

Determinism contract (SURVEY §4.3): per-site effects/weights,
per-window counts, and per-row log/reciprocal terms snap to
fixed-point before unordered sums; heterogeneity statistics are
fixed expressions over the snapped sums; all ratios round once."""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import (
    comoment, comoment_sql, units_sum, units_sum_sql, wide, wide_sql)


# ---------------------------------------------- DL meta-analysis

@query("stats_meta_analysis", oracle=f"""
    WITH site AS (
        SELECT c.c_nationkey AS g,
               CAST(sum(CASE WHEN o.o_orderpriority
                             IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    eff AS (
        -- per-site effect: urgent-share minus 0.4, SE from binomial
        SELECT g,
               CAST(round((CAST(x AS DOUBLE) / n - 0.4) * 1e8)
                    AS BIGINT) AS d_u,
               CAST(round(CAST(n AS DOUBLE)
                          / (CAST(x AS DOUBLE) / n
                             * (1.0 - CAST(x AS DOUBLE) / n)) * 1e4)
                    AS BIGINT) AS w_u
        FROM site WHERE x > 0 AND x < n
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               {wide_sql('sum(w_u)')} AS sw,
               sum({wide_sql('w_u')} * d_u) AS swd,
               sum({wide_sql('w_u')} * d_u * d_u) AS swdd,
               sum({wide_sql('w_u')} * w_u) AS sww
        FROM eff
    ),
    fixed AS (
        SELECT k, sw, sww,
               CAST(swd AS DOUBLE) / CAST(sw AS DOUBLE) / 1e8
                   AS mu_fe,
               (CAST(swdd AS DOUBLE)
                - CAST(swd AS DOUBLE) * swd / CAST(sw AS DOUBLE))
               / 1e16 / 1e4 AS q_stat
        FROM st
    )
    SELECT k AS n_sites,
           round(mu_fe, 6) AS mu_fixed,
           round(q_stat, 4) AS cochran_q,
           round(greatest(0.0, (q_stat - (k - 1)) / q_stat), 6)
               AS i_squared,
           round(greatest(0.0, (q_stat - (k - 1))
                 / ((CAST(sw AS DOUBLE)
                     - CAST(sww AS DOUBLE) / sw) / 1e4)) * 1e4, 6)
               AS tau2_x1e4
    FROM fixed
""")
def stats_meta_analysis(spark, sf_dir):
    """Fixed-effects meta-analysis of 25 per-nation effect sizes
    (urgent-order share minus the 0.4 reference) with the
    DerSimonian-Laird heterogeneity panel: inverse-variance pooled
    mu, Cochran's Q = sum w (d - mu)^2, I^2 = (Q - (k-1))/Q (share
    of variation that is BETWEEN sites, not sampling noise), and the
    DL between-site variance tau^2 = (Q - (k-1))/(sum w - sum w^2 /
    sum w) — the statistics that decide whether 25 site readouts may
    be averaged at all (I^2 ~ 0) or describe genuinely different
    sites (the random-effects caveat). Degenerate sites (share 0 or
    1 — no binomial SE) drop, exactly as a meta-analyst would.

    Effects snap to 1e8 and weights to 1e4 fixed-point, so the four
    cross sums are exact HUGEINT/DECIMAL(38,0) integers; mu/Q/I^2/
    tau^2 are fixed expressions over them (Q's scale factors write
    out the snap units explicitly).

    Scale shape: one (nation) aggregate + a 1-row reduce — k sites
    never leave the plan."""
    o = T(spark, sf_dir, "orders").select("o_custkey",
                                          "o_orderpriority")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    site = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy(F.col("c_nationkey").alias("g"))
            .agg(F.sum(F.when(F.col("o_orderpriority")
                              .isin("1-URGENT", "2-HIGH"), 1)
                       .otherwise(0)).alias("x"),
                 F.count("*").alias("n")))
    p = F.col("x").cast("double") / F.col("n")
    eff = (site.filter((F.col("x") > 0) & (F.col("x") < F.col("n")))
           .select(F.round((p - 0.4) * 1e8).cast("bigint").alias("d_u"),
                   F.round(F.col("n").cast("double")
                           / (p * (1.0 - p)) * 1e4).cast("bigint")
                   .alias("w_u")))
    st = eff.agg(
        F.count("*").alias("k"),
        F.sum("w_u").alias("sw"),
        F.sum(wide("w_u") * F.col("d_u")).alias("swd"),
        F.sum(wide("w_u") * F.col("d_u") * F.col("d_u"))
        .alias("swdd"),
        F.sum(wide("w_u") * F.col("w_u")).alias("sww"))
    mu = (F.col("swd").cast("double") / F.col("sw").cast("double")
          / 1e8)
    q = ((F.col("swdd").cast("double")
          - F.col("swd").cast("double") * F.col("swd").cast("double")
          / F.col("sw").cast("double")) / 1e16 / 1e4)
    fixed = st.select("k", "sw", "sww",
                      mu.alias("mu_fe"), q.alias("q_stat"))
    return fixed.select(
        F.col("k").alias("n_sites"),
        F.round(F.col("mu_fe"), 6).alias("mu_fixed"),
        F.round(F.col("q_stat"), 4).alias("cochran_q"),
        F.round(F.greatest(F.lit(0.0),
                           (F.col("q_stat") - (F.col("k") - 1))
                           / F.col("q_stat")), 6).alias("i_squared"),
        F.round(F.greatest(F.lit(0.0),
                           (F.col("q_stat") - (F.col("k") - 1))
                           / ((F.col("sw").cast("double")
                               - F.col("sww").cast("double")
                               / F.col("sw").cast("double")) / 1e4))
                * 1e4, 6).alias("tau2_x1e4"))


# ------------------------------------------ Theil decomposition

@query("stats_theil_decomposition", oracle=f"""
    WITH spend AS (
        SELECT c.c_nationkey AS g,
               {units_sum_sql('o.o_totalprice', 100)} AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_nationkey
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s
        FROM spend
    ),
    grp AS (
        SELECT g, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(x) AS BIGINT) AS sg
        FROM spend GROUP BY g
    ),
    within AS (
        SELECT sp.g,
               {units_sum_sql(
                   '(CAST(sp.x AS DOUBLE) * gr.ng / gr.sg)'
                   ' * ln(CAST(sp.x AS DOUBLE) * gr.ng / gr.sg)', 1e6)} AS tw_u
        FROM spend sp JOIN grp gr ON sp.g = gr.g
        GROUP BY sp.g
    ),
    parts AS (
        SELECT {units_sum_sql(
                   '(CAST(gr.sg AS DOUBLE) / t.s)'
                   ' * ln((CAST(gr.sg AS DOUBLE) * t.n)'
                   ' / (CAST(t.s AS DOUBLE) * gr.ng))', 1e8)} AS tb_u,
               {units_sum_sql(
                   '(CAST(gr.sg AS DOUBLE) / t.s) * (w.tw_u / (gr.ng * 1e6))', 1e8)} AS twsum_u
        FROM grp gr JOIN within w ON gr.g = w.g CROSS JOIN tot t
    )
    SELECT round(tb_u / 1e8, 6) AS theil_between,
           round(twsum_u / 1e8, 6) AS theil_within,
           round(tb_u / 1e8 + twsum_u / 1e8, 6) AS theil_total
    FROM parts
""")
def stats_theil_decomposition(spark, sf_dir):
    """Between/within-nation decomposition of the Theil T index of
    customer spend: T_total = T_between + sum (income share_g) *
    T_within_g — the additive split that is the reason the Theil
    family exists (Gini does not decompose), answering "is spend
    inequality a BETWEEN-countries or WITHIN-countries story?" in
    one row. The total column is built AS the sum of the two parts,
    so the decomposition identity is explicit in the result (and the
    companion stats_theil_index key computes the same total
    directly).

    Within-group terms use income shares against the GROUP mean
    (x*ng/sg), between-group terms the group income share against
    its population share — each snapped (1e6 within, 1e8 at the
    combine) before its unordered sum, the stats_theil_index
    protocol applied per level.

    Scale shape: per-customer collapse + per-nation aggregates + one
    bounded combine — two shuffles total."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    spend = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .groupBy("o_custkey", F.col("c_nationkey").alias("g"))
             .agg(units_sum(F.col("o_totalprice"), 100).alias("x")))
    tot = spend.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    grp = spend.groupBy("g").agg(F.count("*").alias("ng"),
                                 F.sum("x").alias("sg"))
    ratio_w = (F.col("x").cast("double") * F.col("ng") / F.col("sg"))
    within = (spend.join(grp, "g")
              .groupBy("g")
              .agg(units_sum(ratio_w * F.log(ratio_w), 1e6).alias("tw_u")))
    share = F.col("sg").cast("double") / F.col("s")
    parts = (grp.join(within, "g").crossJoin(F.broadcast(tot))
             .agg(units_sum(share * F.log(
                      (F.col("sg").cast("double") * F.col("n"))
                      / (F.col("s").cast("double") * F.col("ng"))), 1e8)
                  .alias("tb_u"),
                  units_sum(share * (F.col("tw_u") / (F.col("ng") * 1e6)),
                            1e8).alias("twsum_u")))
    return parts.select(
        F.round(F.col("tb_u") / 1e8, 6).alias("theil_between"),
        F.round(F.col("twsum_u") / 1e8, 6).alias("theil_within"),
        F.round(F.col("tb_u") / 1e8 + F.col("twsum_u") / 1e8, 6)
        .alias("theil_total"))


# ------------------------------------------------ Fano-factor curve

@query("events_fano_curve", oracle=f"""
    WITH widths AS (SELECT unnest([60, 600, 3600]) AS w_s),
    cells AS (
        SELECT widths.w_s,
               CAST(floor(epoch(ts)) AS BIGINT) // widths.w_s AS win,
               CAST(count(*) AS BIGINT) AS c
        FROM events CROSS JOIN widths
        GROUP BY 1, 2
    ),
    st AS (
        SELECT w_s,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(c) AS BIGINT) AS s,
               sum({wide_sql('c')} * c) AS q
        FROM cells GROUP BY w_s
    )
    SELECT CAST(w_s AS BIGINT) AS window_seconds, n_windows,
           round(CAST(s AS DOUBLE) / n_windows, 4) AS mean_count,
           round(CAST({comoment_sql('n_windows', 'q', 's', 's')} AS DOUBLE)
                 / (CAST(n_windows AS DOUBLE) * n_windows)
                 / (CAST(s AS DOUBLE) / n_windows), 4) AS fano
    FROM st ORDER BY window_seconds
""")
def events_fano_curve(spark, sf_dir):
    """Fano-factor curve of the event stream at 1-minute / 10-minute /
    1-hour counting windows: F(w) = var/mean of per-window counts —
    exactly 1 at EVERY width for a Poisson process, rising with w
    when arrivals cluster (the curve's knee locates the clustering
    timescale; a flat elevated curve means rate heterogeneity, not
    bursts). The time-domain companion to stats_overdispersion's
    per-user dispersion: same statistic, orthogonal slicing — only
    OCCUPIED windows enter (the empty-window correction is the
    documented boundary; occupied-only biases F down at large w and
    identically so on both engines).

    Window counts are exact integers (floor(epoch) // width, the
    engine-aligned rule); variance uses the exact n-multiplied form
    over HUGEINT/DECIMAL(38,0) power sums.

    Scale shape: a constant 3-width explode + one (width, window)
    count aggregate + a 3-row reduce."""
    widths = spark.range(3).select(
        F.element_at(F.array(F.lit(60), F.lit(600), F.lit(3600)),
                     (F.col("id") + 1).cast("int")).alias("w_s"))
    cells = (T(spark, sf_dir, "events")
             .select(F.unix_timestamp("ts").alias("s"))
             .crossJoin(F.broadcast(widths))
             .groupBy("w_s", F.expr("s DIV w_s").alias("win"))
             .agg(F.count("*").alias("c")))
    st = cells.groupBy("w_s").agg(
        F.count("*").alias("n_windows"),
        F.sum("c").alias("s"),
        F.sum(wide("c") * F.col("c")).alias("q"))
    return (st.select(
        F.col("w_s").cast("bigint").alias("window_seconds"),
        "n_windows",
        F.round(F.col("s").cast("double") / F.col("n_windows"), 4)
        .alias("mean_count"),
        F.round(comoment("n_windows", "q", "s", "s").cast("double")
                / (F.col("n_windows").cast("double")
                   * F.col("n_windows"))
                / (F.col("s").cast("double") / F.col("n_windows")), 4)
        .alias("fano"))
        .orderBy("window_seconds"))


# --------------------------------------------- Pythagorean means

@query("agg_pythagorean_means", oracle=f"""
    WITH v AS (
        SELECT c.c_nationkey AS nation,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    st AS (
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               {units_sum_sql('ln(CAST(x AS DOUBLE))', 1e6)} AS l_u,
               {units_sum_sql('1e12 / x')}
                   AS r_u
        FROM v GROUP BY nation
    )
    SELECT nation, n,
           round(CAST(s AS DOUBLE) / n / 100.0, 4) AS am,
           round(exp(l_u / (CAST(n AS DOUBLE) * 1e6)) / 100.0, 4)
               AS gm,
           round(CAST(n AS DOUBLE) * 1e12 / r_u / 100.0, 4) AS hm
    FROM st ORDER BY nation
""")
def agg_pythagorean_means(spark, sf_dir):
    """Pythagorean means panel of order totals per nation: arithmetic
    (the default), geometric (the growth-rate mean — right for
    compounding), and harmonic (the rate mean — right for averaging
    prices per unit) side by side, with AM >= GM >= HM guaranteed by
    inequality and asserted in tests. The spread between the three
    IS the skewness readout: equal means = symmetric values, a wide
    AM-HM gap flags heavy right tails that make "the average order"
    a misleading number.

    AM is an exact integer ratio; GM exponentiates 1e6-snapped ln
    sums (the stats_atkinson_index protocol); HM inverts 1e12-snapped
    reciprocal sums (values are >= 90k cents, so each reciprocal
    carries ~7 significant snapped digits). One round each.

    Scale shape: ONE (nation) aggregate with three parallel
    accumulators — 25 rows out."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    v = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .select(F.col("c_nationkey").alias("nation"),
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("x")))
    st = v.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        units_sum(F.log(F.col("x").cast("double")), 1e6).alias("l_u"),
        units_sum(1e12 / F.col("x")).alias("r_u"))
    return (st.select(
        "nation", "n",
        F.round(F.col("s").cast("double") / F.col("n") / 100.0, 4)
        .alias("am"),
        F.round(F.exp(F.col("l_u") / (F.col("n").cast("double") * 1e6))
                / 100.0, 4).alias("gm"),
        F.round(F.col("n").cast("double") * 1e12 / F.col("r_u")
                / 100.0, 4).alias("hm"))
        .orderBy("nation"))
