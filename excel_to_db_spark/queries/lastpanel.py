"""SPC / forensics / retention / disparity pack (round 5, batch 61).
The reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators:

- Process capability Cp / Cpk (the SPC canon): how many sigmas of
  margin the value distribution keeps inside a declared spec band —
  the manufacturing-grade SLA statement (Cp measures spread, Cpk
  adds centering; Cpk << Cp means the process is off-center, not
  wide).
- Benford second-digit test (Nigrini 1996): the fraud-forensics
  refinement of the first-digit law — fabricators who learn to fake
  the first digit almost never fake the second (its expected
  distribution is nearly flat but not quite).
- Return-gap profile: per-user gaps between consecutive ACTIVE DAYS,
  summarized at p50/p90 — the retention half-life
  (events_dau_stickiness is the population pulse; this is the
  per-user comeback clock).
- Weight disparity Y (Barthelemy et al. 2003; Serrano et al. 2009):
  per-node sum (w_ij/s_i)^2 over the weighted trade graph — Y near
  1/k means spread-out trade, Y near 1 means one partner dominates;
  the backbone-extraction statistic.

Determinism contract (SURVEY §4.3): spec limits are declared integer
literals; digit extraction is exact string/integer arithmetic; day
gaps and weighted-edge cents are exact integers; disparity terms are
fixed rationals snapped at 1e6; order statistics come from exact
rank thresholds."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from .tradegraph import nation_pairs, nation_pairs_sql
from ..numerics import (
    comoment, comoment_sql, units_sum, units_sum_sql, wide, wide_sql)


# --------------------------------------------- process capability

@query("ops_process_capability", oracle=f"""
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(c)')} AS s,
               sum({wide_sql('c')} * c) AS q,
               CAST(sum(CASE WHEN c < 100 OR c > 20000 THEN 1 ELSE 0
                        END) AS BIGINT) AS n_out
        FROM v
    ),
    fit AS (
        SELECT n, n_out,
               CAST(s AS DOUBLE) / n AS mu,
               sqrt(CAST({comoment_sql('n', 'q', 's', 's')} AS DOUBLE))
               / n AS sigma
        FROM st
    )
    SELECT n,
           round((20000 - 100) / (6.0 * sigma), 4) AS cp,
           round(least(20000 - mu, mu - 100) / (3.0 * sigma), 4)
               AS cpk,
           round(CAST(n_out AS DOUBLE) / n, 6) AS observed_oos
    FROM fit
""")
def ops_process_capability(spark, sf_dir):
    """Process-capability indices for event values against the
    declared spec band [$1, $200] (integer-cent literals 100/20000):
    Cp = (USL-LSL)/6 sigma (could the spread fit if centered) and
    Cpk = min(USL-mu, mu-LSL)/3 sigma (does it fit where it actually
    sits) — the SPC pair that turns "the latency looks fine" into a
    sigma-margin statement, with the observed out-of-spec share
    beside the indices as the empirical cross-check (a Cpk of 1
    predicts ~0.27% OOS under normality; the gap between predicted
    and observed is the non-normality warning).

    Moments are exact HUGEINT/DECIMAL(38,0) power sums; sigma is the
    exact n-multiplied population form; all three outputs are fixed
    expressions. Spec limits are DECLARED constants — capability is
    only meaningful against a spec someone committed to.

    Scale shape: ONE conditional moment aggregate."""
    v = T(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    st = v.agg(
        F.count("*").alias("n"), F.sum("c").alias("s"),
        F.sum(wide("c") * F.col("c")).alias("q"),
        F.sum(F.when((F.col("c") < 100) | (F.col("c") > 20000), 1)
              .otherwise(0)).alias("n_out"))
    mu = F.col("s").cast("double") / F.col("n")
    sigma = (F.sqrt(comoment("n", "q", "s", "s").cast("double")) / F.col("n"))
    fit = st.select("n", "n_out", mu.alias("mu"), sigma.alias("sigma"))
    return fit.select(
        "n",
        F.round((20000 - 100) / (6.0 * F.col("sigma")), 4).alias("cp"),
        F.round(F.least(20000 - F.col("mu"), F.col("mu") - 100)
                / (3.0 * F.col("sigma")), 4).alias("cpk"),
        F.round(F.col("n_out").cast("double") / F.col("n"), 6)
        .alias("observed_oos"))


# ---------------------------------------- Benford second digit

@query("stats_benford_second", oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                                     AS BIGINT) AS VARCHAR), 2, 1)
                    AS BIGINT) AS d2
        FROM orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 10
    ),
    obs AS (
        SELECT d2, CAST(count(*) AS BIGINT) AS o FROM digits
        GROUP BY d2
    ),
    expect AS (
        -- P(d2 = d) = sum_{{f1=1..9}} log10(1 + 1/(10*f1 + d))
        SELECT ds.d2,
               sum(ln(1.0 + 1.0 / (10 * f1.f + ds.d2)) / ln(10.0))
                   AS p
        FROM (SELECT unnest([0,1,2,3,4,5,6,7,8,9]) AS d2) ds,
             (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS f) f1
        GROUP BY ds.d2
    ),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    chi AS (
        SELECT {units_sum_sql(
                   '(obs.o - expect.p * tot.n) * (obs.o - expect.p * tot.n)'
                   ' / (expect.p * tot.n)', 1e8)}
                   AS chi_u,
               max(tot.n) AS n
        FROM obs JOIN expect ON obs.d2 = expect.d2 CROSS JOIN tot
    )
    SELECT n, round(chi_u / 1e8, 4) AS chi2_9df
    FROM chi
""")
def stats_benford_second(spark, sf_dir):
    """Benford SECOND-digit conformity of order totals (Nigrini
    1996): the second significant digit's expected law P(d) =
    sum_f1 log10(1 + 1/(10 f1 + d)) is nearly flat (12.0% for 0 down
    to 8.5% for 9) — which is exactly why it catches fabricators who
    learned to fake the first digit (the repo's stats_benford) but
    round their second digits to 0/5. chi2 over the 10 cells, 9 df
    (compare 16.9 at 5%).

    Digits come from exact integer-cents string extraction (amounts
    >= 10 cents guarantee a second digit); the expected law is the
    same fixed 90-term double expression on both engines; per-cell
    chi terms snap at 1e8 before the sum.

    Scale shape: ONE digit-histogram aggregate + a constant 10-cell
    grid."""
    digits = (T(spark, sf_dir, "orders")
              .select(F.round(F.col("o_totalprice") * 100)
                      .cast("bigint").alias("cents"))
              .filter(F.col("cents") >= 10)
              .select(F.substring(F.col("cents").cast("string"), 2, 1)
                      .cast("bigint").alias("d2")))
    obs = digits.groupBy("d2").agg(F.count("*").alias("o"))
    ds = spark.range(10).select(F.col("id").alias("d2e"))
    f1 = spark.range(1, 10).select(F.col("id").alias("f"))
    expect = (ds.crossJoin(f1)
              .groupBy("d2e")
              .agg(F.sum(F.log(1.0 + 1.0 / (10 * F.col("f")
                                            + F.col("d2e")))
                         / F.log(F.lit(10.0))).alias("p")))
    tot = obs.agg(F.sum("o").alias("n"))
    joined = (obs.join(F.broadcast(expect), obs.d2 == F.col("d2e"))
              .crossJoin(F.broadcast(tot)))
    dev = F.col("o") - F.col("p") * F.col("n")
    chi = joined.agg(
        units_sum(dev * dev / (F.col("p") * F.col("n")), 1e8).alias("chi_u"),
        F.max("n").alias("n"))
    return chi.select("n",
                      F.round(F.col("chi_u") / 1e8, 4)
                      .alias("chi2_9df"))


# --------------------------------------------- return-gap profile

@query("events_return_gap_profile", oracle="""
    WITH act AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) AS BIGINT) AS dayno
        FROM events
    ),
    gaps AS (
        SELECT dayno - lag(dayno) OVER (PARTITION BY user_id
                                        ORDER BY dayno) AS gap
        FROM act
    ),
    ranked AS (
        SELECT gap,
               CAST(row_number() OVER (ORDER BY gap) AS BIGINT) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM gaps WHERE gap IS NOT NULL
    )
    SELECT max(n) AS n_gaps,
           round(CAST(sum(gap) AS DOUBLE) / max(n), 4) AS mean_gap_d,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN gap END)
                AS BIGINT) AS p50_gap_d,
           CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN gap END)
                AS BIGINT) AS p90_gap_d
    FROM ranked
""")
def events_return_gap_profile(spark, sf_dir):
    """Per-user return-gap profile: the gaps (in days) between each
    user's consecutive ACTIVE days, pooled and summarized at the
    mean, median, and p90 — the comeback clock ("half of returns
    happen within p50 days; if a user passes p90, they are
    churn-risk"). The per-user complement to events_dau_stickiness's
    population pulse, and the empirical basis for any winback-
    campaign trigger window.

    Active days are exact distinct (user, dayno) pairs; gaps are
    exact integers off per-user lag windows; the median and p90 are
    exact lower order statistics at integer rank thresholds
    ((n+1) DIV 2 and (9n+9) DIV 10); the mean is an exact-sum ratio.

    Scale shape: distinct collapse + per-user lag windows
    (partitioned) + one rank pass over the pooled gap multiset."""
    act = (T(spark, sf_dir, "events")
           .select("user_id",
                   F.datediff(F.col("ts").cast("date"),
                              F.lit("2024-01-01").cast("date"))
                   .cast("bigint").alias("dayno"))
           .distinct())
    w = Window.partitionBy("user_id").orderBy("dayno")
    gaps = (act.select((F.col("dayno") - F.lag("dayno").over(w))
                       .alias("gap"))
            .filter(F.col("gap").isNotNull()))
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = gaps.select(
        "gap",
        F.row_number().over(Window.orderBy("gap")).cast("bigint")
        .alias("rk"),
        F.count("*").over(wall).cast("bigint").alias("n"))
    return (ranked.groupBy("n")
            .agg(F.sum("gap").alias("sg"),
                 F.max(F.when(F.col("rk")
                              == F.expr("(n + 1) DIV 2"),
                              F.col("gap"))).cast("bigint")
                 .alias("p50_gap_d"),
                 F.max(F.when(F.col("rk")
                              == F.expr("(9 * n + 9) DIV 10"),
                              F.col("gap"))).cast("bigint")
                 .alias("p90_gap_d"))
            .select(F.col("n").alias("n_gaps"),
                    F.round(F.col("sg").cast("double") / F.col("n"), 4)
                    .alias("mean_gap_d"),
                    "p50_gap_d", "p90_gap_d"))


# --------------------------------------------- weight disparity

@query("graph_weight_disparity", oracle=f"""
    WITH {nation_pairs_sql(f"{units_sum_sql('l_extendedprice', 100)} AS cents")},
    w AS (SELECT u, v, cents FROM pairs WHERE u <> v),
    node AS (
        SELECT u, CAST(count(*) AS BIGINT) AS k,
               CAST(sum(cents) AS BIGINT) AS strength
        FROM w GROUP BY u
    ),
    disp AS (
        SELECT w.u, node.k,
               {units_sum_sql(
                   '(CAST(w.cents AS DOUBLE) / node.strength)'
                   ' * (CAST(w.cents AS DOUBLE) / node.strength)', 1e6)} AS y_u
        FROM w JOIN node ON w.u = node.u
        GROUP BY w.u, node.k
    )
    SELECT u AS nation, k AS out_degree,
           round(y_u / 1e6, 6) AS disparity_y,
           round(y_u / 1e6 * k, 4) AS ky
    FROM disp ORDER BY nation
""")
def graph_weight_disparity(spark, sf_dir):
    """Edge-weight disparity Y of each nation's outgoing trade
    (Barthelemy et al. 2003): Y(u) = sum_v (w_uv/s_u)^2 over the
    weighted partner edges — Y = 1/k means trade spreads evenly over
    k partners, Y -> 1 means one partner dominates; k*Y (the ky
    column) is the scale-free readout (~1 even, ~k concentrated).
    The statistic under backbone extraction (Serrano's disparity
    filter): edges that beat the uniform-Y null are the backbone,
    the rest are noise — the principled version of the top-k
    sparsification the repo's graph keys use.

    Edge weights are exact cents; per-edge share-squared terms snap
    at 1e6 before the per-node sum (exact BIGINT aggregates); Y and
    kY round once each.

    Scale shape: one weighted-edge aggregate + one node aggregate +
    one share join — all partitioned on the source-nation key."""
    w = (nation_pairs(spark, sf_dir,
                      units_sum(F.col("l_extendedprice"), 100).alias("cents"))
         .filter(F.col("u") != F.col("v")))
    node = w.groupBy("u").agg(F.count("*").alias("k"),
                              F.sum("cents").alias("strength"))
    share = F.col("cents").cast("double") / F.col("strength")
    disp = (w.join(node, "u")
            .groupBy("u", "k")
            .agg(units_sum(share * share, 1e6)
                 .alias("y_u")))
    return (disp.select(
        F.col("u").alias("nation"), F.col("k").alias("out_degree"),
        F.round(F.col("y_u") / 1e6, 6).alias("disparity_y"),
        F.round(F.col("y_u") / 1e6 * F.col("k"), 4).alias("ky"))
        .orderBy("nation"))
