"""Resampling / reweighting pack (round 5, batch 51): a moving-block
bootstrap for time-series standard errors, Fisher's z test for
comparing correlations, post-stratified reweighting of a biased
sample, and the weight-of-evidence / information-value feature audit.
The reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators:

- Moving-block bootstrap (Kunsch 1989): resample 30-day BLOCKS, not
  rows — the repo's row-level stats_bootstrap_ci destroys
  autocorrelation and understates time-series SEs; blocks preserve
  it. Replicates are hash-seeded (the stats_permutation_test
  protocol): deterministic, reproducible, no RNG.
- Fisher z (Fisher 1921): did the click-purchase correlation CHANGE
  between the first and second half of the window? atanh
  variance-stabilizes r so the difference is a plain z.
- Post-stratification (the survey-sampling workhorse): reweight a
  deliberately biased hash-sample by strata totals so its mean
  matches the population — the estimator every telemetry
  downsampling pipeline silently depends on, shown against both the
  naive mean and the truth.
- WoE / IV (credit-scoring canon): per-bucket weight of evidence
  ln((pos share)/(neg share)) and the information value sum — the
  feature-screening number risk teams grade models by.

Determinism contract (SURVEY §4.3): block sums, strata counts, and
bucket cells are exact integers; hash seeds are the repo's h32 md5
protocol; replicate means snap to whole cents before the
across-replicate variance (then exact integer algebra); WoE terms
snap at 1e6 before the IV sum; banding reads snapped values."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import (
    comoment, comoment_sql, erfc, erfc_sql, h32, h32_sql, units_sum,
    units_sum_sql, wide, wide_sql)


_BB_L = 30          # block length (days)
_BB_B = 99          # bootstrap replicates
_BB_DRAW = 80       # blocks drawn per replicate (~n/L)


@query("ts_block_bootstrap", oracle=f"""
    WITH day AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1
                   AS t, y
        FROM (
            SELECT date_trunc('day', o_orderdate) AS d,
                   {units_sum_sql('o_totalprice', 100)} AS y
            FROM orders GROUP BY 1
        )
    ),
    bsum AS MATERIALIZED (
        SELECT t AS start,
               CAST(sum(y) OVER (ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND {_BB_L - 1} FOLLOWING)
                    AS BIGINT) AS bs,
               CAST(count(*) OVER (ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND {_BB_L - 1} FOLLOWING)
                    AS BIGINT) AS bl,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM day
    ),
    starts AS (SELECT start, bs FROM bsum WHERE bl = {_BB_L}),
    nvalid AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM starts),
    grid AS (
        SELECT r.r, j.j,
               ({h32_sql(
                   "CAST(r.r AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)")})
                   % (SELECT nv FROM nvalid)
                   AS pick
        FROM (SELECT unnest(range(1, {_BB_B + 1})) AS r) r,
             (SELECT unnest(range({_BB_DRAW})) AS j) j
    ),
    reps AS (
        SELECT grid.r,
               CAST(round(CAST(sum(starts.bs) AS DOUBLE)
                          / ({_BB_DRAW} * {_BB_L})) AS BIGINT) AS m_c
        FROM grid JOIN starts ON starts.start = grid.pick
        GROUP BY grid.r
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS b,
               {wide_sql('sum(m_c)')} AS s,
               sum({wide_sql('m_c')} * m_c) AS q
        FROM reps
    ),
    ranked AS (
        SELECT m_c, CAST(row_number() OVER (ORDER BY m_c) AS BIGINT)
                   AS rk
        FROM reps
    )
    SELECT (SELECT CAST(max(n) AS BIGINT) FROM bsum) AS n_days,
           b AS n_replicates,
           round(sqrt(CAST({comoment_sql('b', 'q', 's', 's')} AS DOUBLE)
                      / (CAST(b AS DOUBLE) * b)) / 100.0, 2)
               AS block_boot_se,
           (SELECT round(m_c / 100.0, 2) FROM ranked WHERE rk = 3)
               AS ci_lo,
           (SELECT round(m_c / 100.0, 2) FROM ranked WHERE rk = 97)
               AS ci_hi
    FROM st
""")
def ts_block_bootstrap(spark, sf_dir):
    """Moving-block bootstrap SE for the mean daily revenue (Kunsch
    1989): each of 99 replicates re-assembles the series from 80
    hash-chosen 30-day blocks (overlapping starts), preserving the
    within-block autocorrelation that row-level resampling
    (stats_bootstrap_ci) destroys — on a positively autocorrelated
    series the block SE is the honest, LARGER one. The 2.5%/97.5%
    replicate order statistics give the percentile CI.

    Fully deterministic: block starts come from the repo's h32 md5
    hash of (replicate, slot) — the stats_permutation_test protocol;
    block sums are exact BIGINTs off ONE rolling-window pass (an
    equi-join on the start index gathers them — no per-replicate
    scan); each replicate mean snaps to whole cents, making the
    across-replicate variance exact integer algebra.

    Scale shape: day-spine collapse + one rolling window + a
    7,920-row constant grid equi-join + bounded reduces."""
    day = (T(spark, sf_dir, "orders")
           .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("y")))
    ser = day.select(
        (F.row_number().over(Window.orderBy("d")).cast("bigint") - 1)
        .alias("t"), "y")
    wfwd = Window.orderBy("t").rowsBetween(0, _BB_L - 1)
    bsum = ser.select(
        F.col("t").alias("start"),
        F.sum("y").over(wfwd).alias("bs"),
        F.count("*").over(wfwd).alias("bl"),
        F.count("*").over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding,
                Window.unboundedFollowing)).alias("n"))
    starts = bsum.filter(F.col("bl") == _BB_L).select("start", "bs")
    nvalid = starts.agg(F.count("*").alias("nv"))
    grid = (spark.range(1, _BB_B + 1).select(F.col("id").alias("r"))
            .crossJoin(spark.range(_BB_DRAW).select(
                F.col("id").alias("j")))
            .crossJoin(F.broadcast(nvalid))
            .select("r", F.pmod(h32(F.concat_ws(
                ":", F.col("r").cast("string"),
                F.col("j").cast("string"))), F.col("nv"))
                .alias("pick")))
    reps = (grid.join(starts, grid.pick == starts.start)
            .groupBy("r")
            .agg(F.round(F.sum("bs").cast("double")
                         / (_BB_DRAW * _BB_L)).cast("bigint")
                 .alias("m_c")))
    st = reps.agg(F.count("*").alias("b"),
                  F.sum("m_c").alias("s"),
                  F.sum(wide("m_c") * F.col("m_c"))
                  .alias("q"))
    ranked = reps.select(
        "m_c", F.row_number().over(Window.orderBy("m_c"))
        .cast("bigint").alias("rk"))
    lo = ranked.filter(F.col("rk") == 3).select(
        F.round(F.col("m_c") / 100.0, 2).alias("ci_lo"))
    hi = ranked.filter(F.col("rk") == 97).select(
        F.round(F.col("m_c") / 100.0, 2).alias("ci_hi"))
    ndays = bsum.agg(F.max("n").alias("n_days"))
    return (st.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))
            .crossJoin(F.broadcast(ndays))
            .select("n_days", F.col("b").alias("n_replicates"),
                    F.round(F.sqrt(
                        comoment("b", "q", "s", "s").cast("double")
                        / (F.col("b").cast("double") * F.col("b")))
                        / 100.0, 2).alias("block_boot_se"),
                    "ci_lo", "ci_hi"))


# --------------------------------------------- Fisher z correlation diff

@query("stats_fisher_z_test", oracle=f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                         < DATE '2024-01-16' THEN 0 ELSE 1 END AS half,
               CAST(sum(CASE WHEN event_type = 'click'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    st AS (
        SELECT half, CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x)')} AS sx,
               {wide_sql('sum(y)')} AS sy,
               sum({wide_sql('x')} * x) AS sxx,
               sum({wide_sql('y')} * y) AS syy,
               sum({wide_sql('x')} * y) AS sxy
        FROM day GROUP BY half
    ),
    rr AS (
        SELECT half, n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                   AS r
        FROM st
    ),
    zz AS (
        SELECT max(CASE WHEN half = 0 THEN r END) AS r1,
               max(CASE WHEN half = 1 THEN r END) AS r2,
               max(CASE WHEN half = 0 THEN n END) AS n1,
               max(CASE WHEN half = 1 THEN n END) AS n2
        FROM rr
    ),
    tt AS (
        SELECT n1, n2, r1, r2,
               round((0.5 * ln((1.0 + r1) / (1.0 - r1))
                      - 0.5 * ln((1.0 + r2) / (1.0 - r2)))
                     / sqrt(1.0 / (n1 - 3) + 1.0 / (n2 - 3)), 5) AS z
        FROM zz
    )
    SELECT n1, n2, r1, r2, z,
           round({erfc_sql('abs(tt.z) / sqrt(2.0)')}, 8)
               AS p_value
    FROM tt
""")
def stats_fisher_z_test(spark, sf_dir):
    """Fisher z test for a CHANGE in correlation (Fisher 1921): is
    the daily click-purchase revenue correlation in the first half of
    the month different from the second half? atanh(r) = 0.5
    ln((1+r)/(1-r)) variance-stabilizes r (var = 1/(n-3) regardless
    of rho), so the difference is a plain two-sided z — the
    relationship-drift monitor that complements level-drift keys
    (drift_psi watches marginals; this watches a dependence).

    Per-half correlations come from exact n-multiplied moment forms
    and snap at 6dp BEFORE the atanh (snap, then consume); z snaps
    at 5dp before the A-S erfc p.

    Scale shape: one (day, half) collapse + a 2-row aggregate +
    scalar math."""
    day = (T(spark, sf_dir, "events")
           .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
           .agg(F.sum(F.when(F.col("event_type") == "click",
                             F.round(F.col("value") * 100)
                             .cast("bigint")).otherwise(0)).alias("x"),
                F.sum(F.when(F.col("event_type") == "purchase",
                             F.round(F.col("value") * 100)
                             .cast("bigint")).otherwise(0)).alias("y"))
           .select(F.when(F.col("d").cast("date")
                          < F.lit("2024-01-16").cast("date"), 0)
                   .otherwise(1).alias("half"), "x", "y"))
    st = day.groupBy("half").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(wide("x") * F.col("x")).alias("sxx"),
        F.sum(wide("y") * F.col("y")).alias("syy"),
        F.sum(wide("x") * F.col("y")).alias("sxy"))
    r = F.round(
        comoment("n", "sxy", "sx", "sy").cast("double")
        / (F.sqrt(comoment("n", "sxx", "sx", "sx").cast("double"))
           * F.sqrt(comoment("n", "syy", "sy", "sy").cast("double"))), 6)
    rr = st.select("half", "n", r.alias("r"))
    zz = rr.agg(
        F.max(F.when(F.col("half") == 0, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("half") == 1, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("half") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("half") == 1, F.col("n"))).alias("n2"))
    atanh1 = 0.5 * F.log((1.0 + F.col("r1")) / (1.0 - F.col("r1")))
    atanh2 = 0.5 * F.log((1.0 + F.col("r2")) / (1.0 - F.col("r2")))
    tt = zz.select(
        "n1", "n2", "r1", "r2",
        F.round((atanh1 - atanh2)
                / F.sqrt(1.0 / (F.col("n1") - 3)
                         + 1.0 / (F.col("n2") - 3)), 5).alias("z"))
    z = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    return tt.select("n1", "n2", "r1", "r2", "z",
                     F.round(erfc(z), 8).alias("p_value"))


# --------------------------------------------- post-stratification

@query("sample_poststratify", oracle=f"""
    WITH pop AS (
        SELECT event_type AS stratum,
               CAST(round(value * 100) AS BIGINT) AS c,
               CASE WHEN ({h32_sql("CAST(event_id AS VARCHAR)")}) % 10
                         < CASE WHEN event_type = 'click' THEN 8
                           ELSE 2 END
                    THEN 1 ELSE 0 END AS sampled
        FROM events
    ),
    strata AS (
        SELECT stratum,
               CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(c) AS BIGINT) AS s_pop,
               CAST(sum(sampled) AS BIGINT) AS n_smp,
               CAST(sum(sampled * c) AS BIGINT) AS s_smp
        FROM pop GROUP BY stratum
    )
    SELECT CAST(sum(n_smp) AS BIGINT) AS n_sample,
           round(CAST(sum(s_smp) AS DOUBLE) / sum(n_smp) / 100.0, 4)
               AS naive_mean,
           round({units_sum_sql('CAST(n_pop AS DOUBLE) * s_smp / n_smp')}
                 / CAST(sum(n_pop) AS DOUBLE) / 100.0, 4)
               AS poststrat_mean,
           round(CAST(sum(s_pop) AS DOUBLE) / sum(n_pop) / 100.0, 4)
               AS true_mean
    FROM strata
""")
def sample_poststratify(spark, sf_dir):
    """Post-stratified estimation from a deliberately BIASED sample:
    the h32 hash keeps 80% of clicks but only 20% of everything else
    (a shape every click-logging pipeline produces); the naive sample
    mean inherits that bias, while reweighting each stratum's sample
    mean by its POPULATION share recovers the truth — naive vs
    post-stratified vs true, side by side, is the one-row proof of
    why downsampled telemetry must carry stratum weights.

    All strata totals are exact integers off ONE conditional
    aggregate over the population (the sampling indicator is
    computed, not materialized); each stratum's reweighted total
    snaps to whole cents before the cross-strata sum; three means
    round once each.

    Scale shape: ONE (stratum) aggregate + a 1-row reduce."""
    pop = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        F.when(F.pmod(h32(F.col("event_id").cast("string")), 10)
               < F.when(F.col("event_type") == "click", 8).otherwise(2),
               1).otherwise(0).alias("sampled"))
    strata = pop.groupBy("stratum").agg(
        F.count("*").alias("n_pop"),
        F.sum("c").alias("s_pop"),
        F.sum("sampled").alias("n_smp"),
        F.sum(F.col("sampled") * F.col("c")).alias("s_smp"))
    return strata.agg(
        F.sum("n_smp").alias("n_sample"),
        F.round(F.sum("s_smp").cast("double") / F.sum("n_smp") / 100.0,
                4).alias("naive_mean"),
        F.round(units_sum(F.col("n_pop").cast("double")
                              * F.col("s_smp") / F.col("n_smp"))
                / F.sum("n_pop").cast("double") / 100.0, 4)
        .alias("poststrat_mean"),
        F.round(F.sum("s_pop").cast("double") / F.sum("n_pop") / 100.0,
                4).alias("true_mean"))


# ------------------------------------------------------- WoE / IV

@query("ml_woe_iv", oracle="""
    WITH cells AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS b,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS BIGINT) AS pos,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                        END) AS BIGINT) AS neg
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS tp,
               CAST(sum(neg) AS BIGINT) AS tn
        FROM cells
    ),
    terms AS (
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(CASE WHEN pos > 0 AND neg > 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS n_scored,
               CAST(sum(CASE WHEN pos > 0 AND neg > 0 THEN
                   CAST(round((CAST(pos AS DOUBLE) / tp
                               - CAST(neg AS DOUBLE) / tn)
                              * ln((CAST(pos AS DOUBLE) * tn)
                                   / (CAST(neg AS DOUBLE) * tp))
                              * 1e6) AS BIGINT) ELSE 0 END)
                   AS BIGINT) AS iv_u
        FROM cells, tot
    )
    SELECT n_buckets, n_scored,
           round(iv_u / 1e6, 6) AS information_value,
           CASE WHEN round(iv_u / 1e6, 6) < 0.02 THEN 'useless'
                WHEN round(iv_u / 1e6, 6) < 0.1 THEN 'weak'
                WHEN round(iv_u / 1e6, 6) < 0.3 THEN 'medium'
                ELSE 'strong' END AS predictive_grade
    FROM terms
""")
def ml_woe_iv(spark, sf_dir):
    """Weight-of-evidence / information value of the event value as a
    purchase-vs-view predictor (the credit-scoring canon): per $10
    bucket, WoE = ln((bucket's share of positives)/(share of
    negatives)); IV = sum (p_share - n_share) * WoE, graded on the
    standard 0.02/0.1/0.3 bands. IV is the symmetrized KL divergence
    between the class-conditional feature distributions — the
    pre-model feature screen that catches both useless features and
    too-good-to-be-true leakage (IV > 0.5 usually means a leak).
    Zero-cells (a bucket missing one class) are EXCLUDED and counted
    in n_scored (Laplace smoothing is the alternative; exclusion is
    the honest default when cells are structural).

    Cell counts are exact; each bucket's term snaps to 1e6 before
    the unordered sum (ln wiggle absorbed); the grade reads the
    snapped IV.

    Scale shape: ONE bucket aggregate + a 1-row reduce."""
    cells = (T(spark, sf_dir, "events")
             .filter(F.col("event_type").isin("purchase", "view"))
             .groupBy(F.expr("CAST(round(value * 100) AS BIGINT)"
                             " DIV 1000").alias("b"))
             .agg(F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("pos"),
                  F.sum(F.when(F.col("event_type") == "view", 1)
                        .otherwise(0)).alias("neg")))
    tot = cells.agg(F.sum("pos").alias("tp"), F.sum("neg").alias("tn"))
    ok = (F.col("pos") > 0) & (F.col("neg") > 0)
    term = F.round(
        (F.col("pos").cast("double") / F.col("tp")
         - F.col("neg").cast("double") / F.col("tn"))
        * F.log((F.col("pos").cast("double") * F.col("tn"))
                / (F.col("neg").cast("double") * F.col("tp")))
        * 1e6).cast("bigint")
    terms = (cells.crossJoin(F.broadcast(tot))
             .agg(F.count("*").alias("n_buckets"),
                  F.sum(F.when(ok, 1).otherwise(0)).alias("n_scored"),
                  F.sum(F.when(ok, term).otherwise(0)).alias("iv_u")))
    iv = F.round(F.col("iv_u") / 1e6, 6)
    return terms.select(
        "n_buckets", "n_scored",
        iv.alias("information_value"),
        F.when(iv < 0.02, "useless").when(iv < 0.1, "weak")
        .when(iv < 0.3, "medium").otherwise("strong")
        .alias("predictive_grade"))
