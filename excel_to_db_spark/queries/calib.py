"""Probability-calibration diagnostics pack (round 6, batch 65). The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators — the audits run on any model score before it is trusted
as a probability (quality classifiers gating corpus admission, LLM
judge scores, CTR models). All four share the repo's standard scored
construction (`eval_calibration_ece`): conf = n_chars / max(n_chars)
snapped at 1e6, label = (lang = 'en').

- Hosmer-Lemeshow chi²: per-bin observed-vs-expected positives AND
  negatives — the grouped goodness-of-fit test ECE's plain gap
  average is not (HL weighs bins by information, not count).
- Spiegelhalter's z (1986): the UNGROUPED calibration test — the
  Brier score standardized against its perfect-calibration null;
  no binning choice to game.
- Calibration slope/intercept (Cox 1958): logistic recalibration
  logit(P(y=1)) = a + b*logit(conf) by two exact Newton steps —
  b < 1 is overconfidence, b > 1 underconfidence, a the direction
  bias; THE summary reported by clinical-model audits.
- KS separation: max CDF gap between positive and negative score
  distributions — the credit-scoring discrimination twin the
  calibration numbers must be read against (a perfectly calibrated
  constant score has KS = 0 and is useless).

Determinism contract (SURVEY §4.3): conf is a 1e6-snapped integer
everywhere; per-row/per-bin float terms are fixed expressions of
those integers snapped (1e8 bins, 1e12 rows) then summed as
integers; the Newton iterations follow the `ml_logistic_newton`
snapped-sufficient-statistics protocol (2 steps, pinned start);
logits clamp conf into [0.01, 0.99] identically on both engines.

Scale shapes: every key is one or two map-side-combinable aggregates
over the scored table (sufficient statistics, never rows, reach the
driver); KS reuses the bounded score-grid window. That is the shape
that survives 100 TB."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql


_SCORED_SQL = """
    mx AS (SELECT max(n_chars) AS maxc FROM documents),
    scored AS (
        SELECT CAST(round(round(n_chars * 1.0 / maxc, 6) * 1e6)
                    AS BIGINT) AS u,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents, mx
    )
"""


def _scored(spark, sf_dir):
    """documents -> (u, y): 1e6-snapped confidence + binary label
    (the `eval_calibration_ece` construction). One broadcast scalar
    join for the max; no shuffle beyond the reduce."""
    d = T(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("maxc"))
    return (d.crossJoin(F.broadcast(mx))
            .select(F.round(F.round(F.col("n_chars") * 1.0
                                    / F.col("maxc"), 6) * 1e6)
                    .cast("bigint").alias("u"),
                    F.when(F.col("lang") == "en", 1).otherwise(0)
                    .alias("y")))


# ---------------------------------------------- Hosmer-Lemeshow

@query("eval_hosmer_lemeshow", oracle=f"""
    WITH {_SCORED_SQL},
    bins AS (
        SELECT least(CAST(floor(u / 100000.0) AS BIGINT), 9) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS o1,
               CAST(sum(u) AS BIGINT) AS e1_u
        FROM scored GROUP BY 1
    ),
    terms AS (
        SELECT bin, n, o1,
               CAST(round(
                   ((o1 - e1_u / 1e6) * (o1 - e1_u / 1e6)
                    / (e1_u / 1e6)
                    + ((n - o1) - (n - e1_u / 1e6))
                      * ((n - o1) - (n - e1_u / 1e6))
                      / (n - e1_u / 1e6)) * 1e8) AS BIGINT) AS snapped
        FROM bins
        WHERE e1_u > 0 AND e1_u < n * 1000000
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins_used,
           CAST(count(*) - 2 AS BIGINT) AS df,
           round(CAST(sum(snapped) AS DOUBLE) / 1e8, 4) AS hl_chi2
    FROM terms
""")
def eval_hosmer_lemeshow(spark, sf_dir):
    """Hosmer-Lemeshow goodness-of-fit over the ECE's 10 equal-width
    confidence bins: chi² = SUM_bins [(O1-E1)²/E1 + (O0-E0)²/E0]
    with E1 the SUM of predicted probabilities in the bin (exact
    1e6-integer sums), O1 the positive count. Bins where E1 = 0 or
    E0 = 0 are excluded on both engines (their 0/0 terms are
    undefined; a calibrated model never populates them). df =
    bins - 2 by the usual convention. ECE asks "how big is the gap";
    HL asks "is the gap bigger than binomial noise allows" — the
    hypothesis-test companion.

    Per-bin terms are fixed double expressions of exact integers,
    snapped at 1e8 and integer-summed (order-independent). One
    groupBy(bin) — 10 groups, map-side combinable."""
    s = _scored(spark, sf_dir)
    bins = (s.groupBy(F.least(F.floor(F.col("u") / 100000.0), F.lit(9))
                      .cast("bigint").alias("bin"))
            .agg(F.count("*").alias("n"), F.sum("y").alias("o1"),
                 F.sum("u").alias("e1_u")))
    e1 = F.col("e1_u") / 1e6
    term = ((F.col("o1") - e1) * (F.col("o1") - e1) / e1
            + ((F.col("n") - F.col("o1")) - (F.col("n") - e1))
            * ((F.col("n") - F.col("o1")) - (F.col("n") - e1))
            / (F.col("n") - e1))
    terms = (bins.filter((F.col("e1_u") > 0)
                         & (F.col("e1_u") < F.col("n") * 1000000))
             .select("bin", F.round(term * 1e8).cast("bigint")
                     .alias("snapped")))
    return terms.agg(
        F.count("*").alias("n_bins_used"),
        (F.count("*") - 2).alias("df"),
        F.round(F.sum("snapped").cast("double") / 1e8, 4)
        .alias("hl_chi2"))


# --------------------------------------------- Spiegelhalter z

@query("eval_spiegelhalter_z", oracle=f"""
    WITH {_SCORED_SQL},
    terms AS (
        SELECT y,
               CAST(round((y - u / 1e6) * (1 - 2 * u / 1e6) * 1e12)
                    AS BIGINT) AS num_t,
               CAST(round((1 - 2 * u / 1e6) * (1 - 2 * u / 1e6)
                          * (u / 1e6) * (1 - u / 1e6) * 1e12)
                    AS BIGINT) AS den_t,
               CAST(round((y - u / 1e6) * (y - u / 1e6) * 1e12)
                    AS BIGINT) AS brier_t
        FROM scored
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(brier_t) / (1e12 * count(*)), 6) AS brier,
           round(CAST(sum(num_t) AS DOUBLE)
                 / (1e12 * sqrt(sum(den_t) / 1e12)), 4) AS z
    FROM terms
""")
def eval_spiegelhalter_z(spark, sf_dir):
    """Spiegelhalter's calibration z: the Brier score centered and
    scaled by its exact mean/variance under the null that every
    predicted probability is correct — z = SUM (y-p)(1-2p) /
    sqrt(SUM (1-2p)² p(1-p)). |z| > 2 rejects calibration WITHOUT
    choosing bins (the ungrouped complement to Hosmer-Lemeshow: HL
    can be gamed by bin placement, z cannot; z is blind to
    within-half miscalibration patterns HL sees — run both). The
    mean Brier score rides along for context.

    Per-row terms are fixed double expressions of the 1e6 integer
    confidence, snapped at 1e12, integer-summed. ONE aggregate."""
    s = _scored(spark, sf_dir)
    p = F.col("u") / 1e6
    one2p = 1 - 2 * p
    terms = s.select(
        F.round((F.col("y") - p) * one2p * 1e12).cast("bigint")
        .alias("num_t"),
        F.round(one2p * one2p * p * (1 - p) * 1e12).cast("bigint")
        .alias("den_t"),
        F.round((F.col("y") - p) * (F.col("y") - p) * 1e12)
        .cast("bigint").alias("brier_t"))
    return terms.agg(
        F.count("*").alias("n"),
        F.round(F.sum("brier_t") / (1e12 * F.count("*")), 6)
        .alias("brier"),
        F.round(F.sum("num_t").cast("double")
                / (1e12 * F.sqrt(F.sum("den_t") / 1e12)), 4)
        .alias("z"))


# ------------------------------------- calibration slope/intercept

_P = "1 / (1 + exp(-({a}) - ({b}) * x))"
_CAL_STEP_SQL = f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           {units_sum_sql(f"y - {_P}", 1e6)} AS g_a,
           {units_sum_sql(f"(y - {_P}) * x", 1e6)} AS g_b,
           {units_sum_sql(f"({_P}) * (1 - {_P})", 1e6)} AS h_aa,
           {units_sum_sql(f"({_P}) * (1 - {_P}) * x", 1e6)} AS h_ab,
           {units_sum_sql(f"({_P}) * (1 - {_P}) * x * x", 1e6)} AS h_bb
    FROM lx
"""


@query("eval_calibration_slope", oracle=f"""
    WITH {_SCORED_SQL},
    lx AS (
        SELECT y,
               ln((least(greatest(u, 10000), 990000) / 1e6)
                  / (1 - least(greatest(u, 10000), 990000) / 1e6))
                   AS x
        FROM scored
    ),
    s1 AS MATERIALIZED ({_CAL_STEP_SQL.format(a="0.0", b="1.0")}),
    b1 AS MATERIALIZED (
        SELECT
            0.0 + ((h_bb / 1e6) * (g_a / 1e6) - (h_ab / 1e6)
                   * (g_b / 1e6))
                  / ((h_aa / 1e6) * (h_bb / 1e6)
                     - (h_ab / 1e6) * (h_ab / 1e6)) AS a1,
            1.0 + ((h_aa / 1e6) * (g_b / 1e6) - (h_ab / 1e6)
                   * (g_a / 1e6))
                  / ((h_aa / 1e6) * (h_bb / 1e6)
                     - (h_ab / 1e6) * (h_ab / 1e6)) AS b1
        FROM s1
    ),
    s2 AS ({_CAL_STEP_SQL.format(
        a="(SELECT a1 FROM b1)", b="(SELECT b1 FROM b1)")}),
    b2 AS (
        SELECT
            a1 + ((h_bb / 1e6) * (g_a / 1e6) - (h_ab / 1e6)
                  * (g_b / 1e6))
                 / ((h_aa / 1e6) * (h_bb / 1e6)
                    - (h_ab / 1e6) * (h_ab / 1e6)) AS a2,
            b1 + ((h_aa / 1e6) * (g_b / 1e6) - (h_ab / 1e6)
                  * (g_a / 1e6))
                 / ((h_aa / 1e6) * (h_bb / 1e6)
                    - (h_ab / 1e6) * (h_ab / 1e6)) AS b2,
            n
        FROM s2, b1
    )
    SELECT n, round(a2, 4) AS cal_intercept, round(b2, 4) AS cal_slope
    FROM b2
""")
def eval_calibration_slope(spark, sf_dir):
    """Logistic recalibration (Cox 1958): fit
    logit(P(y=1)) = a + b*logit(conf) by two exact Newton-Raphson
    steps from the calibrated start (a,b) = (0,1). Slope b < 1 says
    the score is overconfident (extremes too extreme), b > 1
    underconfident; intercept a is the overall base-rate bias after
    slope correction. Two steps from (0,1) is the pinned,
    reproducible protocol (`ml_logistic_newton`): each step is ONE
    aggregate of six 1e6-snapped sufficient statistics (gradient +
    symmetric 2x2 Hessian), solved in closed form — sufficient
    statistics, never rows, reach the driver; that is logistic
    training at 100 TB. conf clamps into [0.01, 0.99] on both
    engines before the logit (the max-length doc has conf = 1)."""
    s = _scored(spark, sf_dir)
    uc = F.least(F.greatest(F.col("u"), F.lit(10000)), F.lit(990000))
    lx = s.select("y", F.log((uc / 1e6) / (1 - uc / 1e6)).alias("x"))

    def step(df, a, b):
        pr = 1 / (1 + F.exp(-F.lit(a) - F.lit(b) * F.col("x")))
        w = pr * (1 - pr)
        m = df.agg(
            F.count("*").alias("n"),
            units_sum(F.col("y") - pr, 1e6).alias("g_a"),
            units_sum((F.col("y") - pr) * F.col("x"), 1e6).alias("g_b"),
            units_sum(w, 1e6).alias("h_aa"),
            units_sum(w * F.col("x"), 1e6).alias("h_ab"),
            units_sum(w * F.col("x") * F.col("x"), 1e6).alias("h_bb")
        ).collect()[0]
        ga, gb = m.g_a / 1e6, m.g_b / 1e6
        haa, hab, hbb = m.h_aa / 1e6, m.h_ab / 1e6, m.h_bb / 1e6
        det = haa * hbb - hab * hab
        return (a + (hbb * ga - hab * gb) / det,
                b + (haa * gb - hab * ga) / det, m.n)

    # NOTE on the 1-row collects: each Newton step reduces the corpus
    # to six scalars; the collect moves those six numbers (the
    # bounded-driver-state budget shared with kmeans_lloyd/BFS).
    a1, b1, _ = step(lx, 0.0, 1.0)
    a2, b2, n = step(lx, a1, b1)
    row = spark.createDataFrame([(n, a2, b2)], "n bigint, a double, b double")
    return row.select(
        "n", F.round("a", 4).alias("cal_intercept"),
        F.round("b", 4).alias("cal_slope"))


# ----------------------------------------------- KS separation

@query("eval_ks_separation", oracle=f"""
    WITH {_SCORED_SQL},
    g AS (
        SELECT u,
               CAST(sum(y) AS BIGINT) AS cp,
               CAST(sum(1 - y) AS BIGINT) AS cn
        FROM scored GROUP BY u
    ),
    cum AS (
        SELECT sum(cp) OVER (ORDER BY u
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cump,
               sum(cn) OVER (ORDER BY u
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumn
        FROM g
    ),
    tot AS (
        SELECT CAST(sum(cp) AS BIGINT) AS np,
               CAST(sum(cn) AS BIGINT) AS nn
        FROM g
    )
    SELECT max(np) AS n_pos, max(nn) AS n_neg,
           CAST(max(abs(cump * nn - cumn * np)) AS BIGINT) AS d_num,
           round(max(abs(cump * nn - cumn * np))
                 / CAST(max(np) * max(nn) AS DOUBLE), 6) AS ks
    FROM cum, tot
""")
def eval_ks_separation(spark, sf_dir):
    """KS separation of the confidence score: max |F_pos(u) -
    F_neg(u)| over the score grid — credit scoring's discrimination
    statistic (and the complement every calibration audit needs: a
    constant score passes HL and Spiegelhalter perfectly while
    separating nothing). The max gap is an exact integer
    cross-product (cump*n_neg - cumn*n_pos) over the 1e6-snapped
    score grid; one float division after the max. Same bounded
    value-grid window as the `stats_kuiper_two_sample` family — grid
    size is capped by the 1e6 snap, not the corpus."""
    s = _scored(spark, sf_dir)
    g = s.groupBy("u").agg(F.sum("y").alias("cp"),
                           F.sum(1 - F.col("y")).alias("cn"))
    w = (Window.orderBy("u")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = g.select(F.sum("cp").over(w).alias("cump"),
                   F.sum("cn").over(w).alias("cumn"))
    tot = g.agg(F.sum("cp").alias("np"), F.sum("cn").alias("nn"))
    x = F.abs(F.col("cump") * F.col("nn") - F.col("cumn") * F.col("np"))
    return (cum.crossJoin(F.broadcast(tot))
            .agg(F.max("np").alias("n_pos"), F.max("nn").alias("n_neg"),
                 F.max(x).alias("d_num"),
                 F.round(F.max(x)
                         / (F.max("np") * F.max("nn")).cast("double"), 6)
                 .alias("ks")))
