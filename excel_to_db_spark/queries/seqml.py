"""Sequential-testing/boosting/bands pack (round 5, batch 30): the
sequential probability ratio test, two rounds of AdaBoost over
weighted histograms, Bollinger bands with breakout census, and TOST
equivalence testing. The reference engine (294 LoC of Rust delegating
to SQLite, reference src/main.rs) has none of this surface; these are
Tier-C mission operators:

- SPRT (Wald 1945) is the original always-valid sequential test:
  monitor the cumulative log-likelihood ratio and stop the moment it
  crosses a boundary — the ancestor of every "peek early" A/B method.
- AdaBoost (Freund & Schapire 1997) over WEIGHTED histograms shows
  the boosting inner loop as pure aggregation: reweighting never
  touches rows individually, it just reweights histogram cells.
- Bollinger bands are the rolling mean +/- 2 sigma envelope every
  monitoring dashboard draws; breakouts are the alert events.
- TOST (Schuirmann 1987) flips the testing burden: reject ONLY if the
  effect is provably inside an equivalence margin — the correct test
  for "this change is safe".

Determinism contract (SURVEY §4.3): LLR increments are micro-snapped
constants times exact counts; boosting weights are exact integer
micro-units with closed-form reweighting; rolling moments ride
ordered windows (frame order pinned); every test statistic reads
snapped inputs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import erfc, erfc_sql, units_sum, units_sum_sql
from .registry import query
from .relational import T


# ------------------------------------------------------ Wald SPRT

# H0: daily purchase share p0 = 0.18 vs H1: p1 = 0.22; alpha=beta=0.05
# => boundaries ln((1-b)/a) and ln(b/(1-a)). All four log constants
# are micro-snapped literals computed identically on both engines.
_SPRT = dict(p0=0.18, p1=0.22, a=0.05, b=0.05)


@query("stats_sprt", oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    llr AS (
        SELECT day, n, k,
               k * CAST(round(ln({_SPRT['p1']} / {_SPRT['p0']}) * 1e6)
                        AS BIGINT)
               + (n - k) * CAST(round(ln((1 - {_SPRT['p1']})
                                         / (1 - {_SPRT['p0']})) * 1e6)
                                AS BIGINT) AS inc_u
        FROM daily
    ),
    walk AS (
        SELECT day, n, k, inc_u,
               CAST(sum(inc_u) OVER (ORDER BY day) AS BIGINT) AS llr_u,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS step
        FROM llr
    ),
    bounds AS (
        SELECT CAST(round(ln((1 - {_SPRT['b']}) / {_SPRT['a']}) * 1e6)
                    AS BIGINT) AS up_u,
               CAST(round(ln({_SPRT['b']} / (1 - {_SPRT['a']})) * 1e6)
                    AS BIGINT) AS lo_u
    ),
    crossing AS (
        SELECT min(step) AS first_cross_step,
               min_by(llr_u, step) AS cross_llr_u
        FROM walk, bounds
        WHERE llr_u >= up_u OR llr_u <= lo_u
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM walk) AS n_steps,
           (SELECT llr_u FROM walk
            ORDER BY step DESC LIMIT 1) AS final_llr_u,
           (SELECT up_u FROM bounds) AS upper_u,
           (SELECT lo_u FROM bounds) AS lower_u,
           first_cross_step,
           CASE WHEN first_cross_step IS NULL THEN 'continue'
                WHEN cross_llr_u >= (SELECT up_u FROM bounds)
                    THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM crossing
""")
def stats_sprt(spark, sf_dir):
    """Wald's sequential probability ratio test (Wald 1945) on the
    daily purchase share: H0 p=0.18 vs H1 p=0.22, alpha=beta=0.05.
    Each day contributes k*ln(p1/p0) + (n-k)*ln(q1/q0) to the
    cumulative LLR; the first day the walk exits
    [ln(b/(1-a)), ln((1-b)/a)] decides — the "stop the experiment the
    moment the evidence suffices" primitive, with the expected sample
    size far below the fixed-horizon test's.

    The two per-observation log constants are micro-snapped ONCE
    (deterministic literals), so every increment is an exact BIGINT
    multiple and the walk, the boundaries, the crossing step, and the
    decision are all integer comparisons (SURVEY §4.3).

    Scale shape: the fact collapses to the day spine; the walk is one
    ordered cumulative window over the bounded calendar series."""
    p0, p1, a, b = (_SPRT["p0"], _SPRT["p1"], _SPRT["a"], _SPRT["b"])
    ev = T(spark, sf_dir, "events").select("ts", "event_type")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.count("*").alias("n"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("k")))
    c_pos = F.round(F.log(F.lit(p1 / p0)) * 1e6).cast("bigint")
    c_neg = F.round(F.log(F.lit((1 - p1) / (1 - p0))) * 1e6) \
             .cast("bigint")
    llr = daily.withColumn(
        "inc_u", F.col("k") * c_pos + (F.col("n") - F.col("k")) * c_neg)
    w = Window.orderBy("day")
    walk = (llr
            .withColumn("llr_u",
                        F.sum("inc_u").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)))
            .withColumn("step",
                        F.row_number().over(w).cast("bigint")))
    up_u = F.round(F.log(F.lit((1 - b) / a)) * 1e6).cast("bigint")
    lo_u = F.round(F.log(F.lit(b / (1 - a))) * 1e6).cast("bigint")
    bounds = spark.range(1).select(up_u.alias("up_u"),
                                   lo_u.alias("lo_u"))
    wb = walk.crossJoin(F.broadcast(bounds))
    crossing = (wb.filter((F.col("llr_u") >= F.col("up_u"))
                          | (F.col("llr_u") <= F.col("lo_u")))
                .agg(F.min("step").alias("first_cross_step"),
                     F.min_by("llr_u", "step").alias("cross_llr_u")))
    n_steps = walk.agg(F.count("*").alias("n_steps"))
    final = (walk.orderBy(F.col("step").desc()).limit(1)
             .select(F.col("llr_u").alias("final_llr_u")))
    out = (n_steps.crossJoin(F.broadcast(final))
           .crossJoin(F.broadcast(bounds))
           .crossJoin(F.broadcast(crossing)))
    return out.select(
        "n_steps", "final_llr_u",
        F.col("up_u").alias("upper_u"),
        F.col("lo_u").alias("lower_u"),
        "first_cross_step",
        F.when(F.col("first_cross_step").isNull(), "continue")
         .when(F.col("cross_llr_u") >= F.col("up_u"), "accept_h1")
         .otherwise("accept_h0").alias("decision"))


# --------------------------------- AdaBoost, 2 rounds over histograms

@query("ml_adaboost", oracle="""
    WITH rows_ AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    h1 AS (
        SELECT q, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM rows_ GROUP BY q
    ),
    c1 AS (
        SELECT q,
               CAST(sum(n) OVER (ORDER BY q) AS BIGINT) AS nl,
               CAST(sum(pos) OVER (ORDER BY q) AS BIGINT) AS pl,
               CAST(sum(n) OVER () AS BIGINT) AS nt,
               CAST(sum(pos) OVER () AS BIGINT) AS pt
        FROM h1
    ),
    -- round-1 stump: minimize weighted error with unit weights;
    -- left predicts its majority, right predicts its majority
    g1 AS (
        SELECT q AS t1, nl, pl, nt, pt,
               least(pl, nl - pl) + least(pt - pl, (nt - nl) - (pt - pl))
                   AS err1
        FROM c1 WHERE nl < nt
    ),
    b1 AS (
        SELECT * FROM g1 ORDER BY err1, t1 LIMIT 1
    ),
    -- per-row weights after round 1 in micro-units: correct rows get
    -- w * exp(-alpha1), wrong rows w * exp(+alpha1); with unit start,
    -- only TWO weight values exist — snap each once
    d1 AS (
        SELECT r.q, r.y, b1.t1,
               CASE WHEN (r.q <= b1.t1 AND
                          (CASE WHEN 2 * b1.pl > b1.nl THEN 1 ELSE 0
                           END) = r.y)
                      OR (r.q > b1.t1 AND
                          (CASE WHEN 2 * (b1.pt - b1.pl)
                                     > (b1.nt - b1.nl) THEN 1 ELSE 0
                           END) = r.y)
                    THEN 0 ELSE 1 END AS wrong1
        FROM rows_ r, b1
    ),
    alpha AS (
        SELECT round(0.5 * ln((1.0 * (SELECT nt FROM b1)
                               - (SELECT err1 FROM b1))
                              / (SELECT err1 FROM b1)), 6) AS alpha1
    ),
    wts AS (
        SELECT CAST(round(exp(-alpha1) * 1e6) AS BIGINT) AS w_ok,
               CAST(round(exp(alpha1) * 1e6) AS BIGINT) AS w_bad
        FROM alpha
    ),
    h2 AS (
        SELECT d1.q,
               CAST(sum(CASE WHEN wrong1 = 0 THEN w_ok ELSE w_bad END)
                    AS BIGINT) AS wn,
               CAST(sum(CASE WHEN y = 1 THEN
                        CASE WHEN wrong1 = 0 THEN w_ok ELSE w_bad END
                        ELSE 0 END) AS BIGINT) AS wpos
        FROM d1, wts GROUP BY d1.q
    ),
    c2 AS (
        SELECT q,
               CAST(sum(wn) OVER (ORDER BY q) AS BIGINT) AS nl,
               CAST(sum(wpos) OVER (ORDER BY q) AS BIGINT) AS pl,
               CAST(sum(wn) OVER () AS BIGINT) AS nt,
               CAST(sum(wpos) OVER () AS BIGINT) AS pt
        FROM h2
    ),
    g2 AS (
        SELECT q AS t2, nl, pl, nt, pt,
               least(pl, nl - pl) + least(pt - pl, (nt - nl) - (pt - pl))
                   AS err2_u
        FROM c2 WHERE nl < nt
    ),
    b2 AS (
        SELECT * FROM g2 ORDER BY err2_u, t2 LIMIT 1
    )
    SELECT (SELECT t1 FROM b1) AS stump1_threshold,
           (SELECT err1 FROM b1) AS stump1_errors,
           (SELECT round(err1 * 1.0 / nt, 6) FROM b1) AS stump1_err_rate,
           (SELECT alpha1 FROM alpha) AS alpha1,
           (SELECT t2 FROM b2) AS stump2_threshold,
           (SELECT round(err2_u * 1.0 / nt, 6) FROM b2)
               AS stump2_werr_rate
""")
def ml_adaboost(spark, sf_dir):
    """Two rounds of AdaBoost (Freund & Schapire 1997) with decision
    stumps on l_quantity vs the is-returned label — expressed entirely
    as weighted-histogram aggregation: round 1 picks the
    min-error stump from the unit-weight histogram; the reweighting
    w <- w*exp(+/-alpha) produces exactly TWO weight values (snapped
    once to micro-units), so round 2's weighted histogram is again one
    exact-integer aggregate and its stump search is the same
    cumulative window. Rows are never touched individually — boosting
    at 100 TB is histogram reweighting, which is the point.

    alpha1 = 0.5*ln((1-e)/e) reads the snapped error count; both
    stump searches break error ties toward the smallest threshold;
    the majority predictions are pinned (ties predict negative).

    Scale shape: two histogram aggregates (the second carries the
    weight CASE inline — no per-row weight table is materialized),
    two bounded cumulative windows, two TakeOrdered(1) picks."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"))
    h1 = li.groupBy("q").agg(F.count("*").alias("n"),
                             F.sum("y").alias("pos"))
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    wa = Window.partitionBy()
    c1 = h1.select(
        "q",
        F.sum("n").over(wq).alias("nl"),
        F.sum("pos").over(wq).alias("pl"),
        F.sum("n").over(wa).alias("nt"),
        F.sum("pos").over(wa).alias("pt"))
    err = (F.least(F.col("pl"), F.col("nl") - F.col("pl"))
           + F.least(F.col("pt") - F.col("pl"),
                     (F.col("nt") - F.col("nl"))
                     - (F.col("pt") - F.col("pl"))))
    g1 = (c1.filter(F.col("nl") < F.col("nt"))
          .select(F.col("q").alias("t1"), "nl", "pl", "nt", "pt",
                  err.alias("err1")))
    b1 = g1.orderBy("err1", "t1").limit(1)

    left_pos = F.when(2 * F.col("pl") > F.col("nl"), 1).otherwise(0)
    right_pos = F.when(2 * (F.col("pt") - F.col("pl"))
                       > (F.col("nt") - F.col("nl")), 1).otherwise(0)
    d1 = (li.crossJoin(F.broadcast(b1))
          .select("q", "y", "nt",
                  F.when(((F.col("q") <= F.col("t1"))
                          & (left_pos == F.col("y")))
                         | ((F.col("q") > F.col("t1"))
                            & (right_pos == F.col("y"))), 0)
                  .otherwise(1).alias("wrong1"),
                  F.col("err1")))
    alpha1 = F.round(0.5 * F.log((1.0 * F.col("nt") - F.col("err1"))
                                 / F.col("err1")), 6)
    wts = (b1.select(alpha1.alias("alpha1"))
           .select("alpha1",
                   F.round(F.exp(-F.col("alpha1")) * 1e6)
                   .cast("bigint").alias("w_ok"),
                   F.round(F.exp(F.col("alpha1")) * 1e6)
                   .cast("bigint").alias("w_bad")))
    wrow = F.when(F.col("wrong1") == 0, F.col("w_ok")) \
            .otherwise(F.col("w_bad"))
    h2 = (d1.crossJoin(F.broadcast(wts))
          .groupBy("q")
          .agg(F.sum(wrow).alias("wn"),
               F.sum(F.when(F.col("y") == 1, wrow).otherwise(0))
               .alias("wpos")))
    c2 = h2.select(
        "q",
        F.sum("wn").over(wq).alias("nl"),
        F.sum("wpos").over(wq).alias("pl"),
        F.sum("wn").over(wa).alias("nt"),
        F.sum("wpos").over(wa).alias("pt"))
    g2 = (c2.filter(F.col("nl") < F.col("nt"))
          .select(F.col("q").alias("t2"), err.alias("err2_u"),
                  F.col("nt").alias("wnt")))
    b2 = g2.orderBy("err2_u", "t2").limit(1)

    out1 = b1.select(
        F.col("t1").alias("stump1_threshold"),
        F.col("err1").alias("stump1_errors"),
        F.round(F.col("err1") * 1.0 / F.col("nt"), 6)
        .alias("stump1_err_rate"))
    out_a = wts.select("alpha1")
    out2 = b2.select(
        F.col("t2").alias("stump2_threshold"),
        F.round(F.col("err2_u") * 1.0 / F.col("wnt"), 6)
        .alias("stump2_werr_rate"))
    return (out1.crossJoin(F.broadcast(out_a))
            .crossJoin(F.broadcast(out2))
            .select("stump1_threshold", "stump1_errors",
                    "stump1_err_rate", "alpha1",
                    "stump2_threshold", "stump2_werr_rate"))


# ------------------------------------------------- Bollinger bands

@query("ts_bollinger", oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               {units_sum_sql('value', 100)}
                   AS cents
        FROM events GROUP BY 1
    ),
    roll AS (
        SELECT day, cents,
               CAST(sum(cents) OVER w AS BIGINT) AS s1,
               CAST(sum(cents * cents) OVER w AS BIGINT) AS s2,
               CAST(count(*) OVER w AS BIGINT) AS m
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
                     AND CURRENT ROW)
    ),
    bands AS (
        SELECT day, cents, m,
               round(s1 * 1.0 / m, 4) AS mid,
               round(sqrt(greatest((s2 - s1 * 1.0 / m * s1) / m, 0.0)),
                     4) AS sigma
        FROM roll WHERE m = 7
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN cents > mid + 2 * sigma THEN 1 ELSE 0
                    END) AS BIGINT) AS n_breakout_up,
           CAST(sum(CASE WHEN cents < mid - 2 * sigma THEN 1 ELSE 0
                    END) AS BIGINT) AS n_breakout_down,
           round({units_sum_sql('sigma', 100)} * 1.0 / count(*) / 100, 4)
               AS avg_sigma
    FROM bands
""")
def ts_bollinger(spark, sf_dir):
    """Bollinger bands (Bollinger 1980s) on the daily value series:
    7-day rolling mean +/- 2 rolling sigma, with the breakout census
    (days closing outside the envelope) — the monitoring-dashboard
    envelope, here as an exact-window computation.

    Rolling moments come from integer power sums inside the ordered
    7-row frame (window running sums are order-pinned — the SURVEY
    §4.3 exemption); sigma uses the population form with a 0-clamp
    against last-ulp negativity (the delta-method guard). Breakout
    comparisons read the 4-dp-snapped band edges; avg_sigma snaps
    per-day before the mean.

    Scale shape: day-spine collapse + one ordered window pass +
    one reduce."""
    ev = T(spark, sf_dir, "events").select("ts", "value")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(units_sum(F.col("value"), 100)
                  .alias("cents")))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    roll = daily.select(
        "day", "cents",
        F.sum("cents").over(w).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("s2"),
        F.count("*").over(w).alias("m"))
    bands = (roll.filter(F.col("m") == 7)
             .select("day", "cents", "m",
                     F.round(F.col("s1") * 1.0 / F.col("m"), 4)
                     .alias("mid"),
                     F.round(F.sqrt(F.greatest(
                         (F.col("s2") - F.col("s1") * 1.0 / F.col("m")
                          * F.col("s1")) / F.col("m"),
                         F.lit(0.0))), 4).alias("sigma")))
    return bands.agg(
        F.count("*").alias("n_days"),
        F.sum(F.when(F.col("cents")
                     > F.col("mid") + 2 * F.col("sigma"), 1)
              .otherwise(0)).alias("n_breakout_up"),
        F.sum(F.when(F.col("cents")
                     < F.col("mid") - 2 * F.col("sigma"), 1)
              .otherwise(0)).alias("n_breakout_down"),
        F.round(units_sum(F.col("sigma"), 100)
                * 1.0 / F.count("*") / 100, 4).alias("avg_sigma"))


# ------------------------------------------- TOST equivalence test

@query("stats_tost", oracle=f"""
    WITH g AS (
        SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('click', 'view')
    ),
    m AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(cents * cents) AS BIGINT) AS s2
        FROM g GROUP BY grp
    ),
    w AS (
        SELECT max(CASE WHEN grp = 1 THEN n END) AS n1,
               max(CASE WHEN grp = 0 THEN n END) AS n2,
               max(CASE WHEN grp = 1 THEN s1 END) AS a1,
               max(CASE WHEN grp = 0 THEN s1 END) AS b1,
               max(CASE WHEN grp = 1 THEN s2 END) AS a2,
               max(CASE WHEN grp = 0 THEN s2 END) AS b2
        FROM m
    ),
    st AS (
        SELECT n1, n2,
               round((a1 * 1.0 / n1 - b1 * 1.0 / n2) / 100, 6) AS diff,
               round(sqrt(
                   (a2 - a1 * 1.0 / n1 * a1) / (n1 - 1) / 10000 / n1
                   + (b2 - b1 * 1.0 / n2 * b1) / (n2 - 1) / 10000 / n2
               ), 6) AS se
        FROM w
    ),
    ts AS (
        SELECT n1, n2, diff, se,
               round((diff - (-2.0)) / se, 6) AS t_lower,
               round((diff - 2.0) / se, 6) AS t_upper
        FROM st
    ),
    pv AS (
        SELECT n1, n2, diff, se, t_lower, t_upper,
               round(0.5 * {erfc_sql('t_lower / sqrt(2.0)')}, 8)
                   AS p_lower,
               round(0.5 * {erfc_sql('-t_upper / sqrt(2.0)')}, 8)
                   AS p_upper
        FROM ts
    )
    SELECT n1, n2, diff, se, t_lower, t_upper, p_lower, p_upper,
           p_lower < 0.05 AND p_upper < 0.05 AS equivalent
    FROM pv
""")
def stats_tost(spark, sf_dir):
    """TOST equivalence test (Schuirmann 1987): are click and view
    event values equivalent within +/- 2.0 units? Two one-sided
    z-tests — H0a: diff <= -2 (p_lower from the LOWER tail of
    t_lower) and H0b: diff >= +2 (p_upper from the UPPER tail of
    t_upper) — and equivalence is declared only when BOTH reject.
    This flips the burden of proof: absence of significance is NOT
    evidence of absence, TOST is.

    Means/variances come from exact cents power sums (the
    stats_cohens_d protocol); diff and the Welch-style SE snap before
    the t ratios; one-sided normal p-values use erfc(z/sqrt(2))/2
    with the A-S polynomial (upper tail via the sign flip).

    Scale shape: ONE two-group aggregate — six integers out."""
    ev = (T(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "view"))
          .select(F.when(F.col("event_type") == "click", 1).otherwise(0)
                  .alias("grp"),
                  F.round(F.col("value") * 100).cast("bigint")
                  .alias("cents")))
    m = (ev.groupBy("grp")
         .agg(F.count("*").alias("n"),
              F.sum("cents").alias("s1"),
              F.sum(F.col("cents") * F.col("cents")).alias("s2")))
    w = m.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == 1, F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("grp") == 0, F.col("s1"))).alias("b1"),
        F.max(F.when(F.col("grp") == 1, F.col("s2"))).alias("a2"),
        F.max(F.when(F.col("grp") == 0, F.col("s2"))).alias("b2"))
    st = w.select(
        "n1", "n2",
        F.round((F.col("a1") * 1.0 / F.col("n1")
                 - F.col("b1") * 1.0 / F.col("n2")) / 100, 6)
         .alias("diff"),
        F.round(F.sqrt(
            (F.col("a2") - F.col("a1") * 1.0 / F.col("n1")
             * F.col("a1")) / (F.col("n1") - 1) / 10000 / F.col("n1")
            + (F.col("b2") - F.col("b1") * 1.0 / F.col("n2")
               * F.col("b1")) / (F.col("n2") - 1) / 10000
            / F.col("n2")), 6).alias("se"))
    ts = st.select(
        "n1", "n2", "diff", "se",
        F.round((F.col("diff") - (-2.0)) / F.col("se"), 6)
         .alias("t_lower"),
        F.round((F.col("diff") - 2.0) / F.col("se"), 6)
         .alias("t_upper"))

    def upper_tail(tstat):
        # Q(t) = P(Z >= t) = erfc(t / sqrt(2)) / 2
        return F.round(0.5 * erfc(tstat / F.sqrt(F.lit(2.0))), 8)

    pv = ts.select(
        "n1", "n2", "diff", "se", "t_lower", "t_upper",
        upper_tail(F.col("t_lower")).alias("p_lower"),
        upper_tail(-F.col("t_upper")).alias("p_upper"))
    return pv.select(
        "n1", "n2", "diff", "se", "t_lower", "t_upper",
        "p_lower", "p_upper",
        ((F.col("p_lower") < 0.05) & (F.col("p_upper") < 0.05))
        .alias("equivalent"))
