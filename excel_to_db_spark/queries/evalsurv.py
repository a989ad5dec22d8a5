"""Calibration/survival/risk pack (round 5, batch 28): isotonic
calibration by the minimax identity, the log-rank two-group survival
test, maximum drawdown of the compounded index, and the full binary
confusion panel with Matthews correlation. The reference engine (294
LoC of Rust delegating to SQLite, reference src/main.rs) has none of
this surface; these are Tier-C mission operators:

- Isotonic (PAV) calibration is the standard non-parametric fix for a
  miscalibrated scorer; over binned data the sequential
  pool-adjacent-violators algorithm collapses to the CLOSED-FORM
  minimax identity iso(i) = max_{j<=i} min_{k>=j} mean(y_j..y_k) —
  pure joins and windows, no iteration.
- The log-rank test is THE standard comparison of two survival
  curves, the companion to the repo's Kaplan-Meier key.
- Maximum drawdown is the risk statistic every level series gets —
  the deepest peak-to-trough loss of the compounded index.
- The confusion panel (precision/recall/F1/MCC) is the binary-eval
  scoreboard; MCC is the single number that survives class imbalance.

Determinism contract (SURVEY §4.3): bin means and survival terms snap
to micro-units the moment they are computed; min/max compare only
snapped values; drawdowns derive from the already-snapped index; the
confusion panel is exact integers until four final ratios.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import erfc, erfc_sql, units_sum, units_sum_sql
from .registry import query
from .relational import T


# ------------------------------- isotonic calibration (minimax PAV)

@query("eval_isotonic_calibration", oracle="""
    WITH mx AS (SELECT max(n_chars) AS maxc FROM documents),
    binned AS (
        SELECT CAST(least(floor(round(n_chars * 1.0 / maxc, 6) * 10),
                          9) AS BIGINT) AS bin,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        FROM documents, mx
    ),
    bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS pos
        FROM binned GROUP BY bin
    ),
    spans AS (
        SELECT a.bin AS j, b.bin AS k,
               CAST(round(sum(c.pos) * 1e6 / sum(c.n)) AS BIGINT)
                   AS mean_u
        FROM bins a JOIN bins b ON a.bin <= b.bin
        JOIN bins c ON c.bin BETWEEN a.bin AND b.bin
        GROUP BY a.bin, b.bin
    ),
    -- iso(i) = max_{s<=i} min_{t>=s} Av(s,t): one of the four
    -- equivalent minimax forms (Robertson, Wright & Dykstra 1988,
    -- thm 1.4.4) — the per-s inner min is i-independent, so it
    -- reduces to a groupBy + one range join.
    minimax AS (
        SELECT b.bin,
               CAST(max(inner_min.m) AS BIGINT) AS iso_u
        FROM bins b
        JOIN (SELECT j, min(mean_u) AS m
              FROM spans GROUP BY j) inner_min
          ON inner_min.j <= b.bin
        GROUP BY b.bin
    ),
    out AS (
        SELECT bins.bin, bins.n, bins.pos,
               round(bins.pos * 1.0 / bins.n, 6) AS raw_rate,
               round(minimax.iso_u / 1e6, 6) AS iso_rate
        FROM bins JOIN minimax USING (bin)
    )
    SELECT bin, n, pos, raw_rate, iso_rate FROM out ORDER BY bin
""")
def eval_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAV) calibration of the 10-bin reliability table via
    the minimax identity (Ayer et al. 1955; Barlow et al. 1972):
    iso(i) = max_{j<=i} min_{k>=j} weighted-mean(pos/n over bins
    j..k) — the closed form of pool-adjacent-violators, which turns
    the inherently sequential pooling loop into joins + min/max over
    the bounded bin grid (55 spans for 10 bins). The result is the
    best monotone fit to the empirical per-bin positive rates — the
    calibration map a production scorer applies before thresholding.

    Span means are exact-integer ratios snapped to micro-units, so
    every min/max comparison is BIGINT (SURVEY §4.3); the fitted
    curve is provably monotone and mass-preserving over each pooled
    block (the test asserts both).

    Scale shape: the corpus collapses to 10 bins first (one map-side
    combinable aggregate); the O(bins^2) span enumeration and the
    minimax reductions live entirely on that bounded grid."""
    d = T(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("maxc"))
    binned = (d.crossJoin(F.broadcast(mx))
              .select(
                  F.least(F.floor(F.round(F.col("n_chars") * 1.0
                                          / F.col("maxc"), 6) * 10),
                          F.lit(9)).cast("bigint").alias("bin"),
                  F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("label")))
    bins = (binned.groupBy("bin")
            .agg(F.count("*").alias("n"), F.sum("label").alias("pos")))
    a = bins.select(F.col("bin").alias("j"))
    b = bins.select(F.col("bin").alias("k"))
    c = bins.select(F.col("bin").alias("cb"), "n", "pos")
    spans = (a.join(b, F.col("j") <= F.col("k"))
             .join(c, (F.col("cb") >= F.col("j"))
                   & (F.col("cb") <= F.col("k")))
             .groupBy("j", "k")
             .agg(F.round(F.sum("pos") * 1e6 / F.sum("n"))
                  .cast("bigint").alias("mean_u")))
    per_j_min = spans.groupBy("j").agg(F.min("mean_u").alias("m"))
    minimax = (bins.select("bin")
               .join(per_j_min, F.col("j") <= F.col("bin"))
               .groupBy("bin").agg(F.max("m").alias("iso_u")))
    return (bins.join(minimax, "bin")
            .select("bin", "n", "pos",
                    F.round(F.col("pos") * 1.0 / F.col("n"), 6)
                    .alias("raw_rate"),
                    F.round(F.col("iso_u") / 1e6, 6).alias("iso_rate"))
            .orderBy("bin"))


# ------------------------------------------------- log-rank test

@query("stats_log_rank", oracle=f"""
    WITH seq AS (
        SELECT o_custkey, o_orderdate,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate,
                                                o_orderkey) AS nxt
        FROM orders
    ),
    horizon AS (SELECT max(o_orderdate) AS mx FROM orders),
    dur AS (
        SELECT s.o_custkey,
               CASE WHEN nxt IS NULL
                    THEN date_diff('day', o_orderdate, mx)
                    ELSE date_diff('day', o_orderdate, nxt) END AS t,
               CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev,
               CASE WHEN cu.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS g
        FROM seq s JOIN customer cu ON cu.c_custkey = s.o_custkey
        CROSS JOIN horizon
    ),
    th AS (
        SELECT t,
               CAST(sum(ev) AS BIGINT) AS d,
               CAST(sum(ev * g) AS BIGINT) AS d1,
               CAST(count(*) AS BIGINT) AS tot,
               CAST(sum(g) AS BIGINT) AS tot1
        FROM dur GROUP BY t
    ),
    risk AS (
        SELECT t, d, d1,
               CAST(sum(tot) OVER (ORDER BY t DESC) AS BIGINT) AS n,
               CAST(sum(tot1) OVER (ORDER BY t DESC) AS BIGINT) AS n1
        FROM th
    ),
    terms AS (
        SELECT CAST(sum(d1) AS BIGINT) AS o1,
               {units_sum_sql('d * 1.0 * n1 / n', 1e6)} AS e1_u,
               CAST(sum(CASE WHEN n > 1 THEN
                    CAST(round(d * 1.0 * (n1 * 1.0 / n)
                               * (1.0 - n1 * 1.0 / n)
                               * (n - d) / (n - 1) * 1e6) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS v_u
        FROM risk WHERE d > 0
    ),
    stat AS (
        SELECT o1, round(e1_u / 1e6, 6) AS e1,
               round(v_u / 1e6, 6) AS v,
               round((o1 - e1_u / 1e6) * (o1 - e1_u / 1e6)
                     / (v_u / 1e6), 6) AS chi2
        FROM terms
    )
    SELECT o1 AS observed_g1, e1 AS expected_g1, v AS variance, chi2,
           round({erfc_sql('sqrt(chi2 / 2.0)')}, 8) AS p_value
    FROM stat
""")
def stats_log_rank(spark, sf_dir):
    """Log-rank test (Mantel 1966): do BUILDING-segment customers
    reorder at a different rate than the rest? Observations are
    inter-order gaps (event = a next order exists; censored at the
    horizon otherwise — the stats_kaplan_meier protocol); at each
    distinct event time the observed group-1 events are compared to
    the hypergeometric expectation d*n1/n, with the matching variance.
    chi2 = (O1-E1)^2/V, 1 df, A-S erfc p-value.

    At-risk counts come from one DESCENDING cumulative window over the
    duration histogram (bounded by the gap range, not the corpus);
    per-time E and V terms snap to micro-units before the sums
    (SURVEY §4.3).

    Scale shape: one per-customer lead window (partitioned), one
    histogram aggregate, one ordered pass, scalar math."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey")
    cu = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    seq = o.withColumn("nxt", F.lead("o_orderdate").over(w))
    horizon = o.agg(F.max("o_orderdate").alias("mx"))
    dur = (seq.join(F.broadcast(cu),
                    seq.o_custkey == cu.c_custkey)
           .crossJoin(F.broadcast(horizon))
           .select(
               F.when(F.col("nxt").isNull(),
                      F.datediff(F.col("mx"), F.col("o_orderdate")))
               .otherwise(F.datediff(F.col("nxt"),
                                     F.col("o_orderdate"))).alias("t"),
               F.when(F.col("nxt").isNull(), 0).otherwise(1)
               .alias("ev"),
               F.when(F.col("c_mktsegment") == "BUILDING", 1)
               .otherwise(0).alias("g")))
    th = (dur.groupBy("t")
          .agg(F.sum("ev").alias("d"),
               F.sum(F.col("ev") * F.col("g")).alias("d1"),
               F.count("*").alias("tot"),
               F.sum("g").alias("tot1")))
    wd = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    risk = th.select(
        "t", "d", "d1",
        F.sum("tot").over(wd).alias("n"),
        F.sum("tot1").over(wd).alias("n1"))
    p1 = F.col("n1") * 1.0 / F.col("n")
    e_u = F.round(F.col("d") * 1.0 * F.col("n1") / F.col("n") * 1e6) \
           .cast("bigint")
    v_u = F.when(F.col("n") > 1,
                 F.round(F.col("d") * 1.0 * p1 * (1.0 - p1)
                         * (F.col("n") - F.col("d"))
                         / (F.col("n") - 1) * 1e6).cast("bigint")) \
           .otherwise(F.lit(0))
    terms = (risk.filter(F.col("d") > 0)
             .agg(F.sum("d1").alias("o1"),
                  F.sum(e_u).alias("e1_u"),
                  F.sum(v_u).alias("v_u")))
    dev = F.col("o1") - F.col("e1_u") / 1e6
    stat = terms.select(
        "o1",
        F.round(F.col("e1_u") / 1e6, 6).alias("e1"),
        F.round(F.col("v_u") / 1e6, 6).alias("v"),
        F.round(dev * dev / (F.col("v_u") / 1e6), 6).alias("chi2"))
    z = F.sqrt(F.col("chi2") / 2.0)
    return stat.select(F.col("o1").alias("observed_g1"),
                       F.col("e1").alias("expected_g1"),
                       F.col("v").alias("variance"), "chi2",
                       F.round(erfc(z), 8).alias("p_value"))


# --------------------------------------------------- max drawdown

@query("ts_max_drawdown", oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               {units_sum_sql('value', 100)}
                   AS cents
        FROM events GROUP BY 1
    ),
    runmax AS (
        SELECT day, cents,
               CAST(max(cents) OVER (ORDER BY day) AS BIGINT) AS peak
        FROM daily
    ),
    dd AS (
        SELECT day, cents, peak,
               CAST(round((peak - cents) * 1e6 / peak) AS BIGINT)
                   AS dd_u
        FROM runmax
    ),
    worst AS (
        SELECT day AS trough_day, cents AS trough_cents, peak, dd_u,
               row_number() OVER (ORDER BY dd_u DESC, day) AS rk
        FROM dd
    )
    SELECT trough_day, trough_cents, peak AS peak_cents,
           round(dd_u / 1e6, 6) AS max_drawdown
    FROM worst WHERE rk = 1
""")
def ts_max_drawdown(spark, sf_dir):
    """Maximum drawdown of the daily value series: the deepest
    peak-to-trough decline (peak - x)/peak against the running
    maximum — the risk statistic every level chart carries, and the
    worst-case "how far below the best day did we fall".

    The running peak is an ordered window over the bounded day spine;
    each day's drawdown is an exact-integer ratio snapped to
    micro-units, so the argmax row (earliest day on ties) is a BIGINT
    comparison (SURVEY §4.3).

    Scale shape: day-spine collapse + one ordered window + a 1-row
    TakeOrdered — nothing corpus-sized past the first aggregate."""
    ev = T(spark, sf_dir, "events").select("ts", "value")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(units_sum(F.col("value"), 100)
                  .alias("cents")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    runmax = daily.withColumn("peak", F.max("cents").over(w))
    dd = runmax.withColumn(
        "dd_u", F.round((F.col("peak") - F.col("cents")) * 1e6
                        / F.col("peak")).cast("bigint"))
    return (dd.orderBy(F.col("dd_u").desc(), "day").limit(1)
            .select(F.col("day").alias("trough_day"),
                    F.col("cents").alias("trough_cents"),
                    F.col("peak").alias("peak_cents"),
                    F.round(F.col("dd_u") / 1e6, 6)
                    .alias("max_drawdown")))


# ------------------------------------------- binary confusion panel

@query("eval_confusion_panel", oracle="""
    WITH rated AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lab,
               CASE WHEN length(text) - length(replace(text, 'e', ''))
                    >= 30 THEN 1 ELSE 0 END AS pred
        FROM documents
    ),
    cm AS (
        SELECT CAST(sum(lab * pred) AS BIGINT) AS tp,
               CAST(sum((1 - lab) * pred) AS BIGINT) AS fp,
               CAST(sum(lab * (1 - pred)) AS BIGINT) AS fn,
               CAST(sum((1 - lab) * (1 - pred)) AS BIGINT) AS tn
        FROM rated
    )
    SELECT tp, fp, fn, tn,
           round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy,
           round(tp * 1.0 / (tp + fp), 6) AS precision_,
           round(tp * 1.0 / (tp + fn), 6) AS recall,
           round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
           round((tp * 1.0 * tn - fp * 1.0 * fn)
                 / sqrt((tp + fp) * 1.0 * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) + 0.0 AS mcc
    FROM cm
""")
def eval_confusion_panel(spark, sf_dir):
    """Binary confusion panel for the 'e'-density English detector:
    accuracy, precision, recall, F1, and the Matthews correlation
    coefficient — MCC = (TP*TN - FP*FN)/sqrt of the four marginal
    products, the single confusion statistic that stays honest under
    class imbalance (Matthews 1975).

    The panel is four conditional counts (exact BIGINTs) and five
    final ratios, each one snapped expression in identical operation
    order on both engines; MCC folds IEEE -0.0 (the rolling-corr
    rule). `precision_` carries the trailing underscore because
    PRECISION is reserved in DuckDB.

    Scale shape: ONE map-side-combinable aggregate — four integers
    cross the wire."""
    d = T(spark, sf_dir, "documents")
    lab = F.when(F.col("lang") == "en", 1).otherwise(0)
    pred = F.when(
        F.length("text") - F.length(F.regexp_replace("text", "e", ""))
        >= 30, 1).otherwise(0)
    cm = (d.select(lab.alias("lab"), pred.alias("pred"))
          .agg(F.sum(F.col("lab") * F.col("pred")).alias("tp"),
               F.sum((1 - F.col("lab")) * F.col("pred")).alias("fp"),
               F.sum(F.col("lab") * (1 - F.col("pred"))).alias("fn"),
               F.sum((1 - F.col("lab")) * (1 - F.col("pred")))
               .alias("tn")))
    tp, fp, fn, tn = (F.col("tp"), F.col("fp"), F.col("fn"),
                      F.col("tn"))
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6)
         .alias("accuracy"),
        F.round(tp * 1.0 / (tp + fp), 6).alias("precision_"),
        F.round(tp * 1.0 / (tp + fn), 6).alias("recall"),
        F.round(2.0 * tp / (2.0 * tp + fp + fn), 6).alias("f1"),
        (F.round((tp * 1.0 * tn - fp * 1.0 * fn)
                 / F.sqrt((tp + fp) * 1.0 * (tp + fn)
                          * (tn + fp) * (tn + fn)), 6) + 0.0)
        .alias("mcc"))
