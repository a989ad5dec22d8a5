"""Model-evaluation & empirical-Bayes pack (round 5, batch 20):
inter-rater agreement, probability-calibration audit, capture-recapture
coverage estimation, and shrinkage estimation for per-group rates. The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators in the style of queries/estimation.py — the measurement side
of a training-data pipeline:

- Cohen's kappa is THE standard agreement statistic when two labelers
  (human annotators, or two heuristic quality gates) tag the same
  corpus — chance-corrected, so 90% raw agreement on a skewed label
  doesn't masquerade as quality.
- Expected calibration error (ECE) audits whether a scorer's
  confidence means what it says — the gate before using model
  probabilities to threshold-filter a corpus.
- Capture-recapture (Chapman's Lincoln-Petersen) estimates population
  size from two overlapping samples — at 100 TB you cannot count every
  distinct user, but two cheap hash-samples and their overlap give an
  estimator with known bias; the key reports the estimate AGAINST the
  exact count so the error is visible.
- Empirical-Bayes (beta-binomial method-of-moments) shrinkage fixes
  the classic small-n league-table pathology: a supplier with 2/3
  returns should not outrank one with 200/400.

Determinism contract (SURVEY §4.3): every statistic derives from exact
integer counts; the few cross-group float accumulations (ECE bin
confidence mass, the between-group variance of rates) are snapped to
fixed-point integers BEFORE summation so partial-aggregation order can
never move a rounded result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..numerics import h32, h32_sql, units_sum, units_sum_sql
from .registry import query
from .relational import T


# ----------------------------------------------------- Cohen's kappa

# Two deterministic "raters" over documents: A = length gate
# (n_chars >= 300), B = content-density gate (>= 30 'e' characters —
# a crude stopword-mass proxy that disagrees with A on ~20% of the
# corpus, so the contingency table has all four cells populated).
_KAPPA_A_SQL = "CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END"
_KAPPA_B_SQL = ("CASE WHEN length(text) - length(replace(text, 'e', ''))"
                " >= 30 THEN 1 ELSE 0 END")


@query("eval_cohens_kappa", oracle=f"""
    WITH rated AS (
        SELECT {_KAPPA_A_SQL} AS a, {_KAPPA_B_SQL} AS b FROM documents
    ),
    cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a * b) AS BIGINT) AS both_pos,
               CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS both_neg,
               CAST(sum(a * (1 - b)) AS BIGINT) AS a_only,
               CAST(sum((1 - a) * b) AS BIGINT) AS b_only,
               CAST(sum(a) AS BIGINT) AS n_a,
               CAST(sum(b) AS BIGINT) AS n_b
        FROM rated
    )
    SELECT n, both_pos, both_neg, a_only, b_only,
           round((both_pos + both_neg) * 1.0 / n, 6) AS po,
           round((n_a * n_b + (n - n_a) * (n - n_b)) * 1.0 / (n * n), 6)
               AS pe,
           round(((both_pos + both_neg) * 1.0 / n
                  - (n_a * n_b + (n - n_a) * (n - n_b)) * 1.0 / (n * n))
                 / (1.0 - (n_a * n_b + (n - n_a) * (n - n_b))
                          * 1.0 / (n * n)), 6) AS kappa
    FROM cells
""")
def eval_cohens_kappa(spark, sf_dir):
    """Cohen's kappa (Cohen 1960): chance-corrected agreement between
    two binary raters applied to every document.

    The raters are deterministic heuristic gates (length >= 300 chars;
    >= 30 'e' characters), i.e. the two-quality-filter agreement audit
    a curation pipeline runs before trusting either filter. kappa =
    (po - pe) / (1 - pe) with po the raw agreement rate and pe the
    agreement expected from the raters' marginal rates alone.

    Scale shape: ONE map-side-combinable aggregate over the corpus —
    the contingency table is four conditional counts, so 100 TB of
    documents reduce to one 7-integer row before any float math; po,
    pe, kappa are each a single closed-form expression over those
    exact integers (no float accumulation anywhere, SURVEY §4.3)."""
    d = T(spark, sf_dir, "documents")
    a = F.when(F.col("n_chars") >= 300, 1).otherwise(0)
    b = F.when(
        F.length("text") - F.length(F.regexp_replace("text", "e", ""))
        >= 30, 1).otherwise(0)
    cells = (d.select(a.alias("a"), b.alias("b"))
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("a") * F.col("b")).alias("both_pos"),
                  F.sum((1 - F.col("a")) * (1 - F.col("b")))
                   .alias("both_neg"),
                  F.sum(F.col("a") * (1 - F.col("b"))).alias("a_only"),
                  F.sum((1 - F.col("a")) * F.col("b")).alias("b_only"),
                  F.sum("a").alias("n_a"),
                  F.sum("b").alias("n_b")))
    po = (F.col("both_pos") + F.col("both_neg")) * 1.0 / F.col("n")
    pe = ((F.col("n_a") * F.col("n_b")
           + (F.col("n") - F.col("n_a")) * (F.col("n") - F.col("n_b")))
          * 1.0 / (F.col("n") * F.col("n")))
    return cells.select(
        "n", "both_pos", "both_neg", "a_only", "b_only",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"))


# ------------------------------------------- expected calibration error

@query("eval_calibration_ece", oracle="""
    WITH mx AS (SELECT max(n_chars) AS maxc FROM documents),
    scored AS (
        SELECT round(n_chars * 1.0 / maxc, 6) AS conf,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        FROM documents, mx
    ),
    binned AS (
        SELECT CAST(least(floor(conf * 10), 9) AS BIGINT) AS bin,
               CAST(round(conf * 1e6) AS BIGINT) AS conf_u, label
        FROM scored
    ),
    bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(conf_u) / (1e6 * count(*)), 6) AS avg_conf,
               round(CAST(sum(label) AS BIGINT) * 1.0 / count(*), 6)
                   AS acc
        FROM binned GROUP BY bin
    ),
    gapped AS (
        SELECT bin, n_docs, avg_conf, acc,
               round(abs(avg_conf - acc), 6) AS gap
        FROM bins
    ),
    tot AS (
        SELECT round(CAST(sum(n_docs
                              * CAST(round(gap * 1e6) AS BIGINT))
                          AS BIGINT)
                     / (1e6 * sum(n_docs)), 6) AS ece
        FROM gapped
    )
    SELECT bin, n_docs, avg_conf, acc, gap, ece
    FROM gapped, tot
    ORDER BY bin
""")
def eval_calibration_ece(spark, sf_dir):
    """Expected calibration error (Naeini et al. 2015) with the
    standard 10-bin reliability table.

    The audited "model" is deterministic: confidence = doc length
    normalized by the corpus max, predicting the is-English label —
    the point is the calibration machinery (equal-width confidence
    bins; per-bin |avg confidence - accuracy|; ECE = bin-mass-weighted
    gap), which is what a real filter-threshold audit runs.

    Scale shape: one max-aggregate broadcast back onto the scan (the
    normalizer), one 10-group hash aggregate, then a broadcast of the
    1-row ECE scalar onto the 10-row table. Per-bin confidence mass is
    accumulated in integer micro-units (round(conf*1e6) BIGINT) and
    the ECE numerator in integer micro-gap units, so no float sum's
    order can move a rounded cell (SURVEY §4.3). At 100 TB the only
    corpus-sized stages are the two scans (max + bin aggregate), both
    map-side combinable."""
    d = T(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("maxc"))
    scored = (d.crossJoin(F.broadcast(mx))
              .select(
                  F.round(F.col("n_chars") * 1.0 / F.col("maxc"), 6)
                   .alias("conf"),
                  F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("label")))
    binned = scored.select(
        F.least(F.floor(F.col("conf") * 10), F.lit(9)).cast("bigint")
         .alias("bin"),
        F.round(F.col("conf") * 1e6).cast("bigint").alias("conf_u"),
        "label")
    bins = (binned.groupBy("bin")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.sum("conf_u") / (1e6 * F.count("*")), 6)
                  .alias("avg_conf"),
                 F.round(F.sum("label") * 1.0 / F.count("*"), 6)
                  .alias("acc")))
    gapped = bins.withColumn(
        "gap", F.round(F.abs(F.col("avg_conf") - F.col("acc")), 6))
    tot = gapped.agg(
        F.round(F.sum(F.col("n_docs")
                      * F.round(F.col("gap") * 1e6).cast("bigint"))
                / (1e6 * F.sum("n_docs")), 6).alias("ece"))
    return (gapped.crossJoin(F.broadcast(tot))
            .select("bin", "n_docs", "avg_conf", "acc", "gap", "ece")
            .orderBy("bin"))


# --------------------------------------- capture-recapture (Chapman)


@query("stats_capture_recapture", oracle=f"""
    WITH flagged AS (
        SELECT user_id,
               max(CASE WHEN {h32_sql("CAST(event_id AS VARCHAR)")} % 4 = 0
                        THEN 1 ELSE 0 END)
                   AS in_c1,
               max(CASE WHEN {h32_sql("CAST(event_id AS VARCHAR)")} % 4 = 1
                        THEN 1 ELSE 0 END)
                   AS in_c2
        FROM events GROUP BY user_id
    ),
    counts AS (
        SELECT CAST(sum(in_c1) AS BIGINT) AS n1,
               CAST(sum(in_c2) AS BIGINT) AS n2,
               CAST(sum(in_c1 * in_c2) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS exact_users
        FROM flagged
    )
    SELECT n1, n2, m, exact_users,
           (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS est_users,
           round(((n1 + 1) * (n2 + 1) // (m + 1) - 1 - exact_users)
                 * 100.0 / exact_users, 4) AS err_pct
    FROM counts
""")
def stats_capture_recapture(spark, sf_dir):
    """Capture-recapture population estimate (Chapman's bias-corrected
    Lincoln-Petersen, Chapman 1951): N-hat = (n1+1)(n2+1)/(m+1) - 1
    from two overlapping samples and their recapture count m.

    The two "captures" are disjoint 25% hash-samples of EVENTS (md5 of
    event_id, lanes 0 and 1 of 4) — each induces a sample of the users
    it happens to touch, exactly how a real pipeline would sample an
    event stream it cannot afford to scan twice. The key reports the
    estimate NEXT TO the exact distinct-user count so the estimator's
    bias at this activity skew is visible (heavy users are caught in
    both lanes more often, which biases N-hat low for heterogeneous
    capture probabilities — the classic caveat).

    Scale shape: one groupBy(user_id) carrying two 0/1 flags (the only
    corpus-sized shuffle, map-side combinable), then a 1-row count
    aggregate; the estimator is exact integer arithmetic (BIGINT
    floor-division), no float anywhere until the final err_pct."""
    ev = T(spark, sf_dir, "events").select("event_id", "user_id")
    h = h32(F.col("event_id").cast("string"))
    flagged = (ev.select(
        "user_id",
        F.when(h % 4 == 0, 1).otherwise(0).alias("c1"),
        F.when(h % 4 == 1, 1).otherwise(0).alias("c2"))
        .groupBy("user_id")
        .agg(F.max("c1").alias("in_c1"), F.max("c2").alias("in_c2")))
    counts = flagged.agg(
        F.sum("in_c1").alias("n1"),
        F.sum("in_c2").alias("n2"),
        F.sum(F.col("in_c1") * F.col("in_c2")).alias("m"),
        F.count("*").alias("exact_users"))
    est = F.expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1")
    return counts.select(
        "n1", "n2", "m", "exact_users",
        est.alias("est_users"),
        F.round((est - F.col("exact_users")) * 100.0
                / F.col("exact_users"), 4).alias("err_pct"))


# ------------------------------- empirical-Bayes rate shrinkage (MoM)

@query("stats_eb_shrinkage", oracle=f"""
    WITH grp AS (
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x_ret
        FROM lineitem GROUP BY l_suppkey
    ),
    pooled AS (
        SELECT round(CAST(sum(x_ret) AS BIGINT) * 1.0
                     / CAST(sum(n_obs) AS BIGINT), 8) AS m,
               CAST(count(*) AS BIGINT) AS g
        FROM grp
    ),
    varr AS (
        SELECT round({units_sum_sql(
                         '(x_ret * 1.0 / n_obs - m) * (x_ret * 1.0 / n_obs'
                         ' - m)', 1e12)} / (1e12 * (g - 1)), 8) AS v
        FROM grp, pooled GROUP BY g
    ),
    prior AS (
        SELECT m, round(greatest(m * (1 - m) / v - 1, 0.0), 4) AS k
        FROM pooled, varr
    ),
    shrunk AS (
        SELECT l_suppkey, n_obs, x_ret,
               round(x_ret * 1.0 / n_obs, 6) AS raw_rate,
               round((x_ret + k * m) / (n_obs + k), 6) AS shrunk_rate
        FROM grp, prior
    )
    SELECT l_suppkey, n_obs, x_ret, raw_rate, shrunk_rate
    FROM shrunk
    ORDER BY shrunk_rate DESC, l_suppkey LIMIT 20
""")
def stats_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-supplier return rates via the
    beta-binomial method of moments (Morris 1983 family): shrunk_i =
    (x_i + K*m) / (n_i + K) with prior strength K = m(1-m)/v - 1
    estimated from the pooled mean m and the between-supplier variance
    v of raw rates.

    This is the league-table fix: a supplier with 2 returns out of 3
    rows shrinks hard toward the pooled mean, one with 200/400 barely
    moves — the top-20 ordering becomes stable under resampling, which
    is the property a 100 TB quality dashboard needs.

    Scale shape: one groupBy(l_suppkey) count aggregate (the only
    corpus-sized shuffle), then all moment math on the #suppliers-row
    table: v is accumulated in integer 1e-12 units (fixed-point,
    SURVEY §4.3) so group order can't flip its 8dp rounding; m and v
    are snapped BEFORE K so every downstream float expression is a
    deterministic function of already-rounded scalars. The 1-row prior
    broadcasts back onto the group table; top-20 is
    TakeOrderedAndProject (per-partition top-k, never a global sort or
    a single-partition window)."""
    li = T(spark, sf_dir, "lineitem").select("l_suppkey", "l_returnflag")
    grp = (li.groupBy("l_suppkey")
           .agg(F.count("*").alias("n_obs"),
                F.sum(F.when(F.col("l_returnflag") == "R", 1)
                      .otherwise(0)).alias("x_ret")))
    pooled = grp.agg(
        F.round(F.sum("x_ret") * 1.0 / F.sum("n_obs"), 8).alias("m"),
        F.count("*").alias("g"))
    dev = (F.col("x_ret") * 1.0 / F.col("n_obs") - F.col("m"))
    varr = (grp.crossJoin(F.broadcast(pooled))
            .agg(F.round(
                units_sum(dev * dev, 1e12)
                / (1e12 * (F.first("g") - 1)), 8).alias("v")))
    prior = (pooled.crossJoin(F.broadcast(varr))
             .select("m",
                     F.round(F.greatest(
                         F.col("m") * (1 - F.col("m")) / F.col("v") - 1,
                         F.lit(0.0)), 4).alias("k")))
    shrunk = (grp.crossJoin(F.broadcast(prior))
              .select(
                  "l_suppkey", "n_obs", "x_ret",
                  F.round(F.col("x_ret") * 1.0 / F.col("n_obs"), 6)
                   .alias("raw_rate"),
                  F.round((F.col("x_ret") + F.col("k") * F.col("m"))
                          / (F.col("n_obs") + F.col("k")), 6)
                   .alias("shrunk_rate")))
    return (shrunk
            .orderBy(F.col("shrunk_rate").desc(), F.col("l_suppkey"))
            .limit(20))
