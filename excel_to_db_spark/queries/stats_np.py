"""Nonparametric/stratified/ROC pack (round 5, batch 27): the
Kruskal-Wallis k-group rank test, the Cochran-Mantel-Haenszel
stratified 2x2 test with the Mantel-Haenszel pooled odds ratio,
Youden-J ROC threshold selection, and the streaming twin of the OHLC
candle key. The reference engine (294 LoC of Rust delegating to
SQLite, reference src/main.rs) has none of this surface; these are
Tier-C mission operators extending queries/stats_tests.py:

- Kruskal-Wallis is the k-group generalization of the repo's
  Mann-Whitney key — "do any of these segments differ in level?"
  without normality assumptions.
- CMH is THE confounder-controlled association test: 25 per-nation
  2x2 tables pooled without collapsing them (collapsing invites
  Simpson's paradox; CMH doesn't).
- Youden's J picks the operating threshold that maximizes
  TPR - FPR — the ROC companion to eval_avg_precision, computed as a
  threshold sweep over a bounded score histogram.
- stream_ohlc_candles proves the order-aware candle aggregate runs
  under the streaming engine via declarative min_by/max_by state.

Determinism contract (SURVEY §4.3): ranks are 2x-scaled integer
midranks from exact value histograms; per-stratum/per-group float
terms snap to fixed-point integers before any cross-group sum; every
downstream statistic reads only snapped inputs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..numerics import (
    chi2_sf, chi2_sf_sql, erfc, erfc_sql, units_sum, units_sum_sql)
from .registry import REGISTRY, query
from .relational import T


# ------------------------------------------------ Kruskal-Wallis H

@query("stats_kruskal_wallis", oracle=f"""
    WITH v AS (
        SELECT event_type AS grp,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    vh AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY c),
    mid AS (
        SELECT c, cnt,
               2 * CAST(coalesce(sum(cnt) OVER (ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                        PRECEDING), 0) AS BIGINT) + cnt + 1 AS midrank2
        FROM vh
    ),
    gv AS (
        SELECT grp, c, CAST(count(*) AS BIGINT) AS gcnt
        FROM v GROUP BY grp, c
    ),
    rsum AS (
        SELECT grp, CAST(sum(gv.gcnt * mid.midrank2) AS BIGINT) AS r2,
               CAST(sum(gv.gcnt) AS BIGINT) AS n_g
        FROM gv JOIN mid USING (c) GROUP BY grp
    ),
    dims AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
        FROM vh
    ),
    terms AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               {units_sum_sql(
                   'n_g * (r2 * 0.5 / n_g - (n + 1) * 0.5) * (r2 * 0.5 / n_g'
                   ' - (n + 1) * 0.5)', 100)} AS dev_u
        FROM rsum, dims GROUP BY n
    ),
    stat AS (
        SELECT k, n, tsum,
               round((12.0 / (n * 1.0 * (n + 1))) * (dev_u / 100.0), 6)
                   AS h_raw,
               round(1.0 - tsum * 1.0 / (n * 1.0 * n * n - n), 6)
                   AS tie_c
        FROM terms, dims
    ),
    corr AS (
        SELECT k, n, h_raw, tie_c,
               round(h_raw / tie_c, 6) AS h_stat
        FROM stat
    )
    SELECT k AS k_groups, n, h_raw, tie_c, h_stat,
           round({chi2_sf_sql('h_stat', '(k - 1)')}, 8) AS p_value
    FROM corr
""")
def stats_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H test (Kruskal & Wallis 1952), tie-corrected:
    do the 5 event types differ in value level, judged on global
    ranks only — the k-group extension of the repo's Mann-Whitney key.

    Rank machinery: the corpus collapses FIRST to a value histogram
    (exact integer cents — bounded by the value range, not the
    corpus); 2x-scaled integer midranks come from an exclusive prefix
    sum over that histogram, so ties carry exact average ranks; each
    group's rank sum R2_j = sum(count * midrank2) is an exact BIGINT
    off one histogram join. H uses the deviation form
    12/(N(N+1)) * sum n_j (rbar_j - (N+1)/2)^2 with per-group terms
    snapped to 1e-2 units before the 5-term sum (SURVEY §4.3; the
    deviation form keeps the snapped magnitudes ~n_j*N^2, inside
    BIGINT through sf1). Tie term sum(t^3 - t) is exact. p maps
    H/(k-1) through Wilson-Hilferty into the A-S erfc polynomial
    (the stats_friedman protocol).

    Scale shape: two histogram aggregates (value; group x value) + a
    broadcast-size midrank join; no global sort, no per-row rank."""
    v = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    vh = v.groupBy("c").agg(F.count("*").alias("cnt"))
    from ..operators.ranking import distributed_prefix_sum
    mid = (distributed_prefix_sum(vh, "c", "cnt", out_col="lt")
           .select("c", "cnt",
                   (2 * F.col("lt") + F.col("cnt") + 1)
                   .alias("midrank2")))
    gv = v.groupBy("grp", "c").agg(F.count("*").alias("gcnt"))
    rsum = (gv.join(mid.select("c", "midrank2"), "c")
            .groupBy("grp")
            .agg(F.sum(F.col("gcnt") * F.col("midrank2")).alias("r2"),
                 F.sum("gcnt").alias("n_g")))
    dims = vh.agg(F.sum("cnt").alias("n"),
                  F.count("*").alias("n_distinct"),
                  F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt")
                        - F.col("cnt")).alias("tsum"))
    dev = (F.col("r2") * 0.5 / F.col("n_g") - (F.col("n") + 1) * 0.5)
    terms = (rsum.crossJoin(F.broadcast(dims))
             .groupBy("n")
             .agg(F.count("*").alias("k"),
                  units_sum(F.col("n_g") * dev * dev, 100).alias("dev_u")))
    stat = (terms.crossJoin(F.broadcast(dims.select("tsum")))
            .select(
                "k", "n", "tsum",
                F.round((12.0 / (F.col("n") * 1.0 * (F.col("n") + 1)))
                        * (F.col("dev_u") / 100.0), 6).alias("h_raw"),
                F.round(1.0 - F.col("tsum") * 1.0
                        / (F.col("n") * 1.0 * F.col("n") * F.col("n")
                           - F.col("n")), 6).alias("tie_c")))
    corr = stat.withColumn(
        "h_stat", F.round(F.col("h_raw") / F.col("tie_c"), 6))
    return corr.select(F.col("k").alias("k_groups"), "n",
                       "h_raw", "tie_c", "h_stat",
                       F.round(chi2_sf(F.col("h_stat"),
                                       (F.col("k") - 1).cast("double")), 8)
                       .alias("p_value"))


# ---------------------------------- Cochran-Mantel-Haenszel + MH OR

@query("stats_cmh_test", oracle=f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS stratum,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS x,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    tabs AS (
        SELECT stratum,
               CAST(sum(x * y) AS BIGINT) AS a,
               CAST(sum(x * (1 - y)) AS BIGINT) AS b,
               CAST(sum((1 - x) * y) AS BIGINT) AS c,
               CAST(sum((1 - x) * (1 - y)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM rows_ GROUP BY stratum
    ),
    snapped AS (
        SELECT stratum, a, b, c, d, n,
               CAST(round((a + b) * 1.0 * (a + c) / n * 1e6) AS BIGINT)
                   AS e_u,
               CAST(round((a + b) * 1.0 * (c + d) * (a + c) * (b + d)
                          / (n * 1.0 * n * (n - 1)) * 1e6) AS BIGINT)
                   AS v_u,
               CAST(round(a * 1.0 * d / n * 1e6) AS BIGINT) AS ad_u,
               CAST(round(b * 1.0 * c / n * 1e6) AS BIGINT) AS bc_u
        FROM tabs
    ),
    pooled AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(a) AS BIGINT) AS sum_a,
               CAST(sum(e_u) AS BIGINT) AS e_sum_u,
               CAST(sum(v_u) AS BIGINT) AS v_sum_u,
               CAST(sum(ad_u) AS BIGINT) AS ad_sum_u,
               CAST(sum(bc_u) AS BIGINT) AS bc_sum_u
        FROM snapped
    ),
    stat AS (
        SELECT n_strata, sum_a,
               round(e_sum_u / 1e6, 6) AS e_sum,
               round(v_sum_u / 1e6, 6) AS v_sum,
               round((abs(sum_a - e_sum_u / 1e6) - 0.5)
                     * (abs(sum_a - e_sum_u / 1e6) - 0.5)
                     / (v_sum_u / 1e6), 6) AS cmh_chi2,
               round(ad_sum_u * 1.0 / bc_sum_u, 6) AS or_mh
        FROM pooled
    )
    SELECT n_strata, sum_a, e_sum, v_sum, cmh_chi2, or_mh,
           round({erfc_sql('sqrt(cmh_chi2 / 2.0)')}, 8) AS p_value
    FROM stat
""")
def stats_cmh_test(spark, sf_dir):
    """Cochran-Mantel-Haenszel test (Mantel & Haenszel 1959) with
    continuity correction, plus the MH pooled odds ratio: is order
    priority associated with finished status AFTER controlling for
    customer nation? 25 per-nation 2x2 tables are pooled without
    collapsing (collapsing invites Simpson's paradox; CMH conditions
    on each stratum's margins).

    Per-stratum expected counts E = r1*c1/n, hypergeometric variances,
    and the OR components a*d/n, b*c/n are each snapped to integer
    micro-units BEFORE the cross-strata sums (SURVEY §4.3 — a 25-term
    float sum's merge order is not contracted); the chi-square and
    p-value (A-S erfc, 1 df) read only the snapped sums.

    Scale shape: one fact x broadcast-dim join, one conditional-count
    aggregate to 25 stratum rows, then scalar math — the fact is
    scanned exactly once."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderstatus")
    cu = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    x = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1) \
         .otherwise(0)
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    rows_ = (o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
             .select(F.col("c_nationkey").alias("stratum"),
                     x.alias("x"), y.alias("y")))
    tabs = (rows_.groupBy("stratum")
            .agg(F.sum(F.col("x") * F.col("y")).alias("a"),
                 F.sum(F.col("x") * (1 - F.col("y"))).alias("b"),
                 F.sum((1 - F.col("x")) * F.col("y")).alias("c"),
                 F.sum((1 - F.col("x")) * (1 - F.col("y"))).alias("d"),
                 F.count("*").alias("n")))
    e_u = F.round((F.col("a") + F.col("b")) * 1.0
                  * (F.col("a") + F.col("c")) / F.col("n") * 1e6) \
           .cast("bigint")
    v_u = F.round((F.col("a") + F.col("b")) * 1.0
                  * (F.col("c") + F.col("d"))
                  * (F.col("a") + F.col("c"))
                  * (F.col("b") + F.col("d"))
                  / (F.col("n") * 1.0 * F.col("n") * (F.col("n") - 1))
                  * 1e6).cast("bigint")
    ad_u = F.round(F.col("a") * 1.0 * F.col("d") / F.col("n") * 1e6) \
            .cast("bigint")
    bc_u = F.round(F.col("b") * 1.0 * F.col("c") / F.col("n") * 1e6) \
            .cast("bigint")
    pooled = (tabs.select("a", e_u.alias("e_u"), v_u.alias("v_u"),
                          ad_u.alias("ad_u"), bc_u.alias("bc_u"))
              .agg(F.count("*").alias("n_strata"),
                   F.sum("a").alias("sum_a"),
                   F.sum("e_u").alias("e_sum_u"),
                   F.sum("v_u").alias("v_sum_u"),
                   F.sum("ad_u").alias("ad_sum_u"),
                   F.sum("bc_u").alias("bc_sum_u")))
    dev = F.abs(F.col("sum_a") - F.col("e_sum_u") / 1e6) - 0.5
    stat = pooled.select(
        "n_strata", "sum_a",
        F.round(F.col("e_sum_u") / 1e6, 6).alias("e_sum"),
        F.round(F.col("v_sum_u") / 1e6, 6).alias("v_sum"),
        F.round(dev * dev / (F.col("v_sum_u") / 1e6), 6)
         .alias("cmh_chi2"),
        F.round(F.col("ad_sum_u") * 1.0 / F.col("bc_sum_u"), 6)
         .alias("or_mh"))
    z = F.sqrt(F.col("cmh_chi2") / 2.0)
    return stat.select("n_strata", "sum_a", "e_sum", "v_sum",
                       "cmh_chi2", "or_mh",
                       F.round(erfc(z), 8).alias("p_value"))


# -------------------------------------------- Youden-J ROC threshold

@query("eval_youden_threshold", oracle="""
    WITH hist AS (
        SELECT n_chars AS t, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos
        FROM documents GROUP BY n_chars
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(pos) AS BIGINT) AS p_all
        FROM hist
    ),
    sweep AS (
        SELECT t,
               CAST(sum(pos) OVER (ORDER BY t DESC) AS BIGINT) AS tp,
               CAST(sum(n - pos) OVER (ORDER BY t DESC) AS BIGINT) AS fp
        FROM hist
    ),
    scored AS (
        SELECT t AS threshold, tp, fp,
               round(tp * 1.0 / p_all, 6) AS tpr,
               round(fp * 1.0 / (n_all - p_all), 6) AS fpr,
               round(tp * 1.0 / p_all
                     - fp * 1.0 / (n_all - p_all), 6) + 0.0 AS j
        FROM sweep, tot
    )
    SELECT threshold, tp, fp, tpr, fpr, j,
           row_number() OVER (ORDER BY j DESC, threshold) = 1 AS best
    FROM scored
    ORDER BY threshold
""")
def eval_youden_threshold(spark, sf_dir):
    """Youden-J operating-point selection (Youden 1950): sweep every
    candidate threshold of the "predict English if n_chars >= t" rule
    and maximize J = TPR - FPR — the ROC-curve point farthest above
    the chance diagonal, and the standard label-balanced way to pick
    a filter threshold.

    The sweep runs over the score HISTOGRAM (bounded by the distinct
    score values, never the corpus): TP/FP at every threshold are one
    descending cumulative window over that bounded table; TPR/FPR/J
    are exact-integer ratios snapped per row (with the -0.0 fold).
    Ties in J break toward the smallest threshold.

    Scale shape: one map-side-combinable histogram aggregate + one
    ordered pass over its rows — the same shape as ml_split_info_gain
    with the ROC objective instead of information gain."""
    from pyspark.sql import Window
    d = T(spark, sf_dir, "documents").select("n_chars", "lang")
    hist = (d.groupBy(F.col("n_chars").alias("t"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                 .alias("pos")))
    tot = hist.agg(F.sum("n").alias("n_all"),
                   F.sum("pos").alias("p_all"))
    # descending cumulative sweep over the bounded score histogram
    # (single-partition exemption: #distinct-score rows)
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    sweep = hist.select(
        "t",
        F.sum("pos").over(w).alias("tp"),
        F.sum(F.col("n") - F.col("pos")).over(w).alias("fp"))
    scored = (sweep.crossJoin(F.broadcast(tot))
              .select(F.col("t").alias("threshold"), "tp", "fp",
                      F.round(F.col("tp") * 1.0 / F.col("p_all"), 6)
                      .alias("tpr"),
                      F.round(F.col("fp") * 1.0
                              / (F.col("n_all") - F.col("p_all")), 6)
                      .alias("fpr"),
                      (F.round(F.col("tp") * 1.0 / F.col("p_all")
                               - F.col("fp") * 1.0
                               / (F.col("n_all") - F.col("p_all")), 6)
                       + 0.0).alias("j")))
    wb = Window.orderBy(F.col("j").desc(), F.col("threshold"))
    return (scored.withColumn("best", F.row_number().over(wb) == 1)
            .orderBy("threshold"))


# -------------------------------------------- streaming OHLC twin

_OHLC_ORACLE = REGISTRY["ts_ohlc_candles"].oracle


@query("stream_ohlc_candles", oracle=_OHLC_ORACLE)
def stream_ohlc_candles(spark, sf_dir):
    """Streaming twin of `ts_ohlc_candles`: per-hour OHLC state
    maintained by the Structured Streaming engine via declarative
    min_by/max_by aggregates over a file-source replay of the events
    table (see streaming/windows.py:run_stream_ohlc for the state-size
    argument — 5 scalars per hour, never the rows). The batch SQL
    oracle checks the streaming state value-for-value."""
    from ..streaming.windows import run_stream_ohlc

    return run_stream_ohlc(spark, sf_dir)
