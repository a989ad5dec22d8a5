"""Paired / blocked nonparametrics pack (round 5, batch 34): the sign
test, the Wilcoxon signed-rank test, Cochran's Q for blocked binary
outcomes, and Fleiss' kappa for multi-rater agreement. The reference
engine (294 LoC of Rust delegating to SQLite, reference src/main.rs)
has none of this surface; these are Tier-C mission operators — the
matched-pairs panel that complements the repo's independent-samples
tests (stats_mannwhitney, stats_kruskal_wallis, stats_welch_t):

- The sign test is the assumption-free matched-pairs baseline: only
  the SIGN of each within-pair difference is used.
- Wilcoxon signed-rank (Wilcoxon 1945) adds the magnitude ranks —
  more power, still distribution-free.
- Cochran's Q (Cochran 1950) is the k-treatment extension of
  McNemar: do k binary treatments share one success rate across
  blocks?
- Fleiss' kappa (Fleiss 1971) generalizes Cohen's kappa past two
  raters — chance-corrected agreement for any m raters x k
  categories panel.

Determinism contract (SURVEY §4.3): pair signs, midranks (2x-integer
histogram midranks — the stats_kruskal_wallis machinery), block
row/column totals, and rater cell counts are all exact integers; each
statistic is one fixed float expression over a 1-row exact state
(IEEE +,-,*,/,sqrt only); p-values use the A-S erfc polynomial on
snapped inputs (1-df z forms) or Wilson-Hilferty for k-1 df (the
stats_kruskal_wallis protocol). Chance-corrected ratios snap their
numerator/denominator inputs first (snap, then consume).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import chi2_sf, chi2_sf_sql, erfc, erfc_sql, h32, h32_sql
from .registry import query
from .relational import T


# Paired daily series: click-vs-view revenue cents per day, pairs kept
# only when BOTH arms traded that day (classic matched-pairs framing).
_PAIRS_SQL = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN CAST(round(value * 100) AS BIGINT) END)
                AS BIGINT) AS a,
           CAST(sum(CASE WHEN event_type = 'view'
                         THEN CAST(round(value * 100) AS BIGINT) END)
                AS BIGINT) AS b
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY 1
    HAVING a IS NOT NULL AND b IS NOT NULL
"""


def _pairs(spark, sf_dir):
    return (T(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("click", "view"))
            .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
            .agg(F.sum(F.when(F.col("event_type") == "click",
                              F.round(F.col("value") * 100)
                              .cast("bigint"))).alias("a"),
                 F.sum(F.when(F.col("event_type") == "view",
                              F.round(F.col("value") * 100)
                              .cast("bigint"))).alias("b"))
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull()))


# ---------------------------------------------------- sign test

@query("stats_sign_test", oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN a > b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               CAST(sum(CASE WHEN a < b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neg
        FROM pairs
    ),
    zz AS (
        SELECT n_pairs, n_pos, n_neg,
               round(greatest(abs(n_pos - n_neg) - 1.0, 0.0)
                     / sqrt(CAST(n_pos + n_neg AS DOUBLE)), 5) AS z
        FROM st
    )
    SELECT n_pairs, n_pos, n_neg, z,
           round({erfc_sql('z / sqrt(2.0)')}, 8) AS p_value
    FROM zz
""")
def stats_sign_test(spark, sf_dir):
    """Matched-pairs sign test on daily click-vs-view revenue: is one
    arm ahead on more days than chance allows, judged by SIGNS only —
    the assumption-free floor of the paired-test ladder (no symmetry,
    no scale, nothing but exchangeability under H0).

    Ties (a = b, possible at cent granularity) are dropped per the
    classic treatment; z uses the continuity-corrected normal
    approximation max(|n+ - n-| - 1, 0)/sqrt(m) (the correction stops
    at 0, so a tie reads z = 0 and p = 1) and the two-sided p is
    erfc(z/sqrt(2)) via the A-S polynomial on the SNAPPED z (snap,
    then consume).

    Scale shape: day-spine collapse (one groupBy shuffle) + ONE 1-row
    conditional-count aggregate — counts only, no ranks."""
    st = _pairs(spark, sf_dir).agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("a") > F.col("b"), 1).otherwise(0))
        .alias("n_pos"),
        F.sum(F.when(F.col("a") < F.col("b"), 1).otherwise(0))
        .alias("n_neg"))
    zz = st.select(
        "n_pairs", "n_pos", "n_neg",
        F.round(F.greatest(F.abs(F.col("n_pos") - F.col("n_neg")) - 1.0,
                           F.lit(0.0))
                / F.sqrt((F.col("n_pos") + F.col("n_neg"))
                         .cast("double")), 5).alias("z"))
    z = F.col("z") / F.sqrt(F.lit(2.0))
    return zz.select("n_pairs", "n_pos", "n_neg", "z",
                     F.round(erfc(z), 8).alias("p_value"))


# ---------------------------------------- Wilcoxon signed-rank test

@query("stats_wilcoxon_signed_rank", oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    d AS (
        SELECT abs(a - b) AS ad,
               CASE WHEN a > b THEN 1 ELSE 0 END AS pos
        FROM pairs WHERE a <> b
    ),
    vh AS (
        SELECT ad, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(pos) AS BIGINT) AS poscnt
        FROM d GROUP BY ad
    ),
    mid AS (
        SELECT ad, cnt, poscnt,
               2 * CAST(coalesce(sum(cnt) OVER (ORDER BY ad
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                        PRECEDING), 0) AS BIGINT) + cnt + 1 AS midrank2
        FROM vh
    ),
    st AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(poscnt * midrank2) AS BIGINT) AS w2,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
        FROM mid
    ),
    zz AS (
        SELECT n, CAST(w2 / 2.0 AS DOUBLE) AS w_plus,
               round((w2 - n * (n + 1) / 2.0)
                     / sqrt((2.0 * (n * (n + 1.0) * (2 * n + 1))
                             - tsum) / 12.0), 5) AS z
        FROM st
    )
    SELECT n, w_plus, z,
           round({erfc_sql('abs(z) / sqrt(2.0)')}, 8)
               AS p_value
    FROM zz
""")
def stats_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test on the same click-vs-view daily pairs
    (Wilcoxon 1945): rank the |differences|, sum the ranks of the
    positive ones — magnitude-aware but still distribution-free (only
    symmetry of the difference under H0).

    Rank machinery: zero differences drop (Wilcoxon's treatment); the
    |d| column collapses to a histogram and 2x-integer midranks come
    from an exclusive prefix sum over it (the stats_kruskal_wallis
    machinery, via distributed_prefix_sum — no global row sort), so
    tied magnitudes carry exact average ranks and W+ is exact in
    half-units (w2 = 2*W+ is a BIGINT). The tie-corrected normal
    z = (w2 - n(n+1)/2) / sqrt((2n(n+1)(2n+1) - sum(t^3-t))/12) is one
    fixed float expression over exact integers; two-sided p =
    erfc(|z|/sqrt(2)) on the snapped z.

    Scale shape: day-spine collapse + |d| histogram + prefix-sum
    midrank join — every aggregate map-side combinable."""
    d = (_pairs(spark, sf_dir)
         .filter(F.col("a") != F.col("b"))
         .select(F.abs(F.col("a") - F.col("b")).alias("ad"),
                 F.when(F.col("a") > F.col("b"), 1).otherwise(0)
                 .alias("pos")))
    vh = d.groupBy("ad").agg(F.count("*").alias("cnt"),
                             F.sum("pos").alias("poscnt"))
    from ..operators.ranking import distributed_prefix_sum
    mid = (distributed_prefix_sum(vh, "ad", "cnt", out_col="lt")
           .select("ad", "cnt", "poscnt",
                   (2 * F.col("lt") + F.col("cnt") + 1)
                   .alias("midrank2")))
    st = mid.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("poscnt") * F.col("midrank2")).alias("w2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt")
              - F.col("cnt")).alias("tsum"))
    zz = st.select(
        "n", (F.col("w2") / 2.0).alias("w_plus"),
        F.round((F.col("w2") - F.col("n") * (F.col("n") + 1) / 2.0)
                / F.sqrt((2.0 * (F.col("n") * (F.col("n") + 1.0)
                                 * (2 * F.col("n") + 1))
                          - F.col("tsum")) / 12.0), 5).alias("z"))
    z = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    return zz.select("n", "w_plus", "z",
                     F.round(erfc(z), 8).alias("p_value"))


# --------------------------------------------------- Cochran's Q

@query("stats_cochran_q", oracle=f"""
    WITH cnt AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type AS et, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT day, CAST(sum(c) AS BIGINT) AS day_tot,
               CAST(count(*) AS BIGINT) AS k_day
        FROM cnt GROUP BY day
    ),
    x AS (
        SELECT cnt.day, cnt.et,
               CASE WHEN 5 * cnt.c > tot.day_tot THEN 1 ELSE 0 END
                   AS succ
        FROM cnt JOIN tot USING (day) WHERE tot.k_day = 5
    ),
    rows_ AS (
        SELECT day, CAST(sum(succ) AS BIGINT) AS r FROM x GROUP BY day
    ),
    cols_ AS (
        SELECT et, CAST(sum(succ) AS BIGINT) AS c2 FROM x GROUP BY et
    ),
    st AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM rows_) AS n_blocks,
               (SELECT CAST(count(*) AS BIGINT) FROM cols_) AS k,
               (SELECT CAST(sum(r) AS BIGINT) FROM rows_) AS nn,
               (SELECT CAST(sum(r * r) AS BIGINT) FROM rows_) AS sr2,
               (SELECT CAST(sum(c2 * c2) AS BIGINT) FROM cols_) AS sc2
    ),
    qq AS (
        SELECT n_blocks, k,
               round((k - 1.0)
                     * (CAST(k * sc2 - nn * nn AS DOUBLE))
                     / (CAST(k * nn - sr2 AS DOUBLE)), 5) AS q_stat
        FROM st
    )
    SELECT n_blocks, k, q_stat,
           round({chi2_sf_sql('q_stat', '(k - 1)')}, 8) AS p_value
    FROM qq
""")
def stats_cochran_q(spark, sf_dir):
    """Cochran's Q test (Cochran 1950) — the k-treatment extension of
    McNemar: blocks are days, treatments are the 5 event types, and
    the binary outcome is "type j took MORE than its 1/5 fair share of
    the day's events". Do the five types over/under-index at one
    common rate, or do some systematically dominate days?

    The fair-share indicator (5*c > day_total) is exact integer
    arithmetic and scale-proof (a fixed count threshold would drift
    with sf); by pigeonhole no day can be all-1, so degenerate
    all-equal blocks can't blow up the denominator. Q = (k-1)
    (k*sum C_j^2 - N^2) / (k*N - sum R_i^2) is one float division of
    exact BIGINTs; p maps Q/(k-1) through Wilson-Hilferty into the
    A-S erfc polynomial on the snapped Q (the stats_kruskal_wallis
    protocol). Days missing any type drop (complete blocks only —
    the classic requirement).

    Scale shape: one (day, type) count aggregate + two bounded
    re-aggregations; blocks never leave the cluster."""
    cnt = (T(spark, sf_dir, "events")
           .groupBy(F.date_trunc("day", F.col("ts")).alias("day"),
                    F.col("event_type").alias("et"))
           .agg(F.count("*").alias("c")))
    tot = cnt.groupBy("day").agg(F.sum("c").alias("day_tot"),
                                 F.count("*").alias("k_day"))
    x = (cnt.join(tot, "day")
         .filter(F.col("k_day") == 5)
         .select("day", "et",
                 F.when(5 * F.col("c") > F.col("day_tot"), 1)
                 .otherwise(0).alias("succ")))
    rows_ = x.groupBy("day").agg(F.sum("succ").alias("r"))
    cols_ = x.groupBy("et").agg(F.sum("succ").alias("c2"))
    rs = rows_.agg(F.count("*").alias("n_blocks"),
                   F.sum("r").alias("nn"),
                   F.sum(F.col("r") * F.col("r")).alias("sr2"))
    cs = cols_.agg(F.count("*").alias("k"),
                   F.sum(F.col("c2") * F.col("c2")).alias("sc2"))
    st = rs.crossJoin(F.broadcast(cs))
    qq = st.select(
        "n_blocks", "k",
        F.round((F.col("k") - 1.0)
                * (F.col("k") * F.col("sc2")
                   - F.col("nn") * F.col("nn")).cast("double")
                / (F.col("k") * F.col("nn")
                   - F.col("sr2")).cast("double"), 5).alias("q_stat"))
    return qq.select("n_blocks", "k", "q_stat",
                     F.round(chi2_sf(F.col("q_stat"),
                                     (F.col("k") - 1).cast("double")), 8)
                     .alias("p_value"))


# --------------------------------------------------- Fleiss' kappa

@query("eval_fleiss_kappa", oracle=f"""
    WITH ratings AS (
        SELECT d.doc_id,
               CAST((least(3, d.n_chars // 150)
                     + CASE WHEN {h32_sql(
                            "CAST(d.doc_id AS VARCHAR) || ':'"
                            " || CAST(r.r AS VARCHAR)")} % 5 = 0
                            THEN 1 ELSE 0 END) % 4 AS INTEGER) AS cat
        FROM documents d
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS r) r
    ),
    cells AS (
        SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS nij
        FROM ratings GROUP BY doc_id, cat
    ),
    st AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_items,
               CAST(sum(nij * nij) AS BIGINT) AS s2
        FROM cells
    ),
    cols_ AS (
        SELECT CAST(sum(cj * cj) AS BIGINT) AS sc2 FROM (
            SELECT cat, CAST(sum(nij) AS BIGINT) AS cj
            FROM cells GROUP BY cat)
    ),
    snapped AS (
        SELECT n_items, CAST(3 AS BIGINT) AS m_raters,
               round(CAST(s2 - n_items * 3 AS DOUBLE)
                     / (CAST(n_items AS DOUBLE) * 3 * 2), 6) AS p_bar,
               round(CAST(sc2 AS DOUBLE)
                     / ((CAST(n_items AS DOUBLE) * 3)
                        * (CAST(n_items AS DOUBLE) * 3)), 6) AS p_e
        FROM st, cols_
    )
    SELECT n_items, m_raters, p_bar, p_e,
           round((p_bar - p_e) / (1.0 - p_e), 6) AS kappa
    FROM snapped
""")
def eval_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa (Fleiss 1971): chance-corrected agreement of m=3
    raters assigning each document to one of 4 categories — the
    multi-rater generalization of the repo's Cohen-kappa key
    (eval_cohens_kappa handles exactly 2 raters; Krippendorff handles
    missingness — this is the classic m-rater complete-panel form).

    Raters are deterministic personas: each starts from the document's
    length bucket (least(3, n_chars DIV 150)) and flips one category
    up with probability 1/5 via the repo's h32 md5 hash on
    (doc_id, rater) — reproducible structured agreement, not pure
    noise (kappa lands solidly positive). Cell counts n_ij, their
    squares, and the category column totals are exact BIGINTs; P_bar
    = (sum n_ij^2 - N*m)/(N*m*(m-1)) and P_e = sum C_j^2/(N*m)^2 snap
    at 6dp, THEN kappa = (P_bar - P_e)/(1 - P_e) divides the snapped
    values (snap, then consume).

    Scale shape: a 3x explode + one (doc, cat) count aggregate + two
    1-row reduces; the rater dimension is a constant."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ratings = (docs
               .select("doc_id", "n_chars",
                       F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
                       .alias("r"))
               .select("doc_id", F.pmod(
                   F.least(F.lit(3), F.expr("n_chars DIV 150"))
                   + F.when(h32(F.concat_ws(
                       ":", F.col("doc_id").cast("string"),
                       F.col("r").cast("string"))) % 5 == 0, 1)
                   .otherwise(0), 4).cast("int").alias("cat")))
    cells = ratings.groupBy("doc_id", "cat").agg(
        F.count("*").alias("nij"))
    st = cells.agg(F.countDistinct("doc_id").alias("n_items"),
                   F.sum(F.col("nij") * F.col("nij")).alias("s2"))
    cols_ = (cells.groupBy("cat").agg(F.sum("nij").alias("cj"))
             .agg(F.sum(F.col("cj") * F.col("cj")).alias("sc2")))
    n = F.col("n_items").cast("double")
    snapped = (st.crossJoin(F.broadcast(cols_))
               .select("n_items",
                       F.lit(3).cast("bigint").alias("m_raters"),
                       F.round((F.col("s2") - F.col("n_items") * 3)
                               .cast("double") / (n * 3 * 2), 6)
                       .alias("p_bar"),
                       F.round(F.col("sc2").cast("double")
                               / ((n * 3) * (n * 3)), 6).alias("p_e")))
    return snapped.select(
        "n_items", "m_raters", "p_bar", "p_e",
        F.round((F.col("p_bar") - F.col("p_e")) / (1.0 - F.col("p_e")),
                6).alias("kappa"))
