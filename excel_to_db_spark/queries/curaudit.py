"""Curation-audit / robust-location pack (round 5, batch 47):
per-source novelty, a dedup length-bias audit, the cross-correlation
function, and the Hodges-Lehmann estimator. The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has
none of this surface; these are Tier-C mission operators:

- Source novelty: what share of each source's trigrams appears
  NOWHERE else — the acquisition-value ledger (a source whose
  novelty is ~0 is paying storage for duplicates).
- Dedup length bias: exact-dup removal keeps one doc per cluster —
  does the DROPPED set skew long or short vs the KEPT set? The
  Mann-Whitney AUC between the two length distributions is the
  scale-free bias score every dedup pass should report (silent
  length bias shifts the training distribution).
- Cross-correlation function (CCF): purchase-revenue response to
  click revenue at lags -3..+3 days — the lead/lag profile the
  single-lag Granger key cannot draw.
- Hodges-Lehmann (1963): the median of pairwise Walsh averages —
  the location estimator dual to the Wilcoxon test, 86% Gaussian
  efficiency with a 29% breakdown point.

Determinism contract (SURVEY §4.3): trigram membership counts,
length midranks, lagged cross products, and Walsh averages are exact
integers (2x-integer midranks; HUGEINT/DECIMAL(38,0) products; Walsh
averages held as exact 2x-sums); CCF normalizes by exact n-multiplied
variance forms; pair medians pick order statistics by exact rank."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import comoment, units_sum, units_sum_sql, wide, wide_sql


# ------------------------------------------------ source novelty

@query("text_source_novelty", oracle="""
    WITH d AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    tri AS (
        SELECT DISTINCT source,
               t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS w
        FROM d, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    spread AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_sources FROM tri
        GROUP BY w
    ),
    st AS (
        SELECT tri.source,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS n_exclusive
        FROM tri JOIN spread ON tri.w = spread.w
        GROUP BY tri.source
    )
    SELECT source, n_grams, n_exclusive,
           round(CAST(n_exclusive AS DOUBLE) / n_grams, 6) AS novelty
    FROM st
""")
def text_source_novelty(spark, sf_dir):
    """Per-source novelty ledger: the share of each source's distinct
    trigrams that appear in NO other source — the marginal-value
    readout for data acquisition (novelty ~ 0 means the source is
    re-crawling what the corpus already holds; the leave-one-out
    framing makes the 20 sources' scores directly comparable). The
    per-source drill-down of the corpus-level text_chao1_vocab /
    text_rank_turbulence richness keys.

    Membership is exact: distinct (source, gram) pairs, a gram-level
    source-spread count, and a flag join — integers end to end; one
    ratio rounds once.

    Scale shape: in-array trigram HOF + distinct aggregate +
    gram-spread aggregate + one equi-join back (partitioned on the
    gram key — never all-pairs)."""
    tri = (T(spark, sf_dir, "documents")
           .select("source", F.split(F.col("text"), " ").alias("t"))
           .filter(F.size("t") >= 3)
           .select("source", F.explode(F.expr(
               "transform(sequence(0, size(t) - 3),"
               " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"))
               .alias("w"))
           .distinct())
    spread = tri.groupBy("w").agg(F.count("*").alias("n_sources"))
    st = (tri.join(spread, "w")
          .groupBy("source")
          .agg(F.count("*").alias("n_grams"),
               F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
               .alias("n_exclusive")))
    return st.select(
        "source", "n_grams", "n_exclusive",
        F.round(F.col("n_exclusive").cast("double") / F.col("n_grams"),
                6).alias("novelty"))


# --------------------------------------------- dedup length bias

@query("dedup_length_bias_audit", oracle="""
    WITH clustered AS (
        SELECT doc_id, n_chars,
               CASE WHEN doc_id = min(doc_id)
                        OVER (PARTITION BY md5(text))
                    THEN 1 ELSE 0 END AS kept
        FROM documents
    ),
    vh AS (
        SELECT n_chars AS c, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(kept) AS BIGINT) AS keptcnt
        FROM clustered GROUP BY n_chars
    ),
    mid AS (
        SELECT c, cnt, keptcnt,
               2 * CAST(coalesce(sum(cnt) OVER (ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                        PRECEDING), 0) AS BIGINT) + cnt + 1 AS midrank2
        FROM vh
    ),
    st AS (
        SELECT CAST(sum(keptcnt) AS BIGINT) AS n_kept,
               CAST(sum(cnt - keptcnt) AS BIGINT) AS n_dropped,
               CAST(sum(keptcnt * midrank2) AS BIGINT) AS rk2
        FROM mid
    )
    SELECT n_kept, n_dropped,
           round(CASE WHEN n_dropped = 0 THEN 0.5 ELSE
                 CAST(rk2 - n_kept * (n_kept + 1) AS DOUBLE)
                 / (2.0 * CAST(n_kept AS DOUBLE)
                    * CAST(n_dropped AS DOUBLE)) END, 6)
               AS auc_kept_longer
    FROM st
""")
def dedup_length_bias_audit(spark, sf_dir):
    """Length-bias audit of exact deduplication: cluster documents by
    md5(text), keep the min-doc_id representative (the
    dedup_exact/keep-best policy), then measure whether KEPT
    documents are systematically longer or shorter than DROPPED ones
    via the Mann-Whitney AUC on n_chars (0.5 = unbiased; the exact
    rank-sum form, scale-free). Dedup that silently prefers short
    templates shifts the training length distribution — this is the
    one-number alarm for it (reports 0.5 exactly when nothing was
    dropped, making the audit total).

    The length histogram carries kept/dropped counts; 2x-integer
    midranks come from the ordered prefix over the bounded length
    histogram; the AUC is an exact rational of BIGINTs (the
    eval_auc_rank machinery pointed at a dedup decision).

    Scale shape: one md5-cluster window (partitioned by fingerprint)
    + a length histogram + one ordered pass over it."""
    clustered = T(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        F.when(F.col("doc_id") == F.min("doc_id").over(
            Window.partitionBy(F.md5(F.col("text")))), 1)
        .otherwise(0).alias("kept"))
    vh = clustered.groupBy(F.col("n_chars").alias("c")).agg(
        F.count("*").alias("cnt"), F.sum("kept").alias("keptcnt"))
    from ..operators.ranking import distributed_prefix_sum
    mid = (distributed_prefix_sum(vh, "c", "cnt", out_col="lt")
           .select("c", "cnt", "keptcnt",
                   (2 * F.col("lt") + F.col("cnt") + 1)
                   .alias("midrank2")))
    st = mid.agg(
        F.sum("keptcnt").alias("n_kept"),
        F.sum(F.col("cnt") - F.col("keptcnt")).alias("n_dropped"),
        F.sum(F.col("keptcnt") * F.col("midrank2")).alias("rk2"))
    return st.select(
        "n_kept", "n_dropped",
        F.round(F.when(F.col("n_dropped") == 0, 0.5).otherwise(
            (F.col("rk2") - F.col("n_kept") * (F.col("n_kept") + 1))
            .cast("double")
            / (2.0 * F.col("n_kept").cast("double")
               * F.col("n_dropped").cast("double"))), 6)
        .alias("auc_kept_longer"))


# ------------------------------------------- cross-correlation CCF

_CCF_LAGS = (-3, -2, -1, 0, 1, 2, 3)


def _ccf_oracle() -> str:
    lag_aggs = []
    for lg in _CCF_LAGS:
        tag = f"m{abs(lg)}" if lg < 0 else f"p{lg}"
        if lg >= 0:
            pair = f"lag(x, {lg}) OVER (ORDER BY d)"
        else:
            pair = f"lead(x, {abs(lg)}) OVER (ORDER BY d)"
        lag_aggs.append((tag, pair))
    lag_cols = ",\n               ".join(
        f"{pair} AS x_{tag}" for tag, pair in lag_aggs)
    sums = ",\n               ".join(
        f"CAST(count(x_{tag}) AS BIGINT) AS n_{tag},\n               "
        f"{wide_sql(f'sum(CASE WHEN x_{tag} IS NOT NULL THEN y END)')}"
        f" AS sy_{tag},\n               "
        f"{wide_sql(f'sum(x_{tag})')} AS sx_{tag},\n               "
        f"sum({wide_sql(f'x_{tag}')} * y) AS sxy_{tag},\n"
        f"               sum({wide_sql(f'x_{tag}')} * x_{tag})"
        f" AS sxx_{tag},\n               "
        f"sum(CASE WHEN x_{tag} IS NOT NULL THEN"
        f" {wide_sql('y')} * y END) AS syy_{tag}"
        for tag, _ in lag_aggs)
    rows = "\n        UNION ALL\n".join(
        f"        SELECT CAST({lg} AS BIGINT) AS lag_days,"
        f" n_{tag} AS n,"
        f" CAST(n_{tag} * sxy_{tag} - sx_{tag} * sy_{tag} AS DOUBLE)"
        f" / (sqrt(CAST(n_{tag} * sxx_{tag} - sx_{tag} * sx_{tag}"
        f" AS DOUBLE)) * sqrt(CAST(n_{tag} * syy_{tag}"
        f" - sy_{tag} * sy_{tag} AS DOUBLE))) AS r FROM st"
        for lg, (tag, _) in zip(_CCF_LAGS, lag_aggs))
    return f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(sum(CASE WHEN event_type = 'click'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT d, x, y,
               {lag_cols}
        FROM day
    ),
    st AS (
        SELECT {sums}
        FROM lagged
    )
    SELECT lag_days, n, round(r, 6) AS ccf
    FROM (
{rows}
    ) ORDER BY lag_days
"""


@query("ts_cross_correlation", oracle=_ccf_oracle())
def ts_cross_correlation(spark, sf_dir):
    """Cross-correlation function between daily click revenue (x) and
    purchase revenue (y) at lags -3..+3 days: ccf(k) = corr(x_{{t-k}},
    y_t) — positive-lag peaks mean clicks LEAD purchases (the
    advertising-response profile); the full profile is what the
    single-lag Granger F (ts_granger_causality) summarizes away.
    Each lag's correlation is computed over its own aligned pairs
    with exact n-multiplied moment forms.

    All per-lag moment sums are exact HUGEINT/DECIMAL(38,0) integers
    off ONE window pass producing all 7 shifted columns; each r is a
    fixed float expression of exact integers (pairwise-complete
    normalization, the standard CCF convention).

    Scale shape: day-spine collapse + ONE ordered window pass + one
    wide aggregate + a constant 7-row unpivot."""
    day = (T(spark, sf_dir, "events")
           .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
           .agg(F.sum(F.when(F.col("event_type") == "click",
                             F.round(F.col("value") * 100)
                             .cast("bigint")).otherwise(0)).alias("x"),
                F.sum(F.when(F.col("event_type") == "purchase",
                             F.round(F.col("value") * 100)
                             .cast("bigint")).otherwise(0))
                .alias("y")))
    w = Window.orderBy("d")
    cols = []
    tags = []
    for lg in _CCF_LAGS:
        tag = f"m{abs(lg)}" if lg < 0 else f"p{lg}"
        tags.append((lg, tag))
        shifted = (F.lag("x", lg).over(w) if lg >= 0
                   else F.lead("x", abs(lg)).over(w))
        cols.append(shifted.alias(f"x_{tag}"))
    lagged = day.select("d", "x", "y", *cols)
    aggs = []
    for _, tag in tags:
        xc = F.col(f"x_{tag}")
        aggs += [
            F.count(xc).alias(f"n_{tag}"),
            F.sum(F.when(xc.isNotNull(), F.col("y"))).alias(f"sy_{tag}"),
            F.sum(xc).alias(f"sx_{tag}"),
            F.sum(wide(xc) * F.col("y")).alias(f"sxy_{tag}"),
            F.sum(wide(xc) * xc).alias(f"sxx_{tag}"),
            F.sum(F.when(xc.isNotNull(),
                         wide("y") * F.col("y")))
            .alias(f"syy_{tag}")]
    st = lagged.agg(*aggs)
    rows = None
    for lg, tag in tags:
        n = f"n_{tag}"
        num = comoment(n, f"sxy_{tag}", f"sx_{tag}", f"sy_{tag}") \
            .cast("double")
        dx = comoment(n, f"sxx_{tag}", f"sx_{tag}", f"sx_{tag}").cast("double")
        dy = comoment(n, f"syy_{tag}", f"sy_{tag}", f"sy_{tag}").cast("double")
        r = st.select(
            F.lit(lg).cast("bigint").alias("lag_days"),
            F.col(f"n_{tag}").alias("n"),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("ccf"))
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("lag_days")


# ------------------------------------------- Hodges-Lehmann location

@query("stats_hodges_lehmann", oracle=f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               {units_sum_sql('value', 100)}
                   AS x
        FROM events GROUP BY 1
    ),
    walsh AS (
        SELECT a.x + b.x AS w2          -- 2x the Walsh average, exact
        FROM day a JOIN day b ON a.d <= b.d
    ),
    ranked AS (
        SELECT w2,
               CAST(row_number() OVER (ORDER BY w2) AS BIGINT) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM walsh
    )
    SELECT m AS n_pairs,
           round(CAST(sum(CASE WHEN 2 * rk = m OR 2 * rk = m + 1
                               OR 2 * rk = m + 2 THEN w2 END)
                      AS DOUBLE)
                 / (CASE WHEN m % 2 = 1 THEN 1 ELSE 2 END)
                 / 2.0 / 100.0, 4) AS hodges_lehmann
    FROM ranked GROUP BY m
""")
def stats_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann location estimate of daily revenue (Hodges &
    Lehmann 1963): the median of all n(n+1)/2 pairwise Walsh averages
    (x_i + x_j)/2, i <= j — the estimator DUAL to the Wilcoxon
    signed-rank test (its confidence interval inverts that test),
    86% Gaussian efficiency with a 29% breakdown point, between the
    mean's fragility and the median's inefficiency.

    Walsh averages are held as exact 2x-integers (a.x + b.x); the
    self-join runs on the DAY-collapsed series so the pair count is
    calendar-bounded (465 pairs for 30 days — never corpus-sized; at
    an unbounded series the textbook O(n log n) rank-search
    replaces it, documented boundary); the median picks order
    statistics by exact rank with the repo's upper/lower-median
    convention and averages the two central values exactly when m is
    even.

    Scale shape: day-spine collapse + bounded self-join + one rank
    pass over the pair multiset."""
    day = (T(spark, sf_dir, "events")
           .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
           .agg(units_sum(F.col("value"), 100)
                .alias("x")))
    a = day.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = day.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    walsh = (a.join(b, F.col("da") <= F.col("db"))
             .select((F.col("xa") + F.col("xb")).alias("w2")))
    ranked = walsh.select(
        "w2",
        F.row_number().over(Window.orderBy("w2")).cast("bigint")
        .alias("rk"),
        F.count("*").over(
            Window.partitionBy(F.lit(1))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)).cast("bigint")
        .alias("m"))
    m = F.col("m")
    return (ranked.groupBy("m")
            .agg(F.sum(F.when((2 * F.col("rk") == m)
                              | (2 * F.col("rk") == m + 1)
                              | (2 * F.col("rk") == m + 2),
                              F.col("w2"))).alias("csum"))
            .select(F.col("m").alias("n_pairs"),
                    F.round(F.col("csum").cast("double")
                            / F.when(F.col("m") % 2 == 1, 1.0)
                            .otherwise(2.0) / 2.0 / 100.0, 4)
                    .alias("hodges_lehmann")))
