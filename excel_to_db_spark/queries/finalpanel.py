"""Re-identification / smoothing / stickiness / entropy pack (round
5, batch 58). The reference engine (294 LoC of Rust delegating to
SQLite, reference src/main.rs) has none of this surface; these are
Tier-C mission operators:

- Unicity (de Montjoye et al. 2013): the share of users UNIQUE under
  a handful of behavioral quasi-identifiers — the re-identification
  headline number k-anonymity's cell census implies but does not
  state (privacy_k_anonymity reports cell sizes; unicity reports the
  victim count).
- Nadaraya-Watson kernel regression (Nadaraya 1964; Watson 1964):
  the purchase rate as a SMOOTH function of value, triangular kernel
  over the $10-bin grid — the nonparametric curve a GLM would force
  into a shape.
- DAU stickiness: day-over-day Jaccard of active-user sets — the
  retention pulse (cohort_retention is the monthly matrix; this is
  the daily heartbeat).
- N-gram entropy curve: conditional entropy H(X_n | X_1..n-1) at
  n = 1, 2, 3 — Shannon's convergence-to-entropy-rate experiment,
  the information-theoretic justification for trigram features
  across the repo's text keys.

Determinism contract (SURVEY §4.3): QI masks, kernel weights
(integer triangular weights on the bin grid), active-set
intersections, and n-gram counts are exact integers; entropy terms
snap to 1e9 before unordered sums; ratios round once."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql


# --------------------------------------------------------- unicity

@query("privacy_unicity", oracle="""
    WITH qi AS (
        SELECT user_id,
               CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END)
                    + 2 * max(CASE WHEN event_type = 'view' THEN 1
                              ELSE 0 END)
                    + 4 * max(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END)
                    + 8 * max(CASE WHEN event_type = 'signup' THEN 1
                              ELSE 0 END)
                    + 16 * max(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) AS BIGINT) AS type_mask,
               CAST(((date_diff('day', DATE '1995-01-02',
                                CAST(min(ts) AS DATE)) % 7) + 7) % 7
                    AS BIGINT) AS first_dow,
               CAST(hour(min(ts)) AS BIGINT) AS first_hour
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT type_mask, first_dow, first_hour,
               CAST(count(*) AS BIGINT) AS k
        FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(sum(k) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           round(CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / sum(k), 6) AS unicity,
           round(CAST(sum(CASE WHEN k <= 5 THEN k ELSE 0 END)
                      AS DOUBLE) / sum(k), 6) AS share_k_le_5
    FROM cells
""")
def privacy_unicity(spark, sf_dir):
    """Behavioral unicity census (de Montjoye et al. 2013): under
    just three coarse quasi-identifiers — which event types a user
    EVER used (5-bit mask), the weekday and the hour of their first
    event — what share of users is UNIQUE (re-identifiable by anyone
    who knows those three facts), and what share sits in cells of
    k <= 5? The headline the k-anonymity cell census
    (privacy_k_anonymity) implies but never states; famously, a few
    coarse points suffice (4 spatio-temporal points identified 95%
    of people in the original study).

    Masks, first-event timestamps (min over exact order), and cell
    sizes are exact integers; both shares are exact-count ratios.

    Scale shape: one per-user aggregate + one QI-cell aggregate +
    a 1-row reduce."""
    qi = (T(spark, sf_dir, "events")
          .groupBy("user_id")
          .agg((F.max(F.when(F.col("event_type") == "click", 1)
                      .otherwise(0))
                + 2 * F.max(F.when(F.col("event_type") == "view", 1)
                            .otherwise(0))
                + 4 * F.max(F.when(F.col("event_type") == "purchase",
                                   1).otherwise(0))
                + 8 * F.max(F.when(F.col("event_type") == "signup", 1)
                            .otherwise(0))
                + 16 * F.max(F.when(F.col("event_type") == "error", 1)
                             .otherwise(0))).cast("bigint")
               .alias("type_mask"),
               F.min("ts").alias("first_ts"))
          .select("type_mask",
                  F.pmod(F.datediff(F.col("first_ts").cast("date"),
                                    F.lit("1995-01-02").cast("date")),
                         7).cast("bigint").alias("first_dow"),
                  F.hour("first_ts").cast("bigint")
                  .alias("first_hour")))
    cells = qi.groupBy("type_mask", "first_dow", "first_hour").agg(
        F.count("*").alias("k"))
    return cells.agg(
        F.sum("k").alias("n_users"),
        F.count("*").alias("n_cells"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .alias("n_unique"),
        F.round(F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
                .cast("double") / F.sum("k"), 6).alias("unicity"),
        F.round(F.sum(F.when(F.col("k") <= 5, F.col("k")).otherwise(0))
                .cast("double") / F.sum("k"), 6)
        .alias("share_k_le_5"))


# --------------------------------------- Nadaraya-Watson smoothing

_KR_BW = 3   # triangular kernel half-width, in $10 bins


@query("ml_kernel_regression", oracle=f"""
    WITH hist AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS b,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS BIGINT) AS pos
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1
    ),
    grid AS (SELECT b AS g FROM hist),
    sm AS (
        SELECT grid.g,
               CAST(sum(({_KR_BW + 1} - abs(grid.g - hist.b))
                        * hist.pos) AS BIGINT) AS wpos,
               CAST(sum(({_KR_BW + 1} - abs(grid.g - hist.b))
                        * hist.cnt) AS BIGINT) AS wcnt
        FROM grid JOIN hist
            ON abs(grid.g - hist.b) <= {_KR_BW}
        GROUP BY grid.g
    )
    SELECT sm.g AS bin, hist.cnt AS n_raw,
           round(CAST(hist.pos AS DOUBLE) / hist.cnt, 6) AS rate_raw,
           round(CAST(sm.wpos AS DOUBLE) / sm.wcnt, 6) AS rate_smooth
    FROM sm JOIN hist ON sm.g = hist.b
    ORDER BY bin
""")
def ml_kernel_regression(spark, sf_dir):
    """Nadaraya-Watson kernel regression of the purchase rate on
    event value: a triangular kernel of half-width 3 bins over the
    $10-bin grid smooths the noisy per-bin rate into the curve a GLM
    would force into a link-function shape — THE nonparametric
    response-curve estimator, and the smoothing layer under every
    partial-dependence plot. Raw and smoothed rates ship side by
    side so the smoothing is auditable (integer triangular weights
    4,3,2,1 — an exact discrete kernel, no float bandwidth).

    All weighted sums are exact integers (weight x count products);
    both rates are exact-integer ratios; the band join is
    grid-bounded (|g - b| <= 3 over ~50 bins — never corpus-sized).

    Scale shape: ONE histogram aggregate + a bounded band self-join
    + per-bin ratios."""
    hist = (T(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("purchase", "view"))
            .groupBy(F.expr("CAST(round(value * 100) AS BIGINT)"
                            " DIV 1000").alias("b"))
            .agg(F.count("*").alias("cnt"),
                 F.sum(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("pos")))
    grid = hist.select(F.col("b").alias("g"))
    band = grid.join(hist,
                     F.abs(F.col("g") - F.col("b")) <= _KR_BW)
    wgt = (_KR_BW + 1) - F.abs(F.col("g") - F.col("b"))
    sm = band.groupBy("g").agg(
        F.sum(wgt * F.col("pos")).alias("wpos"),
        F.sum(wgt * F.col("cnt")).alias("wcnt"))
    raw = hist.select(F.col("b").alias("rb"), "cnt", "pos")
    return (sm.join(raw, sm.g == F.col("rb"))
            .select(F.col("g").alias("bin"),
                    F.col("cnt").alias("n_raw"),
                    F.round(F.col("pos").cast("double") / F.col("cnt"),
                            6).alias("rate_raw"),
                    F.round(F.col("wpos").cast("double")
                            / F.col("wcnt"), 6).alias("rate_smooth"))
            .orderBy("bin"))


# ------------------------------------------------ DAU stickiness

@query("events_dau_stickiness", oracle="""
    WITH act AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               user_id
        FROM events
    ),
    sizes AS (
        SELECT d, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY d
    ),
    inter AS (
        SELECT a.d,
               CAST(count(*) AS BIGINT) AS common
        FROM act a JOIN act b
            ON b.user_id = a.user_id
           AND b.d = a.d + INTERVAL 1 DAY
        GROUP BY a.d
    )
    SELECT s1.d AS day, s1.dau,
           coalesce(inter.common, 0) AS overlap_next,
           round(CAST(coalesce(inter.common, 0) AS DOUBLE)
                 / (s1.dau + s2.dau - coalesce(inter.common, 0)), 6)
               AS jaccard_next
    FROM sizes s1
    JOIN sizes s2 ON s2.d = s1.d + INTERVAL 1 DAY
    LEFT JOIN inter ON inter.d = s1.d
    ORDER BY day
""")
def events_dau_stickiness(spark, sf_dir):
    """Day-over-day DAU stickiness: the Jaccard overlap between each
    day's active-user set and the next day's — the daily retention
    heartbeat (a falling series is churn you will not see in MAU for
    weeks; cohort_retention is the monthly matrix, this is the
    leading indicator). Jaccard, not raw overlap, so growth days and
    shrink days read on one scale.

    Active sets are exact distinct (day, user) pairs; the overlap is
    a user-keyed equi-join on adjacent days (partitioned on user —
    never a set cross product); all counts exact, one ratio per day.

    Scale shape: one distinct collapse + one self equi-join on
    (user, day+1) + per-day aggregates."""
    act = (T(spark, sf_dir, "events")
           .select(F.date_trunc("day", F.col("ts")).alias("d"),
                   "user_id")
           .distinct())
    sizes = act.groupBy("d").agg(F.count("*").alias("dau"))
    b = act.select(F.col("d").alias("db"),
                   F.col("user_id").alias("ub"))
    inter = (act.join(b, (F.col("ub") == F.col("user_id"))
                     & (F.col("db") == F.col("d")
                        + F.expr("INTERVAL 1 DAY")))
             .groupBy("d").agg(F.count("*").alias("common")))
    s2 = sizes.select(F.col("d").alias("d2"),
                      F.col("dau").alias("dau2"))
    return (sizes
            .join(s2, F.col("d2") == F.col("d")
                  + F.expr("INTERVAL 1 DAY"))
            .join(inter, "d", "left")
            .select(F.col("d").alias("day"), "dau",
                    F.coalesce("common", F.lit(0)).alias("overlap_next"),
                    F.round(F.coalesce("common", F.lit(0))
                            .cast("double")
                            / (F.col("dau") + F.col("dau2")
                               - F.coalesce("common", F.lit(0))), 6)
                    .alias("jaccard_next"))
            .orderBy("day"))


# ------------------------------------------- n-gram entropy curve

@query("text_entropy_ngram_curve", oracle=f"""
    WITH d AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    uni AS (
        SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        FROM d, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    h1 AS (
        SELECT {units_sum_sql(
                   '-(CAST(c AS DOUBLE) / t) * log2(CAST(c AS DOUBLE) / t)', 1e9)} AS h_u
        FROM (SELECT w1 AS w, CAST(count(*) AS BIGINT) AS c,
                     CAST(sum(count(*)) OVER () AS BIGINT) AS t
              FROM uni GROUP BY w1)
    ),
    h2pair AS (
        SELECT {units_sum_sql(
                   '-(CAST(c AS DOUBLE) / t) * log2(CAST(c AS DOUBLE) / t)', 1e9)} AS h_u
        FROM (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c,
                     CAST(sum(count(*)) OVER () AS BIGINT) AS t
              FROM uni GROUP BY w1, w2)
    ),
    h3tri AS (
        SELECT {units_sum_sql(
                   '-(CAST(c AS DOUBLE) / t) * log2(CAST(c AS DOUBLE) / t)', 1e9)} AS h_u
        FROM (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c,
                     CAST(sum(count(*)) OVER () AS BIGINT) AS t
              FROM uni GROUP BY w1, w2, w3)
    )
    SELECT round(h1.h_u / 1e9, 6) AS h1_bits,
           round(h2pair.h_u / 1e9 - h1.h_u / 1e9, 6) AS h2_cond_bits,
           round(h3tri.h_u / 1e9 - h2pair.h_u / 1e9, 6)
               AS h3_cond_bits
    FROM h1, h2pair, h3tri
""")
def text_entropy_ngram_curve(spark, sf_dir):
    """Shannon's n-gram entropy convergence experiment (Shannon
    1951): the unigram entropy H(X) and the CONDITIONAL entropies
    H(X2|X1) = H(pairs) - H(unigrams) and H(X3|X1X2) = H(triples) -
    H(pairs), in bits per word — each added word of context must
    lower the conditional entropy (information can't hurt), and how
    FAST it falls is the empirical justification for every trigram
    feature in the repo (text_good_turing, text_yule_k,
    sketch_kmv_jaccard all live on trigrams because this curve says
    context pays). Complements events_entropy_rate (Markov, event
    streams) on the text axis.

    All n-gram counts share ONE windowed trigram pass (the three
    marginals are prefixes of the same rows); each plug-in entropy
    term snaps to 1e9 before its unordered sum; the conditional
    entropies are exact differences of the snapped totals.

    Scale shape: one in-array trigram explode + three hash
    aggregates + a 1-row combine."""
    uni = (T(spark, sf_dir, "documents")
           .select(F.split(F.col("text"), " ").alias("t"))
           .filter(F.size("t") >= 3)
           .select(F.explode(F.expr(
               "transform(sequence(0, size(t) - 3),"
               " i -> struct(t[i] AS w1, t[i + 1] AS w2,"
               " t[i + 2] AS w3))")).alias("g"))
           .select("g.w1", "g.w2", "g.w3"))
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)

    def plug_in(cols):
        cnt = uni.groupBy(*cols).agg(F.count("*").alias("c"))
        withtot = cnt.select(
            "c", F.sum("c").over(wall).alias("t"))
        p = F.col("c").cast("double") / F.col("t")
        return withtot.agg(
            units_sum(-p * F.log2(p), 1e9)
            .alias("h_u"))

    h1 = plug_in(["w1"]).select(F.col("h_u").alias("u1"))
    h2 = plug_in(["w1", "w2"]).select(F.col("h_u").alias("u2"))
    h3 = plug_in(["w1", "w2", "w3"]).select(F.col("h_u").alias("u3"))
    j = h1.crossJoin(F.broadcast(h2)).crossJoin(F.broadcast(h3))
    return j.select(
        F.round(F.col("u1") / 1e9, 6).alias("h1_bits"),
        F.round(F.col("u2") / 1e9 - F.col("u1") / 1e9, 6)
        .alias("h2_cond_bits"),
        F.round(F.col("u3") / 1e9 - F.col("u2") / 1e9, 6)
        .alias("h3_cond_bits"))
