"""Reliability / agreement / concordance pack (round 5, batch 35):
Kendall's W coefficient of concordance, Cronbach's alpha internal
consistency, the one-way intraclass correlation ICC(1,1), and rank-sum
AUC. The reference engine (294 LoC of Rust delegating to SQLite,
reference src/main.rs) has none of this surface; these are Tier-C
mission operators — the measurement-reliability panel for any labeled
or multi-judge corpus:

- Kendall's W (Kendall & Babington Smith 1939): do m independent
  rankings of the same n items agree? (0 = no agreement, 1 = perfect.)
- Cronbach's alpha (Cronbach 1951): do k sub-scores measure ONE
  underlying trait? The default internal-consistency gate for any
  composite quality score.
- ICC(1,1) (Shrout & Fleiss 1979): how much of the variance in
  repeated measurements is BETWEEN subjects vs noise within them.
- Rank-sum AUC: P(score_pos > score_neg) via the Mann-Whitney
  identity — the exact ROC area, no curve discretization.

Determinism contract (SURVEY §4.3): rank sums, power sums, and group
sums accumulate as exact BIGINT/DECIMAL(38,0) (HUGEINT on DuckDB);
every statistic is one fixed float expression over a 1-row exact
state; AUC is an exact rational of integers. Ranks are unique by
construction (revenue DESC, key tie-break) or exact histogram
midranks (the stats_kruskal_wallis machinery)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import comoment, units_sum, units_sum_sql, wide, wide_sql


# ------------------------------------------ Kendall's W concordance

@query("stats_kendall_w", oracle=f"""
    WITH rev AS (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS judge,
               c.c_nationkey AS item,
               {units_sum_sql('o.o_totalprice', 100)} AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    common AS (
        SELECT item FROM rev GROUP BY item
        HAVING count(*) = (SELECT count(DISTINCT judge) FROM rev)
    ),
    ranked AS (
        SELECT judge, item,
               CAST(row_number() OVER (PARTITION BY judge
                    ORDER BY cents DESC, item) AS BIGINT) AS rk
        FROM rev WHERE item IN (SELECT item FROM common)
    ),
    rsum AS (
        SELECT item, CAST(sum(rk) AS BIGINT) AS r FROM ranked
        GROUP BY item
    ),
    dims AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               (SELECT CAST(count(DISTINCT judge) AS BIGINT)
                FROM ranked) AS m
        FROM rsum
    ),
    st AS (
        SELECT n, m,
               CAST(sum((2 * r - m * (n + 1))
                        * (2 * r - m * (n + 1))) AS BIGINT) AS s4
        FROM rsum, dims GROUP BY n, m
    )
    SELECT n AS n_items, m AS m_judges,
           round(3.0 * s4
                 / (CAST(m AS DOUBLE) * m * (CAST(n AS DOUBLE)
                    * n * n - n)), 6) AS w,
           round(CAST(m AS DOUBLE) * (n - 1) * (3.0 * s4
                 / (CAST(m AS DOUBLE) * m * (CAST(n AS DOUBLE)
                    * n * n - n))), 4) AS chi2
    FROM st
""")
def stats_kendall_w(spark, sf_dir):
    """Kendall's coefficient of concordance W across order years: each
    year is an independent judge ranking the nations by that year's
    revenue — do the yearly league tables agree? (Kendall & Babington
    Smith 1939; chi2 = m(n-1)W is the large-n significance form.)

    Ranks are unique by construction (revenue DESC with nationkey
    tie-break — integer cents make exact ties astronomically rare and
    the tie-break pins them anyway), so no midrank correction is
    needed. Only items ranked by EVERY judge enter (complete-panel
    requirement). The deviation sum uses the 2x-integer form
    s4 = sum (2R_i - m(n+1))^2 = 4*S, so W = 3*s4 / (m^2 (n^3 - n))
    is one float division of exact BIGINTs.

    Scale shape: one (year, nation) revenue aggregate, per-judge
    ranking windows over the bounded judge x item grid, two 1-row
    reduces."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderdate",
                                          "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .groupBy(F.year("o_orderdate").cast("int").alias("judge"),
                    F.col("c_nationkey").alias("item"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("cents")))
    m_judges = rev.agg(F.countDistinct("judge").alias("mm"))
    common = (rev.groupBy("item").agg(F.count("*").alias("nj"))
              .crossJoin(F.broadcast(m_judges))
              .filter(F.col("nj") == F.col("mm"))
              .select("item"))
    ranked = (rev.join(F.broadcast(common), "item")
              .select("judge", "item",
                      F.row_number().over(
                          Window.partitionBy("judge")
                          .orderBy(F.col("cents").desc(), "item"))
                      .cast("bigint").alias("rk")))
    rsum = ranked.groupBy("item").agg(F.sum("rk").alias("r"))
    dims = (rsum.agg(F.count("*").alias("n"))
            .crossJoin(F.broadcast(
                ranked.agg(F.countDistinct("judge").alias("m")))))
    st = (rsum.crossJoin(F.broadcast(dims))
          .groupBy("n", "m")
          .agg(F.sum((2 * F.col("r") - F.col("m") * (F.col("n") + 1))
                     * (2 * F.col("r") - F.col("m") * (F.col("n") + 1)))
               .alias("s4")))
    w = (3.0 * F.col("s4")
         / (F.col("m").cast("double") * F.col("m")
            * (F.col("n").cast("double") * F.col("n") * F.col("n")
               - F.col("n"))))
    return st.select(F.col("n").alias("n_items"),
                     F.col("m").alias("m_judges"),
                     F.round(w, 6).alias("w"),
                     F.round(F.col("m").cast("double")
                             * (F.col("n") - 1) * w, 4).alias("chi2"))


# ------------------------------------------------ Cronbach's alpha

@query("stats_cronbach_alpha", oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END) AS BIGINT) AS x1,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                        END) AS BIGINT) AS x2,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS x3,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                        END) AS BIGINT) AS x4,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                        END) AS BIGINT) AS x5,
               CAST(count(*) AS BIGINT) AS xt
        FROM events GROUP BY user_id
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x1)')} AS s1,
               sum({wide_sql('x1')} * x1) AS q1,
               {wide_sql('sum(x2)')} AS s2,
               sum({wide_sql('x2')} * x2) AS q2,
               {wide_sql('sum(x3)')} AS s3,
               sum({wide_sql('x3')} * x3) AS q3,
               {wide_sql('sum(x4)')} AS s4,
               sum({wide_sql('x4')} * x4) AS q4,
               {wide_sql('sum(x5)')} AS s5,
               sum({wide_sql('x5')} * x5) AS q5,
               {wide_sql('sum(xt)')} AS st_,
               sum({wide_sql('xt')} * xt) AS qt
        FROM per_user
    )
    SELECT n, CAST(5 AS BIGINT) AS k_items,
           round((5.0 / 4.0)
                 * (1.0 - CAST((n * q1 - s1 * s1) + (n * q2 - s2 * s2)
                               + (n * q3 - s3 * s3) + (n * q4 - s4 * s4)
                               + (n * q5 - s5 * s5) AS DOUBLE)
                   / CAST(n * qt - st_ * st_ AS DOUBLE)), 6) AS alpha
    FROM st
""")
def stats_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha over the 5 per-user event-type counts
    (Cronbach 1951): treated as 5 items of one "engagement" scale, how
    internally consistent is the composite? alpha = k/(k-1) *
    (1 - sum item variances / variance of the total score). Users
    absent from a type score an exact 0 on that item (the per-user
    pivot completes the grid — no silent missingness).

    Every variance is held in its n-multiplied exact integer form
    n*sum(x^2) - S^2 (BIGINT widened through HUGEINT/DECIMAL(38,0)),
    the item-variance sum is a FIXED 5-term integer expression, and
    alpha is one float division of two exact integers — bit-identical
    cross-engine before the 6dp round.

    Scale shape: one per-user conditional-count aggregate (map-side
    combined) + a 1-row power-sum reduce. The item dimension is a
    constant, so this is exactly 2 shuffles at any corpus size."""
    types = ["click", "view", "purchase", "signup", "error"]
    per_user = (T(spark, sf_dir, "events")
                .groupBy("user_id")
                .agg(*[F.sum(F.when(F.col("event_type") == t, 1)
                             .otherwise(0)).alias(f"x{i+1}")
                       for i, t in enumerate(types)],
                     F.count("*").alias("xt")))
    aggs = [F.count("*").alias("n")]
    for col in [f"x{i+1}" for i in range(5)] + ["xt"]:
        tag = col[1:] if col != "xt" else "t_"
        aggs += [F.sum(col).alias(f"s{tag}"),
                 F.sum(wide(F.col(col)) * F.col(col))
                 .alias(f"q{tag}")]
    st = per_user.agg(*aggs)
    nn = wide("n")
    item_var = None
    for i in range(1, 6):
        v = nn * F.col(f"q{i}") - F.col(f"s{i}") * F.col(f"s{i}")
        item_var = v if item_var is None else item_var + v
    tot_var = nn * F.col("qt_") - F.col("st_") * F.col("st_")
    return st.select(
        "n", F.lit(5).cast("bigint").alias("k_items"),
        F.round((5.0 / 4.0) * (1.0 - item_var.cast("double")
                               / tot_var.cast("double")), 6)
        .alias("alpha"))


# --------------------------------------------------------- ICC(1,1)

@query("stats_icc", oracle=f"""
    WITH seq AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS c,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    grp AS (
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS sg,
               sum({wide_sql('c')} * c) AS qg,
               CAST(count(*) AS BIGINT) AS kk
        FROM seq WHERE rn <= 4 GROUP BY user_id
        HAVING count(*) = 4
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS g,
               {wide_sql('sum(sg)')} AS t,
               sum({wide_sql('sg')} * sg) AS ssg,
               {wide_sql('sum(qg)')} AS q
        FROM grp
    )
    SELECT g AS n_groups, CAST(4 AS BIGINT) AS k_reps,
           round((CAST(g * ssg - t * t AS DOUBLE) / (4.0 * g)
                    / (g - 1)
                  - CAST(4 * q - ssg AS DOUBLE) / 4.0 / (g * 3.0))
                 / (CAST(g * ssg - t * t AS DOUBLE) / (4.0 * g)
                      / (g - 1)
                    + 3.0 * (CAST(4 * q - ssg AS DOUBLE) / 4.0
                             / (g * 3.0))), 6) AS icc1
    FROM st
""")
def stats_icc(spark, sf_dir):
    """One-way intraclass correlation ICC(1,1) (Shrout & Fleiss 1979)
    over each user's first 4 event values: what share of measurement
    variance is BETWEEN users rather than within-user noise — the
    standard repeatability coefficient for any repeated-measure panel.

    Balanced design by construction: exactly k=4 replicates per group
    (first 4 by (ts, event_id) — the deterministic-order rule), groups
    with fewer drop. The ANOVA decomposition stays exact: k*G*SSB =
    G*sum(S_g^2) - T^2 and k*SSW = k*sum(x^2) - sum(S_g^2) are exact
    HUGEINT/DECIMAL(38,0) integers; MSB/MSW and ICC = (MSB - MSW) /
    (MSB + (k-1)*MSW) form one fixed float expression, transcribed
    operation-for-operation into the oracle.

    Scale shape: one per-user ordered window (partitioned by user —
    parallel), one group aggregate, one 1-row reduce."""
    seq = T(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"))
    grp = (seq.filter(F.col("rn") <= 4)
           .groupBy("user_id")
           .agg(F.sum("c").alias("sg"),
                F.sum(wide("c") * F.col("c")).alias("qg"),
                F.count("*").alias("kk"))
           .filter(F.col("kk") == 4))
    st = grp.agg(F.count("*").alias("g"),
                 F.sum("sg").alias("t"),
                 F.sum(wide("sg") * F.col("sg")).alias("ssg"),
                 F.sum("qg").alias("q"))
    g = F.col("g")
    msb = (comoment(g, "ssg", "t", "t").cast("double")
           / (4.0 * g) / (g - 1))
    msw = ((4 * F.col("q") - F.col("ssg")).cast("double")
           / 4.0 / (g * 3.0))
    return st.select(
        g.alias("n_groups"), F.lit(4).cast("bigint").alias("k_reps"),
        F.round((msb - msw) / (msb + 3.0 * msw), 6).alias("icc1"))


# ------------------------------------------------------ rank-sum AUC

@query("eval_auc_rank", oracle="""
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS pos
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    vh AS (
        SELECT c, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(pos) AS BIGINT) AS poscnt
        FROM v GROUP BY c
    ),
    mid AS (
        SELECT c, cnt, poscnt,
               2 * CAST(coalesce(sum(cnt) OVER (ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                        PRECEDING), 0) AS BIGINT) + cnt + 1 AS midrank2
        FROM vh
    ),
    st AS (
        SELECT CAST(sum(poscnt) AS BIGINT) AS p,
               CAST(sum(cnt - poscnt) AS BIGINT) AS n,
               CAST(sum(poscnt * midrank2) AS BIGINT) AS rp2
        FROM mid
    )
    SELECT p AS n_pos, n AS n_neg,
           round(CAST(rp2 - p * (p + 1) AS DOUBLE)
                 / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6)
               AS auc
    FROM st
""")
def eval_auc_rank(spark, sf_dir):
    """Exact ROC AUC via the Mann-Whitney rank-sum identity: AUC =
    P(score_pos > score_neg) + P(tie)/2 = (R_pos - P(P+1)/2)/(P*N) —
    does event value separate purchases from views? No curve, no
    threshold grid: this IS the area, exactly, ties handled by
    midranks (the trapezoid rule's limit).

    Rank machinery: scores collapse to an integer-cents histogram;
    2x-integer midranks come from an exclusive prefix sum over it
    (the stats_kruskal_wallis machinery — no global row sort);
    rp2 = 2*R_pos is an exact BIGINT, so AUC = (rp2 - P(P+1))/(2PN)
    is an exact rational of integers rounded once at 6dp.

    Scale shape: one value histogram + prefix-sum midrank join + a
    1-row reduce — the same O(distinct values) cost as the repo's
    Mann-Whitney key, because AUC IS Mann-Whitney rescaled."""
    v = (T(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("purchase", "view"))
         .select(F.round(F.col("value") * 100).cast("bigint").alias("c"),
                 F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("pos")))
    vh = v.groupBy("c").agg(F.count("*").alias("cnt"),
                            F.sum("pos").alias("poscnt"))
    from ..operators.ranking import distributed_prefix_sum
    mid = (distributed_prefix_sum(vh, "c", "cnt", out_col="lt")
           .select("c", "cnt", "poscnt",
                   (2 * F.col("lt") + F.col("cnt") + 1)
                   .alias("midrank2")))
    st = mid.agg(
        F.sum("poscnt").alias("p"),
        F.sum(F.col("cnt") - F.col("poscnt")).alias("n"),
        F.sum(F.col("poscnt") * F.col("midrank2")).alias("rp2"))
    return st.select(
        F.col("p").alias("n_pos"), F.col("n").alias("n_neg"),
        F.round((F.col("rp2") - F.col("p") * (F.col("p") + 1))
                .cast("double")
                / (2.0 * F.col("p").cast("double")
                   * F.col("n").cast("double")), 6).alias("auc"))
