"""Recsys/agreement/time-series pack (round 5, batch 24): item-item
covisitation retrieval, Krippendorff's alpha multi-rater agreement,
partial autocorrelation via Durbin-Levinson, and a compounded growth
index. The reference engine (294 LoC of Rust delegating to SQLite,
reference src/main.rs) has none of this surface; these are Tier-C
mission operators:

- Item-item covisitation (cosine-normalized co-occurrence, top-k per
  item) is the workhorse candidate generator of production
  recommenders (Amazon's item-to-item CF, Linden et al. 2003) — and
  the i2i retrieval table an LLM-era pipeline builds for related-item
  hard negatives.
- Krippendorff's alpha generalizes Cohen's kappa to m raters — the
  agreement gate when several heuristic labelers (or LLM judges) tag
  the same corpus.
- PACF is how an analyst picks an AR order: the lag-k partial
  autocorrelation nets out the shorter lags, via the Durbin-Levinson
  recursion unrolled in closed form over snapped ACF values.
- The compounded index turns per-period growth rates into a level
  series (the "growth of $1" chart) with exp-sum-log compounding.

Determinism contract (SURVEY §4.3): co-occurrence counts, agreement
coincidence counts, and centered-product sums are exact integers (the
latter snapped per-row to fixed-point before summation); ACF ratios
are snapped once, the D-L recursion reads only snapped inputs; window
running sums ride ordered frames (exempt from the fixed-point rule —
their order is pinned by ORDER BY).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql


# --------------------------------------- item-item covisitation top-k

@query("recsys_item_item", oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    ideg AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM op GROUP BY p),
    anchors AS (
        SELECT p AS i FROM ideg
        ORDER BY c DESC, p LIMIT 20
    ),
    pairs AS (
        SELECT a.p AS i, b.p AS j, CAST(count(*) AS BIGINT) AS cp
        FROM op a
        JOIN anchors ON anchors.i = a.p
        JOIN op b ON a.o = b.o AND b.p <> a.p
        GROUP BY a.p, b.p
    ),
    scored AS (
        SELECT pairs.i, pairs.j, pairs.cp,
               round(pairs.cp / (sqrt(di.c) * sqrt(dj.c)), 6) AS cosine
        FROM pairs
        JOIN ideg di ON di.p = pairs.i
        JOIN ideg dj ON dj.p = pairs.j
    ),
    topk AS (
        SELECT i, j, cp, cosine,
               CAST(row_number() OVER (PARTITION BY i
                    ORDER BY cosine DESC, j) AS BIGINT) AS rk
        FROM scored
    )
    SELECT i AS item, j AS neighbor, cp AS co_count, cosine, rk
    FROM topk WHERE rk <= 5
    ORDER BY item, rk
""")
def recsys_item_item(spark, sf_dir):
    """Item-to-item collaborative filtering (Linden et al. 2003):
    cosine-normalized covisitation — cos(i,j) = c_ij / sqrt(c_i c_j)
    over distinct (order, part) baskets — with the top-5 neighbor list
    per anchor item (the 20 highest-degree items, so the output is a
    bounded retrieval table).

    Scale shape: the 20-anchor set (TakeOrdered over the degree
    aggregate) broadcasts onto the basket stream BEFORE pairing, so
    the covisitation join only materializes (anchor, other) pairs —
    cost = anchor rows x basket size, NOT sum-of-C(k,2) over every
    basket (measured ~1.4x faster at sf0.1, and the gap widens with
    catalog size). Pair counts and degrees are exact BIGINTs, the
    cosine is one snapped expression, and the per-anchor top-5 window
    partitions BY item. This is the standard production i2i shape:
    compute neighbor lists for the items you will actually serve."""
    op = (T(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p"))
          .distinct())
    ideg = op.groupBy("p").agg(F.count("*").alias("c"))
    anchors = (ideg.orderBy(F.col("c").desc(), "p").limit(20)
               .select(F.col("p").alias("i")))
    a = op.alias("a")
    b = op.alias("b")
    pairs = (a.join(F.broadcast(anchors), F.col("a.p") == F.col("i"))
             .join(b, (F.col("a.o") == F.col("b.o"))
                   & (F.col("b.p") != F.col("a.p")))
             .groupBy(F.col("a.p").alias("i2"), F.col("b.p").alias("j"))
             .agg(F.count("*").alias("cp"))
             .withColumnRenamed("i2", "i"))
    di = ideg.select(F.col("p").alias("i"), F.col("c").alias("ci"))
    dj = ideg.select(F.col("p").alias("j"), F.col("c").alias("cj"))
    scored = (pairs
              .join(F.broadcast(di), "i")
              .join(dj, "j")
              .select("i", "j", "cp",
                      F.round(F.col("cp")
                              / (F.sqrt("ci") * F.sqrt("cj")), 6)
                      .alias("cosine")))
    w = Window.partitionBy("i").orderBy(F.col("cosine").desc(),
                                        F.col("j"))
    return (scored.withColumn("rk",
                              F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= 5)
            .select(F.col("i").alias("item"),
                    F.col("j").alias("neighbor"),
                    F.col("cp").alias("co_count"), "cosine", "rk")
            .orderBy("item", "rk"))


# ------------------------------------- Krippendorff's alpha (m raters)

@query("eval_krippendorff_alpha", oracle="""
    WITH rated AS (
        SELECT (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
               + (CASE WHEN length(text) - length(replace(text, 'e', ''))
                       >= 30 THEN 1 ELSE 0 END)
               + (CASE WHEN position(' the ' IN text) > 0 THEN 1 ELSE 0
                  END) AS k
        FROM documents
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(2 * k * (3 - k)) AS BIGINT) AS dis_pairs,
               CAST(sum(k) AS BIGINT) AS p_ones
        FROM rated
    )
    SELECT n, p_ones, 3 * n - p_ones AS p_zeros, dis_pairs,
           round(dis_pairs * 1.0 / (n * 3 * 2), 6) AS d_obs,
           round(2.0 * p_ones * (3 * n - p_ones)
                 / ((3.0 * n) * (3 * n - 1)), 6) AS d_exp,
           round(1.0 - (dis_pairs * 1.0 / (n * 3 * 2))
                       / (2.0 * p_ones * (3 * n - p_ones)
                          / ((3.0 * n) * (3 * n - 1))), 6) AS alpha
    FROM agg
""")
def eval_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha (Krippendorff 1970) for 3 binary raters
    with no missing data: alpha = 1 - D_obs/D_exp, where D_obs counts
    within-unit disagreeing rater pairs (2*k*(3-k) ordered pairs for a
    unit with k positive votes) and D_exp is the chance disagreement
    from the pooled margins 2*P*Q / (3n * (3n-1)).

    The raters are the repo's three deterministic document gates
    (length, 'e'-density, ' the '-substring) — the multi-judge
    agreement audit that generalizes eval_cohens_kappa beyond two
    raters (alpha also equals Scott's pi family in this complete-data
    binary case). Everything reduces to THREE integers (n, P, the
    disagreement-pair count), so alpha is a single snapped expression
    (SURVEY §4.3).

    Scale shape: ONE map-side-combinable aggregate over per-row vote
    counts; no per-pair materialization — the k(3-k) identity counts
    disagreeing pairs without enumerating them."""
    d = T(spark, sf_dir, "documents")
    k = (F.when(F.col("n_chars") >= 300, 1).otherwise(0)
         + F.when(F.length("text")
                  - F.length(F.regexp_replace("text", "e", "")) >= 30, 1)
            .otherwise(0)
         + F.when(F.instr(F.col("text"), " the ") > 0, 1).otherwise(0))
    agg = (d.select(k.alias("k"))
           .agg(F.count("*").alias("n"),
                F.sum(2 * F.col("k") * (3 - F.col("k")))
                 .alias("dis_pairs"),
                F.sum("k").alias("p_ones")))
    d_obs = F.col("dis_pairs") * 1.0 / (F.col("n") * 3 * 2)
    d_exp = (2.0 * F.col("p_ones") * (3 * F.col("n") - F.col("p_ones"))
             / ((3.0 * F.col("n")) * (3 * F.col("n") - 1)))
    return agg.select(
        "n", "p_ones",
        (3 * F.col("n") - F.col("p_ones")).alias("p_zeros"),
        "dis_pairs",
        F.round(d_obs, 6).alias("d_obs"),
        F.round(d_exp, 6).alias("d_exp"),
        F.round(1.0 - d_obs / d_exp, 6).alias("alpha"))


# ----------------------------- PACF via unrolled Durbin-Levinson (lag 3)

@query("ts_pacf", oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    mean AS (
        SELECT CAST(sum(x) AS BIGINT) * 1.0 / count(*) AS mu,
               CAST(count(*) AS BIGINT) AS n
        FROM daily
    ),
    gam AS (
        SELECT k.k,
               {units_sum_sql('(d.x - mu) * (d2.x - mu)', 1e4)} AS g_u
        FROM daily d
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
        JOIN daily d2 ON d2.day = d.day + INTERVAL (k.k) DAY
        CROSS JOIN mean
        GROUP BY k.k
    ),
    r AS (
        SELECT max(CASE WHEN k = 1 THEN r END) AS r1,
               max(CASE WHEN k = 2 THEN r END) AS r2,
               max(CASE WHEN k = 3 THEN r END) AS r3
        FROM (SELECT k, round(g_u * 1.0
                              / (SELECT g_u FROM gam WHERE k = 0), 8)
                         AS r
              FROM gam WHERE k > 0)
    ),
    dl AS (
        SELECT r1, r2, r3,
               round(r1, 6) AS phi11,
               round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS phi22
        FROM r
    ),
    dl2 AS (
        SELECT r1, r2, r3, phi11, phi22,
               round(r1 - phi22 * r1, 6) AS phi21
        FROM dl
    )
    SELECT lag, pacf FROM (
        SELECT 1 AS lag, phi11 AS pacf FROM dl2
        UNION ALL
        SELECT 2, phi22 FROM dl2
        UNION ALL
        SELECT 3, round((r3 - phi21 * r2 - phi22 * r1)
                        / (1.0 - phi21 * r1 - phi22 * r2), 6)
        FROM dl2
    ) ORDER BY lag
""")
def ts_pacf(spark, sf_dir):
    """Partial autocorrelation of the daily event-count series at lags
    1-3 via the Durbin-Levinson recursion unrolled in closed form
    (Box & Jenkins 1970) — the AR-order picker: pacf(k) is lag-k
    correlation with lags 1..k-1 netted out, so an AR(p) series cuts
    off after lag p.

    ACF inputs use the calendar-shifted self-join of the day series
    (the ts_autocorrelation protocol); centered products are snapped
    per-row to 1e-4 fixed-point BEFORE summation so the gamma sums
    are exact BIGINTs, and each r_k = gamma_k/gamma_0 is snapped to
    8 dp. The D-L steps (phi11 = r1; phi22 = (r2 - r1^2)/(1 - r1^2);
    phi33 via the order-2 predictor) then read ONLY snapped scalars —
    closed-form algebra, no iteration, no driver loop (SURVEY §4.3).

    Scale shape: the fact collapses once to the day spine; the lag
    fan-out is a 4-row broadcast; everything after is scalar math."""
    e = T(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.count("*").alias("x")))
    mean = daily.agg(
        (F.sum("x") * 1.0 / F.count("*")).alias("mu"),
        F.count("*").alias("n"))
    ks = spark.createDataFrame([(0,), (1,), (2,), (3,)], "k int")
    d2 = daily.select(F.col("day").alias("day_k"),
                      F.col("x").alias("xk"))
    gam = (daily.crossJoin(F.broadcast(ks))
           .join(d2, F.date_add(F.col("day").cast("date"), F.col("k"))
                 == F.col("day_k").cast("date"))
           .crossJoin(F.broadcast(mean))
           .groupBy("k")
           .agg(units_sum((F.col("x") - F.col("mu"))
                              * (F.col("xk") - F.col("mu")), 1e4).alias("g_u")))
    g0 = gam.filter(F.col("k") == 0).select(
        F.col("g_u").alias("g0"))
    r = (gam.filter(F.col("k") > 0)
         .crossJoin(F.broadcast(g0))
         .select("k", F.round(F.col("g_u") * 1.0 / F.col("g0"), 8)
                 .alias("r"))
         .agg(F.max(F.when(F.col("k") == 1, F.col("r"))).alias("r1"),
              F.max(F.when(F.col("k") == 2, F.col("r"))).alias("r2"),
              F.max(F.when(F.col("k") == 3, F.col("r"))).alias("r3")))
    dl = r.select(
        "r1", "r2", "r3",
        F.round(F.col("r1"), 6).alias("phi11"),
        F.round((F.col("r2") - F.col("r1") * F.col("r1"))
                / (1.0 - F.col("r1") * F.col("r1")), 6).alias("phi22"))
    dl2 = dl.withColumn(
        "phi21", F.round(F.col("r1") - F.col("phi22") * F.col("r1"), 6))
    phi33 = F.round(
        (F.col("r3") - F.col("phi21") * F.col("r2")
         - F.col("phi22") * F.col("r1"))
        / (1.0 - F.col("phi21") * F.col("r1")
           - F.col("phi22") * F.col("r2")), 6)
    out = (dl2.select(F.lit(1).alias("lag"),
                      F.col("phi11").alias("pacf"))
           .unionAll(dl2.select(F.lit(2), F.col("phi22")))
           .unionAll(dl2.select(F.lit(3), phi33)))
    return out.orderBy("lag")


# --------------------------------------------- compounded growth index

@query("ts_compound_index", oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               {units_sum_sql('value', 100)}
                   AS cents
        FROM events GROUP BY 1
    ),
    ret AS (
        SELECT day, cents,
               CAST(round(ln(cents * 1.0
                             / lag(cents) OVER (ORDER BY day)) * 1e6)
                    AS BIGINT) AS lr_u
        FROM daily
    )
    SELECT day, cents,
           coalesce(lr_u, 0) AS log_ret_micro,
           round(exp(CAST(sum(coalesce(lr_u, 0))
                          OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE) / 1e6) * 100.0, 4) AS index_100
    FROM ret ORDER BY day
""")
def ts_compound_index(spark, sf_dir):
    """Compounded growth index ("growth of 100") of daily event value:
    index_t = 100 * prod(cents_i / cents_{i-1}) computed as
    exp(cumsum(log returns)) — the numerically sane way to chain
    thousands of growth factors without underflow/overflow, and the
    level chart every revenue dashboard draws from per-period rates.

    Each daily log return is snapped to integer micro-units the moment
    it is computed (deterministic per-row function of two exact cents
    totals), so the cumulative sum is an exact BIGINT running total —
    the exp at the end is one snapped expression per row. The
    telescoping identity (index on the last day ~ 100 * last/first) is
    the test's witness.

    Scale shape: the fact collapses to the day spine first; lag and
    the running sum are ordered windows over the bounded calendar
    series (their frame order pins the accumulation — the SURVEY §4.3
    window exemption)."""
    e = T(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(units_sum(F.col("value"), 100)
                  .alias("cents")))
    w = Window.orderBy("day")
    ret = daily.withColumn(
        "lr_u",
        F.round(F.log(F.col("cents") * 1.0
                      / F.lag("cents").over(w)) * 1e6).cast("bigint"))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (ret.select(
        "day", "cents",
        F.coalesce(F.col("lr_u"), F.lit(0)).alias("log_ret_micro"),
        F.round(F.exp(F.sum(F.coalesce(F.col("lr_u"), F.lit(0)))
                      .over(wsum).cast("double") / 1e6) * 100.0, 4)
        .alias("index_100"))
        .orderBy("day"))
