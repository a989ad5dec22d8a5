"""Post-hoc / survival-curve / causal pack (round 5, batch 42):
Dunn's pairwise post-hoc test, the Nelson-Aalen cumulative hazard,
a one-lag Granger causality F test, and a sharp regression-
discontinuity estimate. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators:

- Dunn's test (Dunn 1964): AFTER Kruskal-Wallis rejects, WHICH group
  pairs differ? Pairwise rank-mean z's with tie correction and
  Bonferroni control — the standard follow-up the omnibus test
  cannot answer.
- Nelson-Aalen (Nelson 1972; Aalen 1978): the cumulative-hazard twin
  of the repo's Kaplan-Meier key — additive, so its increments d/n
  are the raw hazard the log-rank machinery already consumes.
- Granger causality (Granger 1969), 1 lag: do yesterday's clicks
  improve today's purchase forecast beyond purchases' own history?
  The nested-OLS F test, from exact moment sums.
- Sharp RD (Thistlethwaite & Campbell 1960): the treatment-effect
  jump at a known assignment cutoff from two local linear fits —
  reported honestly as ~0 here (the synthetic corpus has no real
  discontinuity; the operator is the product).

Determinism contract (SURVEY §4.3): midranks, risk sets, and moment
sums are exact integers (2x-integer midranks via distributed prefix
sum; HUGEINT/DECIMAL(38,0) products); hazard increments snap to 1e9
before the pinned-order cumulative window; all statistics are fixed
float expressions; pair/time orderings are pinned by integer or
lexical keys."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import comoment, erfc, erfc_sql, wide, wide_sql
from .registry import query
from .relational import T


# ---------------------------------------------- Dunn pairwise post-hoc

@query("stats_dunn_posthoc", oracle=f"""
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
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
        FROM vh
    ),
    pairs AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b,
               round((a.r2 * 0.5 / a.n_g - b.r2 * 0.5 / b.n_g)
                     / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12.0
                             - CAST(tsum AS DOUBLE)
                               / (12.0 * (n - 1)))
                            * (1.0 / a.n_g + 1.0 / b.n_g)), 5) AS z
        FROM rsum a JOIN rsum b ON a.grp < b.grp
        CROSS JOIN dims
    ),
    withp AS (
        SELECT grp_a, grp_b, z,
               round({erfc_sql('abs(z) / sqrt(2.0)')}, 8)
                   AS p_value
        FROM pairs
    )
    SELECT grp_a, grp_b, z, p_value,
           least(1.0, round(10.0 * p_value, 8)) AS p_bonferroni
    FROM withp
""")
def stats_dunn_posthoc(spark, sf_dir):
    """Dunn's pairwise post-hoc test over the 5 event types (Dunn
    1964), the follow-up to the repo's stats_kruskal_wallis omnibus:
    z_ij = (rbar_i - rbar_j) / sqrt((N(N+1)/12 - T/(12(N-1)))
    (1/n_i + 1/n_j)) on the SHARED global midranks (not pairwise
    re-ranks — that is what distinguishes Dunn from 10 Mann-Whitneys),
    Bonferroni-controlled at m = 10 comparisons.

    Rank machinery is the kruskal one verbatim: 2x-integer histogram
    midranks off a distributed prefix sum, exact BIGINT rank sums.
    The 10 pairs come from a self-join of the 5-row rank-sum frame
    (grp_a < grp_b pins order); z snaps at 5dp before the A-S erfc
    p; p_bonferroni = min(1, 10p) on the snapped p.

    Scale shape: two histogram aggregates + a bounded 5x5 self-join —
    adding the post-hoc costs nothing beyond the omnibus."""
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
                  F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt")
                        - F.col("cnt")).alias("tsum"))
    a = rsum.select(F.col("grp").alias("grp_a"),
                    F.col("r2").alias("r2a"), F.col("n_g").alias("na"))
    b = rsum.select(F.col("grp").alias("grp_b"),
                    F.col("r2").alias("r2b"), F.col("n_g").alias("nb"))
    pairs = (a.join(b, F.col("grp_a") < F.col("grp_b"))
             .crossJoin(F.broadcast(dims)))
    z = F.round(
        (F.col("r2a") * 0.5 / F.col("na")
         - F.col("r2b") * 0.5 / F.col("nb"))
        / F.sqrt((F.col("n").cast("double") * (F.col("n") + 1) / 12.0
                  - F.col("tsum").cast("double")
                  / (12.0 * (F.col("n") - 1)))
                 * (1.0 / F.col("na") + 1.0 / F.col("nb"))), 5)
    zz = pairs.select("grp_a", "grp_b", z.alias("z"))
    p = F.round(erfc(F.abs(F.col("z")) / F.sqrt(F.lit(2.0))), 8)
    return zz.select(
        "grp_a", "grp_b", "z", p.alias("p_value"),
        F.least(F.lit(1.0), F.round(10.0 * p, 8)).alias("p_bonferroni"))


# --------------------------------------------- Nelson-Aalen hazard

@query("stats_nelson_aalen", oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderdate,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders
    ),
    horizon AS (SELECT max(o_orderdate) AS mx FROM orders),
    dur AS (
        SELECT CASE WHEN nxt IS NULL THEN
                   date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(mx AS DATE))
               ELSE date_diff('day', CAST(o_orderdate AS DATE),
                              CAST(nxt AS DATE)) END AS t,
               CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev
        FROM seq, horizon
    ),
    hist AS (
        SELECT CAST(t AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS m,
               CAST(sum(ev) AS BIGINT) AS d
        FROM dur GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               CAST(sum(m) OVER (ORDER BY t DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
        FROM hist
    ),
    haz AS (
        SELECT t, d, n_risk,
               CAST(round(CAST(d AS DOUBLE) / n_risk * 1e9) AS BIGINT)
                   AS h_u
        FROM risk WHERE d > 0
    )
    SELECT t AS duration, d AS n_events, n_risk,
           round(CAST(sum(h_u) OVER (ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) / 1e9, 6)
               AS cum_hazard,
           round(exp(-CAST(sum(h_u) OVER (ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) / 1e9), 6)
               AS surv_na
    FROM haz
""")
def stats_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard over customer inter-order gaps
    (Nelson 1972; Aalen 1978) — the same duration/censoring protocol
    as stats_kaplan_meier and stats_log_rank (event = a next order
    exists; censored at the horizon): H(t) = sum_{t_i <= t} d_i/n_i,
    plus the Fleming-Harrington survival exp(-H). Where KM multiplies
    survival factors, NA ADDS hazard increments — additivity is what
    makes it the natural distributed estimator (increments are
    map-side-computable; the cumulative is one ordered pass) and the
    more stable choice in small risk sets.

    d_i and the at-risk counts are exact integers (descending
    cumulative over the duration histogram — bounded by the gap
    range, not the corpus); each increment d/n snaps to 1e9 BEFORE
    the ascending cumulative window, so the running hazard is an
    exact BIGINT at every row on both engines.

    Scale shape: per-customer lead window + duration histogram + two
    ordered passes over the bounded histogram."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    seq = o.withColumn("nxt", F.lead("o_orderdate").over(w))
    horizon = o.agg(F.max("o_orderdate").alias("mx"))
    dur = (seq.crossJoin(F.broadcast(horizon))
           .select(
               F.when(F.col("nxt").isNull(),
                      F.datediff(F.col("mx"), F.col("o_orderdate")))
               .otherwise(F.datediff(F.col("nxt"),
                                     F.col("o_orderdate")))
               .cast("bigint").alias("t"),
               F.when(F.col("nxt").isNull(), 0).otherwise(1)
               .alias("ev")))
    hist = dur.groupBy("t").agg(F.count("*").alias("m"),
                                F.sum("ev").alias("d"))
    risk = hist.select(
        "t", "d",
        F.sum("m").over(Window.orderBy(F.col("t").desc())
                        .rowsBetween(Window.unboundedPreceding, 0))
        .alias("n_risk"))
    haz = (risk.filter(F.col("d") > 0)
           .select("t", "d", "n_risk",
                   F.round(F.col("d").cast("double") / F.col("n_risk")
                           * 1e9).cast("bigint").alias("h_u")))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return haz.select(
        F.col("t").alias("duration"), F.col("d").alias("n_events"),
        "n_risk",
        F.round(F.sum("h_u").over(wcum) / 1e9, 6).alias("cum_hazard"),
        F.round(F.exp(-F.sum("h_u").over(wcum) / 1e9), 6)
        .alias("surv_na"))


# --------------------------------------------- Granger causality

@query("ts_granger_causality", oracle=f"""
    WITH day AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(sum(CASE WHEN event_type = 'click'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT y,
               lag(y) OVER (ORDER BY d) AS z1,
               lag(x) OVER (ORDER BY d) AS z2
        FROM day
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(y)')} AS sy,
               {wide_sql('sum(z1)')} AS s1,
               {wide_sql('sum(z2)')} AS s2,
               sum({wide_sql('y')} * y) AS syy,
               sum({wide_sql('z1')} * z1) AS s11,
               sum({wide_sql('z2')} * z2) AS s22,
               sum({wide_sql('z1')} * z2) AS s12,
               sum({wide_sql('z1')} * y) AS s1y,
               sum({wide_sql('z2')} * y) AS s2y
        FROM lagged WHERE z1 IS NOT NULL
    ),
    cen AS (
        SELECT n,
               CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
               CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
               CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
               CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
               CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
               CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y
        FROM st
    ),
    fit AS (
        SELECT n,
               cyy - c1y * c1y / c11 AS rss_r,
               cyy - (c22 * c1y * c1y - 2.0 * c12 * c1y * c2y
                      + c11 * c2y * c2y)
                     / (c11 * c22 - c12 * c12) AS rss_u
        FROM cen
    ),
    ff AS (
        SELECT n,
               round((rss_r - rss_u) / (rss_u / (n - 3)), 4) AS f_stat
        FROM fit
    )
    SELECT n, f_stat,
           round({erfc_sql('sqrt(greatest(f_stat, 0.0) / 2.0)')}, 8)
               AS p_approx
    FROM ff
""")
def ts_granger_causality(spark, sf_dir):
    """One-lag Granger causality F test, clicks -> purchases on the
    daily revenue series (Granger 1969): does yesterday's click
    revenue improve today's purchase forecast beyond purchases' own
    lag? F = (RSS_restricted - RSS_unrestricted)/1 over
    RSS_u/(n - 3), from the nested OLS pair solved in closed form
    (the 2x2 normal equations invert symbolically — no iterative
    fit).

    All ten moment sums are exact HUGEINT/DECIMAL(38,0) off ONE lag
    window pass; centered forms n*Sxy - SxSy cast to double feed a
    fixed IEEE expression for both RSS values. p_approx maps F
    through the 1-df chi-square tail erfc(sqrt(F/2)) (exact as
    n -> inf for F(1, n-3); documented approximation, guarded at 0).

    Scale shape: day-spine collapse + one lag window + a 1-row
    reduce."""
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
    lagged = (day.select("y",
                         F.lag("y").over(w).alias("z1"),
                         F.lag("x").over(w).alias("z2"))
              .filter(F.col("z1").isNotNull()))
    st = lagged.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"), F.sum("z1").alias("s1"),
        F.sum("z2").alias("s2"),
        F.sum(wide("y") * F.col("y")).alias("syy"),
        F.sum(wide("z1") * F.col("z1")).alias("s11"),
        F.sum(wide("z2") * F.col("z2")).alias("s22"),
        F.sum(wide("z1") * F.col("z2")).alias("s12"),
        F.sum(wide("z1") * F.col("y")).alias("s1y"),
        F.sum(wide("z2") * F.col("y")).alias("s2y"))

    def cen(qq, sa, sb):
        return comoment("n", qq, sa, sb).cast("double")

    c = st.select(
        "n",
        cen("syy", "sy", "sy").alias("cyy"),
        cen("s11", "s1", "s1").alias("c11"),
        cen("s22", "s2", "s2").alias("c22"),
        cen("s12", "s1", "s2").alias("c12"),
        cen("s1y", "s1", "sy").alias("c1y"),
        cen("s2y", "s2", "sy").alias("c2y"))
    fit = c.select(
        "n",
        (F.col("cyy") - F.col("c1y") * F.col("c1y") / F.col("c11"))
        .alias("rss_r"),
        (F.col("cyy")
         - (F.col("c22") * F.col("c1y") * F.col("c1y")
            - 2.0 * F.col("c12") * F.col("c1y") * F.col("c2y")
            + F.col("c11") * F.col("c2y") * F.col("c2y"))
         / (F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")))
        .alias("rss_u"))
    ff = fit.select(
        "n",
        F.round((F.col("rss_r") - F.col("rss_u"))
                / (F.col("rss_u") / (F.col("n") - 3)), 4)
        .alias("f_stat"))
    return ff.select(
        "n", "f_stat",
        F.round(erfc(F.sqrt(F.greatest(F.col("f_stat"),
                                       F.lit(0.0)) / 2.0)), 8)
        .alias("p_approx"))


# ------------------------------------------- sharp RD at a cutoff

@query("stats_reg_discontinuity", oracle=f"""
    WITH side AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) - 15000000
                   AS xc,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y
        FROM orders
        WHERE abs(CAST(round(o_totalprice * 100) AS BIGINT)
                  - 15000000) <= 5000000
    ),
    st AS (
        SELECT CASE WHEN xc >= 0 THEN 1 ELSE 0 END AS treated,
               CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(xc)')} AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               sum({wide_sql('xc')} * xc) AS sxx,
               {wide_sql('sum(xc * y)')} AS sxy
        FROM side GROUP BY 1
    ),
    fits AS (
        SELECT treated, n,
               (CAST(n * sxy - sx * {wide_sql('sy')} AS DOUBLE))
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
               CAST(sy AS DOUBLE) / n
               - ((CAST(n * sxy - sx * {wide_sql('sy')} AS DOUBLE))
                  / CAST(n * sxx - sx * sx AS DOUBLE))
                 * (CAST(sx AS DOUBLE) / n) AS icpt
        FROM st
    )
    SELECT max(CASE WHEN treated = 0 THEN n END) AS n_left,
           max(CASE WHEN treated = 1 THEN n END) AS n_right,
           round(max(CASE WHEN treated = 0 THEN icpt END), 6)
               AS level_left,
           round(max(CASE WHEN treated = 1 THEN icpt END), 6)
               AS level_right,
           round(max(CASE WHEN treated = 1 THEN icpt END)
                 - max(CASE WHEN treated = 0 THEN icpt END), 6)
               AS rd_jump
    FROM fits
""")
def stats_reg_discontinuity(spark, sf_dir):
    """Sharp regression-discontinuity estimate at a $150,000 order-
    value cutoff (Thistlethwaite & Campbell 1960): fit the urgent-
    priority rate on the centered running variable SEPARATELY on each
    side within a $50,000 bandwidth; the difference of the two
    intercepts at the cutoff is the local treatment-effect jump. The
    synthetic corpus assigns priority independently of value, so the
    honest readout is a jump ~ 0 — the operator (local linear, not
    difference-of-means, so a slope in the running variable cannot
    masquerade as a jump) is the product.

    Both side fits come from exact HUGEINT/DECIMAL(38,0) moment sums
    of centered integer cents; slope and intercept are fixed float
    expressions; the final pivot compares the two intercepts.

    Scale shape: ONE bandwidth-filtered conditional aggregate to two
    side rows + a 2-row pivot — the filter prunes at the scan."""
    side = (T(spark, sf_dir, "orders")
            .select((F.round(F.col("o_totalprice") * 100)
                     .cast("bigint") - 15000000).alias("xc"),
                    F.when(F.col("o_orderpriority")
                           .isin("1-URGENT", "2-HIGH"), 1)
                    .otherwise(0).alias("y"))
            .filter(F.abs(F.col("xc")) <= 5000000))
    st = (side.groupBy(F.when(F.col("xc") >= 0, 1).otherwise(0)
                       .alias("treated"))
          .agg(F.count("*").alias("n"),
               F.sum("xc").alias("sx"), F.sum("y").alias("sy"),
               F.sum(wide("xc") * F.col("xc")).alias("sxx"),
               F.sum(F.col("xc") * F.col("y")).alias("sxy")))
    slope = (comoment("n", "sxy", "sx", "sy").cast("double")
             / comoment("n", "sxx", "sx", "sx").cast("double"))
    icpt = (F.col("sy").cast("double") / F.col("n")
            - slope * (F.col("sx").cast("double") / F.col("n")))
    fits = st.select("treated", "n", icpt.alias("icpt"))
    return fits.agg(
        F.max(F.when(F.col("treated") == 0, F.col("n")))
        .alias("n_left"),
        F.max(F.when(F.col("treated") == 1, F.col("n")))
        .alias("n_right"),
        F.round(F.max(F.when(F.col("treated") == 0, F.col("icpt"))), 6)
        .alias("level_left"),
        F.round(F.max(F.when(F.col("treated") == 1, F.col("icpt"))), 6)
        .alias("level_right"),
        F.round(F.max(F.when(F.col("treated") == 1, F.col("icpt")))
                - F.max(F.when(F.col("treated") == 0, F.col("icpt"))),
                6).alias("rd_jump"))
