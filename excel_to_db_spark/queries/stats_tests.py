"""Statistical testing pack (Tier B/C extensions).

Hypothesis-test and model-fit aggregates computed as single-pass
SQL aggregations — the SQL-native statistics a warehouse user runs
through the reference's passthrough (src/main.rs:220) on engines that
ship them (DuckDB/Postgres regr_*), here with Spark's built-in
regression aggregates and closed-form test statistics. Everything is
one or two partial-aggregated shuffles; nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators import physical
from ..numerics import (
    comoment, comoment_sql, fixed_sum, fixed_sum_sql, h32, h32_sql,
    units_sum, units_sum_sql, wide, wide_quot, wide_quot_sql, wide_sql)
from .registry import query
from .relational import T


@query("stats_welch_t", oracle="""
    WITH g AS (
        SELECT
            avg(value)  FILTER (WHERE event_type = 'click')    AS m1,
            var_samp(value) FILTER (WHERE event_type = 'click') AS v1,
            count(*)    FILTER (WHERE event_type = 'click')    AS n1,
            avg(value)  FILTER (WHERE event_type = 'error')    AS m2,
            var_samp(value) FILTER (WHERE event_type = 'error') AS v2,
            count(*)    FILTER (WHERE event_type = 'error')    AS n2
        FROM events
    )
    SELECT n1, n2,
           round(m1 - m2, 4) AS mean_diff,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
           round(pow(v1 / n1 + v2 / n2, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1)
                    + pow(v2 / n2, 2) / (n2 - 1)), 2) AS welch_df
    FROM g
""")
def stats_welch_t(spark, sf_dir):
    """Welch's unequal-variance t statistic comparing 'click' vs
    'error' event values, with the Welch-Satterthwaite degrees of
    freedom — the A/B-test primitive.

    One pass over the fact: six FILTERed aggregates partial-aggregate
    map-side into a single 1-row state, so the test costs exactly one
    scan at any data size (no per-group sub-queries, no second pass)."""
    e = T(spark, sf_dir, "events")

    def fagg(fn, typ):
        return fn(F.when(F.col("event_type") == typ, F.col("value")))

    g = e.agg(
        fagg(F.avg, "click").alias("m1"),
        fagg(F.var_samp, "click").alias("v1"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n1"),
        fagg(F.avg, "error").alias("m2"),
        fagg(F.var_samp, "error").alias("v2"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n2"))
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return g.select(
        "n1", "n2",
        F.round(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 4)
         .alias("t_stat"),
        F.round(F.pow(se2, 2)
                / (F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                   + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)),
                2).alias("welch_df"))


@query("stats_chi_square", oracle=f"""
    WITH obs AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS pri,
               count(*) AS o
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT seg, pri, o,
               sum(o) OVER (PARTITION BY seg) AS row_tot,
               sum(o) OVER (PARTITION BY pri) AS col_tot,
               sum(o) OVER ()                 AS n
        FROM obs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           {fixed_sum_sql(
               'pow(o - row_tot * col_tot / CAST(n AS DOUBLE), 2) / (row_tot'
               ' * col_tot / CAST(n AS DOUBLE))', 1e8, 4)}
               AS chi2
    FROM tot
""")
def stats_chi_square(spark, sf_dir):
    """Chi-square independence statistic for market segment x order
    priority: observed cell counts vs the independence expectation
    row_tot * col_tot / N.

    The contingency table is one fact shuffle (customer broadcasts
    in); the marginals come from windows OVER the tiny |seg| x |pri|
    cell table, so the full test is scan + one small-cardinality agg
    regardless of fact size."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    obs = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .groupBy(F.col("c_mktsegment").alias("seg"),
                    F.col("o_orderpriority").alias("pri"))
           .agg(F.count("*").alias("o")))
    tot = obs.select(
        "o",
        F.sum("o").over(W.partitionBy("seg")).alias("row_tot"),
        F.sum("o").over(W.partitionBy("pri")).alias("col_tot"),
        F.sum("o").over(W.partitionBy()).alias("n"))
    exp = (F.col("row_tot") * F.col("col_tot")
           / F.col("n").cast("double"))
    return tot.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        fixed_sum(F.pow(F.col("o") - exp, 2) / exp, 1e8, 4)
        .alias("chi2"))


@query("agg_regression", oracle="""
    SELECT event_type,
           regr_count(value, epoch_us(ts) / 86400000000.0) AS n,
           round(regr_slope(value, epoch_us(ts) / 86400000000.0), 6)
               AS slope_per_day,
           round(regr_intercept(value, epoch_us(ts) / 86400000000.0), 2)
               AS intercept,
           round(regr_r2(value, epoch_us(ts) / 86400000000.0), 6) AS r2
    FROM events
    GROUP BY event_type
""")
def agg_regression(spark, sf_dir):
    """Per-group OLS trend fit with the SQL-standard regression
    aggregates (regr_slope / regr_intercept / regr_r2) — value
    regressed on time-in-days. Both engines ship the identical
    closed-form aggregates, so this is direct function parity.

    x is built from integer epoch-microseconds scaled to days, so both
    engines regress on identical doubles; the aggregates partial-
    combine map-side like any sum (sufficient statistics: n, Sx, Sy,
    Sxx, Syy, Sxy)."""
    e = T(spark, sf_dir, "events")
    # NTZ->TIMESTAMP cast is value-preserving under the pinned UTC session
    # timezone (same integers as DuckDB's epoch_us on naive timestamps).
    x = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000.0)
    y = F.col("value")
    return (e.groupBy("event_type")
            .agg(F.regr_count(y, x).alias("n"),
                 F.round(F.regr_slope(y, x), 6).alias("slope_per_day"),
                 F.round(F.regr_intercept(y, x), 2).alias("intercept"),
                 F.round(F.regr_r2(y, x), 6).alias("r2")))


@query("events_path3", oracle="""
    WITH seq AS (
        SELECT event_type AS a,
               lead(event_type, 1) OVER w AS b,
               lead(event_type, 2) OVER w AS c
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a, b, c, count(*) AS n
    FROM seq WHERE c IS NOT NULL
    GROUP BY a, b, c
    ORDER BY n DESC, a ASC, b ASC, c ASC
    LIMIT 10
""")
def events_path3(spark, sf_dir):
    """Sequence mining: the 10 most frequent 3-step event-type paths
    across user streams (order-2 context, vs events_markov's order-1).

    Two leads over ONE user_id window shuffle produce every length-3
    path without self-joins; the path groupBy is bounded by |types|^3
    keys and the top-10 is a heap merge (TakeOrderedAndProject)."""
    e = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"))
    return (seq.filter(F.col("c").isNotNull())
            .groupBy("a", "b", "c").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(),
                     F.col("b").asc(), F.col("c").asc())
            .limit(10))


@query("stats_mannwhitney", oracle="""
    WITH pool AS (
        SELECT value, event_type FROM events
        WHERE event_type IN ('click', 'view')
    ),
    ranked AS (
        SELECT event_type,
               rank() OVER (ORDER BY value)
                   + (count(*) OVER (PARTITION BY value) - 1) / 2.0
                   AS midrank
        FROM pool
    ),
    agg AS (
        SELECT
            sum(midrank) FILTER (WHERE event_type = 'click') AS r1,
            count(*) FILTER (WHERE event_type = 'click') AS n1,
            count(*) FILTER (WHERE event_type = 'view') AS n2,
            count(*) AS n
        FROM ranked
    ),
    ties AS (
        SELECT sum(CAST(c * c * c - c AS DOUBLE)) AS tie_term
        FROM (SELECT count(*) AS c FROM pool GROUP BY value)
    )
    SELECT n1, n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_stat,
           round(((r1 - n1 * (n1 + 1) / 2.0) - n1 * n2 / 2.0)
                 / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                        * ((n + 1) - tie_term / (CAST(n AS DOUBLE)
                                                 * (n - 1)))), 6) AS z
    FROM agg, ties
""")
def stats_mannwhitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) test, tie-corrected: do
    'click' and 'view' event values come from the same distribution?
    Nonparametric sibling of stats_welch_t.

    Distributed shape (value-level, never a fact-sized window): the
    pool collapses FIRST to one row per distinct value with per-group
    counts (one map-side-combined shuffle); rank starts come from the
    DISTRIBUTED exclusive prefix sum over those distinct values
    (operators/ranking.py), and r1 = sum of c1(v) * midrank(v) —
    algebraically identical to summing per-row midranks, which is
    exactly what the unchanged row-level oracle computes. Mid-ranks
    are exact multiples of 0.5 and every count is integer, so r1 is
    engine-exact; only the final z divides into a sqrt, rounded at
    6dp from identical exact inputs."""
    from ..operators.ranking import distributed_prefix_sum

    pool = (T(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("click", "view"))
            .select("value", "event_type"))
    vals = pool.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c1"),
        F.count("*").alias("c"))
    ranked = distributed_prefix_sum(vals, "value", "c", "before")
    # midrank(v) = (before + 1 + before + c) / 2 over the tie block.
    midrank = (2 * F.col("before") + F.col("c") + 1) / 2.0
    agg = ranked.agg(
        F.sum(F.col("c1") * midrank).alias("r1"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
        F.sum("c").alias("n"))
    ties = (vals
            .agg(F.sum((F.col("c") * F.col("c") * F.col("c")
                        - F.col("c")).cast("double")).alias("tie_term")))
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    var = ((F.col("n1").cast("double") * F.col("n2") / 12.0)
           * ((F.col("n") + 1)
              - F.col("tie_term") / (F.col("n").cast("double")
                                     * (F.col("n") - 1))))
    return (agg.crossJoin(ties)
            .select("n1", "n2",
                    F.round(u, 1).alias("u_stat"),
                    F.round((u - F.col("n1") * F.col("n2") / 2.0)
                            / F.sqrt(var), 6).alias("z")))


# --------------------------------------------------------------- CUPED

@query("stats_cuped", oracle=f"""
    WITH per AS (
        SELECT o_custkey,
               CAST(count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1998-01-01')
                    AS BIGINT) AS x,
               CAST(coalesce({units_sum_sql(
                   'o_totalprice', 100,
                   where="o_orderdate >= TIMESTAMP '1998-01-01'")}, 0)
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM per
    ),
    v AS (
        SELECT CAST(o_custkey % 2 AS BIGINT) AS variant,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
        FROM per GROUP BY 1
    )
    SELECT variant, n_users,
           round(CAST(syv AS DOUBLE) / n_users / 100.0, 2) AS mean_post,
           round((CAST(syv AS DOUBLE) / n_users
                  - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                    * (CAST(sxv AS DOUBLE) / n_users
                       - CAST(sx AS DOUBLE) / n)) / 100.0, 2)
               AS mean_adjusted
    FROM v, g
""")
def stats_cuped(spark, sf_dir):
    """CUPED variance reduction for an A/B readout: per-customer
    post-period spend adjusted by the pre-period order count covariate
    (theta = cov(X,Y)/var(X)), reported per deterministic variant
    (custkey parity). The experiment-analysis primitive on top of
    stats_welch_t: same comparison, tighter confidence.

    Shape: one fact scan collapses to a per-customer (x, y) table
    (one shuffle on custkey); theta's moment sums are ONE 1-row
    aggregate over it and the per-variant means another tiny one —
    the 1-row theta state cross-joins (broadcast) onto 2 variant rows.
    Determinism: x is an order count and y an integer-cents sum, so
    every moment (sx, sy, sxx, sxy) is an exact bigint on both engines;
    theta and the adjusted means are one fixed float expression over
    those exact integers — no summation-order hazard anywhere
    (SURVEY §4.3). mean_adjusted = mean(y) - theta*(mean(x) - mean(x)_g)
    per variant, algebraically equal to averaging per-unit adjusted
    values but computed from the exact sums."""
    o = T(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    pre = F.col("o_orderdate") < cut
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per = o.groupBy("o_custkey").agg(
        F.count(F.when(pre, 1)).alias("x"),
        F.coalesce(F.sum(F.when(~pre, cents)), F.lit(0)).alias("y"))
    g = per.agg(F.count("*").alias("n"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"))
    v = per.groupBy((F.col("o_custkey") % 2).alias("variant")).agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sxv"), F.sum("y").alias("syv"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    theta = ((d("n") * F.col("sxy") - d("sx") * F.col("sy"))
             / (d("n") * F.col("sxx") - d("sx") * F.col("sx")))
    return (v.crossJoin(F.broadcast(g))
            .select("variant", "n_users",
                    F.round(d("syv") / F.col("n_users") / 100.0, 2)
                     .alias("mean_post"),
                    F.round((d("syv") / F.col("n_users")
                             - theta * (d("sxv") / F.col("n_users")
                                        - d("sx") / F.col("n"))) / 100.0, 2)
                     .alias("mean_adjusted")))


@query("window_rolling_corr", oracle=f"""
    WITH daily AS (
        SELECT l_returnflag AS flag,
               CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
               {units_sum_sql('l_quantity')} AS x,
               {units_sum_sql('l_extendedprice')} AS y
        FROM lineitem GROUP BY 1, 2
    ),
    framed AS (
        SELECT flag, day,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(x) OVER w AS BIGINT) AS sx,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
               CAST(sum(y * y) OVER w AS BIGINT) AS syy,
               CAST(sum(x * y) OVER w AS BIGINT) AS sxy
        FROM daily
        WINDOW w AS (PARTITION BY flag ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT flag, day,
           -- + 0.0 folds IEEE negative zero to +0.0: a tiny negative r
           -- rounds to -0.0 on DuckDB but 0.0 on Spark (observed at
           -- sf0.001), and the value hash is sign-sensitive.
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 5) + 0.0
               AS r_qty_rev
    FROM framed
    WHERE n = 7
      AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
      AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
""")
def window_rolling_corr(spark, sf_dir):
    """Rolling 7-day Pearson correlation between daily shipped quantity
    and daily revenue, per return flag — the time-varying-dependence
    monitor (corr over a moving frame, where agg_corr_matrix is the
    global one).

    Shape: the fact collapses to one (flag, day) row per group-day
    (single shuffle, map-side combine), then ALL six moment sums come
    from one window pass over that day-sized table — no self-joins, no
    per-frame rescans. Determinism: x and y are whole-unit integer
    sums (quantity, whole-dollar revenue — correlation is
    scale-invariant, so dropping cents changes nothing structurally),
    every frame sum is an exact bigint, and r is one fixed float
    expression per row over exact integers, rounded at 5 dp."""
    le = T(spark, sf_dir, "lineitem")
    daily = (le.groupBy(F.col("l_returnflag").alias("flag"),
                        F.date_trunc("day", F.col("l_shipdate")).alias("day"))
             .agg(units_sum(F.col("l_quantity"))
                  .alias("x"),
                  units_sum(F.col("l_extendedprice"))
                  .alias("y")))
    w = (W.partitionBy("flag").orderBy("day").rowsBetween(-6, 0))
    framed = daily.select(
        "flag", "day",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    vx = d("n") * F.col("sxx") - d("sx") * F.col("sx")
    vy = d("n") * F.col("syy") - d("sy") * F.col("sy")
    cov = d("n") * F.col("sxy") - d("sx") * F.col("sy")
    return (framed.filter((F.col("n") == 7) & (vx > 0) & (vy > 0))
            .select("flag", "day",
                    # + 0.0: fold -0.0 to +0.0 (see oracle note)
                    (F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 5) + 0.0)
                    .alias("r_qty_rev")))


# --------------------------------------------------- correlation matrix

@query("agg_corr_matrix", oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 5) AS r_qty_price,
           round(corr(l_quantity, l_discount), 5) AS r_qty_disc,
           round(corr(l_quantity, l_tax), 5) AS r_qty_tax,
           round(corr(l_extendedprice, l_discount), 5) AS r_price_disc,
           round(corr(l_extendedprice, l_tax), 5) AS r_price_tax,
           round(corr(l_discount, l_tax), 5) AS r_disc_tax,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
""")
def agg_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations across the four lineitem numeric
    measures — the feature-screening pass a pipeline runs before
    training (drop collinear features, sanity-check synthetic data).

    All six coefficients come out of ONE aggregation over one scan: each
    corr is a composition of sum/sum-of-squares/cross-product partials,
    so Spark computes them map-side in a single partial-agg pass with no
    extra shuffle (6 corrs = 1 Exchange of a single row of state).
    Both engines use the sample-correlation definition; results rounded
    to 5 dp per SURVEY 4.3 so last-bit summation-order noise can't flip
    the hash."""
    le = T(spark, sf_dir, "lineitem")
    pairs = [("l_quantity", "l_extendedprice", "r_qty_price"),
             ("l_quantity", "l_discount", "r_qty_disc"),
             ("l_quantity", "l_tax", "r_qty_tax"),
             ("l_extendedprice", "l_discount", "r_price_disc"),
             ("l_extendedprice", "l_tax", "r_price_tax"),
             ("l_discount", "l_tax", "r_disc_tax")]
    aggs = [F.round(F.corr(x, y), 5).alias(name) for x, y, name in pairs]
    return le.agg(*aggs, F.count("*").alias("n"))


# ---------------------------------------------- seasonal decomposition

@query("ts_seasonal_decompose", oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               {units_sum_sql('o_totalprice', 100)} AS cents
        FROM orders GROUP BY 1
    ),
    tr AS (
        SELECT day, cents,
               CAST(sum(cents) OVER w AS BIGINT) AS t7,
               CAST(count(*) OVER w AS BIGINT) AS n7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                           AND 3 FOLLOWING)
    ),
    detr AS (
        SELECT CAST(((date_diff('day', DATE '1995-01-02',
                                CAST(day AS DATE)) % 7) + 7) % 7
                    AS INTEGER) AS dow,
               cents / 100.0 - t7 / 700.0 AS d
        FROM tr WHERE n7 = 7
    )
    SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
           round({units_sum_sql('d', 1e8)} / 1e8
                 / count(*), 4) AS seasonal
    FROM detr GROUP BY dow
""")
def ts_seasonal_decompose(spark, sf_dir):
    """Classical seasonal decomposition, step one and two: the trend is
    a centered 7-day moving average of daily order revenue, and the
    weekly seasonal index is the day-of-week mean of the detrended
    series — the additive trend/seasonal split behind every
    seasonality monitor (STL's initialization, computed exactly).

    Shape: the fact collapses once to day granularity, the trend is
    ONE centered window over the day-sized series, and the seasonal
    profile is a 7-group aggregate — nothing rescans the fact.
    Determinism: daily cents and the 7-day trend sum are exact
    bigints; detrended values are a fixed per-row float expression
    over them; the day-of-week mean accumulates in integer 1e-8 units
    (SURVEY §4.3 fixed-point rule) so group order can't flip the
    rounding. Day-of-week is days-since-a-fixed-Monday mod 7 —
    engine-proof (Spark's dayofweek() and DuckDB's differ in origin).
    Ships only full 7-day windows (n7 = 7) so edges don't bias the
    trend."""
    o = T(spark, sf_dir, "orders")
    daily = (o.groupBy(F.date_trunc("day", F.col("o_orderdate"))
                       .alias("day"))
             .agg(units_sum(F.col("o_totalprice"), 100).alias("cents")))
    w = W.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day", "cents",
        F.sum("cents").over(w).alias("t7"),
        F.count("*").over(w).alias("n7"))
    detr = (tr.filter(F.col("n7") == 7)
            # pmod, not %: datediff goes negative for pre-epoch days and
            # truncating % would split each weekday into two groups.
            .select(F.pmod(F.datediff(F.col("day").cast("date"),
                                      F.lit("1995-01-02").cast("date")), 7)
                    .cast("int").alias("dow"),
                    (F.col("cents") / 100.0 - F.col("t7") / 700.0)
                    .alias("d")))
    return (detr.groupBy("dow")
            .agg(F.count("*").alias("n_days"),
                 F.round(units_sum(F.col("d"), 1e8)
                         / 1e8 / F.count("*"), 4).alias("seasonal")))


# ----------------------------------------------- quantile normalization

@query("group_quantile_normalize", oracle="""
    WITH t AS (
        SELECT o_orderkey, o_orderpriority AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    g AS (
        SELECT o_orderkey, grp, cents,
               CAST(row_number() OVER (PARTITION BY grp
                                       ORDER BY cents, o_orderkey)
                    AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS ng
        FROM t
    ),
    p AS (
        SELECT cents AS pooled_cents,
               CAST(row_number() OVER (ORDER BY cents, o_orderkey)
                    AS BIGINT) AS rr
        FROM t
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
    g2 AS (
        SELECT grp, r, ng,
               ((2 * r - 1) * nn.n + ng) // (2 * ng) AS rstar
        FROM g, nn
    ),
    m AS (
        -- rstar precomputed so this is a HASH equi-join; a scalar
        -- subquery inside the join condition nested-loops in DuckDB
        -- (measured 70s at sf0.1 vs ~2s this way).
        SELECT g2.grp,
               (10 * (2 * g2.r - 1)) // (2 * g2.ng) AS decile,
               p.pooled_cents
        FROM g2 JOIN p ON p.rr = g2.rstar
    )
    SELECT grp, CAST(decile AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(pooled_cents) AS BIGINT) / 100.0
                 / count(*), 2) AS mean_normalized
    FROM m GROUP BY grp, decile
""")
def group_quantile_normalize(spark, sf_dir):
    """Quantile normalization across groups: every order's value is
    replaced by the POOLED distribution's value at the same
    within-group quantile, so the five priority groups become
    distributionally identical while preserving each row's rank — the
    batch-effect-correction / feature-scaling classic (microarray
    normalization, cross-corpus score calibration). Reported as
    per-(group, decile) counts + mean normalized value.

    The usual formulation needs a per-row quantile LOOKUP (an as-of
    join on cumulative fraction); here the target pooled rank has a
    CLOSED FORM — R* = floor(((2r-1)N + n_g) / (2 n_g)) — so the
    lookup is a plain hash equi-join on rank: distributed, no range
    join, no single side materialized. Every quantity (ranks, sizes,
    R*, decile) is exact integer arithmetic end to end; the only
    division happens in the final rounded mean of exact cents.

    Shape: one shuffle on grp for the within-group ranks; pooled ranks
    come from the DISTRIBUTED rank operator (range-bucket + local rank
    + broadcast offsets, operators/ranking.py — never a
    single-partition window); the total N rides in as a broadcast
    1-row aggregate inside the same plan (no separate count() action);
    one hash join on R*."""
    from ..operators.ranking import distributed_rank

    t = (T(spark, sf_dir, "orders")
         .select("o_orderkey", F.col("o_orderpriority").alias("grp"),
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents")))
    nn = t.agg(F.count("*").alias("nt"))
    wg = W.partitionBy("grp").orderBy("cents", "o_orderkey")
    g = t.select("grp", "cents",
                 F.row_number().over(wg).cast("bigint").alias("r"),
                 F.count("*").over(W.partitionBy("grp")).alias("ng"))
    p = (distributed_rank(t, "cents", "o_orderkey", "rr")
         .select(F.col("cents").alias("pooled_cents"), "rr"))
    g = (g.crossJoin(F.broadcast(nn))
         .withColumn("rstar", F.expr(
             "CAST((((2 * r - 1) * nt) + ng) DIV (2 * ng) AS BIGINT)")))
    m = g.join(p, g.rstar == p.rr)
    decile = F.expr("CAST((10 * (2 * r - 1)) DIV (2 * ng) AS INT)")
    return (m.select("grp", decile.alias("decile"), "pooled_cents")
            .groupBy("grp", "decile")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("pooled_cents") / 100.0 / F.count("*"), 2)
                 .alias("mean_normalized")))


# ------------------------------------------------- Kaplan-Meier survival

@query("stats_kaplan_meier", oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderdate,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                   AS next_date
        FROM orders
    ),
    dur AS (
        SELECT CASE WHEN next_date IS NULL
                    THEN date_diff('day', o_orderdate,
                                   TIMESTAMP '2001-08-01')
                    ELSE date_diff('day', o_orderdate, next_date)
               END AS t,
               CAST(next_date IS NOT NULL AS INTEGER) AS ev
        FROM seq
    ),
    at_t AS (
        SELECT t, CAST(sum(ev) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM dur GROUP BY t
    ),
    risk AS (
        -- n_at_risk = everyone with duration >= t: a suffix sum over
        -- the day-sized table (no separate grand-total scan).
        SELECT t, d,
               CAST(sum(c) OVER (ORDER BY t
                     ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
        FROM at_t
    )
    SELECT t, n AS n_at_risk, d AS n_events,
           round(exp(sum(ln(1.0 - CAST(d AS DOUBLE) / n))
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW)), 5)
               AS survival
    FROM risk WHERE d > 0 AND t <= 30 AND n > d
""")
def stats_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve for customer reorder behavior: the
    probability a customer has NOT yet reordered t days after an order,
    with the final order per customer right-censored at the
    observation end (2001-08-01) — the churn/retention estimator
    proper, vs rolling_wau's raw activity counts. Reports
    (t, n_at_risk, n_events, S(t)) for the first 30 days.

    Shape: durations come from ONE lead() over the per-customer order
    sequence (one shuffle); the risk table collapses to distinct
    integer day values; n_at_risk is a suffix sum over that day-sized
    table (no grand-total scan). S(t) = prod(1 - d/n) computed as
    exp(running sum of ln) with a pinned frame order — d and n are
    exact integers, so each ln term is one libm call on identical
    doubles; rounded at 5 dp (the corr-class tolerance, SURVEY §4.3:
    a cross-engine ulp in ln cannot reach the 5th decimal)."""
    o = T(spark, sf_dir, "orders")
    wc = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select("o_custkey", "o_orderdate",
                   F.lead("o_orderdate").over(wc).alias("next_date"))
    end = F.lit("2001-08-01").cast("timestamp")
    dur = seq.select(
        F.when(F.col("next_date").isNull(),
               F.datediff(end.cast("date"),
                          F.col("o_orderdate").cast("date")))
         .otherwise(F.datediff(F.col("next_date").cast("date"),
                               F.col("o_orderdate").cast("date")))
         .alias("t"),
        F.col("next_date").isNotNull().cast("int").alias("ev"))
    at_t = dur.groupBy("t").agg(F.sum("ev").alias("d"),
                                F.count("*").alias("c"))
    # Suffix sum over the day-sized table: n_at_risk(t) = count of
    # durations >= t — no separate grand-total scan/action needed.
    wsuf = W.orderBy("t").rowsBetween(0, W.unboundedFollowing)
    risk = at_t.select("t", "d", F.sum("c").over(wsuf).alias("n"))
    wrun = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    surv = F.exp(F.sum(F.log(1.0 - F.col("d").cast("double")
                             / F.col("n"))).over(wrun))
    return (risk.withColumn("survival", F.round(surv, 5))
            .filter((F.col("d") > 0) & (F.col("t") <= 30)
                    & (F.col("n") > F.col("d")))
            .select("t", F.col("n").alias("n_at_risk"),
                    F.col("d").alias("n_events"), "survival"))


# ---------------------------------------------- changepoint + inequality

@query("events_changepoint", oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
        FROM daily
    ),
    cus AS (
        SELECT day, x, n, s,
               CAST(n * sum(x) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT)
                   - CAST(row_number() OVER (ORDER BY day) AS BIGINT) * s
                   AS cusum_n,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
        FROM daily, tot
    )
    SELECT day AS changepoint_day,
           round(abs(cusum_n) / CAST(n AS DOUBLE), 4) AS max_cusum,
           round(CAST((SELECT sum(x) FROM daily d2 WHERE d2.day <= cus.day)
                      AS DOUBLE)
                 / k, 4) AS mean_before,
           round(CAST(s - (SELECT sum(x) FROM daily d2
                           WHERE d2.day <= cus.day) AS DOUBLE)
                 / (n - k), 4) AS mean_after
    FROM cus
    WHERE k < n
    ORDER BY abs(cusum_n) DESC, day ASC
    LIMIT 1
""")
def events_changepoint(spark, sf_dir):
    """CUSUM changepoint detection on the daily event-count series: the
    day k maximizing |sum_{i<=k}(x_i - mean)| — the split point between
    the most different before/after regimes (monitoring's "when did the
    rate change" question), reported with the two regime means.

    Exactness: the deviation sum scales by n to stay integer —
    n*prefix(x) - k*S is exact bigint, so BOTH engines pick the
    identical argmax day (deterministic tie-break on day); only the
    reported means divide at the end. Shape: the fact collapses to one
    row per day; the CUSUM is one running window over that day-sized
    series and the argmax is a 1-row TakeOrderedAndProject."""
    e = T(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.count("*").alias("x")))
    tot = daily.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    wrun = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cus = (daily.crossJoin(F.broadcast(tot))
           .select("day", "n", "s",
                   F.sum("x").over(wrun).alias("prefix"),
                   F.row_number().over(W.orderBy("day")).cast("bigint")
                   .alias("k")))
    cusum_n = F.col("n") * F.col("prefix") - F.col("k") * F.col("s")
    return (cus.filter(F.col("k") < F.col("n"))
            .select(F.col("day").alias("changepoint_day"),
                    F.round(F.abs(cusum_n) / F.col("n").cast("double"), 4)
                    .alias("max_cusum"),
                    F.round(F.col("prefix").cast("double") / F.col("k"), 4)
                    .alias("mean_before"),
                    F.round((F.col("s") - F.col("prefix")).cast("double")
                            / (F.col("n") - F.col("k")), 4)
                    .alias("mean_after"),
                    F.abs(cusum_n).alias("_ord"), F.col("day").alias("_d"))
            .orderBy(F.col("_ord").desc(), F.col("_d").asc())
            .limit(1)
            .drop("_ord", "_d"))


@query("agg_gini", oracle="""
    WITH t AS (
        SELECT CAST(round(o_totalprice) AS BIGINT) AS x FROM orders
    ),
    r AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i
        FROM t
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
        FROM t
    )
    SELECT round((2.0 * CAST(sum(i * x) AS DOUBLE))
                 / (CAST(n AS DOUBLE) * s)
                 - (CAST(n AS DOUBLE) + 1) / n, 6) AS gini,
           n
    FROM r, tot GROUP BY n, s
""")
def agg_gini(spark, sf_dir):
    """Gini coefficient of order-value concentration — the inequality
    summary behind pareto_share's curve (one number: 0 = all orders
    equal, 1 = one order is everything), via the rank formula
    G = 2*sum(i*x_i)/(n*S) - (n+1)/n over ascending-sorted values.

    Exactness + scale: values in whole dollars; sum(i*x) grows
    ~quadratically with row count, so it accumulates in DECIMAL(38,0)
    on Spark (DuckDB's sum(BIGINT) is already HUGEINT) — exact through
    sf1e6 where a bigint sum would overflow past ~sf3. Global ranks
    come from the DISTRIBUTED rank operator (operators/ranking.py:
    range-bucket + local rank + broadcast offsets), never a
    single-partition window. Ranks over duplicate values are
    interchangeable within a tie (equal x), so row_number's arbitrary
    tie order cannot change sum(i*x); the final expression is a fixed
    float op over exact integers rounded at 6 dp."""
    from ..operators.ranking import distributed_rank

    t = (T(spark, sf_dir, "orders")
         .select(F.round(F.col("o_totalprice")).cast("bigint").alias("x")))
    r = distributed_rank(t, "x", "x", "i")
    tot = t.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    six = F.sum(wide(F.col("i") * F.col("x")))
    return (r.crossJoin(F.broadcast(tot))
            .groupBy("n", "s")
            .agg(F.round((2.0 * six.cast("double"))
                         / (F.col("n").cast("double") * F.col("s"))
                         - (F.col("n").cast("double") + 1) / F.col("n"), 6)
                 .alias("gini"))
            .select("gini", "n"))


# -------------------------------------------------- multi-feature OLS

@query("stats_ols_multi", oracle="""
    WITH t AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
               CAST(round(l_tax * 100) AS BIGINT) AS x2,
               CAST(round(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS s1,
               CAST(sum(x2) AS BIGINT) AS s2,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x1 * x1) AS BIGINT) AS s11,
               CAST(sum(x2 * x2) AS BIGINT) AS s22,
               CAST(sum(x1 * x2) AS BIGINT) AS s12,
               CAST(sum(x1 * y) AS BIGINT) AS s1y,
               CAST(sum(x2 * y) AS BIGINT) AS s2y
        FROM t
    ),
    c AS (
        SELECT n,
               CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1 AS a11,
               CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2 AS a12,
               CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2 AS a22,
               CAST(n AS DOUBLE) * s1y - CAST(s1 AS DOUBLE) * sy AS b1,
               CAST(n AS DOUBLE) * s2y - CAST(s2 AS DOUBLE) * sy AS b2,
               CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
               CAST(sy AS DOUBLE) / n AS my
        FROM m
    )
    SELECT n,
           round((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 6)
               AS beta_qty,
           round((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12), 6)
               AS beta_tax,
           round(my - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * m1
                    - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * m2,
                 4) AS intercept
    FROM c
""")
def stats_ols_multi(spark, sf_dir):
    """Two-feature OLS by normal equations: price regressed on quantity
    AND tax simultaneously — multiple regression where the SQL-standard
    regr_* aggregates (agg_regression) stop at one feature. The
    textbook "ML as aggregation" shape: ONE partial-aggregated pass
    collects the nine sufficient statistics (n, sums, cross-products),
    and the 2x2 centered normal system solves in closed form (Cramer)
    on the 1-row state — adding features widens the moment row, it
    never adds scans.

    Exactness: features quantize to integers (units, tax cents, whole
    dollars), so every moment is an exact bigint (products <= ~5e9,
    sums < 2^63 through sf100); the solve is one fixed float
    expression per coefficient over those exact integers, rounded per
    SURVEY 4.3."""
    t = (T(spark, sf_dir, "lineitem")
         .select(F.round(F.col("l_quantity")).cast("bigint").alias("x1"),
                 F.round(F.col("l_tax") * 100).cast("bigint").alias("x2"),
                 F.round(F.col("l_extendedprice")).cast("bigint")
                 .alias("y")))
    m = t.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    a11 = d("n") * F.col("s11") - d("s1") * F.col("s1")
    a12 = d("n") * F.col("s12") - d("s1") * F.col("s2")
    a22 = d("n") * F.col("s22") - d("s2") * F.col("s2")
    b1 = d("n") * F.col("s1y") - d("s1") * F.col("sy")
    b2 = d("n") * F.col("s2y") - d("s2") * F.col("sy")
    det = a11 * a22 - a12 * a12
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (b2 * a11 - b1 * a12) / det
    return m.select(
        "n",
        F.round(beta1, 6).alias("beta_qty"),
        F.round(beta2, 6).alias("beta_tax"),
        F.round(d("sy") / F.col("n") - beta1 * (d("s1") / F.col("n"))
                - beta2 * (d("s2") / F.col("n")), 4).alias("intercept"))


# --------------------------------------------------------- one-way ANOVA

@query("stats_anova_f", oracle=f"""
    WITH t AS (
        SELECT CAST(((date_diff('day', DATE '1995-01-02',
                                CAST(o_orderdate AS DATE)) % 7) + 7) % 7
                    AS INTEGER) AS dow,
               CAST(round(o_totalprice) AS BIGINT) AS x
        FROM orders
    ),
    g AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS ss
        FROM t GROUP BY dow
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(s) AS BIGINT) AS st,
               CAST(sum(ss) AS BIGINT) AS sst,
               CAST(sum({wide_quot_sql(f'{wide_sql("s")} * s', 'n')})
                    AS BIGINT) AS between_int
        FROM g
    )
    SELECT k, nt,
           round((between_int
                  - {wide_quot_sql(f'{wide_sql("st")} * st', 'nt')})
                 / CAST(k - 1 AS DOUBLE)
                 / ((sst - between_int) / CAST(nt - k AS DOUBLE)),
                 5) AS f_stat
    FROM m
""")
def stats_anova_f(spark, sf_dir):
    """One-way ANOVA F statistic: does mean order value differ across
    day-of-week groups? Completes the classical-test family (Welch t,
    chi-square, Mann-Whitney, CUSUM): SS_between/(k-1) over
    SS_within/(N-k) from per-group sufficient statistics.

    Shape: ONE pass builds (n, sum, sum-of-squares) per group (7 keys,
    map-side combined); the F ratio is a fixed float expression over
    the 7-row state. n/s/ss are exact bigints, and (ADVICE r4, SURVEY
    4.3 fixed-point rule) each between-groups term s^2/n is the EXACT
    integer floor quotient — decimal(38,0) multiply + DIV on Spark,
    HUGEINT * + // on DuckDB, identical for positive operands — so the
    between-groups sum is an exact bigint with no merge-order float
    noise at any scale factor (flooring biases each of the k terms by
    <1 on a ~1e13 magnitude: far below the 5-dp rounding of f_stat).
    Weekday uses the pmod days-since-Monday rule (engine-proof,
    pre-epoch safe)."""
    o = T(spark, sf_dir, "orders")
    t = o.select(
        F.pmod(F.datediff(F.col("o_orderdate").cast("date"),
                          F.lit("1995-01-02").cast("date")), 7)
        .cast("int").alias("dow"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"))
    g = (t.groupBy("dow").agg(F.count("*").alias("n"),
                              F.sum("x").alias("s"),
                              F.sum(F.col("x") * F.col("x")).alias("ss"))
         .withColumn("t", wide_quot(wide("s") * F.col("s"), "n")))
    m = g.agg(F.count("*").alias("k"),
              F.sum("n").alias("nt"),
              F.sum("s").alias("st"),
              F.sum("ss").alias("sst"),
              F.sum("t").alias("between_int"))
    grand = wide_quot(wide("st") * F.col("st"), "nt")
    ss_between = (F.col("between_int") - grand).cast("double")
    ss_within = (F.col("sst") - F.col("between_int")).cast("double")
    return m.select(
        "k", "nt",
        F.round((ss_between / (F.col("k") - 1))
                / (ss_within / (F.col("nt") - F.col("k"))), 5)
        .alias("f_stat"))


# ------------------------------------- Brown-Forsythe (robust Levene) test

@query("stats_levene", oracle=f"""
    WITH t AS (
        SELECT CAST(((date_diff('day', DATE '1995-01-02',
                                CAST(o_orderdate AS DATE)) % 7) + 7) % 7
                    AS INTEGER) AS dow,
               CAST(round(o_totalprice) AS BIGINT) AS x
        FROM orders
    ),
    med AS (
        SELECT dow, CAST(round(2 * median(x)) AS BIGINT) AS m2
        FROM t GROUP BY dow
    ),
    dv AS (
        SELECT t.dow, abs(2 * t.x - med.m2) AS dev
        FROM t JOIN med USING (dow)
    ),
    g AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dev) AS BIGINT) AS s,
               CAST(sum(dev * dev) AS BIGINT) AS ss
        FROM dv GROUP BY dow
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(s) AS BIGINT) AS st,
               CAST(sum(ss) AS BIGINT) AS sst,
               CAST(sum({wide_quot_sql(f'{wide_sql("s")} * s', 'n')})
                    AS BIGINT) AS between_int
        FROM g
    )
    SELECT k, nt,
           round((between_int
                  - {wide_quot_sql(f'{wide_sql("st")} * st', 'nt')})
                 / CAST(k - 1 AS DOUBLE)
                 / ((sst - between_int) / CAST(nt - k AS DOUBLE)),
                 5) AS w_stat
    FROM m
""")
def stats_levene(spark, sf_dir):
    """Brown-Forsythe test (the median-centered robust Levene variant):
    is order-value *dispersion* homogeneous across day-of-week groups?
    The statistic is a one-way ANOVA F computed on |x - median(group)|
    — the companion to `stats_anova_f` (which compares means) and the
    variance-homogeneity precondition check classical ANOVA itself
    assumes.

    Exactness: x is integer cents-scale; the group median is kept as
    2*median (integer-exact for both the odd and the interpolated even
    case on both engines), so every deviation |2x - m2| is an exact
    BIGINT and the downstream F follows `stats_anova_f`'s exact
    sufficient-statistics path (decimal multiply + integer DIV, no
    unordered float merge; ss headroom ~2e18 holds past sf100).

    Scale shape: two passes over the projected scan — a 7-key exact
    median aggregate (percentile over bounded groups), broadcast of the
    7-row median table back onto the facts, then one map-side-combined
    moment aggregate. Weekday uses the engine-proof pmod
    days-since-Monday rule shared with the ANOVA key."""
    o = T(spark, sf_dir, "orders")
    t = o.select(
        F.pmod(F.datediff(F.col("o_orderdate").cast("date"),
                          F.lit("1995-01-02").cast("date")), 7)
        .cast("int").alias("dow"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"))
    med = t.groupBy("dow").agg(
        F.round(2 * F.expr("percentile(x, 0.5)")).cast("bigint").alias("m2"))
    dv = (t.join(F.broadcast(med), "dow")
          .select("dow", F.abs(2 * F.col("x") - F.col("m2")).alias("dev")))
    g = (dv.groupBy("dow").agg(F.count("*").alias("n"),
                               F.sum("dev").alias("s"),
                               F.sum(F.col("dev") * F.col("dev")).alias("ss"))
         .withColumn("t", wide_quot(wide("s") * F.col("s"), "n")))
    m = g.agg(F.count("*").alias("k"),
              F.sum("n").alias("nt"),
              F.sum("s").alias("st"),
              F.sum("ss").alias("sst"),
              F.sum("t").alias("between_int"))
    grand = wide_quot(wide("st") * F.col("st"), "nt")
    ss_between = (F.col("between_int") - grand).cast("double")
    ss_within = (F.col("sst") - F.col("between_int")).cast("double")
    return m.select(
        "k", "nt",
        F.round((ss_between / (F.col("k") - 1))
                / (ss_within / (F.col("nt") - F.col("k"))), 5)
        .alias("w_stat"))


# ------------------------------------------------- Kendall rank correlation

@query("stats_kendall", oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {units_sum_sql('o_totalprice', 100)} AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    p AS (
        SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        FROM d a JOIN d b ON a.day < b.day
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN (x2 > x1 AND y2 > y1)
                               OR (x2 < x1 AND y2 < y1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS conc,
               CAST(sum(CASE WHEN (x2 > x1 AND y2 < y1)
                               OR (x2 < x1 AND y2 > y1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS disc,
               CAST(sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tx,
               CAST(sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS ty
        FROM p
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
    SELECT n.n_days, c.conc, c.disc,
           round((conc - disc)
                 / sqrt((n0 - tx) * 1.0 * (n0 - ty)), 6) AS tau_b
    FROM c, n
""")
def stats_kendall(spark, sf_dir):
    """Kendall tau-b rank correlation between daily revenue and daily
    order count — the tie-corrected, outlier-robust cousin of
    `stats_spearman` (midranks) and `stats_theil_sen` (median slope):
    tau counts concordant minus discordant day pairs, normalized by
    the tie-adjusted pair counts.

    Shape (the aggregate-then-quadratic pattern): the fact table first
    COLLAPSES to the bounded daily series (one map-side-combinable
    agg; ~2.4k days for any scale factor — the quadratic is over days,
    never rows), then a broadcast theta self-join enumerates the
    ~2.9M day pairs and one scalar aggregate counts
    concordant/discordant/tied. Comparisons are sign tests on exact
    integer (cents, count) pairs — no products, so no overflow at any
    SF — and the single final sqrt is computed from exact BIGINTs,
    making the 6dp tau engine-identical."""
    o = T(spark, sf_dir, "orders")
    d = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
         .agg(F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
              .alias("x"),
              F.count("*").alias("y")))
    a, b = d.alias("a"), d.alias("b")
    p = (a.join(F.broadcast(b), F.col("a.day") < F.col("b.day"))
         .select(F.col("a.x").alias("x1"), F.col("a.y").alias("y1"),
                 F.col("b.x").alias("x2"), F.col("b.y").alias("y2")))
    c = p.agg(
        F.count("*").alias("n0"),
        F.sum(F.when(((F.col("x2") > F.col("x1")) & (F.col("y2") > F.col("y1")))
                     | ((F.col("x2") < F.col("x1")) & (F.col("y2") < F.col("y1"))),
                     1).otherwise(0)).alias("conc"),
        F.sum(F.when(((F.col("x2") > F.col("x1")) & (F.col("y2") < F.col("y1")))
                     | ((F.col("x2") < F.col("x1")) & (F.col("y2") > F.col("y1"))),
                     1).otherwise(0)).alias("disc"),
        F.sum(F.when(F.col("x1") == F.col("x2"), 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("y1") == F.col("y2"), 1).otherwise(0)).alias("ty"))
    n = d.agg(F.count("*").alias("n_days"))
    return (c.crossJoin(F.broadcast(n))
            .select("n_days", "conc", "disc",
                    F.round((F.col("conc") - F.col("disc"))
                            / F.sqrt((F.col("n0") - F.col("tx")) * 1.0
                                     * (F.col("n0") - F.col("ty"))), 6)
                    .alias("tau_b")))


# --------------------------------------------------- Hill tail-index

@query("stats_hill_tail_index", oracle=f"""
    WITH x AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
        FROM orders
    ),
    top AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, o_orderkey) AS rk
        FROM x
    ),
    xmin AS (SELECT c AS cmin FROM top WHERE rk = 101),
    s AS (
        SELECT {units_sum_sql('ln(top.c * 1.0 / cmin)', 1000000)} AS lsum
        FROM top, xmin WHERE rk <= 100
    )
    SELECT CAST(100 AS BIGINT) AS n_tail,
           xmin.cmin AS xmin_cents,
           round(100000000.0 / s.lsum, 6) AS hill_alpha
    FROM s, xmin
""")
def stats_hill_tail_index(spark, sf_dir):
    """Hill estimator of the tail index over the top-100 order values:
    alpha_hat = k / sum ln(x_i / x_(k+1)) — the standard measure of how
    heavy the upper tail is (alpha ~ Pareto exponent; smaller = heavier
    tail = a few giant orders dominate revenue). The tail-risk
    companion to `stats_benford` (digit law) and `pareto_share`
    (concentration curve).

    Determinism: the tail set is an exact top-k on integer cents with
    o_orderkey tie-break (rank 100/101 boundary ties cannot differ
    across engines); each ln ratio is computed from the same exact
    integer pair and snapped to micro-units per row (SURVEY §4.3), so
    the sum is exact BIGINT; the final alpha = k * 1e6 / lsum
    (= 1e8 / lsum for k=100) is one deterministic double division.

    Scale shape: one TakeOrdered top-101 (per-partition top-k, no full
    sort), a 1-row broadcast of x_(101), and a 100-row aggregate — the
    fact table is scanned once and never shuffled."""
    from pyspark.sql.window import Window

    o = T(spark, sf_dir, "orders")
    x = o.select(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("c"), "o_orderkey")
    # top-101 via TakeOrderedAndProject (limit after orderBy), then a
    # bounded 101-row window assigns ranks — never a full-data window
    top = (x.orderBy(F.col("c").desc(), "o_orderkey").limit(101)
           .withColumn("rk", F.row_number().over(
               Window.orderBy(F.col("c").desc(), "o_orderkey"))))
    xmin = top.filter(F.col("rk") == 101).select(F.col("c").alias("cmin"))
    s = (top.filter(F.col("rk") <= 100).crossJoin(F.broadcast(xmin))
         .agg(F.sum(F.expr(
             "CAST(round(ln(c * 1.0 / cmin) * 1000000) AS BIGINT)"))
             .alias("lsum"))
         .crossJoin(F.broadcast(xmin)))
    return s.select(F.lit(100).cast("bigint").alias("n_tail"),
                    F.col("cmin").alias("xmin_cents"),
                    F.round(100000000.0 / F.col("lsum"), 6)
                    .alias("hill_alpha"))


# ------------------------------------------ split-conformal prediction

@query("stats_conformal_coverage", oracle=f"""
    WITH li AS (
        SELECT l_orderkey * 8 + l_linenumber AS k,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
               {h32_sql("'conf:' || CAST(l_orderkey * 8 + l_linenumber"
                        " AS VARCHAR)")} % 10 AS sp
        FROM lineitem
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM li WHERE sp <= 5
    ),
    beta AS (
        SELECT CAST({comoment_sql('n', 'sxy', 'sx', 'sy')}
                    AS DOUBLE)
               / CAST({comoment_sql('n', 'sxx', 'sx', 'sx')}
                      AS DOUBLE) AS b1,
               n, sx, sy
        FROM m
    ),
    b0 AS (SELECT b1, (sy - b1 * sx) / n AS b0 FROM beta),
    calres AS (
        SELECT li.k,
               CAST(round(abs(y - (b0.b0 + b0.b1 * x))) AS BIGINT) AS r
        FROM li, b0 WHERE sp IN (6, 7)
    ),
    kk AS (SELECT (9 * (count(*) + 1) + 9) // 10 AS kq,
                  CAST(count(*) AS BIGINT) AS n_cal
           FROM calres),
    ranked AS (
        SELECT r, row_number() OVER (ORDER BY r, k) AS rr FROM calres
    ),
    qv AS (SELECT r AS q FROM ranked, kk WHERE rr = kk.kq),
    te AS (
        SELECT CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN
                    CAST(round(abs(y - (b0.b0 + b0.b1 * x))) AS BIGINT)
                    <= qv.q THEN 1 ELSE 0 END) AS BIGINT) AS covered
        FROM li, b0, qv WHERE sp >= 8
    )
    SELECT kk.n_cal, te.n_test, qv.q AS q_cents,
           round(te.covered * 1.0 / te.n_test, 6) AS coverage
    FROM te, qv, kk
""")
def stats_conformal_coverage(spark, sf_dir):
    """Split-conformal prediction interval with its finite-sample
    coverage guarantee, end-to-end: fit OLS (extended price ~ quantity)
    on a 60% hash split, take the ceil(0.9*(n+1))-th smallest absolute
    calibration residual as the interval half-width q, and verify on
    the held-out 20% that |y - yhat| <= q covers ~90% of rows — the
    distribution-free uncertainty wrapper (Vovk; Angelopoulos & Bates
    2023) modern ML eval pipelines put around ANY point predictor.

    Determinism: the 60/20/20 split is the md5-bucket rule of
    `pipeline_train_val_split`; OLS betas come from exact integer
    moments combined in DECIMAL(38,0)/HUGEINT (n*sxy overflows int64
    at this row count) with ONE double division; residuals snap to
    integer cents per row; the conformal rank k = ceil(9(n+1)/10) is
    computed in pure integer arithmetic (a float 0.9*(n+1) ceil can
    be off by one at exact multiples); and the k-th order statistic
    is selected by rank with a unique row-key tie-break.

    Scale shape: moments are one map-side-combined aggregate; the
    order statistic uses `operators/ranking.distributed_rank` (range-
    bucketed parallel ranking — no single-partition window, no
    data-sized TakeOrdered); betas and q ride as 1-row broadcasts.
    The coverage check is one more projected scan."""
    from ..operators.ranking import distributed_rank

    # Materialized once (r10): the split projection costs one md5 per
    # row and feeds SIX downstream actions (train moments, calibration
    # residuals, distributed_rank's percentile + bucket passes, the
    # rank-count scalar, and the coverage scan) — without the
    # cut each re-ran the 6M-row hash scan. fan_out first so the one
    # md5 pass runs at full width instead of the scan's 1-2 local
    # splits.
    li = physical.fan_out(T(spark, sf_dir, "lineitem")).select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("y"),
        F.pmod(h32(F.concat(F.lit("conf:"),
                            (F.col("l_orderkey") * 8
                             + F.col("l_linenumber")).cast("string"))),
               F.lit(10)).alias("sp")).transform(physical.cut)
    m = (li.filter(F.col("sp") <= 5)
         .agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
              F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx")))
    beta = m.select(
        (comoment("n", "sxy", "sx", "sy").cast("double")
         / comoment("n", "sxx", "sx", "sx").cast("double")).alias("b1"),
        "n", "sx", "sy")
    b0 = beta.select("b1", ((F.col("sy") - F.col("b1") * F.col("sx"))
                            / F.col("n")).alias("b0"))
    resid = F.expr("CAST(round(abs(y - (b0 + b1 * x))) AS BIGINT)")
    calres = (li.filter(F.col("sp").isin(6, 7))
              .crossJoin(F.broadcast(b0))
              .select("k", resid.alias("r")))
    kk = calres.agg(
        F.expr("CAST((9 * (count(*) + 1) + 9) DIV 10 AS BIGINT)").alias("kq"),
        F.count("*").alias("n_cal"))
    ranked = distributed_rank(calres, "r", "k", rank_col="rr")
    qv = (ranked.crossJoin(F.broadcast(kk))
          .filter(F.col("rr") == F.col("kq"))
          .select(F.col("r").alias("q")))
    te = (li.filter(F.col("sp") >= 8)
          .crossJoin(F.broadcast(b0)).crossJoin(F.broadcast(qv))
          .agg(F.count("*").alias("n_test"),
               F.sum(F.when(resid <= F.col("q"), 1).otherwise(0))
               .cast("bigint").alias("covered")))
    return (te.crossJoin(F.broadcast(qv)).crossJoin(F.broadcast(kk))
            .select("n_cal", "n_test", F.col("q").alias("q_cents"),
                    F.round(F.col("covered") * 1.0 / F.col("n_test"), 6)
                    .alias("coverage")))


# ---------------------------------------------- Kolmogorov-Smirnov 2-sample

@query("stats_ks_two_sample", oracle="""
    WITH t AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS g
        FROM orders WHERE o_orderstatus IN ('O', 'F')
    ),
    v AS (
        SELECT cents,
               CAST(count(CASE WHEN g = 'O' THEN 1 END) AS BIGINT) AS c1,
               CAST(count(CASE WHEN g = 'F' THEN 1 END) AS BIGINT) AS c2
        FROM t GROUP BY cents
    ),
    c AS (
        SELECT cents,
               sum(c1) OVER (ORDER BY cents) AS f1,
               sum(c2) OVER (ORDER BY cents) AS f2
        FROM v
    ),
    n AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM v
    )
    SELECT n1, n2,
           round(max(abs(f1 * n2 - f2 * n1)) / CAST(n1 AS DOUBLE) / n2, 6)
               AS ks_stat,
           round(1.358 * sqrt((n1 + n2) / (CAST(n1 AS DOUBLE) * n2)), 6)
               AS d_crit_5pct,
           max(abs(f1 * n2 - f2 * n1)) / CAST(n1 AS DOUBLE) / n2
               > 1.358 * sqrt((n1 + n2) / (CAST(n1 AS DOUBLE) * n2))
               AS reject_5pct
    FROM c, n
    GROUP BY n1, n2
""")
def stats_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test: does the order-value
    distribution differ between open ('O') and fulfilled ('F') orders?
    Completes the classical-test family (Welch t compares means,
    Mann-Whitney ranks, chi-square categories; KS compares the WHOLE
    distribution shape). D = max |ECDF_O - ECDF_F|, with the 5%
    critical value 1.358*sqrt((n1+n2)/(n1*n2)).

    Scale shape: the fact table collapses to per-VALUE group counts
    first (one map-side-combinable shuffle on cents — the series is
    bounded by the price grid, not row count), then BOTH cumulative
    counts come from the bucketed two-phase prefix sum, never an
    unpartitioned corpus window. The sup statistic itself is EXACT
    integer arithmetic — |F1*n2 - F2*n1| is a bigint (counts < 2^31,
    products < 2^62), divided by n1*n2 only in the final 1-row
    projection, so both engines agree bit-for-bit before the 6-dp
    round."""
    from ..operators.ranking import distributed_prefix_sum

    o = T(spark, sf_dir, "orders")
    t = (o.filter(F.col("o_orderstatus").isin("O", "F"))
         .select(F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents"), F.col("o_orderstatus").alias("g")))
    v = (t.groupBy("cents")
         .agg(F.count(F.when(F.col("g") == "O", 1)).alias("c1"),
              F.count(F.when(F.col("g") == "F", 1)).alias("c2")))
    # one pass for BOTH cumulative counts: the multi-column form shares
    # the percentile scan, bucket window, and offset broadcast
    p2 = distributed_prefix_sum(v, "cents", ["c1", "c2"], ["p1", "p2"])
    c = p2.select(
        "cents",
        (F.col("p1") + F.col("c1")).alias("f1"),   # inclusive CDF counts
        (F.col("p2") + F.col("c2")).alias("f2"))
    n = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = (c.crossJoin(F.broadcast(n))
         .agg(F.first("n1").alias("n1"), F.first("n2").alias("n2"),
              F.max(F.abs(F.col("f1") * F.col("n2")
                          - F.col("f2") * F.col("n1"))).alias("sup")))
    ks = F.col("sup") / F.col("n1").cast("double") / F.col("n2")
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2"))
        / (F.col("n1").cast("double") * F.col("n2")))
    return d.select(
        "n1", "n2",
        F.round(ks, 6).alias("ks_stat"),
        F.round(crit, 6).alias("d_crit_5pct"),
        (ks > crit).alias("reject_5pct"))


# ----------------------------------------------------- Spearman rho

@query("stats_spearman", oracle="""
    WITH li AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    ranked AS (
        -- 2*midrank keeps tie-averaged ranks integer:
        -- midrank = min_rank + (tie_count - 1)/2
        SELECT 2 * rank() OVER (ORDER BY x)
                 + count(*) OVER (PARTITION BY x) - 1 AS rx,
               2 * rank() OVER (ORDER BY y)
                 + count(*) OVER (PARTITION BY y) - 1 AS ry
        FROM li
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rx) AS DOUBLE) AS sx,
               CAST(sum(ry) AS DOUBLE) AS sy,
               CAST(sum(rx * rx) AS DOUBLE) AS sxx,
               CAST(sum(ry * ry) AS DOUBLE) AS syy,
               CAST(sum(rx * ry) AS DOUBLE) AS sxy
        FROM ranked
    )
    SELECT n,
           round((sxy / n - (sx / n) * (sy / n))
                 / (sqrt(sxx / n - (sx / n) * (sx / n))
                    * sqrt(syy / n - (sy / n) * (sy / n))), 6)
               AS rho_spearman
    FROM m
""")
def stats_spearman(spark, sf_dir):
    """Spearman rank correlation between line quantity and extended
    price — Pearson over tie-averaged (mid) ranks, the nonparametric
    correlation a warehouse user reaches for when the relationship is
    monotone but not linear.

    Distributed shape (same value-level design as stats_mannwhitney /
    stats_ks_two_sample): each variable collapses to one row per
    DISTINCT value with its tie count (map-side-combinable shuffle,
    bounded by the value grid, not row count); rank starts come from
    the bucketed two-phase prefix sum (operators/ranking.py) — never an
    unpartitioned corpus window; rows re-join their 2*midrank (integer,
    since midrank is a multiple of 0.5) by value. All five moments are
    EXACT integer sums (rx <= 2n, so rx*ry < 4n^2 and the sf0.1 sums
    stay < 2^63; the squares go through decimal(38,0) so the same
    plan survives ~1e6x more rows before precision loss). Both engines
    convert the identical exact integers to double in the identical
    expression tree, so rho is bit-equal before the 6-dp round."""
    from ..operators.ranking import distributed_prefix_sum

    li = (T(spark, sf_dir, "lineitem")
          .select(F.round(F.col("l_quantity")).cast("bigint").alias("x"),
                  F.round(F.col("l_extendedprice") * 100).cast("bigint")
                  .alias("y")))
    xr = distributed_prefix_sum(
        li.groupBy("x").agg(F.count("*").alias("cx")), "x", "cx", "bx"
    ).select("x", (2 * F.col("bx") + F.col("cx") + 1).alias("rx"))
    yr = distributed_prefix_sum(
        li.groupBy("y").agg(F.count("*").alias("cy")), "y", "cy", "by"
    ).select("y", (2 * F.col("by") + F.col("cy") + 1).alias("ry"))
    rows = li.join(xr, "x").join(yr, "y")
    rxd = F.col("rx").cast("decimal(19,0)")
    ryd = F.col("ry").cast("decimal(19,0)")
    m = rows.agg(F.count("*").alias("n"),
                 F.sum("rx").alias("sx_i"), F.sum("ry").alias("sy_i"),
                 F.sum(rxd * rxd).alias("sxx_d"),
                 F.sum(ryd * ryd).alias("syy_d"),
                 F.sum(rxd * ryd).alias("sxy_d"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx_i").cast("double"), F.col("sy_i").cast("double")
    sxx, syy = F.col("sxx_d").cast("double"), F.col("syy_d").cast("double")
    sxy = F.col("sxy_d").cast("double")
    rho = ((sxy / n - (sx / n) * (sy / n))
           / (F.sqrt(sxx / n - (sx / n) * (sx / n))
              * F.sqrt(syy / n - (sy / n) * (sy / n))))
    return m.select(F.col("n").cast("bigint").alias("n"),
                    F.round(rho, 6).alias("rho_spearman"))


# ------------------------------------------- experimentation operations

@query("stats_srm_check", oracle=f"""
    WITH a AS (
        SELECT {h32_sql("'ab:' || CAST(o_custkey AS VARCHAR)")} % 2 AS arm,
               o_custkey
        FROM orders
    ),
    u AS (SELECT arm, count(DISTINCT o_custkey) AS n FROM a GROUP BY arm),
    m AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT)
                   AS n1
        FROM u
    )
    SELECT n0, n1,
           round((n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)
                 / ((n0 + n1) / 2.0)
                 + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)
                 / ((n0 + n1) / 2.0), 6) AS chi2,
           (n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)
           / ((n0 + n1) / 2.0)
           + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)
           / ((n0 + n1) / 2.0) > 3.8415 AS srm_flag
    FROM m
""")
def stats_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch check — the first health gate every A/B
    platform runs before reading a metric: customers hash-assigned
    50/50 (the `pipeline_train_val_split` bucket rule), then a 1-dof
    chi-square against the expected equal split; chi2 > 3.8415 (the
    95% critical value, pre-folded like `stats_wilson_ci`'s z
    constants) flags an unhealthy experiment whose results must be
    discarded regardless of what the metric says.

    Exactness: per-arm DISTINCT-customer counts are exact; the chi2 is
    a fixed closed-form expression over two BIGINTs, written with the
    identical operation tree on both engines before the 6-dp round;
    the flag compares the UNROUNDED value so it cannot disagree with
    the statistic.

    Scale shape: one distinct aggregation on (arm, customer) — the
    dedup any assignment log needs anyway — then a 2-row rollup."""
    o = T(spark, sf_dir, "orders")
    arm = F.pmod(h32(F.concat(F.lit("ab:"),
                              F.col("o_custkey").cast("string"))), F.lit(2))
    u = (o.select(arm.alias("arm"), "o_custkey")
         .groupBy("arm").agg(F.countDistinct("o_custkey").alias("n")))
    m = u.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
        .cast("bigint").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
        .cast("bigint").alias("n1"))
    e = (F.col("n0") + F.col("n1")) / 2.0
    chi2 = ((F.col("n0") - e) * (F.col("n0") - e) / e
            + (F.col("n1") - e) * (F.col("n1") - e) / e)
    return m.select("n0", "n1", F.round(chi2, 6).alias("chi2"),
                    (chi2 > 3.8415).alias("srm_flag"))


@query("stats_power_mde", oracle="""
    WITH b AS (
        SELECT o_orderpriority AS segment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM orders GROUP BY 1
    )
    SELECT segment, n, k,
           round(k / CAST(n AS DOUBLE), 6) AS base_rate,
           round(2.8016
                 * sqrt(2 * (k / CAST(n AS DOUBLE))
                        * (1 - k / CAST(n AS DOUBLE)) / (n / 2.0)), 6)
               AS mde_abs
    FROM b
""")
def stats_power_mde(spark, sf_dir):
    """Minimum detectable effect per segment — the experiment-planning
    number that answers "is this segment even big enough to test in":
    for a two-proportion test at alpha = 5% (two-sided) and 80% power,
    MDE ~= (z_{a/2} + z_b) * sqrt(2 p (1-p) / n_arm) with the constant
    z_{0.025} + z_{0.2} = 1.96 + 0.8416 = 2.8016 pre-folded (the
    `stats_wilson_ci` convention) and n_arm = half the segment. Read
    with `stats_srm_check` (is the split healthy) and
    `stats_wilson_ci` (what did we measure), this completes the
    experimentation-ops trio.

    Exactness: counts exact; the MDE is one fixed closed-form float
    expression per segment over (k, n), identical operation tree on
    both engines, 6-dp round.

    Scale shape: one map-side-combinable aggregate, 5 output rows."""
    o = T(spark, sf_dir, "orders")
    b = (o.groupBy(F.col("o_orderpriority").alias("segment"))
         .agg(F.count("*").alias("n"),
              F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
              .cast("bigint").alias("k")))
    p = F.col("k") / F.col("n").cast("double")
    return b.select(
        "segment", "n", "k",
        F.round(p, 6).alias("base_rate"),
        F.round(2.8016 * F.sqrt(2 * p * (1 - p) / (F.col("n") / 2.0)), 6)
        .alias("mde_abs"))


# ---------------------------------------- two-way ANOVA w/ interaction

@query("stats_anova_twoway", oracle=f"""
    WITH t AS (
        SELECT CAST((((CAST(o_orderdate AS DATE)
                       - DATE '1995-01-02') % 7) + 7) % 7 AS INTEGER)
                   AS dow,
               o_orderstatus AS st,
               CAST(round(o_totalprice) AS BIGINT) AS x
        FROM orders
    ),
    cells AS (
        SELECT dow, st, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum({wide_sql('x')} * x) AS BIGINT) AS q
        FROM t GROUP BY dow, st
    ),
    ca AS (
        SELECT CAST(sum({wide_quot_sql(f'{wide_sql("s")} * s', 'n')})
                    AS BIGINT) AS a_int,
               CAST(count(*) AS BIGINT) AS k_dow
        FROM (SELECT dow, CAST(sum(n) AS BIGINT) AS n,
                     CAST(sum(s) AS BIGINT) AS s
              FROM cells GROUP BY dow)
    ),
    cb AS (
        SELECT CAST(sum({wide_quot_sql(f'{wide_sql("s")} * s', 'n')})
                    AS BIGINT) AS b_int,
               CAST(count(*) AS BIGINT) AS k_st
        FROM (SELECT st, CAST(sum(n) AS BIGINT) AS n,
                     CAST(sum(s) AS BIGINT) AS s
              FROM cells GROUP BY st)
    ),
    cc AS (
        SELECT CAST(sum({wide_quot_sql(f'{wide_sql("s")} * s', 'n')})
                    AS BIGINT) AS c_int,
               CAST(count(*) AS BIGINT) AS m_cells,
               CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(s) AS BIGINT) AS st_sum,
               CAST(sum(q) AS BIGINT) AS q_tot
        FROM cells
    ),
    g AS (
        SELECT *, {wide_quot_sql(f'{wide_sql("st_sum")} * st_sum', 'nt')}
                      AS grand_int
        FROM cc, ca, cb
    )
    SELECT nt AS n, k_dow, k_st, m_cells,
           round(((a_int - grand_int) * 1.0 / (k_dow - 1))
                 / ((q_tot - c_int) * 1.0 / (nt - m_cells)), 5)
               AS f_dow,
           round(((b_int - grand_int) * 1.0 / (k_st - 1))
                 / ((q_tot - c_int) * 1.0 / (nt - m_cells)), 5)
               AS f_status,
           round(((c_int - a_int - b_int + grand_int) * 1.0
                  / ((k_dow - 1) * (k_st - 1)))
                 / ((q_tot - c_int) * 1.0 / (nt - m_cells)), 5)
               AS f_inter
    FROM g
""")
def stats_anova_twoway(spark, sf_dir):
    """Two-way ANOVA with interaction on order value: factor A =
    order-date weekday (7 levels, the same pmod days-since-Monday rule
    as stats_anova_f), factor B = order status (3 levels) — the
    method-of-moments decomposition SS_A, SS_B, SS_AB = SS_cells -
    SS_A - SS_B (exact for balanced designs, the classical textbook
    estimator for near-balanced ones like this uniform TPC-H layout;
    documented approximation, not Type-III).

    Every sum of squares comes from exact integer moments: per-cell
    (n, sum, sum-of-squares) BIGINTs, squared through HUGEINT/
    DECIMAL(38,0) with integer-DIV (the same floor-bias-below-rounding
    argument as stats_anova_f: each of the <= 21 floored terms biases
    a ~1e13 quantity by < 1). The three F ratios are the only float
    ops, computed with identical operation order and rounded to 5 dp.
    Distributed shape: ONE (dow, status) cell aggregate over the fact
    table (map-side combinable, 21 cells); both marginal roll-ups and
    the grand term fold out of the cell table — the corpus is read
    once, exactly like the one-way key."""
    o = T(spark, sf_dir, "orders")
    t = o.select(
        F.pmod(F.datediff(F.col("o_orderdate").cast("date"),
                          F.lit("1995-01-02").cast("date")), 7)
        .cast("int").alias("dow"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"))
    cells = (t.groupBy("dow", "st")
             .agg(F.count("*").alias("n"), F.sum("x").alias("s"),
                  F.sum(wide("x") * F.col("x"))
                  .cast("bigint").alias("q")))
    term = wide_quot(wide("s") * F.col("s"), "n")
    ca = (cells.groupBy("dow")
          .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
          .select(term.alias("ta"))
          .agg(F.sum("ta").alias("a_int"), F.count("*").alias("k_dow")))
    cb = (cells.groupBy("st")
          .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
          .select(term.alias("tb"))
          .agg(F.sum("tb").alias("b_int"), F.count("*").alias("k_st")))
    cc = (cells.select(term.alias("tc"), "n", "s", "q")
          .agg(F.sum("tc").alias("c_int"), F.count("*").alias("m_cells"),
               F.sum("n").alias("nt"), F.sum("s").alias("st_sum"),
               F.sum("q").alias("q_tot")))
    g = (cc.crossJoin(F.broadcast(ca)).crossJoin(F.broadcast(cb))
         .withColumn("grand_int",
                     wide_quot(wide("st_sum") * F.col("st_sum"), "nt")))
    mse = (F.col("q_tot") - F.col("c_int")) * 1.0 \
        / (F.col("nt") - F.col("m_cells"))
    return g.select(
        F.col("nt").alias("n"), "k_dow", "k_st", "m_cells",
        F.round(((F.col("a_int") - F.col("grand_int")) * 1.0
                 / (F.col("k_dow") - 1)) / mse, 5).alias("f_dow"),
        F.round(((F.col("b_int") - F.col("grand_int")) * 1.0
                 / (F.col("k_st") - 1)) / mse, 5).alias("f_status"),
        F.round(((F.col("c_int") - F.col("a_int") - F.col("b_int")
                  + F.col("grand_int")) * 1.0
                 / ((F.col("k_dow") - 1) * (F.col("k_st") - 1))) / mse, 5)
        .alias("f_inter"))


# ---------------------------------------------- Mann-Kendall trend test

@query("stats_mann_kendall", oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                             WHEN b.c < a.c THEN -1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM daily a JOIN daily b ON b.day > a.day
    ),
    ties AS (
        SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0)
                    AS BIGINT) AS tie_term
        FROM (SELECT CAST(count(*) AS BIGINT) AS t
              FROM daily GROUP BY c) WHERE t > 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
    SELECT n.n, pairs.s AS s_stat,
           round((pairs.s - CASE WHEN pairs.s > 0 THEN 1
                                 WHEN pairs.s < 0 THEN -1 ELSE 0 END)
                 / sqrt((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                         - tie_term) / 18.0), 5) AS z_stat
    FROM n, pairs, ties
""")
def stats_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test on the daily order-count series — the
    distribution-free 'is this metric drifting?' test (monotone trend,
    no linearity or normality assumed), completing the trend family
    next to `stats_theil_sen` (the matching slope estimator) and
    `ts_cusum_detection` (the sequential alarm).

    S = sum over all day pairs of sign(c_j - c_i), an EXACT integer
    from a self-join on the day spine (~2.4k days -> ~2.9M pairs —
    bounded by the calendar squared, not the corpus; the fact table
    collapses to the daily table first, so the quadratic work never
    touches raw rows). The variance uses the exact tie-correction
    term sum t(t-1)(2t+5) over tied count values — also all-integer.
    The continuity-corrected z is the single float expression,
    snapped at 5 dp. At a 100 TB corpus the day spine is unchanged;
    for minute-grained series the standard rewrite is S via 2 *
    concordant-rank sums (merge-sort inversions, O(n log n)) — the
    pair join is the clear-at-this-scale form."""
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"))
    daily = o.groupBy("day").agg(F.count("*").alias("c"))
    a, b = daily.alias("a"), daily.alias("b")
    s = (a.join(b, F.col("b.day") > F.col("a.day"))
         .agg(F.sum(F.when(F.col("b.c") > F.col("a.c"), 1)
                    .when(F.col("b.c") < F.col("a.c"), -1)
                    .otherwise(0)).alias("s")))
    ties = (daily.groupBy("c").agg(F.count("*").alias("t"))
            .filter(F.col("t") > 1)
            .agg(F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1)
                      * (2 * F.col("t") + 5)), F.lit(0))
                .cast("bigint").alias("tie_term")))
    n = daily.agg(F.count("*").alias("n"))
    sgn = (F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1)
           .otherwise(0))
    return (n.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(ties))
            .select("n", F.col("s").alias("s_stat"),
                    F.round((F.col("s") - sgn)
                            / F.sqrt((F.col("n").cast("double")
                                      * (F.col("n") - 1)
                                      * (2 * F.col("n") + 5)
                                      - F.col("tie_term")) / 18.0), 5)
                    .alias("z_stat")))
