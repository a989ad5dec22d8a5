"""Reporting & sweep-line pack (Tier B/C extensions).

Period-over-period growth, sweep-line concurrency over derived
intervals, and rolling medians — the reporting shapes a warehouse user
runs daily through the reference's SQL passthrough (reference
src/main.rs:220), each expressed as declarative window/aggregate plans
whose shuffle structure is scale-invariant.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import query
from .relational import T
from ..streaming import session_agg
from ..numerics import (
    cents_sum, cents_sum_sql, fixed_sum, fixed_sum_sql, units_sum,
    units_sum_sql)


# ------------------------------------------------------ period growth

@query("mom_growth", oracle=f"""
    WITH monthly AS (
        SELECT c_mktsegment AS segment,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               {cents_sum_sql('o_totalprice')} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    )
    SELECT segment, month, revenue,
           round((revenue - lag(revenue) OVER w)
                 / lag(revenue) OVER w, 6) AS mom
    FROM monthly
    WINDOW w AS (PARTITION BY segment ORDER BY month)
""")
def mom_growth(spark, sf_dir):
    """Month-over-month revenue growth per market segment — the
    standard period-over-period report.

    The fact aggregates down to |segments| x |months| rows in one
    shuffle (customer dim broadcasts in first); the lag window then
    runs on that tiny aggregate. Revenue is snapped to cents before
    the ratio so both engines divide identical doubles; the first
    month of each segment reports NULL growth, as SQL lag defines."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
               .groupBy(F.col("c_mktsegment").alias("segment"),
                        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"))
               .agg(cents_sum(F.col("o_totalprice")).alias("revenue")))
    w = W.partitionBy("segment").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "segment", "month", "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom"))


# ------------------------------------------------ sweep concurrency

@query("interval_concurrency", oracle="""
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sid
        FROM o
    ),
    sess AS (
        SELECT min(ts) AS sess_start,
               max(ts) + INTERVAL '5 minutes' AS sess_end
        FROM s GROUP BY user_id, sid
    ),
    sweep AS (
        SELECT t, delta,
               sum(delta) OVER (ORDER BY t, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS live
        FROM (
            SELECT sess_start AS t, 1  AS delta FROM sess
            UNION ALL
            SELECT sess_end   AS t, -1 AS delta FROM sess
        )
    )
    SELECT CAST(max(live) AS BIGINT) AS max_concurrent,
           min(t) FILTER (WHERE live = (SELECT max(live) FROM sweep))
               AS first_peak_ts
    FROM sweep
""")
def interval_concurrency(spark, sf_dir):
    """Peak concurrency via a sweep line: derive per-user sessions
    (5-minute gap), explode each into a +1 boundary at start and -1 at
    end, order all boundaries globally, and take the running sum's
    maximum — the classic 'how many sessions were live at once'.

    Session derivation is the one heavy shuffle (user_id); the sweep
    runs on 2x|sessions| boundary rows. Ends sort before starts at the
    same instant (delta ascending), so a session ending exactly when
    another starts never double-counts. The global running sum is
    bounded by session cardinality, not event volume — at larger scale
    you'd pre-aggregate boundaries per time bucket first."""
    sess = session_agg(T(spark, sf_dir, "events")).select(
        "sess_start", "sess_end")
    bounds = (sess.select(F.col("sess_start").alias("t"),
                          F.lit(1).alias("delta"))
              .unionAll(sess.select(F.col("sess_end").alias("t"),
                                    F.lit(-1).alias("delta"))))
    wsweep = (W.orderBy("t", "delta")
              .rowsBetween(W.unboundedPreceding, W.currentRow))
    sweep = bounds.select("t", F.sum("delta").over(wsweep).alias("live"))
    peak = sweep.agg(F.max("live").alias("mx"))
    return (sweep.join(F.broadcast(peak), sweep.live == peak.mx)
            .agg(F.max("live").cast("bigint").alias("max_concurrent"),
                 F.min("t").alias("first_peak_ts")))


# ------------------------------------------------- rolling median

@query("window_rolling_median", oracle="""
    WITH r AS (
        SELECT user_id, event_id, value,
               quantile_cont(value, 0.5) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS med,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, event_id, round(med, 4) AS rolling_med
    FROM r WHERE rn = 1
""")
def window_rolling_median(spark, sf_dir):
    """Rolling median of each user's last 11 values, reported at the
    stream head — the robust alternative to a moving average (one
    outlier can't drag it).

    Exact percentile runs as a window aggregate over a bounded ROWS
    frame: state is 11 values per row, and the same single user_id
    shuffle serves the frame and the head-row pick. Interpolation
    matches DuckDB's windowed quantile_cont."""
    e = T(spark, sf_dir, "events")
    wmed = (W.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(-10, 0))
    wdesc = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    r = e.select(
        "user_id", "event_id",
        F.percentile("value", 0.5).over(wmed).alias("med"),
        F.row_number().over(wdesc).alias("rn"))
    return (r.filter(F.col("rn") == 1)
            .select("user_id", "event_id",
                    F.round("med", 4).alias("rolling_med")))


@query("ts_autocorrelation", oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    lagged AS (
        -- date-shifted self-join, not lead(): the lag is k CALENDAR
        -- days, so series gaps pair correctly (and engines need no
        -- variable window offset).
        SELECT k.k, d.x AS x0, d2.x AS xk
        FROM daily d
        CROSS JOIN (SELECT unnest([1, 2, 3, 7]) AS k) k
        LEFT JOIN daily d2 ON d2.day = d.day + INTERVAL (k.k) DAY
    ),
    m AS (
        SELECT k, CAST(count(xk) AS BIGINT) AS n,
               CAST(sum(x0) FILTER (WHERE xk IS NOT NULL) AS BIGINT) AS s0,
               CAST(sum(xk) AS BIGINT) AS sk,
               CAST(sum(x0 * x0) FILTER (WHERE xk IS NOT NULL)
                    AS BIGINT) AS s00,
               CAST(sum(xk * xk) AS BIGINT) AS skk,
               CAST(sum(x0 * xk) AS BIGINT) AS s0k
        FROM lagged GROUP BY k
    )
    SELECT CAST(k AS INTEGER) AS lag_days, n,
           round((CAST(n AS DOUBLE) * s0k - CAST(s0 AS DOUBLE) * sk)
                 / (sqrt(CAST(n AS DOUBLE) * s00 - CAST(s0 AS DOUBLE) * s0)
                    * sqrt(CAST(n AS DOUBLE) * skk
                           - CAST(sk AS DOUBLE) * sk)), 5) AS acf
    FROM m
""")
def ts_autocorrelation(spark, sf_dir):
    """Autocorrelation of the daily event-count series at lags 1, 2, 3
    and 7 days — the seasonality detector (a weekly cycle shows as an
    acf(7) spike) feeding ts_seasonal_decompose's period choice.

    Shape: the fact collapses once to days; all lags come from one
    date-shifted self-join of the day-sized series against itself —
    the lag dimension is a 4-row broadcast fan-out, never a rescan of
    the fact. Each lag's
    Pearson moments are exact bigints (counts and their products), so
    acf is one fixed float expression per lag, rounded at 5 dp (the
    corr-class tolerance)."""
    e = T(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.count("*").alias("x")))
    ks = spark.createDataFrame([(1,), (2,), (3,), (7,)], "k int")
    # Date-shifted self-join (k is data, so lead(x, k) is not allowed
    # and calendar lags are the right ACF semantics under gaps anyway).
    d2 = daily.select(F.col("day").alias("day_k"), F.col("x").alias("xk"))
    lagged = (daily.crossJoin(F.broadcast(ks))
              .join(d2, F.date_add(F.col("day").cast("date"), F.col("k"))
                    == F.col("day_k").cast("date"), "left")
              .select("k", F.col("x").alias("x0"), "xk"))
    valid = F.col("xk").isNotNull()
    m = lagged.groupBy("k").agg(
        F.count("xk").alias("n"),
        F.sum(F.when(valid, F.col("x0"))).alias("s0"),
        F.sum("xk").alias("sk"),
        F.sum(F.when(valid, F.col("x0") * F.col("x0"))).alias("s00"),
        F.sum(F.col("xk") * F.col("xk")).alias("skk"),
        F.sum(F.col("x0") * F.col("xk")).alias("s0k"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov = d("n") * F.col("s0k") - d("s0") * F.col("sk")
    v0 = d("n") * F.col("s00") - d("s0") * F.col("s0")
    vk = d("n") * F.col("skk") - d("sk") * F.col("sk")
    return m.select(F.col("k").cast("int").alias("lag_days"), "n",
                    F.round(cov / (F.sqrt(v0) * F.sqrt(vk)), 5)
                    .alias("acf"))


@query("supplier_herfindahl", oracle=f"""
    WITH rev AS (
        SELECT n_name,
               s_suppkey,
               {units_sum_sql('l_extendedprice', 100)} AS c
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT n_name, CAST(sum(c) AS BIGINT) AS t
            FROM rev GROUP BY 1)
    SELECT rev.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           {fixed_sum_sql('pow(c / CAST(t AS DOUBLE), 2)', 1e9, 5)} AS hhi
    FROM rev JOIN tot ON rev.n_name = tot.n_name
    GROUP BY rev.n_name
""")
def supplier_herfindahl(spark, sf_dir):
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation: sum of squared market shares — the antitrust-style
    concentration number (1/n = perfectly even, 1 = monopoly), the
    grouped sibling of agg_gini's single global coefficient.

    Shape: one fact shuffle builds (nation, supplier) revenue (dims
    broadcast in), the per-nation totals are a tiny second aggregate
    joined back, and each squared share is a per-row float from exact
    cents snapped to integer 1e-9 units before summation (SURVEY 4.3),
    so share-accumulation order cannot flake the hash."""
    le = T(spark, sf_dir, "lineitem")
    su = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (le.join(F.broadcast(su), le.l_suppkey == su.s_suppkey)
           .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
           .groupBy("n_name", "s_suppkey")
           .agg(units_sum(F.col("l_extendedprice"), 100).alias("c")))
    tot = rev.groupBy("n_name").agg(F.sum("c").alias("t"))
    share2 = F.pow(F.col("c") / F.col("t").cast("double"), 2)
    return (rev.join(tot, "n_name")
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("n_suppliers"),
                 fixed_sum(share2, 1e9, 5).alias("hhi")))


@query("ts_forecast_baseline_eval", oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    joined AS (
        SELECT m.k, m.name, d.x AS actual, p.x AS forecast
        FROM daily d
        CROSS JOIN (SELECT * FROM (VALUES (1, 'naive_1d'),
                                          (7, 'seasonal_7d'))
                    AS t(k, name)) m
        JOIN daily p ON p.day = d.day - INTERVAL (m.k) DAY
    )
    SELECT name AS method, CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(abs(actual - forecast)) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 4) AS mae,
           round(CAST(sum(actual - forecast) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 4) AS bias
    FROM joined GROUP BY name
""")
def ts_forecast_baseline_eval(spark, sf_dir):
    """Forecast-baseline evaluation: MAE and bias of the two canonical
    zero-parameter forecasters on the daily event-count series —
    naive (yesterday's value) vs seasonal-naive (same weekday last
    week). The backtest every forecasting effort must beat before a
    model earns its keep; a seasonal-naive win is direct evidence of
    weekly cycle (cross-check: ts_autocorrelation's acf(7)).

    Shape: one fact collapse to days, then date-shifted self-joins of
    the day-sized series (same pattern as ts_autocorrelation) — the
    method dimension is a 2-row broadcast. Errors are exact integer
    differences, so MAE/bias are exact sums divided once, rounded at
    4 dp."""
    e = T(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.count("*").alias("x")))
    methods = spark.createDataFrame([(1, "naive_1d"), (7, "seasonal_7d")],
                                    "k int, name string")
    past = daily.select(F.col("day").alias("pday"),
                        F.col("x").alias("forecast"))
    joined = (daily.crossJoin(F.broadcast(methods))
              .join(past,
                    F.date_sub(F.col("day").cast("date"), F.col("k"))
                    == F.col("pday").cast("date"))
              .select("name", F.col("x").alias("actual"), "forecast"))
    err = F.col("actual") - F.col("forecast")
    return (joined.groupBy(F.col("name").alias("method"))
            .agg(F.count("*").alias("n_days"),
                 F.round(F.sum(F.abs(err)) / F.count("*").cast("double"), 4)
                 .alias("mae"),
                 F.round(F.sum(err) / F.count("*").cast("double"), 4)
                 .alias("bias")))


@query("interval_concurrency_timeline", oracle="""
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sid AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM o
    ),
    sess AS (
        -- session_window semantics (same as _SESSION_ORACLE): end =
        -- last event + gap
        SELECT user_id, min(ts) AS s,
               max(ts) + INTERVAL '5 minutes' AS e
        FROM sid GROUP BY user_id, sid
    ),
    starts AS (
        -- floor() before the cast: DuckDB's epoch() keeps fractional
        -- seconds and CAST rounds half-even, while Spark's
        -- unix_timestamp truncates — a >=.5s fraction near a minute
        -- boundary would shift the bucket by one.
        SELECT CAST(floor(epoch(s)) AS BIGINT) // 60 AS m,
               CAST(count(*) AS BIGINT) AS c
        FROM sess GROUP BY 1
    ),
    ends AS (
        SELECT CAST(floor(epoch(e)) AS BIGINT) // 60 AS m,
               CAST(count(*) AS BIGINT) AS c
        FROM sess GROUP BY 1
    ),
    merged AS (
        SELECT coalesce(st.m, en.m) AS m,
               coalesce(st.c, 0) AS cs, coalesce(en.c, 0) AS ce
        FROM starts st FULL JOIN ends en ON st.m = en.m
    ),
    run AS (
        SELECT m,
               CAST(sum(cs) OVER (ORDER BY m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT)
                   - CAST(coalesce(sum(ce) OVER (ORDER BY m
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS BIGINT) AS live
        FROM merged
    )
    SELECT CAST(to_timestamp(m * 60) AS TIMESTAMP) AS minute_start,
           live AS concurrent_sessions
    FROM run
    ORDER BY live DESC, m ASC
    LIMIT 20
""")
def interval_concurrency_timeline(spark, sf_dir):
    """Concurrency as a TIME SERIES: live sessions per minute (a
    session occupies minutes floor(start/60)..floor(end/60)), top-20
    busiest minutes — and the implementation of the per-bucket
    pre-aggregation that interval_concurrency's docstring names as the
    scale path for its row-level sweep.

    Scale shape: boundaries collapse to per-MINUTE start/end counts
    first (map-side-combined groupBys), so the running-sum series is
    bounded by the TIMESPAN in minutes — independent of event volume —
    and the sweep window is safe by construction at any data size.
    Session derivation shares session_agg's gaps-and-islands semantics
    (5-minute gap); every quantity is an exact integer (epoch minutes,
    counts), so live counts are engine-exact."""
    from ..streaming import session_agg

    sess = (session_agg(T(spark, sf_dir, "events"))
            .select("sess_start", "sess_end"))
    starts = (sess.select((F.unix_timestamp("sess_start")
                           .cast("bigint") / 60).cast("bigint").alias("m"))
              .groupBy("m").agg(F.count("*").alias("cs")))
    ends = (sess.select((F.unix_timestamp("sess_end")
                         .cast("bigint") / 60).cast("bigint").alias("m"))
            .groupBy("m").agg(F.count("*").alias("ce")))
    merged = (starts.join(ends, "m", "full")
              .select("m", F.coalesce("cs", F.lit(0)).alias("cs"),
                      F.coalesce("ce", F.lit(0)).alias("ce")))
    wrun = W.orderBy("m").rowsBetween(W.unboundedPreceding, 0)
    wprev = W.orderBy("m").rowsBetween(W.unboundedPreceding, -1)
    live = (F.sum("cs").over(wrun)
            - F.coalesce(F.sum("ce").over(wprev), F.lit(0)))
    return (merged.select(
                F.to_timestamp(F.col("m") * 60).alias("minute_start"),
                live.alias("concurrent_sessions"),
                F.col("m").alias("_m"))
            .orderBy(F.col("concurrent_sessions").desc(), F.col("_m").asc())
            .limit(20)
            .drop("_m"))
