"""Marketing-analytics pack (round 6, batch 76). The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has no
marketing surface; these are Tier-C mission operators — the four
media-measurement computations (adstock carryover, saturation,
reach/frequency, halo lift) that complete the attribution family
(`attribution_*`, `events_attribution_window_sweep`), each exact
integer:

- mkt_adstock_decay: geometric adstock with lambda = 1/2 over an
  8-day carryover — decay weights are powers of two, so each lagged
  term is an EXACT integer milli division; built as a bounded
  day-range self-join (robust to calendar gaps, unlike lag()).
- mkt_hill_saturation: saturation diagnostic — hourly click deciles
  (exact rank) vs purchase response, with the Hill transform
  x^2/(x^2 + K^2) evaluated at each decile's milli-mean as the
  curve to compare against.
- mkt_reach_frequency: per-channel reach, 5+-capped frequency
  histogram, and effective (3+) reach — the planning triple.
- mkt_halo_lift: share of purchases within 1 hour of the user's
  latest click vs the same share against views (the control
  exposure) — an EXISTS range semi-join per arm, lift as a micro
  ratio.

Scale shapes: adstock/saturation aggregate the fact table once into
a bounded calendar table; reach/frequency is two grouped counts; the
halo semi-joins are user-blocked (equi on user_id + bounded time
predicate — the asof-join family shape)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T

_K_MILLI = 3000          # Hill half-saturation point: 3 clicks/hour


@query("mkt_adstock_decay", oracle="""
    WITH clicks AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1
    )
    SELECT a.day, a.x,
           CAST(sum(b.x * 1000
                    // CAST(power(2, a.day - b.day) AS BIGINT))
                AS BIGINT) AS adstock_milli
    FROM clicks a JOIN clicks b
      ON a.day - b.day BETWEEN 0 AND 7
    GROUP BY a.day, a.x
""")
def mkt_adstock_decay(spark, sf_dir):
    """Geometric adstock (lambda = 1/2, 8-day carryover): today's
    effective pressure = sum of past clicks decayed by powers of two
    — each term an exact integer milli division, so summation order
    can't flip anything. The day-range self-join (not lag()) keeps
    the carryover correct across calendar gaps, and runs on the
    bounded per-day aggregate, never the fact table."""
    ev = T(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.expr("unix_timestamp(ts) div 86400").alias("day"))
              .groupBy("day").agg(F.count("*").alias("x"))
              .transform(physical.cut))
    b = clicks.select(F.col("day").alias("bday"), F.col("x").alias("bx"))
    return (clicks.join(b, (clicks["day"] - F.col("bday") >= 0)
                        & (clicks["day"] - F.col("bday") <= 7))
            .groupBy("day", "x")
            .agg(F.sum(F.expr(
                "bx * 1000 div CAST(power(2, day - bday) AS BIGINT)"))
                .cast("bigint").alias("adstock_milli")))


@query("mkt_hill_saturation", oracle=f"""
    WITH hourly AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
               CAST(count(*) FILTER (WHERE event_type = 'click')
                    AS BIGINT) AS x,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    ranked AS MATERIALIZED (
        SELECT x, y, row_number() OVER (ORDER BY x, hr) AS rk,
               count(*) OVER () AS n
        FROM hourly
    ),
    dec AS (
        SELECT (rk - 1) * 10 // n AS decile,
               count(*) AS n_hours,
               sum(x) * 1000 // count(*) AS avg_x_milli,
               sum(y) * 1000 // count(*) AS avg_y_milli
        FROM ranked GROUP BY 1
    )
    SELECT decile, n_hours,
           CAST(avg_x_milli AS BIGINT) AS avg_x_milli,
           CAST(avg_y_milli AS BIGINT) AS avg_y_milli,
           CAST(avg_x_milli * avg_x_milli * 1000000
                // (avg_x_milli * avg_x_milli + {_K_MILLI * _K_MILLI})
                AS BIGINT) AS hill_pred_micro
    FROM dec
""")
def mkt_hill_saturation(spark, sf_dir):
    """Saturation diagnostic: hourly click volume cut into exact-rank
    deciles, each decile's observed purchase response next to the
    Hill curve x^2/(x^2 + K^2) (K = 3 clicks/hour, pinned) evaluated
    at the decile's milli-mean — the comparison an MMM calibrates
    its saturation parameter against. Rank window over the bounded
    hour table; every number an integer milli/micro division."""
    ev = T(spark, sf_dir, "events")
    hourly = (ev.select(
        F.expr("unix_timestamp(ts) div 3600").alias("hr"),
        F.col("event_type"))
        .groupBy("hr")
        .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                   .otherwise(0)).cast("bigint").alias("x"),
             F.sum(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).cast("bigint").alias("y")))
    wr = Window.orderBy("x", "hr")
    n = hourly.count()
    ranked = hourly.select("x", "y", F.row_number().over(wr).alias("rk"))
    dec = (ranked.groupBy(F.expr(f"(rk - 1) * 10 div {n}")
                          .alias("decile"))
           .agg(F.count("*").alias("n_hours"),
                F.expr("sum(x) * 1000 div count(*)")
                .cast("bigint").alias("avg_x_milli"),
                F.expr("sum(y) * 1000 div count(*)")
                .cast("bigint").alias("avg_y_milli")))
    return dec.select(
        "decile", "n_hours", "avg_x_milli", "avg_y_milli",
        F.expr(f"avg_x_milli * avg_x_milli * 1000000"
               f" div (avg_x_milli * avg_x_milli"
               f" + {_K_MILLI * _K_MILLI})").alias("hill_pred_micro"))


@query("mkt_reach_frequency", oracle="""
    WITH uf AS (
        SELECT event_type, user_id, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    hist AS (
        SELECT event_type, least(n, 5) AS freq_bucket,
               CAST(count(*) AS BIGINT) AS n_users
        FROM uf GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS reach,
               CAST(count(*) FILTER (WHERE n >= 3) AS BIGINT)
                   AS eff_reach_3plus
        FROM uf GROUP BY 1
    )
    SELECT h.event_type, CAST(h.freq_bucket AS BIGINT) AS freq_bucket,
           h.n_users, t.reach, t.eff_reach_3plus
    FROM hist h JOIN totals t ON t.event_type = h.event_type
""")
def mkt_reach_frequency(spark, sf_dir):
    """Reach / frequency planning triple per channel (event type):
    distinct-user reach, the 5+-capped frequency histogram, and
    effective reach at the classic 3+ exposure threshold. Two grouped
    counts over the (channel, user) aggregate; the histogram join is
    a broadcast of #channels rows."""
    ev = T(spark, sf_dir, "events")
    uf = (ev.groupBy("event_type", "user_id")
          .agg(F.count("*").alias("n"))
          .transform(physical.cut))
    hist = (uf.groupBy("event_type",
                       F.least(F.col("n"), F.lit(5)).cast("bigint")
                       .alias("freq_bucket"))
            .agg(F.count("*").alias("n_users")))
    totals = (uf.groupBy("event_type")
              .agg(F.count("*").alias("reach"),
                   F.sum(F.when(F.col("n") >= 3, 1).otherwise(0))
                   .cast("bigint").alias("eff_reach_3plus")))
    return hist.join(F.broadcast(totals), "event_type") \
        .select("event_type", "freq_bucket", "n_users", "reach",
                "eff_reach_3plus")


@query("mkt_halo_lift", oracle="""
    WITH purch AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY user_id, ts) AS pid,
               user_id, CAST(floor(epoch(ts)) AS BIGINT) AS pts
        FROM events WHERE event_type = 'purchase'
    ),
    clk AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets
        FROM events WHERE event_type = 'click'
    ),
    vw AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets
        FROM events WHERE event_type = 'view'
    ),
    ac AS MATERIALIZED (
        SELECT DISTINCT p.pid FROM purch p JOIN clk c
          ON c.user_id = p.user_id
         AND c.ets >= p.pts - 3600 AND c.ets < p.pts
    ),
    av AS MATERIALIZED (
        SELECT DISTINCT p.pid FROM purch p JOIN vw v
          ON v.user_id = p.user_id
         AND v.ets >= p.pts - 3600 AND v.ets < p.pts
    ),
    marked AS (
        SELECT p.pid, ac.pid IS NOT NULL AS after_click,
               av.pid IS NOT NULL AS after_view
        FROM purch p
        LEFT JOIN ac ON ac.pid = p.pid
        LEFT JOIN av ON av.pid = p.pid
    )
    SELECT count(*) AS n_purchases,
           CAST(sum(CASE WHEN after_click THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_click_1h,
           CAST(sum(CASE WHEN after_click THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS click_share_micro,
           CAST(sum(CASE WHEN after_view THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_view_1h,
           CAST(sum(CASE WHEN after_view THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS view_share_micro,
           CAST(CASE WHEN sum(CASE WHEN after_view THEN 1 ELSE 0 END)
                          > 0
                THEN sum(CASE WHEN after_click THEN 1 ELSE 0 END)
                     * 1000000
                     // sum(CASE WHEN after_view THEN 1 ELSE 0 END)
                ELSE 0 END AS BIGINT) AS lift_vs_view_micro
    FROM marked
""")
def mkt_halo_lift(spark, sf_dir):
    """Halo (post-click) lift: the share of purchases landing within
    1 hour of the same user's latest click, against the identical
    share computed for views (the organic-exposure control) — the
    ratio in micros is the clean-room version of post-view/post-click
    attribution lift. Each arm is one user-blocked EXISTS range
    semi-join (the asof-join family shape: equi on user, bounded time
    band); counts stay exact integers throughout."""
    ev = T(spark, sf_dir, "events")
    sec = F.expr("unix_timestamp(ts)")

    def arm(etype):
        return (ev.where(F.col("event_type") == etype)
                .select(F.col("user_id").alias(f"{etype}_uid"),
                        sec.alias(f"{etype}_ts")))

    purch = (ev.where(F.col("event_type") == "purchase")
             .select("user_id", sec.alias("pts")))
    clk, vw = arm("click"), arm("view")
    after_click = (purch.join(
        clk, (purch["user_id"] == F.col("click_uid"))
        & (F.col("click_ts") >= purch["pts"] - 3600)
        & (F.col("click_ts") < purch["pts"]), "left_semi")
        .select("user_id", "pts"))
    after_view = (purch.join(
        vw, (purch["user_id"] == F.col("view_uid"))
        & (F.col("view_ts") >= purch["pts"] - 3600)
        & (F.col("view_ts") < purch["pts"]), "left_semi")
        .select("user_id", "pts"))
    # r11 (guide §5): the three arm counts were SEQUENTIAL eager jobs;
    # now three 1-row aggregates cross-joined into the one returned
    # plan (branches schedule concurrently inside a single job), with
    # the micro divisions as integer DIV on the scalar columns —
    # identical values, zero driver round trips.
    totals = purch.agg(F.count("*").alias("n_purchases"))
    nc = after_click.agg(F.count("*").alias("n_after_click_1h"))
    nv = after_view.agg(F.count("*").alias("n_after_view_1h"))
    return (totals.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nv))
            .select(
                "n_purchases", "n_after_click_1h",
                F.expr("n_after_click_1h * 1000000 div n_purchases")
                .cast("bigint").alias("click_share_micro"),
                "n_after_view_1h",
                F.expr("n_after_view_1h * 1000000 div n_purchases")
                .cast("bigint").alias("view_share_micro"),
                F.expr("CASE WHEN n_after_view_1h > 0 THEN "
                       "n_after_click_1h * 1000000 div n_after_view_1h "
                       "ELSE 0 END").cast("bigint")
                .alias("lift_vs_view_micro")))
