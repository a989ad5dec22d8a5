"""Security-analytics pack (round 6, batch 86). The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has none
of this; three Tier-C mission operators — the fraud/abuse detections a
SIEM runs over an event log, all exact-integer (speed tests in
cross-multiplied form, never a division):

- sec_impossible_travel: consecutive same-user events placed at
  hash-synthesized locations (the `geo` pack box, per-event seeds);
  a transition is impossible when implied speed exceeds 250 m/s
  within a 4-hour horizon — tested as d2-vs-dt^2 cross-multiplied
  integers with pinned rescaling, no sqrt, no division. Per-user
  flag census for flagged users.
- sec_bruteforce_window: N-in-T burst detection — 5 error events
  within 300 seconds per user, found with lead(sec, 4) over the
  per-user error stream (the sliding window as ONE lag expression,
  not a self-join). Summary + per-user burst counts.
- sec_rare_combo: rare (event_type, hour-of-day) cells — the
  bottom-10% cells of the bounded combo census by exact frequency
  rank (ties pinned); the 'never seen at 3am' anomaly table.

Scale shapes: travel and burst checks are per-user windows (one
user_id shuffle); the combo census is a 120-row table."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import h32, h32_sql
from ..operators import physical
from .registry import query
from .relational import T

# speed test: meters^2 = d2(microdeg^2) * 0.012364 ; impossible when
# meters > 250 * dt  <=>  (d2 // 1000) * 12364 > 62500 * dt*dt * 1000.
# The product reads dt capped at _DT_CAP (at most 1.296e16): neither
# engine promises to skip it once `dt <= _DT_CAP` is false, and an
# uncapped day-long hop overflows BIGINT.
_DT_CAP = 14400


@query("sec_impossible_travel", oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               {h32_sql("'el:' || CAST(event_id AS VARCHAR)")} % 30000000
                   AS latp,
               {h32_sql("'eo:' || CAST(event_id AS VARCHAR)")} % 50000000
                   AS lonp
        FROM events
    ),
    hops AS (
        SELECT user_id,
               sec - lag(sec) OVER w AS dt,
               (latp - lag(latp) OVER w) * (latp - lag(latp) OVER w)
             + (lonp - lag(lonp) OVER w) * (lonp - lag(lonp) OVER w)
                   AS d2
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
        QUALIFY lag(sec) OVER w IS NOT NULL
    ),
    flagged AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_checked,
               CAST(sum(CASE WHEN dt <= {_DT_CAP}
                         AND (d2 // 1000) * 12364
                             > 62500 * least(dt, {_DT_CAP})
                                 * least(dt, {_DT_CAP}) * 1000
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_impossible
        FROM hops GROUP BY user_id
    )
    SELECT user_id, n_checked, n_impossible,
           n_impossible * 1000 // n_checked AS flag_rate_milli
    FROM flagged WHERE n_impossible > 0
""")
def sec_impossible_travel(spark, sf_dir):
    """Impossible-travel detection: consecutive same-user events at
    hash-synthesized coordinates; the speed test runs entirely in
    cross-multiplied integers ((d2/1000) * 12364 > 62500 * dt^2 *
    1000 encodes meters > 250 m/s * dt with the 0.111195 m/microdeg
    constant squared and pre-scaled — no sqrt, no division; dt is
    capped at the 4-hour horizon inside the product, so no hop
    overflows). Per-user windows; only flagged users reported."""
    ev = T(spark, sf_dir, "events")

    def h(p):
        return h32(F.concat(F.lit(p), F.col("event_id").cast("string")))

    base = ev.select("user_id", "event_id",
                     F.expr("unix_timestamp(ts)").alias("sec"),
                     (h("el:") % 30000000).alias("latp"),
                     (h("eo:") % 50000000).alias("lonp"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    hops = (base.select(
        "user_id",
        (F.col("sec") - F.lag("sec").over(w)).alias("dt"),
        ((F.col("latp") - F.lag("latp").over(w))
         * (F.col("latp") - F.lag("latp").over(w))
         + (F.col("lonp") - F.lag("lonp").over(w))
         * (F.col("lonp") - F.lag("lonp").over(w))).alias("d2"))
        .where(F.col("dt").isNotNull()))
    capped = F.least(F.col("dt"), F.lit(_DT_CAP))
    flagged = (hops.groupBy("user_id")
               .agg(F.count("*").alias("n_checked"),
                    F.sum(F.when(
                        (F.col("dt") <= _DT_CAP)
                        & (F.expr("(d2 div 1000) * 12364")
                           > F.lit(62500) * capped * capped * 1000), 1)
                        .otherwise(0)).cast("bigint")
                    .alias("n_impossible")))
    return (flagged.where(F.col("n_impossible") > 0)
            .select("user_id", "n_checked", "n_impossible",
                    F.expr("n_impossible * 1000 div n_checked")
                    .alias("flag_rate_milli")))


@query("sec_bruteforce_window", oracle="""
    WITH errs AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               event_id
        FROM events WHERE event_type = 'error'
    ),
    bursts AS (
        SELECT user_id,
               CASE WHEN lead(sec, 4) OVER w - sec <= 300
                    THEN 1 ELSE 0 END AS burst
        FROM errs
        WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
        QUALIFY lead(sec, 4) OVER w IS NOT NULL
    ),
    per AS (
        SELECT user_id, CAST(sum(burst) AS BIGINT) AS n_bursts
        FROM bursts GROUP BY user_id
    )
    SELECT CAST((SELECT count(DISTINCT user_id) FROM errs) AS BIGINT)
               AS n_users_with_errors,
           CAST(sum(CASE WHEN n_bursts > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_users_bruteforce,
           CAST(sum(n_bursts) AS BIGINT) AS total_burst_windows,
           CAST(max(n_bursts) AS BIGINT) AS max_user_bursts
    FROM per
""")
def sec_bruteforce_window(spark, sf_dir):
    """Brute-force burst detection (5 errors in 300 seconds): the
    sliding N-in-T test as ONE window expression — lead(sec, 4)
    against the current error gives every 5-error window's span, no
    self-join. Per-user windows over the error stream; corpus-level
    summary out."""
    ev = T(spark, sf_dir, "events")
    errs = (ev.where(F.col("event_type") == "error")
            .select("user_id", F.expr("unix_timestamp(ts)").alias("sec"),
                    "event_id")
            .transform(physical.cut))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    bursts = (errs.select(
        "user_id",
        (F.lead("sec", 4).over(w) - F.col("sec")).alias("span"))
        .where(F.col("span").isNotNull())
        .select("user_id",
                F.when(F.col("span") <= 300, 1).otherwise(0)
                .alias("burst")))
    per = bursts.groupBy("user_id").agg(F.sum("burst").cast("bigint")
                                        .alias("n_bursts"))
    n_users = errs.select("user_id").distinct().count()
    return per.agg(
        F.lit(n_users).cast("bigint").alias("n_users_with_errors"),
        F.sum(F.when(F.col("n_bursts") > 0, 1).otherwise(0))
        .cast("bigint").alias("n_users_bruteforce"),
        F.sum("n_bursts").cast("bigint").alias("total_burst_windows"),
        F.max("n_bursts").cast("bigint").alias("max_user_bursts"))


@query("sec_rare_combo", oracle="""
    WITH combos AS (
        SELECT event_type,
               (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600
                   AS hod,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, hod, cnt,
               row_number() OVER (ORDER BY cnt, event_type, hod)
                   AS rk,
               count(*) OVER () AS nc
        FROM combos
    )
    SELECT event_type, CAST(hod AS BIGINT) AS hod, cnt,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk * 10 <= nc
""")
def sec_rare_combo(spark, sf_dir):
    """Rare-combination anomaly table: the bounded (event type x
    hour-of-day) census ranked by frequency (ties pinned), bottom
    decile reported — the cells a 'never seen at this hour' rule
    fires on. One grouped count + a rank over <= 120 rows."""
    ev = T(spark, sf_dir, "events")
    combos = (ev.groupBy(
        "event_type",
        F.expr("(unix_timestamp(ts) % 86400) div 3600").alias("hod"))
        .agg(F.count("*").alias("cnt")))
    wr = Window.orderBy("cnt", "event_type", "hod")
    nc = combos.count()
    return (combos.withColumn("rk", F.row_number().over(wr))
            .where(F.col("rk") * 10 <= nc)
            .select("event_type", F.col("hod").cast("bigint")
                    .alias("hod"), "cnt",
                    F.col("rk").cast("bigint").alias("rk")))
