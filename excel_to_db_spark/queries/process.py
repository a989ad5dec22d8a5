"""Process-mining pack (round 6, batch 84). The reference engine (294
LoC of Rust delegating to SQLite, reference src/main.rs) has none of
this; four Tier-C mission operators — the event-log process-mining
stack (van der Aalst) over the standard 30-minute session split, all
deterministic integers:

- process_variants: trace-variant census — each session's
  event-type sequence (pinned (ts, event_id) order, capped at 10
  steps) as a signature, top-10 variants with share. The first
  artifact every process-mining tool shows.
- process_conformance: token-replay-style conformance against the
  pinned reference model (view/click self-loops, view->click,
  view|click->purchase, start=view, end=purchase): conforming
  share plus the three violation classes counted separately.
- process_bottlenecks: the directly-follows graph annotated with
  waiting time — per (a -> b) edge the transition count, mean gap
  (integer seconds), and exact-rank p90 gap; ranked by total wait.
  The edge you fix first.
- process_rework: rework census — sessions where an activity
  recurs AFTER a different activity intervened (the A..B..A
  pattern), per activity; the classic waste signal.

Scale shapes: sessionization and trace building are per-user
windows (user-partitioned — shuffles once on user_id); the DFG and
rework scans are per-session explodes of bounded traces; every
report is a grouped count or bounded rank."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T

_GAP = 1800        # session split: 30 min

_SESS_SQL = """
    ev AS (
        SELECT user_id, event_type AS et,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
        FROM events
    ),
    gapped AS (
        SELECT user_id, et, sec, event_id,
               CASE WHEN sec - lag(sec)
                        OVER (PARTITION BY user_id
                              ORDER BY sec, event_id) > {gap}
                    THEN 1 ELSE 0 END AS brk
        FROM ev
    ),
    sess AS MATERIALIZED (
        SELECT user_id, et, sec, event_id,
               sum(brk) OVER (PARTITION BY user_id
                              ORDER BY sec, event_id) AS sid
        FROM gapped
    )
""".format(gap=_GAP)


def _sess(spark, sf_dir):
    """(user_id, et, sec, event_id, sid): 30-min-gap sessionized
    events in the pinned (sec, event_id) order — exact Spark twin of
    `_SESS_SQL`."""
    ev = T(spark, sf_dir, "events")
    base = ev.select("user_id", F.col("event_type").alias("et"),
                     F.expr("unix_timestamp(ts)").alias("sec"),
                     "event_id")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    gapped = base.withColumn(
        "brk", F.when(F.col("sec") - F.lag("sec").over(w) > _GAP, 1)
        .otherwise(0))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (gapped.withColumn("sid", F.sum("brk").over(wc))
            .transform(physical.cut))


@query("process_variants", oracle=f"""
    WITH {_SESS_SQL},
    traces AS (
        SELECT user_id, sid,
               array_to_string(
                   (list(et ORDER BY sec, event_id))[1:10], '>')
                   AS variant
        FROM sess GROUP BY user_id, sid
    ),
    counted AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n_sessions
        FROM traces GROUP BY variant
    ),
    tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS t FROM counted)
    SELECT variant, n_sessions,
           CAST(n_sessions * 1000 // t AS BIGINT) AS share_milli,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT variant, n_sessions, t,
               row_number() OVER (ORDER BY n_sessions DESC, variant)
                   AS rnk
        FROM counted CROSS JOIN tot
    ) WHERE rnk <= 10
""")
def process_variants(spark, sf_dir):
    """Trace-variant census: each session reduced to its event-type
    signature (pinned order, 10-step cap via list slice), variants
    counted corpus-wide, top-10 with milli share (ties alphabetical).
    The session trace builds from sort_array(collect_list(struct)) —
    per-group, bounded, no global sort."""
    sess = _sess(spark, sf_dir)
    traces = (sess.groupBy("user_id", "sid")
              .agg(F.expr(
                  "array_join(slice(transform(sort_array("
                  "collect_list(struct(sec, event_id, et))),"
                  " s -> s.et), 1, 10), '>')").alias("variant")))
    counted = traces.groupBy("variant").agg(F.count("*")
                                            .alias("n_sessions"))
    t = counted.agg(F.sum("n_sessions").cast("bigint").alias("t")) \
        .collect()[0]["t"]
    w = Window.orderBy(F.col("n_sessions").desc(), F.col("variant"))
    return (counted
            .withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rnk") <= 10)
            .select("variant", "n_sessions",
                    F.expr(f"n_sessions * 1000 div {t}")
                    .alias("share_milli"), "rnk"))


_OK_TRANS = (("view", "view"), ("view", "click"), ("click", "click"),
             ("view", "purchase"), ("click", "purchase"))


@query("process_conformance", oracle=f"""
    WITH {_SESS_SQL},
    steps AS (
        SELECT user_id, sid, et,
               lag(et) OVER (PARTITION BY user_id, sid
                             ORDER BY sec, event_id) AS prev,
               row_number() OVER (PARTITION BY user_id, sid
                                  ORDER BY sec, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id, sid) AS len
        FROM sess
    ),
    per AS (
        SELECT user_id, sid,
               max(CASE WHEN rn = 1 AND et <> 'view'
                        THEN 1 ELSE 0 END) AS bad_start,
               max(CASE WHEN rn = len AND et <> 'purchase'
                        THEN 1 ELSE 0 END) AS bad_end,
               max(CASE WHEN prev IS NOT NULL AND NOT (
                        {" OR ".join(f"(prev = '{a}' AND et = '{b}')"
                                     for a, b in _OK_TRANS)})
                        THEN 1 ELSE 0 END) AS bad_trans
        FROM steps GROUP BY user_id, sid
    )
    SELECT count(*) AS n_sessions,
           CAST(sum(CASE WHEN bad_start = 0 AND bad_end = 0
                          AND bad_trans = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_conforming,
           CAST(sum(CASE WHEN bad_start = 0 AND bad_end = 0
                          AND bad_trans = 0 THEN 1 ELSE 0 END) * 1000
                // count(*) AS BIGINT) AS fitness_milli,
           CAST(sum(bad_start) AS BIGINT) AS n_bad_start,
           CAST(sum(bad_end) AS BIGINT) AS n_bad_end,
           CAST(sum(bad_trans) AS BIGINT) AS n_bad_transition
    FROM per
""")
def process_conformance(spark, sf_dir):
    """Conformance checking against the pinned funnel model
    (view/click self-loops, view->click, ->purchase, must start with
    view and end with purchase): conforming-session share (milli
    fitness) plus the three violation classes counted independently
    — the numbers that say WHERE reality leaves the process model.
    Per-session windows, one grouped rollup."""
    sess = _sess(spark, sf_dir)
    w = Window.partitionBy("user_id", "sid").orderBy("sec", "event_id")
    wl = Window.partitionBy("user_id", "sid")
    ok = " OR ".join(f"(prev = '{a}' AND et = '{b}')"
                     for a, b in _OK_TRANS)
    steps = sess.select(
        "user_id", "sid", "et",
        F.lag("et").over(w).alias("prev"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wl).alias("len"))
    per = (steps.groupBy("user_id", "sid")
           .agg(F.max(F.when((F.col("rn") == 1)
                             & (F.col("et") != "view"), 1).otherwise(0))
                .alias("bad_start"),
                F.max(F.when((F.col("rn") == F.col("len"))
                             & (F.col("et") != "purchase"), 1)
                      .otherwise(0)).alias("bad_end"),
                F.max(F.when(F.col("prev").isNotNull()
                             & ~F.expr(ok), 1).otherwise(0))
                .alias("bad_trans")))
    good = ((F.col("bad_start") == 0) & (F.col("bad_end") == 0)
            & (F.col("bad_trans") == 0))
    return per.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(good, 1).otherwise(0)).cast("bigint")
        .alias("n_conforming"),
        F.expr("sum(CASE WHEN bad_start = 0 AND bad_end = 0"
               " AND bad_trans = 0 THEN 1 ELSE 0 END) * 1000"
               " div count(*)").cast("bigint").alias("fitness_milli"),
        F.sum("bad_start").cast("bigint").alias("n_bad_start"),
        F.sum("bad_end").cast("bigint").alias("n_bad_end"),
        F.sum("bad_trans").cast("bigint").alias("n_bad_transition"))


@query("process_bottlenecks", oracle=f"""
    WITH {_SESS_SQL},
    trans AS MATERIALIZED (
        SELECT lag(et) OVER (PARTITION BY user_id, sid
                             ORDER BY sec, event_id) AS a,
               et AS b,
               sec - lag(sec) OVER (PARTITION BY user_id, sid
                                    ORDER BY sec, event_id) AS gap
        FROM sess QUALIFY a IS NOT NULL
    ),
    ranked AS (
        SELECT a, b, gap,
               row_number() OVER (PARTITION BY a, b ORDER BY gap)
                   AS rk,
               count(*) OVER (PARTITION BY a, b) AS n
        FROM trans
    )
    SELECT a, b, CAST(max(n) AS BIGINT) AS n_transitions,
           CAST(sum(gap) AS BIGINT) AS total_wait_sec,
           CAST(sum(gap) // max(n) AS BIGINT) AS mean_gap_sec,
           CAST(max(CASE WHEN rk = (n * 90 + 99) // 100
                         THEN gap END) AS BIGINT) AS p90_gap_sec
    FROM ranked GROUP BY a, b
""")
def process_bottlenecks(spark, sf_dir):
    """The directly-follows graph annotated with waiting time: per
    (a -> b) transition the count, total and mean wait, and the
    exact-rank p90 gap — ranked output tells you which handoff to
    fix first. Transitions come from per-session lag windows; the
    p90 rank runs per edge (bounded edge count = |activities|^2)."""
    sess = _sess(spark, sf_dir)
    w = Window.partitionBy("user_id", "sid").orderBy("sec", "event_id")
    trans = (sess.select(
        F.lag("et").over(w).alias("a"), F.col("et").alias("b"),
        (F.col("sec") - F.lag("sec").over(w)).alias("gap"))
        .where(F.col("a").isNotNull())
        .transform(physical.cut))
    wr = Window.partitionBy("a", "b").orderBy("gap")
    wn = Window.partitionBy("a", "b")
    ranked = trans.select(
        "a", "b", "gap",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n"))
    return (ranked.groupBy("a", "b")
            .agg(F.max("n").cast("bigint").alias("n_transitions"),
                 F.sum("gap").cast("bigint").alias("total_wait_sec"),
                 F.expr("sum(gap) div max(n)").cast("bigint")
                 .alias("mean_gap_sec"),
                 F.max(F.when(F.col("rk")
                              == F.expr("(n * 90 + 99) div 100"),
                              F.col("gap"))).cast("bigint")
                 .alias("p90_gap_sec")))


@query("process_rework", oracle=f"""
    WITH {_SESS_SQL},
    marked AS (
        SELECT user_id, sid, et, sec, event_id,
               lag(et) OVER (PARTITION BY user_id, sid
                             ORDER BY sec, event_id) AS prev
        FROM sess
    ),
    firstseen AS (
        SELECT user_id, sid, et, min(sec * 10000000 + event_id) AS fpos
        FROM sess GROUP BY 1, 2, 3
    ),
    rework AS (
        SELECT m.user_id, m.sid, m.et
        FROM marked m
        JOIN firstseen f ON f.user_id = m.user_id AND f.sid = m.sid
                        AND f.et = m.et
        WHERE m.prev IS NOT NULL AND m.prev <> m.et
          AND m.sec * 10000000 + m.event_id > f.fpos
        GROUP BY m.user_id, m.sid, m.et
    ),
    sessions AS (SELECT CAST(count(DISTINCT (user_id, sid)) AS BIGINT)
                     AS n_sessions FROM sess)
    SELECT r.et AS activity,
           CAST(count(*) AS BIGINT) AS n_rework_sessions,
           CAST(count(*) * 1000 // max(s.n_sessions) AS BIGINT)
               AS rework_rate_milli
    FROM rework r CROSS JOIN sessions s
    GROUP BY r.et
""")
def process_rework(spark, sf_dir):
    """Rework census: an activity counts as reworked in a session
    when it occurs again after a DIFFERENT activity intervened (the
    A..B..A waste pattern — detected as a non-self-transition into an
    activity already seen earlier in the session). Per-activity
    session counts and milli rates; per-session windows plus one
    first-seen join."""
    sess = _sess(spark, sf_dir)
    w = Window.partitionBy("user_id", "sid").orderBy("sec", "event_id")
    pos = F.col("sec") * 10000000 + F.col("event_id")
    marked = sess.select("user_id", "sid", "et", "sec", "event_id",
                         F.lag("et").over(w).alias("prev"))
    firstseen = (sess.groupBy("user_id", "sid", "et")
                 .agg(F.min(pos).alias("fpos")))
    rework = (marked
              .join(firstseen, ["user_id", "sid", "et"])
              .where(F.col("prev").isNotNull()
                     & (F.col("prev") != F.col("et"))
                     & (pos > F.col("fpos")))
              .select("user_id", "sid", "et").distinct())
    n_sessions = (sess.select("user_id", "sid").distinct().count())
    return (rework.groupBy(F.col("et").alias("activity"))
            .agg(F.count("*").cast("bigint").alias("n_rework_sessions"))
            .select("activity", "n_rework_sessions",
                    F.expr(f"n_rework_sessions * 1000 div {n_sessions}")
                    .alias("rework_rate_milli")))
