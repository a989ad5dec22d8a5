"""Experiment-design pack (round 6, batch 80). The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has none
of this; three Tier-C mission operators that extend the repo's A/B
stack (`stats_srm_check`, `stats_cuped`, `stats_e_process`,
`stats_power_mde`) with the DESIGNS the simple two-sample test cannot
handle:

- exp_switchback_analysis: time-sliced (switchback) experiment —
  hours assigned to arms by h32, the first 15 minutes of every hour
  EXCLUDED as carryover washout, purchase rates compared with and
  without the buffer (the gap between the two is the carryover bias
  a naive reading eats).
- exp_cluster_randomized: user-level (cluster) randomization with
  event-level outcomes — the event-weighted arm rates plus the
  between-user variance of per-user rates, whose ratio to the
  binomial variance is the empirical design effect (the number that
  deflates a naive z by sqrt(deff)).
- exp_sequential_obf: 5-look group-sequential monitoring with
  O'Brien-Fleming boundaries — cumulative two-proportion z^2 in
  micro-rounded integer form at 20/40/../100% information, compared
  against the OBF z^2 boundaries precomputed as milli literals (no
  runtime quantile functions).

Scale shapes: each key reduces events to per-hour / per-user
aggregates once; every reported number is integer micro/milli
arithmetic with pinned division order (z^2 instead of z, so the only
sqrt in the pack disappears)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from ..numerics import h32, h32_sql

# O'Brien-Fleming two-sided 0.05 boundaries at 5 equally spaced looks
# (z = 4.877, 3.357, 2.680, 2.290, 2.031), squared, in millis.
_OBF_Z2_MILLI = (23785, 11269, 7182, 5244, 4125)

_HOURS_SQL = f"""
    ev AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
               CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS sec_in_hr,
               event_type
        FROM events
    ),
    assigned AS (
        SELECT hr, sec_in_hr, event_type,
               {h32_sql("'sb:' || CAST(hr AS VARCHAR)")} % 2 AS arm
        FROM ev
    )
"""


def _assigned(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    hr = F.expr("unix_timestamp(ts) div 3600")
    return ev.select(
        hr.alias("hr"),
        (F.expr("unix_timestamp(ts)") % 3600).alias("sec_in_hr"),
        "event_type",
        (h32(F.concat(F.lit("sb:"), hr.cast("string"))) % 2)
        .alias("arm"))


@query("exp_switchback_analysis", oracle=f"""
    WITH {_HOURS_SQL},
    arms AS (
        SELECT arm,
               CAST(count(*) FILTER (WHERE sec_in_hr >= 900) AS BIGINT)
                   AS n_buf,
               CAST(count(*) FILTER (WHERE sec_in_hr >= 900
                     AND event_type = 'purchase') AS BIGINT) AS c_buf,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS c_all,
               CAST(count(DISTINCT hr) AS BIGINT) AS n_hours
        FROM assigned GROUP BY arm
    )
    SELECT t.n_hours AS n_hours_t, c.n_hours AS n_hours_c,
           t.c_buf * 1000000 // t.n_buf AS rate_t_micro,
           c.c_buf * 1000000 // c.n_buf AS rate_c_micro,
           t.c_buf * 1000000 // t.n_buf
             - c.c_buf * 1000000 // c.n_buf AS diff_micro,
           t.c_all * 1000000 // t.n_all
             - c.c_all * 1000000 // c.n_all AS naive_diff_micro
    FROM (SELECT * FROM arms WHERE arm = 1) t
    CROSS JOIN (SELECT * FROM arms WHERE arm = 0) c
""")
def exp_switchback_analysis(spark, sf_dir):
    """Switchback experiment readout: hours hash-assigned to arms,
    the first 15 minutes of every hour excluded as carryover washout
    (the switchback design's defining move), purchase-rate difference
    reported with AND without the buffer — their gap is the carryover
    bias. One grouped aggregate over the event scan; the arm compare
    is a 2-row cross."""
    a = _assigned(spark, sf_dir)
    arms = (a.groupBy("arm")
            .agg(F.sum(F.when(F.col("sec_in_hr") >= 900, 1).otherwise(0))
                 .cast("bigint").alias("n_buf"),
                 F.sum(F.when((F.col("sec_in_hr") >= 900)
                              & (F.col("event_type") == "purchase"), 1)
                       .otherwise(0)).cast("bigint").alias("c_buf"),
                 F.count("*").alias("n_all"),
                 F.sum(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).cast("bigint").alias("c_all"),
                 F.countDistinct("hr").cast("bigint").alias("n_hours")))
    t = arms.where(F.col("arm") == 1).select(
        *[F.col(c).alias(f"t_{c}") for c in
          ("n_buf", "c_buf", "n_all", "c_all", "n_hours")])
    c = arms.where(F.col("arm") == 0).select(
        *[F.col(x).alias(f"c_{x}") for x in
          ("n_buf", "c_buf", "n_all", "c_all", "n_hours")])
    return t.crossJoin(c).select(
        F.col("t_n_hours").alias("n_hours_t"),
        F.col("c_n_hours").alias("n_hours_c"),
        F.expr("t_c_buf * 1000000 div t_n_buf").alias("rate_t_micro"),
        F.expr("c_c_buf * 1000000 div c_n_buf").alias("rate_c_micro"),
        F.expr("t_c_buf * 1000000 div t_n_buf"
               " - c_c_buf * 1000000 div c_n_buf").alias("diff_micro"),
        F.expr("t_c_all * 1000000 div t_n_all"
               " - c_c_all * 1000000 div c_n_all")
        .alias("naive_diff_micro"))


@query("exp_cluster_randomized", oracle=f"""
    WITH u AS (
        SELECT user_id,
               {h32_sql("'cr:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    per AS (
        SELECT user_id, arm, n, c,
               c * 1000000 // n AS p_micro
        FROM u
    ),
    arms AS MATERIALIZED (
        SELECT arm, count(*) AS n_users,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(sum(c) AS BIGINT) AS conv,
               CAST(sum(c) * 1000000 // sum(n) AS BIGINT) AS rate_micro,
               CAST((count(*) * sum(p_micro * p_micro)
                     - sum(p_micro) * sum(p_micro))
                    // (count(*) * count(*)) AS BIGINT)
                   AS user_var_microsq
        FROM per GROUP BY arm
    )
    SELECT arm, n_users, n_events, conv, rate_micro, user_var_microsq,
           CAST(rate_micro * (1000000 - rate_micro)
                // (n_events // n_users) AS BIGINT)
               AS binom_var_microsq,
           CAST(user_var_microsq * 1000
                // (rate_micro * (1000000 - rate_micro)
                    // (n_events // n_users)) AS BIGINT) AS deff_milli
    FROM arms
""")
def exp_cluster_randomized(spark, sf_dir):
    """Cluster-randomized readout: users hash-assigned to arms,
    outcomes at event grain — per arm the event-weighted rate, the
    POPULATION variance of per-user micro rates (exact integer
    identity), the binomial variance a naive analysis would assume at
    the mean cluster size, and their ratio (empirical design effect,
    milli). deff >> 1000 is the warning that event-level CIs are
    fiction under user clustering. One per-user aggregate, then a
    2-row panel."""
    ev = T(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.count("*").alias("n"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).cast("bigint").alias("c"))
         .select((h32(F.concat(F.lit("cr:"),
                               F.col("user_id").cast("string"))) % 2)
                 .alias("arm"),
                 "n", "c",
                 F.expr("c * 1000000 div n").alias("p_micro")))
    arms = (u.groupBy("arm")
            .agg(F.count("*").alias("n_users"),
                 F.sum("n").cast("bigint").alias("n_events"),
                 F.sum("c").cast("bigint").alias("conv"),
                 F.expr("sum(c) * 1000000 div sum(n)")
                 .cast("bigint").alias("rate_micro"),
                 F.expr("(count(*) * sum(p_micro * p_micro)"
                        " - sum(p_micro) * sum(p_micro))"
                        " div (count(*) * count(*))")
                 .cast("bigint").alias("user_var_microsq")))
    binom = ("rate_micro * (1000000 - rate_micro)"
             " div (n_events div n_users)")
    return arms.select(
        "arm", "n_users", "n_events", "conv", "rate_micro",
        "user_var_microsq",
        F.expr(binom).cast("bigint").alias("binom_var_microsq"),
        F.expr(f"user_var_microsq * 1000 div ({binom})")
        .cast("bigint").alias("deff_milli"))


@query("exp_sequential_obf", oracle=f"""
    WITH {_HOURS_SQL},
    hrs AS MATERIALIZED (
        SELECT hr, arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS c,
               row_number() OVER (ORDER BY hr) AS rk,
               count(*) OVER () AS nh
        FROM assigned GROUP BY hr, arm
    ),
    looks AS (SELECT unnest([1, 2, 3, 4, 5]) AS look),
    cum AS MATERIALIZED (
        SELECT l.look,
               CAST(sum(CASE WHEN h.arm = 1 THEN h.n ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(sum(CASE WHEN h.arm = 1 THEN h.c ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(sum(CASE WHEN h.arm = 0 THEN h.n ELSE 0 END)
                    AS BIGINT) AS n2,
               CAST(sum(CASE WHEN h.arm = 0 THEN h.c ELSE 0 END)
                    AS BIGINT) AS c2
        FROM looks l JOIN hrs h ON h.rk * 5 <= h.nh * l.look
        GROUP BY l.look
    ),
    z AS (
        SELECT look, n1, c1, n2, c2,
               c1 * 1000000 // n1 - c2 * 1000000 // n2 AS d_micro,
               (c1 + c2) * 1000000 // (n1 + n2) AS pm,
               n1 * n2 // (n1 + n2) AS neff
        FROM cum
    )
    SELECT look, n1, c1, n2, c2,
           CAST(d_micro * d_micro * 1000
                // (pm * (1000000 - pm) // neff) AS BIGINT)
               AS z2_milli,
           CAST(CASE look WHEN 1 THEN {_OBF_Z2_MILLI[0]}
                WHEN 2 THEN {_OBF_Z2_MILLI[1]}
                WHEN 3 THEN {_OBF_Z2_MILLI[2]}
                WHEN 4 THEN {_OBF_Z2_MILLI[3]}
                ELSE {_OBF_Z2_MILLI[4]} END AS BIGINT) AS bound2_milli,
           CASE WHEN d_micro * d_micro * 1000
                     // (pm * (1000000 - pm) // neff)
                  > CASE look WHEN 1 THEN {_OBF_Z2_MILLI[0]}
                    WHEN 2 THEN {_OBF_Z2_MILLI[1]}
                    WHEN 3 THEN {_OBF_Z2_MILLI[2]}
                    WHEN 4 THEN {_OBF_Z2_MILLI[3]}
                    ELSE {_OBF_Z2_MILLI[4]} END
                THEN 1 ELSE 0 END AS crossed
    FROM z
""")
def exp_sequential_obf(spark, sf_dir):
    """Group-sequential monitoring: the switchback arms examined at 5
    equally spaced information fractions (hour-rank cutoffs), the
    two-proportion z^2 built from micro-rounded rates (pinned
    integer division order — working in z^2 removes the pack's only
    sqrt), each look compared against its O'Brien-Fleming boundary
    (z^2 in millis, precomputed literals — the early looks demand
    ~4.9 sigma, the final ~2.03). Bounded hour panel end to end."""
    a = _assigned(spark, sf_dir)
    hrs = (a.groupBy("hr", "arm")
           .agg(F.count("*").alias("n"),
                F.sum(F.when(F.col("event_type") == "purchase", 1)
                      .otherwise(0)).cast("bigint").alias("c")))
    from pyspark.sql import Window
    wr = Window.orderBy("hr")
    nh = hrs.count()
    hrs = (hrs.withColumn("rk", F.row_number().over(wr))
           .transform(physical.cut))
    looks = spark.range(1, 6).select(F.col("id").cast("int")
                                     .alias("look"))
    cum = (looks.join(hrs, hrs["rk"] * 5 <= F.lit(nh) * F.col("look"))
           .groupBy("look")
           .agg(F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
                .cast("bigint").alias("n1"),
                F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0))
                .cast("bigint").alias("c1"),
                F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
                .cast("bigint").alias("n2"),
                F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0))
                .cast("bigint").alias("c2")))
    z = cum.select(
        "look", "n1", "c1", "n2", "c2",
        F.expr("c1 * 1000000 div n1 - c2 * 1000000 div n2")
        .alias("d_micro"),
        F.expr("(c1 + c2) * 1000000 div (n1 + n2)").alias("pm"),
        F.expr("n1 * n2 div (n1 + n2)").alias("neff"))
    bound = ("CASE look WHEN 1 THEN {0} WHEN 2 THEN {1} WHEN 3 THEN {2}"
             " WHEN 4 THEN {3} ELSE {4} END"
             .format(*_OBF_Z2_MILLI))
    z2 = ("d_micro * d_micro * 1000"
          " div (pm * (1000000 - pm) div neff)")
    return z.select(
        "look", "n1", "c1", "n2", "c2",
        F.expr(z2).cast("bigint").alias("z2_milli"),
        F.expr(bound).cast("bigint").alias("bound2_milli"),
        F.expr(f"CASE WHEN {z2} > {bound} THEN 1 ELSE 0 END")
        .alias("crossed"))
