"""Sampling-eval & operations pack (round 5, batch 25): the pass@k
estimator, count-data overdispersion with a negative-binomial fit,
multi-window SLO burn-rate alerting, and Bradley-Terry strength
ratings. The reference engine (294 LoC of Rust delegating to SQLite,
reference src/main.rs) has none of this surface; these are Tier-C
mission operators:

- pass@k (Chen et al. 2021, the Codex estimator) is THE metric of
  sampled code/agent evaluation: given n samples per task with c
  successes, the unbiased probability that at least one of k drawn
  samples succeeds, 1 - C(n-c,k)/C(n,k).
- The overdispersion panel decides whether per-user event counts are
  Poisson-like or need a negative binomial — the first question of
  any count model, answered from two power sums.
- SLO burn-rate alerting (the Google SRE workbook's multi-window
  rule) pages only when BOTH a fast and a slow window burn budget —
  the standard way to be alert-fast without being flappy.
- Bradley-Terry (1952) turns pairwise wins into strengths via
  Hunter's (2004) MM iteration — the model behind chatbot-arena-style
  rankings, here unrolled 3 synchronous rounds.

Determinism contract (SURVEY §4.3): pass@k's falling-factorial
ratios are exact BIGINT products (n capped at 50 keeps them under
2^63); dispersion moments are integer power sums; burn rates are
integer-count ratios per calendar cell; BT strengths live in integer
micro-units snapped every round.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql


def _falling(var: str, k: int) -> str:
    """SQL text for the k-term falling factorial var*(var-1)*...*
    (var-k+1) — shared verbatim by the Spark expr and the DuckDB
    oracle so the arithmetic is identical by construction."""
    return " * ".join(f"({var} - {i})" for i in range(k))


_PASS_KS = (1, 5, 10)
_PASS_ARMS_SQL = "\n        UNION ALL\n".join(f"""
        SELECT {k} AS k, CAST(count(*) AS BIGINT) AS n_tasks,
               round({units_sum_sql(
                   f"CASE WHEN n - c < {k} THEN 1.0"
                   f" ELSE 1.0 - ({_falling('n - c', k)}) * 1.0"
                   f" / ({_falling('n', k)}) END", 1e6)}
                     / (1e6 * count(*)), 6)
                   AS mean_pass
        FROM tasks WHERE n >= {k}""" for k in _PASS_KS)


@query("eval_pass_at_k", oracle=f"""
    WITH capped AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    tasks AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS c
        FROM capped WHERE rn <= 50 GROUP BY user_id
    )
    SELECT k, n_tasks, mean_pass FROM ({_PASS_ARMS_SQL})
    ORDER BY k
""")
def eval_pass_at_k(spark, sf_dir):
    """pass@k (Chen et al. 2021, eq. 1): for each task with n samples
    and c successes, the unbiased estimate of P(>=1 success in k
    draws) = 1 - C(n-c, k)/C(n, k), averaged over tasks, for
    k in (1, 5, 10).

    Tasks = users; samples = their first <= 50 events (deterministic
    (ts, event_id) order — the cap is the published protocol's n and
    keeps the falling factorials exact: 50^10 < 2^63); success =
    'purchase'. The binomial ratio is computed as the k-term
    falling-factorial quotient — exact BIGINT products, one float
    division per task — from SQL text SHARED verbatim between engines
    (`_falling`), and per-task values snap to micro-units before the
    mean (SURVEY §4.3). Tasks with n < k are excluded (n_tasks shows
    the denominator); n - c < k means all-failure draws are
    impossible, so pass@k = 1 exactly.

    Scale shape: one per-user window (partitioned, bounded 50 rows
    kept) + one groupBy(user) + three aggregate arms over the
    #tasks-row table."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type",
                                           "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tasks = (ev.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 50)
             .groupBy("user_id")
             .agg(F.count("*").alias("n"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("c")))
    arms = []
    for k in _PASS_KS:
        pass_expr = F.expr(f"""
            CASE WHEN n - c < {k} THEN 1.0
                 ELSE 1.0 - ({_falling('n - c', k)}) * 1.0
                      / ({_falling('n', k)}) END""")
        arms.append(
            tasks.filter(F.col("n") >= k)
            .agg(F.count("*").alias("n_tasks"),
                 F.round(units_sum(pass_expr, 1e6)
                         / (1e6 * F.count("*")), 6).alias("mean_pass"))
            .select(F.lit(k).alias("k"), "n_tasks", "mean_pass"))
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out.orderBy("k")


# -------------------------------- overdispersion / negative binomial

@query("stats_overdispersion", oracle="""
    WITH u AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS g,
               CAST(sum(n) AS BIGINT) AS s1,
               CAST(sum(n * n) AS BIGINT) AS s2
        FROM u
    ),
    mv AS (
        SELECT g,
               round(s1 * 1.0 / g, 6) AS mean_n,
               round((s2 - s1 * 1.0 / g * s1) / (g - 1), 6) AS var_n
        FROM s
    )
    SELECT g AS n_users, mean_n, var_n,
           round(var_n / mean_n, 6) AS dispersion_index,
           round((g - 1) * var_n / mean_n, 4) AS poisson_chi2,
           CASE WHEN var_n > mean_n
                THEN round(mean_n * mean_n / (var_n - mean_n), 6) END
               AS nb_r,
           CASE WHEN var_n > mean_n
                THEN round(mean_n / var_n, 6) END AS nb_p
    FROM mv
""")
def stats_overdispersion(spark, sf_dir):
    """Count-data overdispersion panel for per-user event counts:
    the index of dispersion var/mean (1 under Poisson), the Poisson
    dispersion test statistic (g-1)*s^2/xbar (~ chi2_{g-1} under the
    null — Fisher 1950), and the method-of-moments negative-binomial
    fit r = m^2/(v - m), p = m/v (defined only when overdispersed,
    hence the NULL guard).

    The modeling question this answers at 100 TB: can per-entity
    activity be treated as Poisson (one rate) or does heterogeneity
    require the NB's gamma-mixed rate? Mean and variance come from
    exact BIGINT power sums over the per-user count table; both are
    snapped before every derived statistic reads them (SURVEY §4.3).

    Scale shape: one groupBy(user) count + one 3-integer reduce."""
    u = (T(spark, sf_dir, "events").select("user_id")
         .groupBy("user_id").agg(F.count("*").alias("n")))
    s = u.agg(F.count("*").alias("g"),
              F.sum("n").alias("s1"),
              F.sum(F.col("n") * F.col("n")).alias("s2"))
    mv = s.select(
        "g",
        F.round(F.col("s1") * 1.0 / F.col("g"), 6).alias("mean_n"),
        F.round((F.col("s2") - F.col("s1") * 1.0 / F.col("g")
                 * F.col("s1")) / (F.col("g") - 1), 6).alias("var_n"))
    over = F.col("var_n") > F.col("mean_n")
    return mv.select(
        F.col("g").alias("n_users"), "mean_n", "var_n",
        F.round(F.col("var_n") / F.col("mean_n"), 6)
         .alias("dispersion_index"),
        F.round((F.col("g") - 1) * F.col("var_n") / F.col("mean_n"), 4)
         .alias("poisson_chi2"),
        F.when(over, F.round(F.col("mean_n") * F.col("mean_n")
                             / (F.col("var_n") - F.col("mean_n")), 6))
         .alias("nb_r"),
        F.when(over, F.round(F.col("mean_n") / F.col("var_n"), 6))
         .alias("nb_p"))


# ------------------------------------- multi-window SLO burn alerting

@query("ops_slo_burn", oracle="""
    WITH hourly AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                        END) AS BIGINT) AS e
        FROM events GROUP BY 1
    ),
    win AS (
        SELECT h, n, e,
               CAST(sum(n) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS n6,
               CAST(sum(e) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS e6
        FROM hourly
    ),
    rated AS (
        SELECT h, n, e,
               round(e * 1.0 / n, 6) AS rate_1h,
               round(e6 * 1.0 / n6, 6) AS rate_6h,
               round(e * 1.0 / n / 0.25, 4) AS burn_1h,
               round(e6 * 1.0 / n6 / 0.25, 4) AS burn_6h
        FROM win
    )
    SELECT h AS hour_epoch, n, e, rate_1h, rate_6h, burn_1h, burn_6h,
           burn_1h > 1.0 AND burn_6h > 1.0 AS page
    FROM rated
    ORDER BY hour_epoch
""")
def ops_slo_burn(spark, sf_dir):
    """Multi-window SLO burn-rate alerting (Google SRE workbook ch. 5):
    page only when BOTH the fast window (1 h) and the slow window
    (trailing 6 calendar hours) burn the error budget faster than
    allowed — fast-only pages are flappy, slow-only pages are late.
    Budget: error-rate SLO of 25% (this synthetic stream runs ~20%
    errors); burn = rate / SLO, page when both burns exceed 1.

    The trailing window is a RANGE frame over the integer hour index
    (floor(epoch)/3600 — the floor BEFORE dividing is the documented
    DuckDB-epoch/Spark-unix_timestamp parity rule), so calendar gaps
    are handled correctly: a missing hour shrinks the 6-hour mass
    instead of silently stretching the window. All rates are exact
    integer-count ratios snapped per cell (SURVEY §4.3).

    Scale shape: the fact collapses once to the hourly spine (one
    map-side-combinable aggregate, rows bounded by the calendar); the
    two windows ride ONE ordered pass over that bounded table."""
    ev = T(spark, sf_dir, "events").select("ts", "event_type")
    hourly = (ev.groupBy((F.floor(F.unix_timestamp("ts") / 3600))
                         .cast("bigint").alias("h"))
              .agg(F.count("*").alias("n"),
                   F.sum(F.when(F.col("event_type") == "error", 1)
                         .otherwise(0)).alias("e")))
    w6 = Window.orderBy("h").rangeBetween(-5, 0)
    win = hourly.select(
        "h", "n", "e",
        F.sum("n").over(w6).alias("n6"),
        F.sum("e").over(w6).alias("e6"))
    rate1 = F.col("e") * 1.0 / F.col("n")
    rate6 = F.col("e6") * 1.0 / F.col("n6")
    rated = win.select(
        "h", "n", "e",
        F.round(rate1, 6).alias("rate_1h"),
        F.round(rate6, 6).alias("rate_6h"),
        F.round(rate1 / 0.25, 4).alias("burn_1h"),
        F.round(rate6 / 0.25, 4).alias("burn_6h"))
    return (rated.select(
        F.col("h").alias("hour_epoch"), "n", "e",
        "rate_1h", "rate_6h", "burn_1h", "burn_6h",
        ((F.col("burn_1h") > 1.0) & (F.col("burn_6h") > 1.0))
        .alias("page"))
        .orderBy("hour_epoch"))


# --------------------------------------- Bradley-Terry via MM rounds

@query("stats_bradley_terry", oracle=f"""
    WITH cell AS (
        SELECT date_trunc('day', ts) AS d, event_type AS item,
               CAST(round({units_sum_sql('value', 100)} * 10.0
                          / count(*)) AS BIGINT) AS mm
        FROM events GROUP BY 1, 2
    ),
    duels AS (
        SELECT a.item AS i, b.item AS j,
               CAST(sum(CASE WHEN a.mm > b.mm THEN 1 ELSE 0 END)
                    AS BIGINT) AS w
        FROM cell a JOIN cell b
          ON a.d = b.d AND a.item <> b.item
        GROUP BY a.item, b.item
    ),
    nmat AS (
        SELECT i, j, d1.w + d2.w AS n_ij
        FROM duels d1
        JOIN (SELECT i AS j2, j AS i2, w FROM duels) d2
          ON d2.i2 = d1.i AND d2.j2 = d1.j
    ),
    wins AS (SELECT i, CAST(sum(w) AS BIGINT) AS wi FROM duels GROUP BY i),
    p0 AS (SELECT item, CAST(1000000 AS BIGINT) AS p
           FROM (SELECT DISTINCT item FROM cell)),
    r1 AS (
        SELECT w.i AS item,
               CAST(round(w.wi * 1e6
                          / ({units_sum_sql('n.n_ij * 1e12 / (pi.p + pj.p)')}
                             / 1e12)) AS BIGINT) AS p
        FROM wins w
        JOIN nmat n ON n.i = w.i
        JOIN p0 pi ON pi.item = n.i
        JOIN p0 pj ON pj.item = n.j
        GROUP BY w.i, w.wi
    ),
    r1n AS (
        SELECT item, p * 1000000 // (SELECT max(p) FROM r1) AS p FROM r1
    ),
    r2 AS (
        SELECT w.i AS item,
               CAST(round(w.wi * 1e6
                          / ({units_sum_sql('n.n_ij * 1e12 / (pi.p + pj.p)')}
                             / 1e12)) AS BIGINT) AS p
        FROM wins w
        JOIN nmat n ON n.i = w.i
        JOIN r1n pi ON pi.item = n.i
        JOIN r1n pj ON pj.item = n.j
        GROUP BY w.i, w.wi
    ),
    r2n AS (
        SELECT item, p * 1000000 // (SELECT max(p) FROM r2) AS p FROM r2
    ),
    r3 AS (
        SELECT w.i AS item,
               CAST(round(w.wi * 1e6
                          / ({units_sum_sql('n.n_ij * 1e12 / (pi.p + pj.p)')}
                             / 1e12)) AS BIGINT) AS p
        FROM wins w
        JOIN nmat n ON n.i = w.i
        JOIN r2n pi ON pi.item = n.i
        JOIN r2n pj ON pj.item = n.j
        GROUP BY w.i, w.wi
    ),
    r3n AS (
        SELECT item, p * 1000000 // (SELECT max(p) FROM r3) AS p FROM r3
    )
    SELECT r3n.item, wins.wi AS total_wins, r3n.p AS strength_micro,
           CAST(row_number() OVER (ORDER BY r3n.p DESC, r3n.item)
                AS BIGINT) AS rank
    FROM r3n JOIN wins ON wins.i = r3n.item
    ORDER BY rank
""")
def stats_bradley_terry(spark, sf_dir):
    """Bradley-Terry pairwise-strength model (Bradley & Terry 1952)
    fit with 3 unrolled rounds of Hunter's (2004) MM update
    p_i <- W_i / sum_j n_ij/(p_i + p_j), max-normalized to integer
    micro-units each round — the model behind arena-style rankings,
    here rating the 5 event types by daily-mean-value duels (item a
    beats item b on a day when its tenth-of-cent mean is higher;
    exact-integer comparisons, ties burn no win in either direction).

    Every round reads ONLY the previous round's snapped micro
    strengths, so the fixpoint trajectory is hash-exact across
    engines (the graph_hits/attribution_markov protocol); rounds cut
    lineage with physical.cut (PLANS.md rule).

    Scale shape: the corpus collapses to the (day, item) cell grid
    first; duels aggregate that bounded grid (k^2 pairs); each MM
    round is a k^2-row join against a k-row strength vector — driver
    never sees data, and at 100 TB only the first aggregate scans."""
    ev = T(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.col("event_type").alias("item"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    cell = (ev.groupBy("d", "item")
            .agg(F.round(F.sum("cents") * 10.0 / F.count("*"))
                 .cast("bigint").alias("mm")))
    a = cell.alias("a")
    b = cell.alias("b")
    duels = (a.join(b, (F.col("a.d") == F.col("b.d"))
                    & (F.col("a.item") != F.col("b.item")))
             .groupBy(F.col("a.item").alias("i"),
                      F.col("b.item").alias("j"))
             .agg(F.sum(F.when(F.col("a.mm") > F.col("b.mm"), 1)
                        .otherwise(0)).alias("w"))
             .transform(physical.cut))
    rev = duels.select(F.col("j").alias("i"), F.col("i").alias("j"),
                       F.col("w").alias("w2"))
    nmat = (duels.join(rev, ["i", "j"])
            .select("i", "j", (F.col("w") + F.col("w2")).alias("n_ij"))
            .transform(physical.cut))
    wins = duels.groupBy("i").agg(F.sum("w").alias("wi"))
    items = cell.select("item").distinct()
    p = items.select("item", F.lit(1000000).cast("bigint").alias("p"))

    def mm_round(p):
        pi = p.select(F.col("item").alias("i"), F.col("p").alias("p_i"))
        pj = p.select(F.col("item").alias("j"), F.col("p").alias("p_j"))
        upd = (nmat.join(F.broadcast(pi), "i")
               .join(F.broadcast(pj), "j")
               .groupBy("i")
               # per-term snap to 1e-12 units BEFORE the sum: a 4-term
               # float sum's merge order is not contracted cross-engine
               .agg(units_sum(F.col("n_ij") * 1e12
                              / (F.col("p_i") + F.col("p_j")))
                    .alias("denom_u"))
               .join(wins, "i")
               .select(F.col("i").alias("item"),
                       F.round(F.col("wi") * 1e6
                               / (F.col("denom_u") / 1e12))
                       .cast("bigint").alias("p")))
        mx = upd.agg(F.max("p").alias("mx"))
        return (upd.crossJoin(F.broadcast(mx))
                .select("item", F.expr("p * 1000000 div mx").alias("p"))
                .transform(physical.cut))

    for _ in range(3):
        p = mm_round(p)
    w = Window.orderBy(F.col("strength_micro").desc(), F.col("item"))
    return (p.join(wins.select(F.col("i").alias("item"), "wi"), "item")
            .select("item", F.col("wi").alias("total_wins"),
                    F.col("p").alias("strength_micro"))
            .withColumn("rank",
                        F.row_number().over(w).cast("bigint"))
            .orderBy("rank"))
