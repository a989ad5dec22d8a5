"""Temporal-pattern / keyness pack (round 5, batch 52): circular
statistics with the Rayleigh uniformity test, log-likelihood keyness,
the turning-point randomness test, and a day-of-week x hour activity
profile. The reference engine (294 LoC of Rust delegating to SQLite,
reference src/main.rs) has none of this surface; these are Tier-C
mission operators:

- Circular mean + Rayleigh test (Rayleigh 1880; Mardia 1972):
  time-of-day is an ANGLE — averaging 23:00 and 01:00 as numbers
  gives noon; the circular mean gives midnight. R close to 1 means
  activity concentrates at one clock time; the Rayleigh p tests
  uniformity around the circle.
- Keyness (Dunning 1993): per-word signed log-likelihood G^2 between
  one source and the rest of the corpus — WHICH words make src0
  different (text_kl_matrix aggregates the difference; keyness
  attributes it).
- Turning-point test (Kendall 1976): local extrema count vs the
  2(n-2)/3 i.i.d. expectation — the quickest randomness check on any
  ordered series.
- DOW x hour profile: the 7 x 24 activity grid with lift vs uniform
  — the load-shape table every capacity plan starts from.

Determinism contract (SURVEY §4.3): trig components and per-word G^2
terms snap to 1e6 fixed-point before unordered sums; turning points
and grid cells are exact integers off pinned-order comparisons; the
Rayleigh p exponentiates an exact-backed statistic; top-k selections
order by snapped scores with lexical tie-breaks."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql

_TWO_PI = "6.283185307179586"


# ------------------------------------- circular mean + Rayleigh test

@query("stats_circular_rayleigh", oracle=f"""
    WITH ang AS (
        SELECT {_TWO_PI}
               * (CAST(floor(epoch(ts)) AS BIGINT) % 86400)
               / 86400.0 AS th
        FROM events WHERE event_type = 'purchase'
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {units_sum_sql('cos(th)', 1e6)} AS c_u,
               {units_sum_sql('sin(th)', 1e6)} AS s_u
        FROM ang
    ),
    rr AS (
        SELECT n,
               round(sqrt(CAST(c_u AS DOUBLE) * c_u
                          + CAST(s_u AS DOUBLE) * s_u)
                     / (n * 1e6), 6) AS r_bar,
               round((atan2(CAST(s_u AS DOUBLE), CAST(c_u AS DOUBLE))
                      + CASE WHEN atan2(CAST(s_u AS DOUBLE),
                                        CAST(c_u AS DOUBLE)) < 0
                             THEN {_TWO_PI} ELSE 0 END)
                     / {_TWO_PI} * 24.0, 4) AS mean_hour
        FROM st
    )
    SELECT n, mean_hour, r_bar,
           round(exp(-CAST(n AS DOUBLE) * r_bar * r_bar), 8)
               AS rayleigh_p
    FROM rr
""")
def stats_circular_rayleigh(spark, sf_dir):
    """Circular time-of-day statistics for purchase events: the
    circular mean hour (atan2 of the resultant vector — 23:00 and
    01:00 average to midnight, not noon), the resultant length
    R-bar in [0, 1] (concentration around the clock), and the
    Rayleigh uniformity p ~ exp(-n R^2) (Mardia 1972) — is purchase
    timing uniform around the day or does it peak? The operator any
    "what hour do users buy" dashboard needs and linear statistics
    get WRONG at the midnight wrap.

    Seconds-of-day come from floor(epoch) mod 86400 (engine-aligned);
    each cos/sin component snaps to 1e6 before the unordered sums
    (exact BIGINT aggregates; libm trig wiggle absorbed); R-bar and
    the mean direction are fixed expressions of the two exact
    integers; atan2's branch is folded to [0, 2pi) identically on
    both engines.

    Scale shape: ONE filtered aggregate — two integers out."""
    ang = (T(spark, sf_dir, "events")
           .filter(F.col("event_type") == "purchase")
           .select((F.lit(float(_TWO_PI))
                    * F.pmod(F.unix_timestamp("ts"), 86400) / 86400.0)
                   .alias("th")))
    st = ang.agg(
        F.count("*").alias("n"),
        units_sum(F.cos(F.col("th")), 1e6)
        .alias("c_u"),
        units_sum(F.sin(F.col("th")), 1e6)
        .alias("s_u"))
    at = F.atan2(F.col("s_u").cast("double"), F.col("c_u").cast("double"))
    two_pi = float(_TWO_PI)
    rr = st.select(
        "n",
        F.round(F.sqrt(F.col("c_u").cast("double") * F.col("c_u")
                       + F.col("s_u").cast("double") * F.col("s_u"))
                / (F.col("n") * 1e6), 6).alias("r_bar"),
        F.round((at + F.when(at < 0, two_pi).otherwise(0.0))
                / two_pi * 24.0, 4).alias("mean_hour"))
    return rr.select(
        "n", "mean_hour", "r_bar",
        F.round(F.exp(-F.col("n").cast("double")
                      * F.col("r_bar") * F.col("r_bar")), 8)
        .alias("rayleigh_p"))


# ------------------------------------------------ LLR keyness table

@query("text_keyness_llr", oracle="""
    WITH tok AS (
        SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS tgt,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    cells AS (
        SELECT w,
               CAST(sum(tgt) AS BIGINT) AS a,
               CAST(sum(1 - tgt) AS BIGINT) AS b
        FROM tok GROUP BY w
    ),
    tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS ta,
               CAST(sum(b) AS BIGINT) AS tb
        FROM cells
    ),
    scored AS (
        SELECT w, a, b,
               CAST(round(2.0 * (
                   CASE WHEN a > 0 THEN
                       a * ln(CAST(a AS DOUBLE) * (ta + tb)
                              / (CAST(a + b AS DOUBLE) * ta))
                   ELSE 0 END
                   + CASE WHEN b > 0 THEN
                       b * ln(CAST(b AS DOUBLE) * (ta + tb)
                              / (CAST(a + b AS DOUBLE) * tb))
                   ELSE 0 END) * 1e6) AS BIGINT) AS g2_u,
               CASE WHEN CAST(a AS DOUBLE) * tb
                         > CAST(b AS DOUBLE) * ta
                    THEN 1 ELSE -1 END AS direction
        FROM cells, tot
    )
    SELECT w AS word, a AS n_target, b AS n_rest,
           round(direction * g2_u / 1e6, 6) AS signed_g2
    FROM scored
    ORDER BY g2_u DESC, w ASC LIMIT 10
""")
def text_keyness_llr(spark, sf_dir):
    """Log-likelihood keyness table (Dunning 1993): the 10 words whose
    usage rate most distinguishes source src0 from the rest of the
    corpus, scored by the 2x2 G^2 (word-in-target vs word-in-rest
    against the pooled expectation) and SIGNED by direction (+
    over-represented in src0, - under-represented). This is the
    per-word attribution the aggregate divergence keys
    (text_kl_matrix, text_rank_turbulence) cannot give — the corpus
    linguist's first table after "these two corpora differ".

    Cell counts and margins are exact integers; each word's G^2
    snaps to 1e6 (zero cells contribute their exact 0 limit); the
    top-10 orders by the SNAPPED integer score with a lexical
    tie-break — no float enters the ordering.

    Scale shape: explode + one word aggregate + TakeOrdered(10) on
    the snapped score."""
    tok = (T(spark, sf_dir, "documents")
           .select(F.when(F.col("source") == "src0", 1).otherwise(0)
                   .alias("tgt"),
                   F.explode(F.split(F.col("text"), " ")).alias("w")))
    cells = tok.groupBy("w").agg(
        F.sum("tgt").alias("a"),
        F.sum(1 - F.col("tgt")).alias("b"))
    tot = cells.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    j = cells.crossJoin(F.broadcast(tot))
    term_a = F.when(F.col("a") > 0,
                    F.col("a") * F.log(
                        F.col("a").cast("double")
                        * (F.col("ta") + F.col("tb"))
                        / ((F.col("a") + F.col("b")).cast("double")
                           * F.col("ta")))).otherwise(0.0)
    term_b = F.when(F.col("b") > 0,
                    F.col("b") * F.log(
                        F.col("b").cast("double")
                        * (F.col("ta") + F.col("tb"))
                        / ((F.col("a") + F.col("b")).cast("double")
                           * F.col("tb")))).otherwise(0.0)
    scored = j.select(
        "w", "a", "b",
        F.round(2.0 * (term_a + term_b) * 1e6).cast("bigint")
        .alias("g2_u"),
        F.when(F.col("a").cast("double") * F.col("tb")
               > F.col("b").cast("double") * F.col("ta"), 1)
        .otherwise(-1).alias("direction"))
    return (scored.orderBy(F.col("g2_u").desc(), F.col("w").asc())
            .limit(10)
            .select(F.col("w").alias("word"),
                    F.col("a").alias("n_target"),
                    F.col("b").alias("n_rest"),
                    F.round(F.col("direction") * F.col("g2_u") / 1e6, 6)
                    .alias("signed_g2")))


# --------------------------------------------- turning-point test

@query("ts_turning_points", oracle=f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               {units_sum_sql('o_totalprice', 100)} AS y
        FROM orders GROUP BY 1
    ),
    tp AS (
        SELECT CASE WHEN (y > lag(y) OVER (ORDER BY d)
                          AND y > lead(y) OVER (ORDER BY d))
                      OR (y < lag(y) OVER (ORDER BY d)
                          AND y < lead(y) OVER (ORDER BY d))
                    THEN 1 ELSE 0 END AS is_tp
        FROM day
    ),
    raw AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM day) AS n,
               (SELECT CAST(sum(is_tp) AS BIGINT) FROM tp) AS t
    )
    SELECT n, t AS n_turning_points,
           round(2.0 * (n - 2) / 3.0, 4) AS expected_tp,
           round((t - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0), 5) AS z
    FROM raw
""")
def ts_turning_points(spark, sf_dir):
    """Turning-point randomness test on the daily revenue series
    (Kendall 1976): count local maxima + minima; under i.i.d. the
    expectation is 2(n-2)/3 with variance (16n-29)/90, so the z
    score flags EITHER too few turns (trend/persistence — the series
    glides) or too many (negative autocorrelation — it zigzags). The
    five-minute randomness triage before any of the heavier
    diagnostics (ts_ljung_box, stats_runs_test on signs) runs.

    Turning points are exact integer comparisons on the pinned
    day-ordered lag/lead pair (cent-exact values — strict
    inequalities, so ties produce no turn on either engine); the z
    is a fixed expression of (n, t).

    Scale shape: day-spine collapse + one lag/lead window + a 1-row
    reduce."""
    day = (T(spark, sf_dir, "orders")
           .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("y")))
    w = Window.orderBy("d")
    tp = day.select(
        F.when((F.col("y") > F.lag("y").over(w))
               & (F.col("y") > F.lead("y").over(w)), 1)
        .when((F.col("y") < F.lag("y").over(w))
              & (F.col("y") < F.lead("y").over(w)), 1)
        .otherwise(0).alias("is_tp"))
    raw = (day.agg(F.count("*").alias("n"))
           .crossJoin(F.broadcast(tp.agg(F.sum("is_tp").alias("t")))))
    nn = F.col("n").cast("double")
    return raw.select(
        "n", F.col("t").alias("n_turning_points"),
        F.round(2.0 * (nn - 2) / 3.0, 4).alias("expected_tp"),
        F.round((F.col("t") - 2.0 * (nn - 2) / 3.0)
                / F.sqrt((16.0 * nn - 29.0) / 90.0), 5).alias("z"))


# -------------------------------------------- DOW x hour profile

@query("events_dow_hour_profile", oracle="""
    WITH cells AS (
        SELECT CAST(((date_diff('day', DATE '1995-01-02',
                                CAST(ts AS DATE)) % 7) + 7) % 7
                    AS INTEGER) AS dow,
               CAST(hour(ts) AS INTEGER) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_cells
            FROM cells)
    SELECT dow, hr, n,
           round(CAST(n AS DOUBLE) / total, 8) AS share,
           round(CAST(n AS DOUBLE) * n_cells / total, 4) AS lift
    FROM cells, tot
    ORDER BY dow, hr
""")
def events_dow_hour_profile(spark, sf_dir):
    """Day-of-week x hour activity grid with lift vs uniform: the
    168-cell load-shape table every capacity plan, rate limiter, and
    maintenance-window decision starts from; lift = cell share /
    uniform share, so lift 2.0 reads "this hour runs double the
    average load". Weekday uses the repo's pmod days-since-Monday
    rule (engine-proof).

    Counts are exact; share and lift are exact-integer ratios
    rounded once; the grid is bounded at 7 x 24 regardless of
    corpus size (missing cells mean literally zero events and are
    absent on both engines identically).

    Scale shape: ONE (dow, hour) aggregate — map-side combined to
    168 cells."""
    cells = (T(spark, sf_dir, "events")
             .groupBy(F.pmod(F.datediff(F.col("ts").cast("date"),
                                        F.lit("1995-01-02")
                                        .cast("date")), 7)
                      .cast("int").alias("dow"),
                      F.hour("ts").cast("int").alias("hr"))
             .agg(F.count("*").alias("n")))
    tot = cells.agg(F.sum("n").alias("total"),
                    F.count("*").alias("n_cells"))
    return (cells.crossJoin(F.broadcast(tot))
            .select("dow", "hr", "n",
                    F.round(F.col("n").cast("double") / F.col("total"),
                            8).alias("share"),
                    F.round(F.col("n").cast("double")
                            * F.col("n_cells") / F.col("total"), 4)
                    .alias("lift"))
            .orderBy("dow", "hr"))
