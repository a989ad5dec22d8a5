"""Concentration / robust-shape / sketch pack (round 5, batch 56):
Lorenz-curve deciles, b-bit minhash resemblance, the recsys long-tail
share, and Bowley-Moors robust shape measures. The reference engine
(294 LoC of Rust delegating to SQLite, reference src/main.rs) has
none of this surface; these are Tier-C mission operators:

- Lorenz deciles (Lorenz 1905): cumulative income share at each
  population decile — the curve UNDER agg_gini's single number (the
  decile table is what actually gets plotted and what reveals WHERE
  concentration lives).
- b-bit minhash (Li & Konig 2010): keep only the lowest bit of each
  of 64 minhashes; Jaccard comes back from the bit-agreement rate
  via J = 2(p - 1/2) — 1/64th the sketch bytes of classical minhash
  at a quantified variance cost, checked against the exact Jaccard.
- Long-tail share: what fraction of interactions land outside the
  top-10% most popular items — THE catalog-health number (a falling
  tail share means the feedback loop is collapsing onto the head).
- Bowley quartile skewness + Moors octile kurtosis: shape measures
  from pure order statistics — immune to the tails that make moment
  skewness/kurtosis (stats_jarque_bera) explode on heavy-tailed
  telemetry.

Determinism contract (SURVEY §4.3): decile/octile cuts use exact
integer rank thresholds; cumulative shares are exact integer ratios;
minhash argmins take (hash, gram) struct minima — total order, no
ties; bit agreement counts are exact."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import h32, h32_sql, units_sum, units_sum_sql


# ------------------------------------------------ Lorenz deciles

@query("stats_lorenz_deciles", oracle=f"""
    WITH spend AS (
        SELECT {units_sum_sql('o_totalprice', 100)} AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x,
               CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(x) OVER (ORDER BY x
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(sum(x) OVER () AS BIGINT) AS total
        FROM spend
    ),
    qs AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS d10)
    SELECT CAST(qs.d10 AS BIGINT) AS decile,
           round(CAST(max(CASE WHEN ranked.rk
                               = (qs.d10 * ranked.n + 9) // 10
                          THEN ranked.cum END) AS DOUBLE)
                 / max(ranked.total), 6) AS cum_share
    FROM ranked CROSS JOIN qs
    GROUP BY qs.d10
    ORDER BY decile
""")
def stats_lorenz_deciles(spark, sf_dir):
    """Lorenz-curve decile table of customer spend: the cumulative
    share of total spend held by the poorest 10%, 20%, ... 90% of
    customers — the curve whose area deficit IS agg_gini's number,
    tabulated so the concentration is locatable ("the bottom half
    holds 31%" is actionable; a Gini of 0.26 is not). Deciles of
    PEOPLE, shares of MONEY — the two axes every inequality plot
    confuses at least once.

    Ranks are a single ascending pass over per-customer totals (ties
    in exact cents share arbitrary rank order but identical cum sums
    at the decile cut — the cumulative is over x ascending, so equal
    values contribute identically whichever order they take);
    thresholds are the exact integer rank (d*n+9) DIV 10; shares are
    exact integer ratios.

    Scale shape: per-customer collapse + one ordered cumulative pass
    + a 9-row decile spine."""
    spend = (T(spark, sf_dir, "orders")
             .groupBy("o_custkey")
             .agg(units_sum(F.col("o_totalprice"), 100).alias("x"))
             .select("x"))
    w = Window.orderBy("x")
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = spend.select(
        "x",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("x").over(wall).alias("total"))
    qs = spark.range(1, 10).select(F.col("id").cast("int")
                                   .alias("d10"))
    return (ranked.crossJoin(F.broadcast(qs))
            .groupBy("d10")
            .agg(F.round(
                F.max(F.when(F.col("rk")
                             == F.expr("(d10 * n + 9) DIV 10"),
                             F.col("cum"))).cast("double")
                / F.max("total"), 6).alias("cum_share"))
            .select(F.col("d10").cast("bigint").alias("decile"),
                    "cum_share")
            .orderBy("decile"))


# --------------------------------------------- b-bit minhash

_BBIT_K = 64


def _bbit_minhash_sql() -> str:
    return f"""
        SELECT seeds.seed, sets.w, sets.in_a, sets.in_b,
               {h32_sql("CAST(seeds.seed AS VARCHAR) || '#' || sets.w")}
                   AS h
        FROM (
            SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS w,
                   CAST(max(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS in_a,
                   CAST(max(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS in_b
            FROM (
                SELECT doc_id % 2 AS half, string_split(text, ' ') AS t
                FROM documents
                WHERE len(string_split(text, ' ')) >= 3
            ), unnest(range(1, len(t) - 1)) AS u(i)
            GROUP BY 1
        ) sets
        CROSS JOIN (SELECT unnest(range({_BBIT_K})) AS seed) seeds
    """


@query("sketch_bbit_minhash", oracle=f"""
    WITH hashed AS ({_bbit_minhash_sql()}),
    mins AS (
        SELECT seed,
               min(CASE WHEN in_a = 1 THEN h END) % 2 AS bit_a,
               min(CASE WHEN in_b = 1 THEN h END) % 2 AS bit_b
        FROM hashed GROUP BY seed
    ),
    agree AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CASE WHEN bit_a = bit_b THEN 1 ELSE 0 END)
                    AS BIGINT) AS eq
        FROM mins
    ),
    exact AS (
        SELECT CAST(sum(in_a * in_b) AS BIGINT) AS inter,
               CAST(count(*) AS BIGINT) AS uni
        FROM (SELECT DISTINCT w, in_a, in_b FROM hashed
              WHERE seed = 0)
    )
    SELECT k, eq,
           round(2.0 * (CAST(eq AS DOUBLE) / k - 0.5), 6)
               AS jaccard_est_1bit,
           round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard_exact
    FROM agree, exact
""")
def sketch_bbit_minhash(spark, sf_dir):
    """1-bit minhash resemblance between the corpus-half trigram sets
    (Li & Konig 2010): take 64 independent minhashes per set, keep
    ONLY the lowest bit of each, and estimate Jaccard from the
    bit-agreement rate via J-hat = 2(p-hat - 1/2) — the unbiased
    inversion of P(bits agree) = J + (1-J)/2 under random parity.
    The sketch is 64 BITS per set where classical 64-hash minhash is
    64 longs: the storage/variance trade that makes web-scale
    all-pairs dedup candidate scoring affordable, audited here
    against the exact Jaccard (sketch_kmv_jaccard is the exact-hash
    sibling; RMSE at k=64 and J~0.5 is ~2/sqrt(64) ~ 0.125 —
    expected slack, not a bug).

    Per-seed minima are exact integer h32 argmins (seed-prefixed
    inputs — 64 independent hash functions); parity bits and
    agreement counts are exact integers; both estimates round once.

    Scale shape: one gram aggregate + a 64-seed explode + one
    (seed) min-aggregate — the sketch never exceeds k rows."""
    sets = (T(spark, sf_dir, "documents")
            .select(F.pmod(F.col("doc_id"), 2).alias("half"),
                    F.split(F.col("text"), " ").alias("t"))
            .filter(F.size("t") >= 3)
            .select("half", F.explode(F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"))
                .alias("w"))
            .groupBy("w")
            .agg(F.max(F.when(F.col("half") == 0, 1).otherwise(0))
                 .alias("in_a"),
                 F.max(F.when(F.col("half") == 1, 1).otherwise(0))
                 .alias("in_b")))
    seeds = spark.range(_BBIT_K).select(F.col("id").alias("seed"))
    hashed = (sets.crossJoin(F.broadcast(seeds))
              .select("seed", "in_a", "in_b",
                      h32(F.concat_ws("#",
                                      F.col("seed").cast("string"),
                                      F.col("w"))).alias("h")))
    mins = hashed.groupBy("seed").agg(
        F.pmod(F.min(F.when(F.col("in_a") == 1, F.col("h"))), 2)
        .alias("bit_a"),
        F.pmod(F.min(F.when(F.col("in_b") == 1, F.col("h"))), 2)
        .alias("bit_b"))
    agree = mins.agg(
        F.count("*").alias("k"),
        F.sum(F.when(F.col("bit_a") == F.col("bit_b"), 1).otherwise(0))
        .alias("eq"))
    exact = sets.agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("inter"),
        F.count("*").alias("uni"))
    return (agree.crossJoin(F.broadcast(exact))
            .select("k", "eq",
                    F.round(2.0 * (F.col("eq").cast("double")
                                   / F.col("k") - 0.5), 6)
                    .alias("jaccard_est_1bit"),
                    F.round(F.col("inter").cast("double")
                            / F.col("uni"), 6).alias("jaccard_exact")))


# ------------------------------------------------ long-tail share

@query("recsys_long_tail_share", oracle="""
    WITH pop AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1
    ),
    ranked AS (
        SELECT c,
               CAST(row_number() OVER (ORDER BY c DESC, l_partkey)
                    AS BIGINT) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS n_items,
               CAST(sum(c) OVER () AS BIGINT) AS total
        FROM pop
    )
    SELECT max(n_items) AS n_items,
           max(n_items) // 10 AS n_head,
           round(CAST(sum(CASE WHEN rk > n_items // 10 THEN c
                          ELSE 0 END) AS DOUBLE) / max(total), 6)
               AS tail_share,
           round(CAST(sum(CASE WHEN rk <= n_items // 10 THEN c
                          ELSE 0 END) AS DOUBLE) / max(total), 6)
               AS head_share
    FROM ranked
""")
def recsys_long_tail_share(spark, sf_dir):
    """Long-tail interaction share: the fraction of all lineitem
    interactions landing OUTSIDE the top-10% most popular parts — the
    catalog-health number every recommender deployment must watch
    (each retraining round that shifts share from tail to head is
    the popularity feedback loop tightening; pairs with
    recsys_catalog_coverage's what-we-recommend view by measuring
    what users actually DO).

    Popularity ranks are unique by (count DESC, partkey); the head
    cut is the exact integer n/10; shares are exact conditional-sum
    ratios over one ranked pass.

    Scale shape: one popularity aggregate + one rank pass + a 1-row
    reduce."""
    pop = (T(spark, sf_dir, "lineitem")
           .groupBy("l_partkey").agg(F.count("*").alias("c")))
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = pop.select(
        "c",
        F.row_number().over(Window.orderBy(F.col("c").desc(),
                                           "l_partkey"))
        .cast("bigint").alias("rk"),
        F.count("*").over(wall).cast("bigint").alias("n_items"),
        F.sum("c").over(wall).alias("total"))
    head = F.expr("n_items DIV 10")
    return ranked.groupBy().agg(
        F.max("n_items").alias("n_items"),
        F.expr("max(n_items) DIV 10").alias("n_head"),
        F.round(F.sum(F.when(F.col("rk") > head, F.col("c"))
                      .otherwise(0)).cast("double")
                / F.max("total"), 6).alias("tail_share"),
        F.round(F.sum(F.when(F.col("rk") <= head, F.col("c"))
                      .otherwise(0)).cast("double")
                / F.max("total"), 6).alias("head_share"))


# ------------------------------------------ Bowley + Moors shape

@query("stats_bowley_moors", oracle="""
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
    ),
    ranked AS (
        SELECT c, CAST(row_number() OVER (ORDER BY c) AS BIGINT)
                   AS rk,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM v
    ),
    oct AS (
        SELECT max(CASE WHEN rk = (1 * n + 7) // 8 THEN c END) AS e1,
               max(CASE WHEN rk = (2 * n + 7) // 8 THEN c END) AS e2,
               max(CASE WHEN rk = (3 * n + 7) // 8 THEN c END) AS e3,
               max(CASE WHEN rk = (4 * n + 7) // 8 THEN c END) AS e4,
               max(CASE WHEN rk = (5 * n + 7) // 8 THEN c END) AS e5,
               max(CASE WHEN rk = (6 * n + 7) // 8 THEN c END) AS e6,
               max(CASE WHEN rk = (7 * n + 7) // 8 THEN c END) AS e7,
               max(n) AS n
        FROM ranked
    )
    SELECT n,
           round((e2 + e6 - 2.0 * e4) / (e6 - e2), 6)
               AS bowley_skewness,
           round(((e7 - e5) + (e3 - e1)) / CAST(e6 - e2 AS DOUBLE), 6)
               AS moors_kurtosis
    FROM oct
""")
def stats_bowley_moors(spark, sf_dir):
    """Bowley quartile skewness + Moors octile kurtosis of event
    values: B = (Q3 + Q1 - 2*median)/(Q3 - Q1) (Bowley 1920) and
    M = ((E7-E5) + (E3-E1))/(E6-E2) (Moors 1988; ~1.23 for a normal)
    — shape measures built ENTIRELY from order statistics, so a
    handful of corrupt tail values cannot move them (moment skewness
    and kurtosis — stats_jarque_bera — have unbounded influence
    functions; these have breakdown point 12.5%). The robust shape
    panel for telemetry whose tails are exactly what you distrust.

    The seven octiles (quartiles are E2/E4/E6) are exact lower order
    statistics at integer rank (j*n+7) DIV 8 off one ascending rank
    pass; both measures are fixed expressions over the seven exact
    integers.

    Scale shape: one rank pass (at 100 TB: the value-histogram +
    prefix-count form, the stats_qq_deciles shape) + a 1-row
    conditional pivot."""
    v = T(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = v.select(
        "c",
        F.row_number().over(Window.orderBy("c")).cast("bigint")
        .alias("rk"),
        F.count("*").over(wall).cast("bigint").alias("n"))
    aggs = [F.max(F.when(
        F.col("rk") == F.expr(f"({j} * n + 7) DIV 8"), F.col("c")))
        .alias(f"e{j}") for j in range(1, 8)]
    oct_ = ranked.agg(*aggs, F.max("n").alias("n"))
    e = {j: F.col(f"e{j}") for j in range(1, 8)}
    return oct_.select(
        "n",
        F.round((e[2] + e[6] - 2.0 * e[4]) / (e[6] - e[2]), 6)
        .alias("bowley_skewness"),
        F.round(((e[7] - e[5]) + (e[3] - e[1]))
                / (e[6] - e[2]).cast("double"), 6)
        .alias("moors_kurtosis"))
