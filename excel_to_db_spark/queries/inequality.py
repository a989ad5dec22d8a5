"""Inequality / vocabulary-richness pack (round 5, batch 36): the
Theil and Atkinson inequality indices over customer spend, and the
Good-Turing and Chao1 frequency-of-frequencies estimators over the
document corpus. The reference engine (294 LoC of Rust delegating to
SQLite, reference src/main.rs) has none of this surface; these are
Tier-C mission operators:

- Theil's T (Theil 1967) is the entropy-based inequality index —
  unlike Gini (already shipped as agg_gini) it decomposes exactly
  into between-group + within-group parts; MLD is its dual.
- Atkinson's index (Atkinson 1970) at epsilon=1 is 1 - geomean/mean —
  the welfare-theoretic inequality family's most-quoted member.
- Good-Turing (Good 1953) re-estimates token frequencies from the
  frequency-of-frequencies table — the classical smoothing that
  underpins every held-out language-model mass estimate.
- Chao1 (Chao 1984) lower-bounds the TRUE vocabulary size from
  hapax/dis-legomena counts; Good's coverage C = 1 - f1/N says how
  much of the token mass the seen vocabulary explains.

Determinism contract (SURVEY §4.3): counts and frequency-of-frequency
tables are exact integers; per-row ln terms snap to 1e6 fixed-point
BEFORE their unordered sums (the text_kl_matrix protocol); final
ratios are fixed float expressions over exact or snapped 1-row state.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql


def _trigrams(spark, sf_dir):
    """Word trigrams built IN the token array (transform over an index
    sequence — no shuffle until the explode-side aggregate). Documents
    shorter than 3 words drop; Spark's sequence() would otherwise run
    DESCENDING on a negative stop and fabricate indices."""
    return (T(spark, sf_dir, "documents")
            .select(F.split(F.col("text"), " ").alias("t"))
            .filter(F.size("t") >= 3)
            .select(F.explode(F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"))
                .alias("w")))


# -------------------------------------------- Theil T + MLD indices

@query("stats_theil_index", oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               {units_sum_sql('o_totalprice', 100)} AS x
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s
        FROM spend
    ),
    terms AS (
        SELECT {units_sum_sql(
                   '(CAST(x AS DOUBLE) * n / s) * ln(CAST(x AS DOUBLE) * n'
                   ' / s)', 1e6)} AS t_u,
               {units_sum_sql(
                   'ln(CAST(s AS DOUBLE) / (CAST(x AS DOUBLE) * n))', 1e6)} AS m_u
        FROM spend, tot
    )
    SELECT n,
           round(t_u / (CAST(n AS DOUBLE) * 1e6), 6) AS theil_t,
           round(m_u / (CAST(n AS DOUBLE) * 1e6), 6) AS mld
    FROM terms, tot
""")
def stats_theil_index(spark, sf_dir):
    """Theil's T inequality index + the mean log deviation (MLD, a.k.a.
    Theil's L) over per-customer total spend: T = (1/n) sum (x/mu)
    ln(x/mu), MLD = (1/n) sum ln(mu/x). Unlike Gini (agg_gini), the
    Theil family decomposes additively into between/within group
    terms — the index you want when inequality must be attributed.

    x/mu is computed as the exact-integer-backed ratio x*n/s (mu = s/n
    never materializes as a rounded intermediate); each per-customer
    term snaps to 1e6 fixed-point before the UNORDERED sum, making the
    aggregate an exact BIGINT no matter the partial-aggregation order
    (ln's last-ulp libm wiggle is absorbed by the snap). Spend is
    strictly positive by construction (order totals), so ln is total.

    Scale shape: one per-customer aggregate + a broadcast-scalar
    crossJoin (AQE reuses the exchange) + one 1-row reduce."""
    spend = (T(spark, sf_dir, "orders")
             .groupBy("o_custkey")
             .agg(units_sum(F.col("o_totalprice"), 100).alias("x")))
    tot = spend.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    ratio = (F.col("x").cast("double") * F.col("n") / F.col("s"))
    terms = (spend.crossJoin(F.broadcast(tot))
             .agg(units_sum(ratio * F.log(ratio), 1e6).alias("t_u"),
                  units_sum(F.log(F.col("s").cast("double")
                                      / (F.col("x").cast("double")
                                         * F.col("n"))), 1e6).alias("m_u"),
                  F.max("n").alias("n")))
    return terms.select(
        "n",
        F.round(F.col("t_u") / (F.col("n").cast("double") * 1e6), 6)
        .alias("theil_t"),
        F.round(F.col("m_u") / (F.col("n").cast("double") * 1e6), 6)
        .alias("mld"))


# ------------------------------------------- Atkinson index (eps=1)

@query("stats_atkinson_index", oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               {units_sum_sql('o_totalprice', 100)} AS x
        FROM orders GROUP BY o_custkey
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               {units_sum_sql('ln(CAST(x AS DOUBLE))', 1e6)} AS l_u
        FROM spend
    )
    SELECT n,
           round(1.0 - exp(l_u / (CAST(n AS DOUBLE) * 1e6))
                 / (CAST(s AS DOUBLE) / n), 6) AS atkinson_1
    FROM st
""")
def stats_atkinson_index(spark, sf_dir):
    """Atkinson inequality index at inequality-aversion epsilon = 1
    over per-customer spend: A(1) = 1 - geometric_mean/arithmetic_mean
    (Atkinson 1970) — the welfare interpretation is "the share of
    total income society could discard and be equally well off under
    log utility if the rest were split equally".

    The geometric mean exponentiates the mean of per-customer ln(x)
    terms, each snapped to 1e6 fixed-point before the unordered sum
    (exact BIGINT aggregate; the snap absorbs libm ln wiggle). The
    arithmetic mean is the exact rational s/n. One exp + one division
    + one 6dp round ends the computation; exp's own sub-ulp
    cross-engine wiggle sits ~7 orders below the rounding step.

    Scale shape: one per-customer aggregate + ONE 1-row reduce — no
    second pass (unlike Theil, no mu appears inside the per-row
    term)."""
    spend = (T(spark, sf_dir, "orders")
             .groupBy("o_custkey")
             .agg(units_sum(F.col("o_totalprice"), 100).alias("x")))
    st = spend.agg(
        F.count("*").alias("n"), F.sum("x").alias("s"),
        units_sum(F.log(F.col("x").cast("double")), 1e6).alias("l_u"))
    return st.select(
        "n",
        F.round(1.0 - F.exp(F.col("l_u")
                            / (F.col("n").cast("double") * 1e6))
                / (F.col("s").cast("double") / F.col("n")), 6)
        .alias("atkinson_1"))


# ------------------------------------------- Good-Turing smoothing

@query("text_good_turing", oracle="""
    WITH d AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    tok AS (
        SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS w
        FROM d, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    tf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY w
    ),
    fof AS (
        SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tf GROUP BY r
    ),
    tot AS (
        SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens FROM fof
    ),
    spine AS (SELECT unnest([1, 2, 3, 4, 5]) AS r)
    SELECT spine.r AS r,
           CAST(coalesce(f1.n_r, 0) AS BIGINT) AS n_r,
           CASE WHEN coalesce(f1.n_r, 0) > 0 THEN
               round((spine.r + 1.0) * coalesce(f2.n_r, 0)
                     / CAST(f1.n_r AS DOUBLE), 4)
           END AS r_star,
           round(CAST(coalesce((SELECT n_r FROM fof WHERE r = 1), 0)
                      AS DOUBLE) / (SELECT n_tokens FROM tot), 8)
               AS p0_unseen
    FROM spine
    LEFT JOIN fof f1 ON f1.r = spine.r
    LEFT JOIN fof f2 ON f2.r = spine.r + 1
""")
def text_good_turing(spark, sf_dir):
    """Good-Turing frequency re-estimation over the corpus word-TRIGRAM
    table (Good 1953): r* = (r+1) N_{r+1} / N_r for r = 1..5, plus the
    leave-one-out mass of UNSEEN trigrams p0 = N_1 / N — the
    frequency-of-frequencies smoothing under every classical held-out
    LM estimate (and the statistical heart of species-discovery
    curves). r* < r signals the corpus still surprises; r* ~ r says
    the head is saturated. Trigrams, not unigrams: the synthetic
    corpus has a closed 31-word vocabulary with zero hapaxes, so the
    unigram spectrum is degenerate — the trigram spectrum is Zipf-rich
    at every sf (f1 ~ 9e3 at sf0.01).

    All inputs are exact integers off two hash aggregates (trigram
    counts, then counts-of-counts); the r = 1..5 spine is a constant
    5-row frame LEFT-joined so absent frequencies report n_r = 0 with
    a NULL r* (0/0 has no estimate) on BOTH engines; ratios round
    once at 4/8 dp.

    Scale shape: in-array trigram construction (zero-shuffle HOF) +
    explode + two map-side-combinable aggregates; the frequency-of-
    frequencies table is bounded by max trigram frequency."""
    tok = _trigrams(spark, sf_dir)
    tf = tok.groupBy("w").agg(F.count("*").alias("r"))
    fof = tf.groupBy("r").agg(F.count("*").alias("n_r"))
    tot = fof.agg(F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"))
    n1 = (fof.filter(F.col("r") == 1)
          .agg(F.sum("n_r").alias("n1")))
    spine = spark.range(1, 6).select(F.col("id").alias("r"))
    f1 = fof.select(F.col("r").alias("r1"), F.col("n_r").alias("nr1"))
    f2 = fof.select((F.col("r") - 1).alias("r2"),
                    F.col("n_r").alias("nr2"))
    return (spine
            .join(F.broadcast(f1), spine.r == F.col("r1"), "left")
            .join(F.broadcast(f2), spine.r == F.col("r2"), "left")
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(n1))
            .select(
                F.col("r").cast("bigint").alias("r"),
                F.coalesce(F.col("nr1"), F.lit(0)).cast("bigint")
                .alias("n_r"),
                F.when(F.coalesce(F.col("nr1"), F.lit(0)) > 0,
                       F.round((F.col("r") + 1.0)
                               * F.coalesce(F.col("nr2"), F.lit(0))
                               / F.col("nr1").cast("double"), 4))
                .alias("r_star"),
                F.round(F.coalesce(F.col("n1"), F.lit(0))
                        .cast("double") / F.col("n_tokens"), 8)
                .alias("p0_unseen")))


# ------------------------------------------------ Chao1 richness

@query("text_chao1_vocab", oracle="""
    WITH d AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    tok AS (
        SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS w
        FROM d, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    tf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY w
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS v,
               CAST(sum(r) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f1,
               CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f2
        FROM tf
    )
    SELECT v, n_tokens, f1, f2,
           round(v + CAST(f1 AS DOUBLE) * (f1 - 1)
                 / (2.0 * (f2 + 1)), 4) AS chao1,
           round(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 8) AS coverage
    FROM st
""")
def text_chao1_vocab(spark, sf_dir):
    """Chao1 richness lower bound + Good's sample coverage over the
    corpus word-TRIGRAM table: chao1 = V + f1(f1-1)/(2(f2+1)) — the
    BIAS-CORRECTED Chao1 form (Chao 1984/2005), total even at f2 = 0 —
    estimates how many distinct trigrams the corpus would reveal at
    infinite size from just the hapax (f1) and dis-legomena (f2)
    counts; coverage C = 1 - f1/N is the Turing estimate of the
    trigram mass already explained. The curation readout: chao1 >> V
    means the corpus is still phrase-starved; C says when
    deduplicated scraping stops paying. (Trigrams, not unigrams: the
    synthetic corpus has a closed 31-word vocabulary — the unigram
    spectrum is degenerate, the trigram one is Zipf-rich.)

    V, N, f1, f2 are exact integers off two hash aggregates; both
    estimators are single float expressions rounded once.

    Scale shape: in-array trigram construction + explode + one
    frequency aggregate + a 1-row conditional-count reduce — the
    frequency table never leaves the cluster."""
    tok = _trigrams(spark, sf_dir)
    tf = tok.groupBy("w").agg(F.count("*").alias("r"))
    st = tf.agg(
        F.count("*").alias("v"),
        F.sum("r").alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("r") == 2, 1).otherwise(0)).alias("f2"))
    return st.select(
        "v", "n_tokens", "f1", "f2",
        F.round(F.col("v") + F.col("f1").cast("double")
                * (F.col("f1") - 1)
                / (2.0 * (F.col("f2") + 1)), 4).alias("chao1"),
        F.round(1.0 - F.col("f1").cast("double") / F.col("n_tokens"), 8)
        .alias("coverage"))
