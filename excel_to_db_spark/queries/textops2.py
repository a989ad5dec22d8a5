"""Overlap-eval/risk/queueing/encoding pack (round 5, batch 29):
ROUGE-N n-gram overlap, Value-at-Risk with expected shortfall,
Little's law verified by two independent integrals, and leave-one-out
target encoding. The reference engine (294 LoC of Rust delegating to
SQLite, reference src/main.rs) has none of this surface; these are
Tier-C mission operators:

- ROUGE-N (Lin 2004) is the n-gram recall metric of summarization
  eval — and, run pairwise across a corpus, a cheap similarity audit
  between paired documents.
- VaR/CVaR are the tail-risk order statistics of any return/delta
  series; CVaR (expected shortfall) is the coherent one — the mean of
  the tail, not just its edge.
- Little's law (L = lambda * W) ties arrival rate, time-in-system,
  and average occupancy; over a finite horizon the identity is an
  EXACT integer statement (sum of durations = integral of
  concurrency), which this key proves by computing both sides
  independently.
- Leave-one-out target encoding is the standard leakage-free
  categorical encoding for downstream models; per category it
  collapses to closed-form algebra over (n, sum) — which is exactly
  why it scales.

Determinism contract (SURVEY §4.3): n-gram overlap counts, tail
order statistics, sweep integrals, and encoding moments are exact
integers; every ratio is one snapped expression.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql

# Spark-side n-gram builders (1-based element_at; the i-th bigram is
# tokens[i] + ' ' + tokens[i+1]).
_BIGRAMS = ("transform(sequence(1, size(toks) - 1), "
            "i -> concat(element_at(toks, i), ' ', "
            "element_at(toks, i + 1)))")


@query("eval_rouge_n", oracle="""
    WITH pairs AS (
        SELECT a.doc_id AS ref_id, a.text AS ref_t, b.text AS hyp_t
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
    ),
    u_r AS (
        SELECT ref_id, g, CAST(count(*) AS BIGINT) AS rc
        FROM (SELECT ref_id, unnest(string_split(ref_t, ' ')) AS g
              FROM pairs) GROUP BY ref_id, g
    ),
    u_h AS (
        SELECT ref_id, g, CAST(count(*) AS BIGINT) AS hc
        FROM (SELECT ref_id, unnest(string_split(hyp_t, ' ')) AS g
              FROM pairs) GROUP BY ref_id, g
    ),
    b_r AS (
        SELECT ref_id, z[1] || ' ' || z[2] AS g,
               CAST(count(*) AS BIGINT) AS rc
        FROM (SELECT ref_id,
                     unnest(list_zip(string_split(ref_t, ' '),
                                     string_split(ref_t, ' ')[2:]))
                         AS z
              FROM pairs)
        WHERE z[2] IS NOT NULL GROUP BY ref_id, g
    ),
    b_h AS (
        SELECT ref_id, z[1] || ' ' || z[2] AS g,
               CAST(count(*) AS BIGINT) AS hc
        FROM (SELECT ref_id,
                     unnest(list_zip(string_split(hyp_t, ' '),
                                     string_split(hyp_t, ' ')[2:]))
                         AS z
              FROM pairs)
        WHERE z[2] IS NOT NULL GROUP BY ref_id, g
    ),
    r1 AS (
        SELECT u_r.ref_id,
               CAST(round(sum(least(rc, coalesce(hc, 0))) * 1e6
                          / sum(rc)) AS BIGINT) AS r_u
        FROM u_r LEFT JOIN u_h USING (ref_id, g)
        GROUP BY u_r.ref_id
    ),
    r2 AS (
        SELECT b_r.ref_id,
               CAST(round(sum(least(rc, coalesce(hc, 0))) * 1e6
                          / sum(rc)) AS BIGINT) AS r_u
        FROM b_r LEFT JOIN b_h USING (ref_id, g)
        GROUP BY b_r.ref_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
           round(CAST((SELECT sum(r_u) FROM r1) AS BIGINT)
                 / (1e6 * (SELECT count(*) FROM r1)), 6) AS mean_rouge1,
           round(CAST((SELECT sum(r_u) FROM r2) AS BIGINT)
                 / (1e6 * (SELECT count(*) FROM r2)), 6) AS mean_rouge2
""")
def eval_rouge_n(spark, sf_dir):
    """ROUGE-1 and ROUGE-2 recall (Lin 2004) over consecutive document
    pairs (even doc = reference, odd doc = hypothesis): per pair,
    sum over grams of min(ref count, hyp count) / total ref grams —
    the clipped-overlap recall of summarization eval, reported as the
    corpus mean of both orders.

    N-gram multiset intersection is exact integer arithmetic (per-pair
    clipped counts via a LEFT join of the two count tables); each
    pair's recall snaps to micro-units before the corpus mean
    (SURVEY §4.3). Bigrams are built inside the array domain
    (transform over token indices / list_zip with the shifted list),
    so no re-tokenization pass.

    Scale shape: pairing is a 1-shifted self-equi-join on doc_id; the
    gram count tables are groupBys on (pair, gram) — the standard
    explode-aggregate text shape; nothing quadratic anywhere."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("ref_id"), F.col("text").alias("ref_t"))
    b = d.select((F.col("doc_id") - 1).alias("ref_id"),
                 F.col("text").alias("hyp_t"))
    pairs = a.join(b, "ref_id")

    def grams(col_name, out, bigram):
        base = pairs.select("ref_id",
                            F.split(F.col(col_name), " ").alias("toks"))
        if bigram:
            base = base.select("ref_id",
                               F.explode(F.expr(_BIGRAMS)).alias("g"))
        else:
            base = base.select("ref_id", F.explode("toks").alias("g"))
        return base.groupBy("ref_id", "g").agg(
            F.count("*").alias(out))

    def recall(rc_df, hc_df):
        return (rc_df.join(hc_df, ["ref_id", "g"], "left")
                .groupBy("ref_id")
                .agg(F.round(F.sum(F.least(F.col("rc"),
                                           F.coalesce(F.col("hc"),
                                                      F.lit(0))))
                             * 1e6 / F.sum("rc"))
                     .cast("bigint").alias("r_u")))

    r1 = recall(grams("ref_t", "rc", False), grams("hyp_t", "hc", False))
    r2 = recall(grams("ref_t", "rc", True), grams("hyp_t", "hc", True))
    n_pairs = pairs.agg(F.count("*").alias("n_pairs"))
    m1 = r1.agg(F.round(F.sum("r_u") / (1e6 * F.count("*")), 6)
                .alias("mean_rouge1"))
    m2 = r2.agg(F.round(F.sum("r_u") / (1e6 * F.count("*")), 6)
                .alias("mean_rouge2"))
    return (n_pairs.crossJoin(F.broadcast(m1))
            .crossJoin(F.broadcast(m2)))


# ------------------------------------------------ VaR / CVaR (tail)

@query("ts_var_cvar", oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               {units_sum_sql('value', 100)}
                   AS cents
        FROM events GROUP BY 1
    ),
    ret AS (
        SELECT day,
               CAST(round(ln(cents * 1.0
                             / lag(cents) OVER (ORDER BY day)) * 1e6)
                    AS BIGINT) AS lr_u
        FROM daily
    ),
    rr AS (SELECT day, lr_u FROM ret WHERE lr_u IS NOT NULL),
    dims AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(ceil(count(*) * 0.05) AS BIGINT) AS k
        FROM rr
    ),
    ranked AS (
        SELECT day, lr_u,
               CAST(row_number() OVER (ORDER BY lr_u, day) AS BIGINT)
                   AS rk
        FROM rr
    ),
    tail AS (
        SELECT CAST(max(CASE WHEN rk = k THEN lr_u END) AS BIGINT)
                   AS var_u,
               CAST(sum(CASE WHEN rk <= k THEN lr_u ELSE 0 END)
                    AS BIGINT) AS tail_sum_u,
               CAST(max(CASE WHEN rk = 1 THEN day END) AS TIMESTAMP)
                   AS worst_day
        FROM ranked, dims
    )
    SELECT n, k AS k_tail,
           round(var_u / 1e6, 6) AS var95,
           round(tail_sum_u / (1e6 * k), 6) AS cvar95,
           worst_day
    FROM tail, dims
""")
def ts_var_cvar(spark, sf_dir):
    """95% Value-at-Risk and conditional VaR (expected shortfall) of
    the daily log-return series: VaR is the k = ceil(0.05 n)-th
    smallest return, CVaR the mean of those k tail returns — the
    coherent tail-risk pair (Artzner et al. 1999; Rockafellar &
    Uryasev 2000), plus the worst single day.

    Returns are the micro-snapped integer log returns of the
    ts_compound_index protocol, so the order statistic and the tail
    mean are exact BIGINT selections (ranked by (return, day) — fully
    pinned).

    Scale shape: day-spine collapse, one lag window and one rank pass
    over the bounded calendar series; k scalars summed."""
    ev = T(spark, sf_dir, "events").select("ts", "value")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(units_sum(F.col("value"), 100)
                  .alias("cents")))
    w = Window.orderBy("day")
    rr = (daily.withColumn(
        "lr_u",
        F.round(F.log(F.col("cents") * 1.0
                      / F.lag("cents").over(w)) * 1e6).cast("bigint"))
        .filter(F.col("lr_u").isNotNull()))
    dims = rr.agg(F.count("*").alias("n"),
                  F.ceil(F.count("*") * 0.05).alias("k"))
    wr = Window.orderBy("lr_u", "day")
    ranked = rr.withColumn("rk", F.row_number().over(wr).cast("bigint"))
    tail = (ranked.crossJoin(F.broadcast(dims))
            .agg(F.max(F.when(F.col("rk") == F.col("k"),
                              F.col("lr_u"))).alias("var_u"),
                 F.sum(F.when(F.col("rk") <= F.col("k"),
                              F.col("lr_u")).otherwise(0))
                 .alias("tail_sum_u"),
                 F.max(F.when(F.col("rk") == 1, F.col("day")))
                 .alias("worst_day")))
    return (tail.crossJoin(F.broadcast(dims))
            .select("n", F.col("k").alias("k_tail"),
                    F.round(F.col("var_u") / 1e6, 6).alias("var95"),
                    F.round(F.col("tail_sum_u") / (1e6 * F.col("k")), 6)
                    .alias("cvar95"),
                    "worst_day"))


# ------------------------------------- Little's law, proven two ways

@query("ops_littles_law", oracle="""
    WITH iv AS (
        SELECT o_orderdate AS s, l_shipdate AS r,
               date_diff('day', o_orderdate, l_shipdate) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    horizon AS (
        SELECT min(s) AS t0,
               date_diff('day', min(s), max(r)) AS t_days
        FROM iv
    ),
    direct AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(d) AS BIGINT) AS sum_days
        FROM iv
    ),
    deltas AS (
        SELECT date_diff('day', t0, s) AS t, CAST(1 AS BIGINT) AS c
        FROM iv, horizon
        UNION ALL
        SELECT date_diff('day', t0, r), CAST(-1 AS BIGINT)
        FROM iv, horizon
    ),
    sweep AS (
        SELECT t, CAST(sum(c) AS BIGINT) AS dc FROM deltas GROUP BY t
    ),
    conc AS (
        SELECT t,
               CAST(sum(dc) OVER (ORDER BY t) AS BIGINT) AS level,
               CAST(lead(t) OVER (ORDER BY t) - t AS BIGINT) AS span
        FROM sweep
    ),
    integral AS (
        SELECT CAST(sum(level * span) AS BIGINT) AS sweep_integral
        FROM conc WHERE span IS NOT NULL
    )
    SELECT n_items, t_days, sum_days, sweep_integral,
           sum_days = sweep_integral AS identity_ok,
           round(n_items * 1.0 / t_days, 6) AS lambda_per_day,
           round(sum_days * 1.0 / n_items, 6) AS w_days,
           round(sum_days * 1.0 / t_days, 6) AS l_avg
    FROM direct, horizon, integral
""")
def ops_littles_law(spark, sf_dir):
    """Little's law (Little 1961) on open lineitems (interval =
    order date -> ship date): arrival rate lambda = N/T, mean
    time-in-system W = sum(d)/N, average occupancy L = sum(d)/T — and
    the law L = lambda * W holds by construction. What the key PROVES
    is the underlying integral identity: the time-integral of the
    concurrency curve (an event-sweep: +1 at ship, -1 at receipt,
    level x span summed) EQUALS the direct sum of durations, two
    completely independent integer computations whose equality the
    `identity_ok` column asserts.

    Scale shape: the sweep is the repo's standard interval pattern
    (interval_concurrency): one delta union, one day-histogram
    aggregate, one cumulative window over the bounded calendar spine;
    the direct side is a single map-side-combinable sum. All integers
    until the three final rate ratios."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey",
                                             "l_shipdate")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    iv = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(F.col("o_orderdate").alias("s"),
                  F.col("l_shipdate").alias("r"))
          .withColumn("d", F.datediff("r", "s")))
    horizon = iv.agg(
        F.min("s").alias("t0"),
        F.datediff(F.max("r"), F.min("s")).alias("t_days"))
    direct = iv.agg(F.count("*").alias("n_items"),
                    F.sum("d").alias("sum_days"))
    ivh = iv.crossJoin(F.broadcast(horizon))
    deltas = (ivh.select(F.datediff("s", "t0").alias("t"),
                         F.lit(1).cast("bigint").alias("c"))
              .unionAll(ivh.select(F.datediff("r", "t0").alias("t"),
                                   F.lit(-1).cast("bigint").alias("c"))))
    sweep = deltas.groupBy("t").agg(F.sum("c").alias("dc"))
    w = Window.orderBy("t")
    conc = sweep.select(
        "t",
        F.sum("dc").over(w.rowsBetween(Window.unboundedPreceding,
                                       Window.currentRow))
         .alias("level"),
        (F.lead("t").over(w) - F.col("t")).cast("bigint").alias("span"))
    integral = (conc.filter(F.col("span").isNotNull())
                .agg(F.sum(F.col("level") * F.col("span"))
                     .alias("sweep_integral")))
    return (direct.crossJoin(F.broadcast(horizon))
            .crossJoin(F.broadcast(integral))
            .select(
                "n_items", "t_days", "sum_days", "sweep_integral",
                (F.col("sum_days") == F.col("sweep_integral"))
                .alias("identity_ok"),
                F.round(F.col("n_items") * 1.0 / F.col("t_days"), 6)
                .alias("lambda_per_day"),
                F.round(F.col("sum_days") * 1.0 / F.col("n_items"), 6)
                .alias("w_days"),
                F.round(F.col("sum_days") * 1.0 / F.col("t_days"), 6)
                .alias("l_avg")))


# ------------------------------------- leave-one-out target encoding

@query("ml_target_encoding", oracle="""
    WITH rows_ AS (
        SELECT p.p_brand AS brand,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem JOIN part p ON l_partkey = p_partkey
    ),
    grp AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s
        FROM rows_ GROUP BY brand
    )
    SELECT brand, n, s,
           round(s * 1.0 / n, 6) AS naive_enc,
           round((s - 1) * 1.0 / (n - 1), 6) AS loo_enc_pos,
           round(s * 1.0 / (n - 1), 6) AS loo_enc_neg,
           round(s * 1.0 * (n - s) / (n * 1.0 * (n - 1) * (n - 1)),
                 8) AS loo_var
    FROM grp
    ORDER BY brand
""")
def ml_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding of part brand against the
    is-returned label — the leakage-free categorical encoding
    (Micci-Barreca 2001 family): each row is encoded by the mean
    target of its category EXCLUDING itself, (s - y_i)/(n - 1).

    The per-row encoding takes only TWO distinct values per category
    (loo_enc_pos for y=1 rows, loo_enc_neg for y=0 rows), so the
    whole encoding — including its within-category variance
    s(n-s)/(n(n-1)^2) — is closed-form algebra over the exact (n, s)
    pair. That collapse is the scale story: a 100 TB encoder never
    materializes per-row encodings at fit time, it ships the (n, s)
    table and applies the two-branch formula at transform time. The
    identity mean(LOO) = naive mean is visible in the output (and
    asserted in the test).

    Scale shape: one fact x broadcast-dim join + one count aggregate;
    everything else is per-category scalar math."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows_ = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
             .select(F.col("p_brand").alias("brand"),
                     F.when(F.col("l_returnflag") == "R", 1)
                     .otherwise(0).alias("y")))
    grp = (rows_.groupBy("brand")
           .agg(F.count("*").alias("n"), F.sum("y").alias("s")))
    return grp.select(
        "brand", "n", "s",
        F.round(F.col("s") * 1.0 / F.col("n"), 6).alias("naive_enc"),
        F.round((F.col("s") - 1) * 1.0 / (F.col("n") - 1), 6)
         .alias("loo_enc_pos"),
        F.round(F.col("s") * 1.0 / (F.col("n") - 1), 6)
         .alias("loo_enc_neg"),
        F.round(F.col("s") * 1.0 * (F.col("n") - F.col("s"))
                / (F.col("n") * 1.0 * (F.col("n") - 1)
                   * (F.col("n") - 1)), 8).alias("loo_var")) \
        .orderBy("brand")
