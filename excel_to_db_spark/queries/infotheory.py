"""Information-theory pack (round 5, batch 31): Markov entropy rate
of event sequences, per-source KL divergence, rank-biased overlap
between two rankings, and total-variation/mutual-information
independence measures. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators:

- The entropy rate of the user-behavior Markov chain measures how
  PREDICTABLE the event stream is — the gap between marginal entropy
  and conditional entropy is exactly what a sequence model can learn.
- Per-source KL divergence against the corpus unigram model is the
  distribution-shift score of data curation (the DSIR numerator,
  reported as a divergence table).
- RBO (Webber et al. 2010) compares two RANKINGS with top-weighted
  overlap — the right way to ask "do these two retrieval systems
  agree", where Kendall's tau over-weights the tail.
- TVD + mutual information quantify association in distribution
  space, complementing the chi-square family (stats_cramers_v) with
  metrics that don't blow up on small expected counts.

Determinism contract (SURVEY §4.3): transition/token/cell counts are
exact integers; TVD's numerator is an exact integer cross-product
sum; every log term snaps to micro-units before its reduction.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql


# ------------------------------------------ Markov entropy rate

@query("events_entropy_rate", oracle=f"""
    WITH seq AS (
        SELECT event_type AS cur,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    trans AS (
        SELECT prev AS i, cur AS j, CAST(count(*) AS BIGINT) AS c
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
    ),
    marg AS (
        SELECT i, CAST(sum(c) AS BIGINT) AS ci FROM trans GROUP BY i
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM trans),
    rate AS (
        SELECT {units_sum_sql(
                   '-(c * 1.0 / n) * ln(c * 1.0 / ci)', 1e9)} AS h_rate_u,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM trans JOIN marg USING (i) CROSS JOIN tot
    ),
    marg_h AS (
        SELECT {units_sum_sql(
                   '-(ci * 1.0 / n) * ln(ci * 1.0 / n)', 1e9)} AS h0_u,
               CAST(count(*) AS BIGINT) AS n_states
        FROM marg CROSS JOIN tot
    )
    SELECT (SELECT n FROM tot) AS n_transitions, n_states, n_cells,
           round(h_rate_u / 1e9, 6) AS entropy_rate,
           round(h0_u / 1e9, 6) AS marginal_entropy,
           round(1.0 - (h_rate_u / 1e9) / (h0_u / 1e9), 6)
               AS predictability
    FROM rate, marg_h
""")
def events_entropy_rate(spark, sf_dir):
    """Entropy rate of the per-user event-type Markov chain (Shannon
    1948; the behavioral-predictability metric of Song et al. 2010):
    H_rate = -sum_ij (C_ij/N) ln(C_ij/C_i) from the empirical
    transition counts, against the marginal entropy H0 = -sum pi ln pi.
    predictability = 1 - H_rate/H0 is the share of sequence
    uncertainty that CONDITIONING on the previous event removes — the
    signal a sequence model has available to learn.

    Transitions come from one per-user lag window (ordered by ts,
    event_id — fully pinned); every log term reads exact BIGINT counts
    and snaps to 1e-9 units before the k^2-cell reduction
    (SURVEY §4.3).

    Scale shape: one partitioned window + one (i, j) count aggregate
    (at most k^2 = 25 cells); all float math on those bounded cells."""
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                           "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("event_type").alias("cur"),
                    F.lag("event_type").over(w).alias("prev"))
    trans = (seq.filter(F.col("prev").isNotNull())
             .groupBy(F.col("prev").alias("i"),
                      F.col("cur").alias("j"))
             .agg(F.count("*").alias("c")))
    marg = trans.groupBy("i").agg(F.sum("c").alias("ci"))
    tot = trans.agg(F.sum("c").alias("n"))
    rate = (trans.join(F.broadcast(marg), "i")
            .crossJoin(F.broadcast(tot))
            .agg(units_sum(-(F.col("c") * 1.0 / F.col("n"))
                * F.log(F.col("c") * 1.0 / F.col("ci")), 1e9).alias("h_rate_u"),
                F.count("*").alias("n_cells")))
    marg_h = (marg.crossJoin(F.broadcast(tot))
              .agg(units_sum(-(F.col("ci") * 1.0 / F.col("n"))
                  * F.log(F.col("ci") * 1.0 / F.col("n")), 1e9).alias("h0_u"),
                  F.count("*").alias("n_states")))
    return (tot.crossJoin(F.broadcast(rate))
            .crossJoin(F.broadcast(marg_h))
            .select(F.col("n").alias("n_transitions"),
                    "n_states", "n_cells",
                    F.round(F.col("h_rate_u") / 1e9, 6)
                    .alias("entropy_rate"),
                    F.round(F.col("h0_u") / 1e9, 6)
                    .alias("marginal_entropy"),
                    F.round(1.0 - (F.col("h_rate_u") / 1e9)
                            / (F.col("h0_u") / 1e9), 6)
                    .alias("predictability")))


# ------------------------------------------ per-source KL divergence

@query("text_kl_matrix", oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    vocab AS (SELECT DISTINCT t FROM tok),
    vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    corp AS (
        SELECT t, CAST(count(*) AS BIGINT) AS cc FROM tok GROUP BY t
    ),
    ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM corp),
    src AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS cs
        FROM tok GROUP BY source, t
    ),
    stot AS (
        SELECT source, CAST(sum(cs) AS BIGINT) AS ns
        FROM src GROUP BY source
    ),
    grid AS (
        SELECT stot.source, vocab.t, stot.ns, vs.v,
               coalesce(src.cs, 0) AS cs, corp.cc, ctot.nc
        FROM stot CROSS JOIN vocab CROSS JOIN vs CROSS JOIN ctot
        JOIN corp ON corp.t = vocab.t
        LEFT JOIN src ON src.source = stot.source
                     AND src.t = vocab.t
    ),
    terms AS (
        SELECT source, ns,
               {units_sum_sql(
                   '((cs + 1.0) / (ns + v)) * ln(((cs + 1.0) / (ns + v))'
                   ' / ((cc + 1.0) / (nc + v)))', 1e9)} AS kl_fwd_u,
               {units_sum_sql(
                   '((cc + 1.0) / (nc + v)) * ln(((cc + 1.0) / (nc + v))'
                   ' / ((cs + 1.0) / (ns + v)))', 1e9)} AS kl_rev_u
        FROM grid GROUP BY source, ns
    )
    SELECT source, ns AS n_tokens,
           round(kl_fwd_u / 1e9, 6) AS kl_source_vs_corpus,
           round(kl_rev_u / 1e9, 6) AS kl_corpus_vs_source
    FROM terms
    ORDER BY source
""")
def text_kl_matrix(spark, sf_dir):
    """Per-source KL divergence table: KL(source || corpus) and
    KL(corpus || source) over Laplace-smoothed unigram distributions —
    the distribution-shift score of data curation (which sources are
    unlike the corpus mix, in either direction — forward KL punishes
    source-specific mass, reverse KL punishes missing coverage).

    The (source x vocab) grid is completed with a broadcast vocab
    cross join so zero counts contribute their smoothed mass; every
    p*ln(p/q) term reads exact BIGINT counts and snaps to 1e-9 units
    before the per-source reduction (SURVEY §4.3).

    Scale shape: token histogram aggregates (the standard explode
    shape) + a grid bounded by |vocab| x |sources|; the corpus-sized
    stages are the two token counts only."""
    d = T(spark, sf_dir, "documents").select("source", "text")
    tok = d.select("source",
                   F.explode(F.split("text", " ")).alias("t"))
    vocab = tok.select("t").distinct()
    vs = vocab.agg(F.count("*").alias("v"))
    corp = tok.groupBy("t").agg(F.count("*").alias("cc"))
    ctot = corp.agg(F.sum("cc").alias("nc"))
    src = tok.groupBy("source", "t").agg(F.count("*").alias("cs"))
    stot = src.groupBy("source").agg(F.sum("cs").alias("ns"))
    grid = (stot.crossJoin(F.broadcast(vocab))
            .crossJoin(F.broadcast(vs))
            .crossJoin(F.broadcast(ctot))
            .join(F.broadcast(corp), "t")
            .join(src, ["source", "t"], "left")
            .select("source", "t", "ns", "v",
                    F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
                    "cc", "nc"))
    ps = (F.col("cs") + 1.0) / (F.col("ns") + F.col("v"))
    pc = (F.col("cc") + 1.0) / (F.col("nc") + F.col("v"))
    terms = (grid.groupBy("source", "ns")
             .agg(units_sum(ps * F.log(ps / pc), 1e9).alias("kl_fwd_u"),
                  units_sum(pc * F.log(pc / ps), 1e9).alias("kl_rev_u")))
    return terms.select(
        "source", F.col("ns").alias("n_tokens"),
        F.round(F.col("kl_fwd_u") / 1e9, 6)
         .alias("kl_source_vs_corpus"),
        F.round(F.col("kl_rev_u") / 1e9, 6)
         .alias("kl_corpus_vs_source")).orderBy("source")


# ------------------------------------------ rank-biased overlap

@query("eval_rbo", oracle=f"""
    WITH deg AS (
        SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS c,
               {units_sum_sql('l_extendedprice', 100)} AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    ra AS (
        SELECT p, CAST(row_number() OVER (ORDER BY c DESC, p)
                       AS BIGINT) AS r
        FROM deg ORDER BY c DESC, p LIMIT 20
    ),
    rb AS (
        SELECT p, CAST(row_number() OVER (ORDER BY rev DESC, p)
                       AS BIGINT) AS r
        FROM deg ORDER BY rev DESC, p LIMIT 20
    ),
    joint AS (
        SELECT ra.p, greatest(ra.r, rb.r) AS mx
        FROM ra JOIN rb USING (p)
    ),
    depths AS (SELECT unnest(range(1, 21)) AS d),
    curve AS (
        SELECT d,
               CAST((SELECT count(*) FROM joint WHERE mx <= d)
                    AS BIGINT) AS overlap
        FROM depths
    ),
    terms AS (
        SELECT d, overlap,
               round(overlap * 1.0 / d, 6) AS agreement,
               CAST(round(pow(0.9, d - 1) * overlap * 1e9 / d)
                    AS BIGINT) AS term_u
        FROM curve
    ),
    rbo AS (
        SELECT round(0.1 * CAST(sum(term_u) AS BIGINT) / 1e9, 6)
            AS rbo_min
        FROM terms
    )
    SELECT d, overlap, agreement, rbo_min
    FROM terms, rbo
    ORDER BY d
""")
def eval_rbo(spark, sf_dir):
    """Rank-biased overlap (Webber, Moffat & Zobel 2010), RBO_min at
    p = 0.9 over depth 20, between two rankings of the same parts —
    by order count vs by revenue. RBO weights agreement at depth d by
    p^(d-1)/d, so the TOP of the lists dominates — the property that
    makes it the right "do these retrieval systems agree" metric
    where Kendall's tau over-weights the tail. The full agreement
    curve (overlap@d, X_d/d) rides along; rbo_min = (1-p) * sum of
    weighted terms is the same scalar on every row.

    Overlap@d is exact: an item present in both top-20s enters every
    depth >= max(rank_a, rank_b) — one 20x20 join, then a depth-spine
    count; each weighted term snaps to 1e-9 units before the 20-term
    sum (SURVEY §4.3).

    Scale shape: one degree/revenue aggregate, two TakeOrdered(20)
    rankings, and joins over 20-row lists — the fact is scanned once."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey",
                                             "l_extendedprice")
    deg = (li.groupBy(F.col("l_partkey").alias("p"))
           .agg(F.count("*").alias("c"),
                units_sum(F.col("l_extendedprice"), 100).alias("rev")))
    wa = Window.orderBy(F.col("c").desc(), F.col("p"))
    wb = Window.orderBy(F.col("rev").desc(), F.col("p"))
    ra = (deg.orderBy(F.col("c").desc(), "p").limit(20)
          .withColumn("r", F.row_number().over(wa).cast("bigint"))
          .select("p", F.col("r").alias("ra")))
    rb = (deg.orderBy(F.col("rev").desc(), "p").limit(20)
          .withColumn("r", F.row_number().over(wb).cast("bigint"))
          .select("p", F.col("r").alias("rb")))
    joint = (ra.join(rb, "p")
             .select("p", F.greatest("ra", "rb").alias("mx")))
    depths = spark.range(1, 21).select(F.col("id").cast("bigint")
                                       .alias("d"))
    curve = (depths.crossJoin(F.broadcast(joint))
             .groupBy("d")
             .agg(F.sum(F.when(F.col("mx") <= F.col("d"), 1)
                        .otherwise(0)).alias("overlap")))
    terms = curve.select(
        "d", "overlap",
        F.round(F.col("overlap") * 1.0 / F.col("d"), 6)
         .alias("agreement"),
        F.round(F.pow(F.lit(0.9), F.col("d") - 1) * F.col("overlap")
                * 1e9 / F.col("d")).cast("bigint").alias("term_u"))
    rbo = terms.agg(
        F.round(0.1 * F.sum("term_u") / 1e9, 6).alias("rbo_min"))
    return (terms.crossJoin(F.broadcast(rbo))
            .select("d", "overlap", "agreement", "rbo_min")
            .orderBy("d"))


# ----------------------------------- TVD + mutual information

@query("stats_tvd_independence", oracle="""
    WITH obs AS (
        SELECT o_orderstatus AS a, o_orderpriority AS b,
               CAST(count(*) AS BIGINT) AS nij
        FROM orders GROUP BY 1, 2
    ),
    ma AS (SELECT a, CAST(sum(nij) AS BIGINT) AS na FROM obs GROUP BY a),
    mb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS nb FROM obs GROUP BY b),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM obs),
    grid AS (
        SELECT ma.a, mb.b, ma.na, mb.nb, tot.n,
               coalesce(obs.nij, 0) AS nij
        FROM ma CROSS JOIN mb CROSS JOIN tot
        LEFT JOIN obs ON obs.a = ma.a AND obs.b = mb.b
    ),
    tvd AS (
        SELECT CAST(sum(abs(nij * n - na * nb)) AS BIGINT) AS num,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM grid
    ),
    mi AS (
        SELECT CAST(sum(CASE WHEN nij > 0 THEN
                   CAST(round((nij * 1.0 / n)
                              * ln(nij * 1.0 * n / (na * 1.0 * nb))
                              * 1e9) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS mi_u
        FROM grid
    )
    SELECT n, n_cells,
           round(num / (2.0 * n * n), 8) AS tvd,
           round(mi_u / 1e9, 6) AS mutual_info_nats
    FROM tvd, mi, tot
""")
def stats_tvd_independence(spark, sf_dir):
    """Independence measured in distribution space: the total
    variation distance between the joint (status, priority)
    distribution and the product of its margins, plus the mutual
    information in nats — the companions to stats_cramers_v that stay
    well-behaved when expected cell counts are small (no division by
    tiny expectations anywhere).

    TVD's numerator sum |n_ij*N - n_i*n_j| is EXACT BIGINT arithmetic
    over the completed margin grid (zero cells included via the left
    join); MI terms read exact counts and snap to 1e-9 units before
    the 15-cell reduction (SURVEY §4.3).

    Scale shape: one contingency aggregate; margins re-aggregated
    from the cell table; all math on the bounded grid."""
    o = T(spark, sf_dir, "orders").select("o_orderstatus",
                                          "o_orderpriority")
    obs = (o.groupBy(F.col("o_orderstatus").alias("a"),
                     F.col("o_orderpriority").alias("b"))
           .agg(F.count("*").alias("nij")))
    ma = obs.groupBy("a").agg(F.sum("nij").alias("na"))
    mb = obs.groupBy("b").agg(F.sum("nij").alias("nb"))
    tot = obs.agg(F.sum("nij").alias("n"))
    grid = (ma.crossJoin(F.broadcast(mb))
            .crossJoin(F.broadcast(tot))
            .join(obs, ["a", "b"], "left")
            .select("a", "b", "na", "nb", "n",
                    F.coalesce(F.col("nij"), F.lit(0)).alias("nij")))
    tvd = grid.agg(
        F.sum(F.abs(F.col("nij") * F.col("n")
                    - F.col("na") * F.col("nb"))).alias("num"),
        F.count("*").alias("n_cells"))
    mi = grid.agg(
        F.sum(F.when(F.col("nij") > 0,
                     F.round((F.col("nij") * 1.0 / F.col("n"))
                             * F.log(F.col("nij") * 1.0 * F.col("n")
                                     / (F.col("na") * 1.0
                                        * F.col("nb"))) * 1e9)
                     .cast("bigint")).otherwise(0)).alias("mi_u"))
    return (tot.crossJoin(F.broadcast(tvd))
            .crossJoin(F.broadcast(mi))
            .select("n", "n_cells",
                    F.round(F.col("num")
                            / (2.0 * F.col("n") * F.col("n")), 8)
                    .alias("tvd"),
                    F.round(F.col("mi_u") / 1e9, 6)
                    .alias("mutual_info_nats")))
