"""Clustering/link-analysis/effect-size eval pack (round 5, batch 23):
simplified silhouette for cluster quality, HITS hubs & authorities,
Cohen's d effect size, and the Brier score with its Murphy
decomposition. The reference engine (294 LoC of Rust delegating to
SQLite, reference src/main.rs) has none of this surface; these are
Tier-C mission operators extending queries/evalml.py:

- Silhouette is the standard label-free clustering audit; the
  SIMPLIFIED variant (distance to centroids, not all pairs — Hruschka
  et al. 2004) is the only one that scales: O(n*k) against broadcast
  centroids instead of O(n^2) pairwise.
- HITS (Kleinberg 1999) is the two-sided importance iteration —
  hubs (customers who buy from authoritative suppliers) and
  authorities (suppliers bought by good hubs) — the bipartite
  counterpart of the repo's pagerank key.
- Cohen's d is the difference-in-means effect size that stays
  meaningful at warehouse n, with Hedges' small-sample correction.
- The Brier score's Murphy decomposition (reliability - resolution +
  uncertainty) explains WHERE a probabilistic scorer loses accuracy —
  the companion audit to eval_calibration_ece, sharing its binning.

Determinism contract (SURVEY §4.3): embeddings are quantized to exact
milli-integer coordinates BEFORE any distance math (the
similarity_mmr/mrr protocol), HITS scores are integer micro-units
normalized by integer division each round, and every float statistic
is a single snapped expression over exact integers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from .tradegraph import cust_supp_edges, cust_supp_edges_sql
from ..numerics import units_sum, units_sum_sql


# ------------------------------------- simplified silhouette (centroid)

@query("eval_silhouette", oracle=f"""
    WITH pt AS (
        SELECT vec_id, label AS own,
               CAST(round(unnest(embedding::DOUBLE[]) * 1000) AS BIGINT)
                   AS vm,
               unnest(range(1, 65)) AS dim
        FROM embeddings
    ),
    cent AS (
        SELECT own AS cl, dim,
               CAST(round(sum(vm) * 1.0 / count(*)) AS BIGINT) AS cm
        FROM pt GROUP BY own, dim
    ),
    d2 AS (
        SELECT pt.vec_id, pt.own, cent.cl,
               CAST(sum((vm - cm) * (vm - cm)) AS BIGINT) AS d2
        FROM pt JOIN cent USING (dim)
        GROUP BY pt.vec_id, pt.own, cent.cl
    ),
    ab AS (
        SELECT vec_id, own,
               max(CASE WHEN cl = own THEN d2 END) AS a2,
               min(CASE WHEN cl <> own THEN d2 END) AS b2
        FROM d2 GROUP BY vec_id, own
    ),
    s AS (
        SELECT vec_id, own,
               round((sqrt(b2) - sqrt(a2))
                     / greatest(sqrt(a2), sqrt(b2)), 6) AS s
        FROM ab
    ),
    per AS (
        SELECT own AS label, CAST(count(*) AS BIGINT) AS n_points,
               round({units_sum_sql('s', 1e6)}
                     / (1e6 * count(*)), 6) AS mean_s
        FROM s GROUP BY own
    ),
    ov AS (
        SELECT round({units_sum_sql('s', 1e6)}
                     / (1e6 * count(*)), 6) AS overall_s
        FROM s
    )
    SELECT label, n_points, mean_s, overall_s
    FROM per, ov ORDER BY label
""")
def eval_silhouette(spark, sf_dir):
    """Simplified silhouette (Hruschka et al. 2004): cluster-quality
    score s_i = (b_i - a_i) / max(a_i, b_i) with a_i the distance to
    the OWN-cluster centroid and b_i the distance to the nearest other
    centroid — the O(n*k) variant of Rousseeuw's silhouette, the only
    formulation that survives 100 TB (classic silhouette is O(n^2)
    pairwise).

    Clusters = the embeddings' label column (a k=10 assignment).
    Coordinates are quantized to exact milli-integers first (the
    similarity_mmr protocol), so a^2/b^2 are exact BIGINT squared
    distances; s_i is one snapped float expression per point, and the
    per-cluster / overall means accumulate micro-units (SURVEY §4.3).

    Scale shape: centroids are a k x d aggregate (640 rows) broadcast
    back onto the exploded point stream — each point meets exactly k
    centroids, no pairwise joins; per-cluster reduce is map-side
    combinable. The overall scalar broadcasts onto the 10-row table."""
    e = T(spark, sf_dir, "embeddings")
    pt = (e.select("vec_id", F.col("label").alias("own"),
                   F.posexplode("embedding").alias("pos0", "v"))
          .select("vec_id", "own", (F.col("pos0") + 1).alias("dim"),
                  F.round(F.col("v").cast("double") * 1000)
                  .cast("bigint").alias("vm")))
    cent = (pt.groupBy(F.col("own").alias("cl"), "dim")
            .agg(F.round(F.sum("vm") * 1.0 / F.count("*"))
                 .cast("bigint").alias("cm")))
    d2 = (pt.join(F.broadcast(cent), "dim")
          .groupBy("vec_id", "own", "cl")
          .agg(F.sum((F.col("vm") - F.col("cm"))
                     * (F.col("vm") - F.col("cm"))).alias("d2")))
    ab = (d2.groupBy("vec_id", "own")
          .agg(F.max(F.when(F.col("cl") == F.col("own"), F.col("d2")))
               .alias("a2"),
               F.min(F.when(F.col("cl") != F.col("own"), F.col("d2")))
               .alias("b2")))
    s = ab.select(
        "vec_id", "own",
        F.round((F.sqrt("b2") - F.sqrt("a2"))
                / F.greatest(F.sqrt("a2"), F.sqrt("b2")), 6).alias("s"))
    per = (s.groupBy(F.col("own").alias("label"))
           .agg(F.count("*").alias("n_points"),
                F.round(units_sum(F.col("s"), 1e6)
                        / (1e6 * F.count("*")), 6).alias("mean_s")))
    ov = s.agg(
        F.round(units_sum(F.col("s"), 1e6)
                / (1e6 * F.count("*")), 6).alias("overall_s"))
    return (per.crossJoin(F.broadcast(ov))
            .select("label", "n_points", "mean_s", "overall_s")
            .orderBy("label"))


# --------------------------------------------- HITS hubs & authorities

@query("graph_hits", oracle=f"""
    WITH {cust_supp_edges_sql()},
    -- round 1: authorities from unit hubs, then hubs back
    a1 AS (
        SELECT s, CAST(count(*) AS BIGINT) * 1000000 AS a_raw
        FROM cs GROUP BY s
    ),
    a1n AS (
        SELECT s, a_raw * 1000000 // (SELECT max(a_raw) FROM a1) AS a
        FROM a1
    ),
    h1 AS (
        SELECT c, CAST(sum(a) AS BIGINT) AS h_raw
        FROM cs JOIN a1n USING (s) GROUP BY c
    ),
    h1n AS (
        SELECT c, h_raw * 1000000 // (SELECT max(h_raw) FROM h1) AS h
        FROM h1
    ),
    -- round 2
    a2 AS (
        SELECT s, CAST(sum(h) AS BIGINT) AS a_raw
        FROM cs JOIN h1n USING (c) GROUP BY s
    ),
    a2n AS (
        SELECT s, a_raw * 1000000 // (SELECT max(a_raw) FROM a2) AS a
        FROM a2
    ),
    h2 AS (
        SELECT c, CAST(sum(a) AS BIGINT) AS h_raw
        FROM cs JOIN a2n USING (s) GROUP BY c
    ),
    h2n AS (
        SELECT c, h_raw * 1000000 // (SELECT max(h_raw) FROM h2) AS h
        FROM h2
    ),
    deg AS (
        SELECT s, CAST(count(*) AS BIGINT) AS in_deg FROM cs GROUP BY s
    )
    SELECT a2n.s AS s_suppkey, a2n.a AS authority_micro, deg.in_deg
    FROM a2n JOIN deg USING (s)
    ORDER BY authority_micro DESC, s_suppkey LIMIT 20
""")
def graph_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999), 2 synchronous rounds
    on the customer -> supplier purchase graph: authority(s) = sum of
    hub scores buying from s; hub(c) = sum of authority scores c buys
    from; each round max-normalized. Top-20 authorities reported with
    their in-degree (round 1's authority IS the in-degree — the extra
    round is where HITS starts to differ from popularity).

    Scores live in integer micro-units and each normalization is
    BIGINT floor-division by the broadcast 1-row max — the fixpoint
    stays hash-exact across engines with no float anywhere (the
    attribution_markov_removal protocol). Round outputs cut lineage
    (PLANS.md rule: iterative keys referenced across rounds MUST cut
    or the plan tree grows geometrically).

    Scale shape: the graph is a DISTINCT-pair aggregate of the fact
    join (bounded by |customers| x avg distinct suppliers, not order
    volume); each half-round is one equi-join + groupBy on the edge
    list; normalizers are 1-row broadcasts. Top-20 is TakeOrdered."""
    edges = cust_supp_edges(spark, sf_dir).transform(physical.cut)

    def norm(df, key, raw):
        mx = df.agg(F.max(raw).alias("mx"))
        return (df.crossJoin(F.broadcast(mx))
                .select(key, F.expr(f"{raw} * 1000000 div mx")
                        .alias("v"))
                .transform(physical.cut))

    # r11: every score frame is DIMENSION-sized (one row per supplier
    # or customer) but cut, so its stats are unknown and each
    # half-round sort-merged, shuffling the full edge list.
    # Broadcasting the score side makes each half-round one map pass
    # over the cut edges + its groupBy shuffle (guide §3).
    a1 = edges.groupBy("s").agg(
        (F.count("*") * 1000000).alias("a_raw"))
    a1n = norm(a1, "s", "a_raw").withColumnRenamed("v", "a")
    h1 = (edges.join(physical.bounded_broadcast(a1n, sf_dir, ("supplier",)),
                     "s")
          .groupBy("c").agg(F.sum("a").alias("h_raw")))
    h1n = norm(h1, "c", "h_raw").withColumnRenamed("v", "h")
    a2 = (edges.join(physical.bounded_broadcast(h1n, sf_dir, ("customer",)),
                     "c")
          .groupBy("s").agg(F.sum("h").alias("a_raw")))
    a2n = norm(a2, "s", "a_raw").withColumnRenamed("v", "a")
    deg = edges.groupBy("s").agg(F.count("*").alias("in_deg"))
    return (a2n.join(physical.bounded_broadcast(deg, sf_dir, ("supplier",)),
                     "s")
            .select(F.col("s").alias("s_suppkey"),
                    F.col("a").alias("authority_micro"), "in_deg")
            .orderBy(F.col("authority_micro").desc(), "s_suppkey")
            .limit(20))


# --------------------------------------------------- Cohen's d panel

@query("stats_cohens_d", oracle="""
    WITH g AS (
        SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS grp,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    m AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(cents * cents) AS BIGINT) AS s2
        FROM g GROUP BY grp
    ),
    w AS (
        SELECT max(CASE WHEN grp = 1 THEN n END) AS n1,
               max(CASE WHEN grp = 0 THEN n END) AS n2,
               max(CASE WHEN grp = 1 THEN s1 END) AS a1,
               max(CASE WHEN grp = 0 THEN s1 END) AS b1,
               max(CASE WHEN grp = 1 THEN s2 END) AS a2,
               max(CASE WHEN grp = 0 THEN s2 END) AS b2
        FROM m
    ),
    st AS (
        SELECT n1, n2,
               round(a1 * 1.0 / n1 / 100, 6) AS mean1,
               round(b1 * 1.0 / n2 / 100, 6) AS mean2,
               (a2 - a1 * 1.0 / n1 * a1) / (n1 - 1) / 10000 AS v1,
               (b2 - b1 * 1.0 / n2 * b1) / (n2 - 1) / 10000 AS v2
        FROM w
    ),
    d AS (
        SELECT n1, n2, mean1, mean2,
               -- + 0.0 folds IEEE negative zero (d rounds to -0.0 on
               -- DuckDB but 0.0 on Spark when means tie; hash is
               -- sign-sensitive)
               round((mean1 - mean2)
                     / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                            / (n1 + n2 - 2)), 6) + 0.0 AS cohens_d
        FROM st
    )
    SELECT n1, n2, mean1, mean2, cohens_d,
           round(cohens_d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6)
               + 0.0 AS hedges_g,
           round(sqrt((n1 + n2) * 1.0 / (n1 * n2)
                      + cohens_d * cohens_d / (2.0 * (n1 + n2 - 2))), 6)
               AS se_d
    FROM d
""")
def stats_cohens_d(spark, sf_dir):
    """Cohen's d standardized mean difference (Cohen 1988) between
    error and non-error event values, with Hedges' small-sample
    correction g = d * (1 - 3/(4N - 9)) and the standard large-sample
    SE of d — the effect-size panel that stays meaningful when n makes
    every t-test "significant".

    Group means and variances come from exact integer cents power sums
    (S1, S2 per group — cents^2 * n stays far under 2^63 at any
    plausible SF); the sample variance is the one-pass expansion
    (S2 - S1^2/n)/(n-1), written in the identical operation order on
    both engines, and d/g/se are each one snapped expression over the
    already-reduced scalars (SURVEY §4.3).

    Scale shape: ONE map-side-combinable two-group aggregate — six
    integers cross the wire; the pivot to one row is a 2-row max-CASE."""
    g = T(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "error", 1).otherwise(0)
         .alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    m = (g.groupBy("grp")
         .agg(F.count("*").alias("n"),
              F.sum("cents").alias("s1"),
              F.sum(F.col("cents") * F.col("cents")).alias("s2")))
    w = m.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == 1, F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("grp") == 0, F.col("s1"))).alias("b1"),
        F.max(F.when(F.col("grp") == 1, F.col("s2"))).alias("a2"),
        F.max(F.when(F.col("grp") == 0, F.col("s2"))).alias("b2"))
    v1 = ((F.col("a2") - F.col("a1") * 1.0 / F.col("n1") * F.col("a1"))
          / (F.col("n1") - 1) / 10000)
    v2 = ((F.col("b2") - F.col("b1") * 1.0 / F.col("n2") * F.col("b1"))
          / (F.col("n2") - 1) / 10000)
    st = w.select(
        "n1", "n2",
        F.round(F.col("a1") * 1.0 / F.col("n1") / 100, 6).alias("mean1"),
        F.round(F.col("b1") * 1.0 / F.col("n2") / 100, 6).alias("mean2"),
        v1.alias("v1"), v2.alias("v2"))
    d = st.select(
        "n1", "n2", "mean1", "mean2",
        # + 0.0: fold -0.0 to +0.0 (see oracle note)
        (F.round((F.col("mean1") - F.col("mean2"))
                 / F.sqrt(((F.col("n1") - 1) * F.col("v1")
                           + (F.col("n2") - 1) * F.col("v2"))
                          / (F.col("n1") + F.col("n2") - 2)), 6) + 0.0)
         .alias("cohens_d"))
    return d.select(
        "n1", "n2", "mean1", "mean2", "cohens_d",
        (F.round(F.col("cohens_d")
                 * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n2"))
                                 - 9.0)), 6) + 0.0).alias("hedges_g"),
        F.round(F.sqrt((F.col("n1") + F.col("n2")) * 1.0
                       / (F.col("n1") * F.col("n2"))
                       + F.col("cohens_d") * F.col("cohens_d")
                       / (2.0 * (F.col("n1") + F.col("n2") - 2))), 6)
         .alias("se_d"))


# ------------------------------------ Brier score, Murphy decomposition

@query("eval_brier_decomposition", oracle=f"""
    WITH mx AS (SELECT max(n_chars) AS maxc FROM documents),
    scored AS (
        SELECT round(n_chars * 1.0 / maxc, 6) AS conf,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        FROM documents, mx
    ),
    binned AS (
        SELECT CAST(least(floor(conf * 10), 9) AS BIGINT) AS bin,
               CAST(round(conf * 1e6) AS BIGINT) AS conf_u, label
        FROM scored
    ),
    brier AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS n_pos,
               CAST(sum((conf_u - label * 1000000)
                        * (conf_u - label * 1000000)) AS BIGINT) AS bs_u
        FROM binned
    ),
    bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(conf_u) AS BIGINT) AS cu,
               CAST(sum(label) AS BIGINT) AS pb
        FROM binned GROUP BY bin
    ),
    parts AS (
        SELECT {units_sum_sql(
                   'nb * pow(cu * 1.0 / nb - pb * 1e6 / nb, 2) / 1e6')} AS rel_u,
               {units_sum_sql(
                   'nb * pow(pb * 1e6 / nb - (SELECT n_pos * 1e6'
                   ' / n FROM brier), 2) / 1e6')} AS res_u
        FROM bins
    )
    SELECT n, n_pos,
           round(bs_u / (1e12 * n), 6) AS brier,
           round(rel_u / (1e6 * n), 6) AS reliability,
           round(res_u / (1e6 * n), 6) AS resolution,
           round((n_pos * 1.0 / n) * (1.0 - n_pos * 1.0 / n), 6)
               AS uncertainty
    FROM brier, parts
""")
def eval_brier_decomposition(spark, sf_dir):
    """Brier score with the Murphy (1973) decomposition: BS measured
    directly, plus reliability (calibration badness), resolution
    (discrimination), and uncertainty (base-rate variance) from the
    same 10 confidence bins as eval_calibration_ece — BS ~ REL - RES +
    UNC up to the within-bin variance the binning hides, which is why
    both the direct score and the parts are reported.

    Confidences are the deterministic length-normalized scores in
    integer micro-units, so the Brier sum is an exact BIGINT
    ((conf_u - label*1e6)^2 summed — max 1e12 per row, safe to ~1e6
    rows per partial; the final division happens once), and each bin's
    REL/RES term is snapped to integer micro-units before the 10-term
    reduction (SURVEY §4.3).

    Scale shape: one corpus-wide conditional aggregate (map-side
    combinable) + one 10-group aggregate — the same two-scan shape as
    ECE, nothing corpus-sized past the reduce."""
    d = T(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("maxc"))
    scored = (d.crossJoin(F.broadcast(mx))
              .select(
                  F.round(F.col("n_chars") * 1.0 / F.col("maxc"), 6)
                   .alias("conf"),
                  F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("label")))
    binned = scored.select(
        F.least(F.floor(F.col("conf") * 10), F.lit(9)).cast("bigint")
         .alias("bin"),
        F.round(F.col("conf") * 1e6).cast("bigint").alias("conf_u"),
        "label")
    brier = binned.agg(
        F.count("*").alias("n"),
        F.sum("label").alias("n_pos"),
        F.sum((F.col("conf_u") - F.col("label") * 1000000)
              * (F.col("conf_u") - F.col("label") * 1000000))
         .alias("bs_u"))
    bins = (binned.groupBy("bin")
            .agg(F.count("*").alias("nb"),
                 F.sum("conf_u").alias("cu"),
                 F.sum("label").alias("pb")))
    base_u = F.col("n_pos") * 1e6 / F.col("n")
    parts = (bins.crossJoin(F.broadcast(brier.select("n", "n_pos")))
             .agg(
                 units_sum(F.col("nb")
                     * F.pow(F.col("cu") * 1.0 / F.col("nb")
                             - F.col("pb") * 1e6 / F.col("nb"), 2)
                     / 1e6).alias("rel_u"),
                 units_sum(F.col("nb")
                     * F.pow(F.col("pb") * 1e6 / F.col("nb") - base_u, 2)
                     / 1e6).alias("res_u")))
    return (brier.crossJoin(F.broadcast(parts))
            .select(
                "n", "n_pos",
                F.round(F.col("bs_u") / (1e12 * F.col("n")), 6)
                 .alias("brier"),
                F.round(F.col("rel_u") / (1e6 * F.col("n")), 6)
                 .alias("reliability"),
                F.round(F.col("res_u") / (1e6 * F.col("n")), 6)
                 .alias("resolution"),
                F.round((F.col("n_pos") * 1.0 / F.col("n"))
                        * (1.0 - F.col("n_pos") * 1.0 / F.col("n")), 6)
                 .alias("uncertainty")))
