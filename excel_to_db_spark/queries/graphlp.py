"""Graph link-prediction pack (round 6, batch 64). The reference
engine (294 LoC of Rust delegating to SQLite, reference src/main.rs)
has none of this surface; these are Tier-C mission operators — the
who-connects-next toolkit (Liben-Nowell & Kleinberg 2003) that
recommender candidate generation, entity resolution, and graph-based
dedup all reduce to:

- Link-prediction score panel: common neighbors, Adamic-Adar,
  resource allocation, preferential attachment, Salton cosine,
  Sørensen — the six classic scores side by side for the same
  candidate pairs (they disagree exactly when degree skew matters,
  which is the practical selection problem).
- Harmonic closeness centrality: all-sources frontier BFS over the
  sparsified trade graph — the centrality that stays defined on
  disconnected digraphs (Boldi & Vigna 2014).
- Truncated Katz index: damped walk counts up to length 3 — the
  path-based score that sees beyond shared neighbors.
- Holdout evaluation: deterministic edge split, score on the train
  graph, measure precision@k against links that exist only in the
  full graph — the eval loop every production LP model runs.

Determinism contract (SURVEY §4.3): all scores are exact integers or
1e6-snapped micro-units (integer `//`/`DIV` or per-term
round-then-sum); candidate orderings always end with the (s1, s2)
total tie-break; the holdout split is a fixed modular hash, not RNG.

Scale shapes: wedge generation joins through parts capped at <= 64
suppliers (the skew guard of `graph_jaccard_neighbors` — hub parts
would emit O(s^2) wedges); the part-key groupBy partitioning is
reused by the equi-self-join; degree tables join broadcast. The
centrality/Katz keys run on the 25-node nation graph after ONE
fact-table aggregate — frontier BFS shuffles node-sized state only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import query
from .relational import T
from .tradegraph import (SUPP_PART_SQL, capped_edges, supp_part,
                         top2_partners, top2_partners_sql)


# ------------------------------------- link-prediction score panel

@query("graph_link_prediction_panel", oracle=f"""
    WITH {SUPP_PART_SQL},
    spc AS (
        SELECT sp.s, sp.p, pc.c,
               CAST(round(1000000 / ln(pc.c)) AS BIGINT) AS aa_term,
               1000000 // pc.c AS ra_term
        FROM sp JOIN pc ON sp.p = pc.p
        WHERE pc.c BETWEEN 2 AND 64
    ),
    wedge AS (
        SELECT a.s AS s1, b.s AS s2,
               CAST(count(*) AS BIGINT) AS cn,
               CAST(sum(a.aa_term) AS BIGINT) AS aa_micro,
               CAST(sum(a.ra_term) AS BIGINT) AS ra_micro
        FROM spc a JOIN spc b ON a.p = b.p AND a.s < b.s
        GROUP BY 1, 2
    )
    SELECT s1, s2, cn, aa_micro, ra_micro,
           CAST(d1.d * d2.d AS BIGINT) AS pa,
           CAST(round(1000000.0 * cn / sqrt(d1.d * d2.d)) AS BIGINT)
               AS salton_micro,
           CAST((2000000 * cn) // (d1.d + d2.d) AS BIGINT)
               AS sorensen_micro
    FROM wedge
    JOIN deg d1 ON wedge.s1 = d1.s
    JOIN deg d2 ON wedge.s2 = d2.s
    ORDER BY cn DESC, s1, s2 LIMIT 20
""")
def graph_link_prediction_panel(spark, sf_dir):
    """Six link-prediction scores for the top-20 supplier pairs by
    shared parts: common neighbors (cn), Adamic-Adar (sum of
    1/ln(part degree) — rare shared parts count more), resource
    allocation (1/degree — the harsher damping), preferential
    attachment (d1*d2 — the no-wedge-needed baseline), Salton cosine
    (cn/sqrt(d1*d2)) and Sørensen (2cn/(d1+d2)). The panel exists
    because the scores RANK DIFFERENTLY under degree skew — AA/RA
    discount hub-mediated wedges that CN and PA reward — and
    choosing among them is an empirical question the holdout-eval
    sibling answers.

    AA terms snap per part (round(1e6/ln(c)) — same double on both
    engines, then integer sums); RA terms are exact integer `//`.
    Wedges route through parts with 2..64 suppliers (skew cap, as in
    `graph_jaccard_neighbors`); degrees stay exact on the uncapped
    edge set. Ordering is (cn DESC, s1, s2) — fully deterministic.

    Scale shape (r12, guide §2.4): one distinct projection computed
    ONCE (checkpointed leaf — the r11 plan re-scanned lineitem and
    re-ran the distinct six times across the wedge sides, their cap
    prefilters and the degree joins), the 2..64 cap prefilters
    map-side (bounded_broadcast on the part dimension), and the wedge
    self-join sort-merges the two identical capped subtrees (exchange
    reuse; a checkpointed leaf has no stats, so the r11 planner's
    data-sized broadcast of the build side is correctly off the
    table). A per-part sorted-supplier-list + pair-HOF formulation was
    measured 2.6x SLOWER at jittered sf1 (35.9 s vs 13.6 s for the
    wedge stage: the nested transform/slice/struct HOF runs
    interpreted per part, the join runs in codegen) and kept out.
    One pair aggregate, two broadcast degree joins, TakeOrdered 20."""
    sp, pc, deg = supp_part(spark, sf_dir)
    spc = (capped_edges(sp, pc, sf_dir)
           .select("s", "p",
                   F.round(1000000 / F.log(F.col("c"))).cast("bigint")
                   .alias("aa_term"),
                   F.expr("1000000 DIV c").alias("ra_term")))
    a, b = spc.alias("a"), spc.alias("b")
    wedge = (a.join(b, (F.col("a.p") == F.col("b.p"))
                    & (F.col("a.s") < F.col("b.s")))
             .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
             .agg(F.count("*").alias("cn"),
                  F.sum("a.aa_term").alias("aa_micro"),
                  F.sum("a.ra_term").alias("ra_micro")))
    res = (wedge
           .join(F.broadcast(deg.select(F.col("s").alias("s1"),
                                        F.col("d").alias("d1"))), "s1")
           .join(F.broadcast(deg.select(F.col("s").alias("s2"),
                                        F.col("d").alias("d2"))), "s2"))
    return (res.select(
        "s1", "s2", "cn", "aa_micro", "ra_micro",
        (F.col("d1") * F.col("d2")).alias("pa"),
        F.round(1000000.0 * F.col("cn")
                / F.sqrt(F.col("d1") * F.col("d2"))).cast("bigint")
        .alias("salton_micro"),
        F.expr("CAST((2000000 * cn) DIV (d1 + d2) AS BIGINT)")
        .alias("sorensen_micro"))
        .orderBy(F.col("cn").desc(), "s1", "s2").limit(20))


# ----------------------------------- harmonic closeness centrality

@query("graph_harmonic_closeness", oracle=f"""
    WITH RECURSIVE {top2_partners_sql()},
    walk(src, node, level) AS (
        SELECT n_nationkey, n_nationkey, 0 FROM nation
        UNION
        SELECT w.src, e.dst, w.level + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.level < 12
    ),
    dist AS (
        SELECT src, node, CAST(min(level) AS BIGINT) AS d
        FROM walk GROUP BY src, node
    )
    SELECT src AS nation,
           CAST(count(*) - 1 AS BIGINT) AS reached,
           CAST(sum(CASE WHEN d > 0 THEN 1000000 // d ELSE 0 END)
                AS BIGINT) AS harmonic_micro
    FROM dist GROUP BY src
""")
def graph_harmonic_closeness(spark, sf_dir):
    """Harmonic closeness of every nation in the top-2-partner trade
    digraph: H(u) = sum over reached v != u of 1/d(u,v) — the
    closeness variant that handles unreachable pairs by adding 0
    instead of dividing by infinity, which is why it is the right
    centrality for sparsified DIGRAPHS where reachability is partial
    (Boldi & Vigna's axiomatic pick). Reported beside the reach
    count so a high H from a tiny reachable set is visible.

    Spark side is ALL-SOURCES frontier BFS: state is (src, node)
    pairs, each hop joins the frontier to the 25-node edge list,
    anti-joins the visited set, stops when the frontier drains
    (depth cap 12 pinned on both engines). The fact table aggregates
    ONCE into the edge list; the loop shuffles node-pair state only
    — the budget that survives a 100 TB fact table feeding a
    million-node graph. Per-distance terms are exact 1e6 // d."""
    # r11 (guide §5, the markov/components precedent): the sparsified
    # digraph is MODEL-sized (25 nations x top-2 out-edges, bounded by
    # the nation schema), so all-sources BFS state is <=625 pairs. The
    # former loop ran up to 12 hops of join+anti-join+count Spark jobs
    # per replay; the same BFS over the collected edge list computes
    # identical levels (depth cap 12 kept), and the per-distance
    # 1e6 // d terms are the same exact integers.
    erows = [(r[0], r[1]) for r in top2_partners(spark, sf_dir).collect()]
    nodes = [r[0] for r in T(spark, sf_dir, "nation")
             .select("n_nationkey").collect()]
    adj: dict[int, list[int]] = {}
    for src, dst in erows:
        adj.setdefault(src, []).append(dst)
    out = []
    for s in nodes:
        level = {s: 0}
        frontier = [s]
        for depth in range(1, 13):
            nxt = [d for n in frontier for d in adj.get(n, ())
                   if d not in level]
            if not nxt:
                break
            for d in nxt:
                level[d] = depth
            frontier = sorted(set(nxt))
        out.append((int(s), len(level) - 1,
                    sum(1_000_000 // lv for lv in level.values()
                        if lv > 0)))
    return spark.createDataFrame(
        out, "nation int, reached bigint, harmonic_micro bigint")


# ---------------------------------------------- truncated Katz

@query("graph_katz3", oracle=f"""
    WITH {top2_partners_sql()},
    p1 AS (
        SELECT src AS u, dst AS v, CAST(1 AS BIGINT) AS n
        FROM edges
    ),
    p2 AS (
        SELECT a.src AS u, b.dst AS v, CAST(count(*) AS BIGINT) AS n
        FROM edges a JOIN edges b ON a.dst = b.src
        GROUP BY 1, 2
    ),
    p3 AS (
        SELECT p2.u, e.dst AS v, CAST(sum(p2.n) AS BIGINT) AS n
        FROM p2 JOIN edges e ON p2.v = e.src
        GROUP BY 1, 2
    ),
    uni AS (
        SELECT u, v FROM p1 UNION
        SELECT u, v FROM p2 UNION
        SELECT u, v FROM p3
    ),
    katz AS (
        SELECT uni.u, uni.v,
               coalesce(p1.n, 0) AS w1,
               coalesce(p2.n, 0) AS w2,
               coalesce(p3.n, 0) AS w3,
               CAST(100000 * coalesce(p1.n, 0)
                    + 10000 * coalesce(p2.n, 0)
                    + 1000 * coalesce(p3.n, 0) AS BIGINT) AS katz_micro
        FROM uni
        LEFT JOIN p1 ON uni.u = p1.u AND uni.v = p1.v
        LEFT JOIN p2 ON uni.u = p2.u AND uni.v = p2.v
        LEFT JOIN p3 ON uni.u = p3.u AND uni.v = p3.v
        WHERE uni.u <> uni.v
    )
    SELECT u, v, w1, w2, w3, katz_micro
    FROM katz ORDER BY katz_micro DESC, u, v LIMIT 20
""")
def graph_katz3(spark, sf_dir):
    """Truncated Katz index on the sparsified nation digraph:
    katz(u,v) = sum over walk lengths L=1..3 of beta^L * walks_L(u,v)
    with beta = 1/10, in exact micro-units (100000*w1 + 10000*w2 +
    1000*w3 — the damping chosen so every term is integer). Where
    the panel's scores see only DIRECT shared neighbors, Katz scores
    pairs two and three hops apart — the candidate generator for
    cold pairs. Self-pairs (closed walks) are excluded from the
    ranking; walk counts w1..w3 are reported so the damping can be
    re-derived downstream.

    Walk counting is adjacency-join algebra: A^2 is one self-join of
    the edge list, A^3 one more join of A^2 with A — on the 25-node
    aggregate, after the fact table collapsed ONCE. Top-20 by
    (katz DESC, u, v) — fully deterministic."""
    # r11 (guide §5, the markov/components precedent): the sparsified
    # digraph is MODEL-sized (25 nations x top-2 out-edges), so the
    # A^2/A^3 walk algebra runs over <=50 edges. The former plan ran
    # two self-joins, three aggregations and a 3-way left join as
    # Spark jobs; the identical integer walk counts come from the
    # collected edge list in Python (exact ints, same top-20 under
    # the same (katz DESC, u, v) total order).
    erows = [(r[0], r[1]) for r in top2_partners(spark, sf_dir).collect()]
    from collections import Counter

    w1 = Counter((u, v) for u, v in erows)          # 0/1 by construction
    adj: dict[int, list[int]] = {}
    for u, v in erows:
        adj.setdefault(u, []).append(v)
    w2: Counter = Counter()
    for (u, v), _ in w1.items():
        for x in adj.get(v, ()):
            w2[(u, x)] += 1
    w3: Counter = Counter()
    for (u, v), n in w2.items():
        for x in adj.get(v, ()):
            w3[(u, x)] += n
    uni = (set(w1) | set(w2) | set(w3))
    rows = [(int(u), int(v), w1.get((u, v), 0), w2.get((u, v), 0),
             w3.get((u, v), 0))
            for u, v in uni if u != v]
    rows = [(u, v, a, b2, c, 100000 * a + 10000 * b2 + 1000 * c)
            for u, v, a, b2, c in rows]
    rows.sort(key=lambda r: (-r[5], r[0], r[1]))
    return spark.createDataFrame(
        rows[:20],
        "u int, v int, w1 bigint, w2 bigint, w3 bigint, "
        "katz_micro bigint")


# ------------------------------------------- holdout evaluation

@query("graph_lp_holdout_eval", oracle=f"""
    WITH {SUPP_PART_SQL},
    capped AS (
        SELECT sp.s, sp.p FROM sp JOIN pc ON sp.p = pc.p
        WHERE pc.c BETWEEN 2 AND 64
    ),
    train AS MATERIALIZED (
        SELECT s, p FROM capped WHERE (s * 31 + p * 17) % 5 <> 0
    ),
    cn_train AS (
        SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS cn
        FROM train a JOIN train b ON a.p = b.p AND a.s < b.s
        GROUP BY 1, 2
    ),
    cn_full AS (
        SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS cn
        FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT t.s1, t.s2, t.cn AS score,
               CASE WHEN f.cn > t.cn THEN 1 ELSE 0 END AS pos,
               row_number() OVER (ORDER BY t.cn DESC, t.s1, t.s2)
                   AS rk
        FROM cn_train t JOIN cn_full f
          ON t.s1 = f.s1 AND t.s2 = f.s2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN rk <= 50 THEN pos ELSE 0 END)
                AS BIGINT) AS pos_at_50,
           CAST((1000000 * sum(CASE WHEN rk <= 50 THEN pos ELSE 0
                                    END)) // 50 AS BIGINT)
               AS prec_at_50_micro,
           CAST((1000000 * sum(pos)) // count(*) AS BIGINT)
               AS base_rate_micro
    FROM scored
""")
def graph_lp_holdout_eval(spark, sf_dir):
    """The link-prediction EVAL loop: hide a deterministic 1/5 of the
    supplier-part edges ((s*31 + p*17) % 5 == 0 — a fixed modular
    hash, not RNG, so both engines hide the same edges), score
    candidate pairs by common neighbors on the TRAIN graph, and ask
    how often the top-scored pairs gained a common part that exists
    only in the FULL graph (pos = cn_full > cn_train). Reports
    precision@50 against the candidate base rate — the lift over
    random that justifies (or kills) the score. Candidates are
    train-adjacent pairs only, the standard LP eval boundary
    (pairs with zero train evidence are unscoreable by definition).

    Same capped wedge machinery as the panel (cap computed on the
    full graph and applied to both sides, so train/full wedge counts
    are comparable); the top-50 cut is (score DESC, s1, s2) — a
    total order. Integer counts end to end; rates in micro-units via
    integer division.

    r11 (guide §2): ONE wedge pass computes both counts. train is a
    deterministic row-filter of capped, so a train wedge is exactly a
    full wedge whose two edges both satisfy the split predicate:
    cn_train(s1,s2) = sum(t_a * t_b) over the full wedge set, with t
    the per-edge 0/1 train flag. That folds the former second wedge
    self-join + aggregation + pair-pair shuffle join into one extra
    SUM in the full-wedge aggregate; the former INNER join to
    cn_train kept exactly the pairs with cn_train >= 1 (train wedges
    are a subset of full wedges), which is the score >= 1 filter."""
    sp, pc, _deg = supp_part(spark, sf_dir)
    # r12: the checkpointed edge set + map-side cap prefilter (see
    # supp_part/capped_edges) replace the r11 shape's repeated
    # lineitem scans; the single wedge pass over both counts (r11) is
    # unchanged.
    cf = (capped_edges(sp, pc, sf_dir)
          .select("s", "p",
                  ((F.col("s") * 31 + F.col("p") * 17) % 5 != 0)
                  .cast("bigint").alias("t")))
    a, b = cf.alias("a"), cf.alias("b")
    scored = (a.join(b, (F.col("a.p") == F.col("b.p"))
                     & (F.col("a.s") < F.col("b.s")))
              .groupBy(F.col("a.s").alias("s1"),
                       F.col("b.s").alias("s2"))
              .agg(F.count("*").alias("cn_full"),
                   F.sum(F.col("a.t") * F.col("b.t")).alias("score"))
              .where(F.col("score") >= 1)
              .select("s1", "s2", "score",
                      F.when(F.col("cn_full") > F.col("score"), 1)
                      .otherwise(0).alias("pos")))
    # No global row_number: the top-50 cut is a distributed
    # TakeOrderedAndProject (total order: score DESC, s1, s2), the
    # population totals one reduce; both are 1-row and cross-join.
    totals = scored.agg(F.count("*").alias("n_candidates"),
                        F.sum("pos").alias("n_pos"))
    top = (scored.orderBy(F.col("score").desc(), "s1", "s2").limit(50)
           .agg(F.sum("pos").alias("pos_at_50")))
    return (totals.crossJoin(F.broadcast(top))
            .select("n_candidates", "n_pos", "pos_at_50",
                    F.expr("CAST((1000000 * pos_at_50) DIV 50 AS BIGINT)")
                    .alias("prec_at_50_micro"),
                    F.expr("CAST((1000000 * n_pos) DIV n_candidates "
                           "AS BIGINT)").alias("base_rate_micro")))
