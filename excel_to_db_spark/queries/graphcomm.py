"""Graph-community pack (round 6, batch 69). The reference engine (294
LoC of Rust delegating to SQLite, reference src/main.rs) has no graph
surface; these are Tier-C mission operators on the repo's standard
customer-supplier trade graph (distinct (custkey, suppkey) pairs from
orders x lineitem; node ids 2c / 2s+1 — the `graph_modularity` /
`graph_components` construction), extending the existing census/metric
keys with the community-detection layer:

- graph_label_propagation: synchronous LPA (Raghavan 2007) — each
  node takes the MODE of its neighbors' labels (tie -> smallest
  label), 3 fixed rounds from singleton labels; community-size
  census out. Both engines run the same 3 synchronous rounds, so the
  result is deterministic even where LPA hasn't converged.
- graph_conductance: conductance phi(S) = cut(S)/min(vol S, vol V-S)
  of the nation partition — the quality score for a GIVEN community
  assignment, the number Louvain/LPA output gets judged by.
- graph_bipartite_projection: co-purchase projection onto suppliers
  (weight = #common customers) via the customer inverted index —
  the classic bipartite->unipartite fold, top-20 pairs pinned.
- graph_core_periphery: Borgatti-Everett-style block census — core =
  top-decile-degree nodes (exact rank, ties pinned), block densities
  against the bipartite possible-pair denominators.

Scale shapes: every round/metric is an equi-join + aggregate on the
edge list; LPA rounds cut lineage (plan-growth rule) and the
oracle MATERIALIZEs every level (DuckDB re-runs a CTE per downstream
reference). The projection's cost is sum of squared customer degrees
— DF-capped in production (drop hub customers, documented in
`recsys_item_item`); here degrees are bounded by construction."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from .tradegraph import cust_supp_edges, cust_supp_edges_sql

_EDGES_SQL = f"""
    {cust_supp_edges_sql()},
    edges AS MATERIALIZED (SELECT c * 2 AS u, s * 2 + 1 AS v FROM cs),
    bi AS MATERIALIZED (
        SELECT u, v FROM edges
        UNION ALL
        SELECT v AS u, u AS v FROM edges
    )
"""


def _edges(spark, sf_dir):
    """Distinct trade edges (u = 2*custkey, v = 2*suppkey+1)."""
    return cust_supp_edges(spark, sf_dir).select(
        (F.col("c") * 2).alias("u"), (F.col("s") * 2 + 1).alias("v"))


def _bi(edges):
    return (edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .transform(physical.cut))


_LPA_ROUND = """
    l{k} AS MATERIALIZED (
        SELECT u, lbl FROM (
            SELECT b.u, p.lbl, count(*) AS cnt,
                   row_number() OVER (PARTITION BY b.u
                                      ORDER BY count(*) DESC, p.lbl)
                       AS rn
            FROM bi b JOIN l{j} p ON p.u = b.v
            GROUP BY b.u, p.lbl
        ) WHERE rn = 1
    )
"""


@query("graph_label_propagation", oracle=f"""
    WITH {_EDGES_SQL},
    l0 AS MATERIALIZED (SELECT DISTINCT u, u AS lbl FROM bi),
    {_LPA_ROUND.format(k=1, j=0)},
    {_LPA_ROUND.format(k=2, j=1)},
    {_LPA_ROUND.format(k=3, j=2)},
    comms AS (SELECT lbl, count(*) AS csize FROM l3 GROUP BY lbl)
    SELECT csize, count(*) AS n_communities
    FROM comms GROUP BY csize
""")
def graph_label_propagation(spark, sf_dir):
    """Synchronous label propagation: 3 fixed rounds of neighbor-mode
    relabeling (count per (node, neighbor label), argmax by count with
    smallest-label tie-break — the pinned deterministic variant of
    Raghavan's LPA) from singleton labels, then a community-size
    census. Spark checkpoints between rounds, the oracle MATERIALIZEs
    each level.

    Round shape (r11 optimization, guide §2/§3): the per-round label
    frame is NODE-sized (the customer+supplier dimension, the same
    bound that lets `tradegraph.nation_pairs` broadcast both dim
    tables), so it is explicitly broadcast — as a checkpointed RDD its
    stats are unknown and AQE would otherwise sort-merge, shuffling the
    full edge list every round (measured 3 Exchanges/round at sf0.1). The
    per-node top-1 is `max(struct(cnt, -lbl))` — an argmax the window
    cannot express without a sort: struct ordering compares cnt first,
    then -lbl, so the max is the highest count with the SMALLEST label
    on ties, exactly the row_number()=1 row (unique, hence
    order-independent), and both aggregations partial-aggregate
    map-side where the window forced a full sort per round."""
    bi = _bi(_edges(spark, sf_dir))
    lbl = bi.select("u").distinct().select("u", F.col("u").alias("lbl"))
    for _ in range(3):
        lbl = (bi.join(physical.bounded_broadcast(
                               lbl.select(F.col("u").alias("v2"), "lbl"),
                               sf_dir, ("customer", "supplier")),
                       bi["v"] == F.col("v2"))
               .groupBy("u", "lbl").agg(F.count("*").alias("cnt"))
               .groupBy("u")
               .agg(F.max(F.struct(F.col("cnt"),
                                   (-F.col("lbl")).alias("neg")))
                    .alias("top"))
               .select("u", (-F.col("top.neg")).alias("lbl"))
               .transform(physical.cut))
    return (lbl.groupBy("lbl").agg(F.count("*").alias("csize"))
            .groupBy("csize").agg(F.count("*").alias("n_communities")))


@query("graph_conductance", oracle=f"""
    WITH {_EDGES_SQL},
    lab AS (
        SELECT c.c_nationkey AS gu, s.s_nationkey AS gv
        FROM edges e
        JOIN customer c ON e.u = c.c_custkey * 2
        JOIN supplier s ON e.v = s.s_suppkey * 2 + 1
    ),
    m AS (SELECT count(*) AS m FROM lab),
    per AS (
        SELECT g, CAST(sum(ein) AS BIGINT) AS e_in,
               CAST(sum(cut) AS BIGINT) AS cut
        FROM (
            SELECT gu AS g,
                   CASE WHEN gu = gv THEN 1 ELSE 0 END AS ein,
                   CASE WHEN gu <> gv THEN 1 ELSE 0 END AS cut
            FROM lab
            UNION ALL
            SELECT gv AS g, 0 AS ein,
                   CASE WHEN gu <> gv THEN 1 ELSE 0 END AS cut
            FROM lab
        ) GROUP BY g
    )
    SELECT g AS nation, e_in, cut, 2 * e_in + cut AS vol,
           CASE WHEN least(2 * e_in + cut, 2 * m - (2 * e_in + cut)) > 0
                THEN cut * 1000000
                     // least(2 * e_in + cut, 2 * m - (2 * e_in + cut))
                ELSE 0 END AS phi_micro
    FROM per CROSS JOIN m
""")
def graph_conductance(spark, sf_dir):
    """Conductance of the nation partition over the trade graph:
    phi(S) = cut(S) / min(vol(S), vol(V-S)) per nation, from exact
    integer edge counts — vol = 2*e_in + cut (edge-endpoint identity),
    total volume 2m. The judge-metric for any community assignment
    (low phi = well-separated community). One labeled-edge aggregate
    plus a broadcast scalar; integer micro division."""
    edges = _edges(spark, sf_dir)
    cu = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lab = (edges
           .join(F.broadcast(cu), edges["u"] == cu["c_custkey"] * 2)
           .join(F.broadcast(su), edges["v"] == su["s_suppkey"] * 2 + 1)
           .select(F.col("c_nationkey").alias("gu"),
                   F.col("s_nationkey").alias("gv"))
           .transform(physical.cut))
    m = lab.count()
    ein = F.when(F.col("gu") == F.col("gv"), 1).otherwise(0)
    cut = F.when(F.col("gu") != F.col("gv"), 1).otherwise(0)
    both = (lab.select(F.col("gu").alias("g"), ein.alias("ein"),
                       cut.alias("cut"))
            .unionByName(lab.select(F.col("gv").alias("g"),
                                    F.lit(0).alias("ein"),
                                    cut.alias("cut"))))
    per = (both.groupBy("g")
           .agg(F.sum("ein").cast("bigint").alias("e_in"),
                F.sum("cut").cast("bigint").alias("cut")))
    return per.select(
        F.col("g").alias("nation"), "e_in", "cut",
        (2 * F.col("e_in") + F.col("cut")).alias("vol"),
        F.expr(f"CASE WHEN least(2 * e_in + cut,"
               f" 2 * {m} - (2 * e_in + cut)) > 0"
               f" THEN cut * 1000000 div least(2 * e_in + cut,"
               f" 2 * {m} - (2 * e_in + cut)) ELSE 0 END")
        .alias("phi_micro"))


@query("graph_bipartite_projection", oracle=f"""
    WITH {_EDGES_SQL},
    proj AS (
        SELECT e1.v AS s1, e2.v AS s2, count(*) AS w
        FROM edges e1 JOIN edges e2
          ON e1.u = e2.u AND e1.v < e2.v
        GROUP BY 1, 2
    )
    SELECT (s1 - 1) // 2 AS supp1, (s2 - 1) // 2 AS supp2, w
    FROM proj ORDER BY w DESC, s1, s2 LIMIT 20
""")
def graph_bipartite_projection(spark, sf_dir):
    """Bipartite->unipartite fold: suppliers joined through their
    common customers (the customer column is the inverted index), edge
    weight = co-purchase count, top-20 pairs (ties pinned by supplier
    ids). Cost is sum of squared customer degrees — the production
    guard drops hub customers above a DF cap exactly like the sparse
    text index (`text_sparse_cosine`); the shape is one equi-join +
    grouped count + TakeOrdered, no cross product."""
    # r12 (guide §2.4): the edge list (a 60M-row fact join + distinct at
    # jittered sf1) fed BOTH self-join sides and was computed twice;
    # one lazy checkpoint halves that, and the self-join sort-merges
    # two identical checkpoint scans (exchange reuse).
    edges = _edges(spark, sf_dir).transform(physical.cut)
    e2 = edges.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    proj = (edges.join(e2, (edges["u"] == F.col("u2"))
                       & (edges["v"] < F.col("v2")))
            .groupBy("v", "v2").agg(F.count("*").alias("w")))
    return (proj
            .orderBy(F.col("w").desc(), F.col("v"), F.col("v2"))
            .limit(20)
            .select(F.expr("(v - 1) div 2").alias("supp1"),
                    F.expr("(v2 - 1) div 2").alias("supp2"), "w"))


@query("graph_core_periphery", oracle=f"""
    WITH {_EDGES_SQL},
    deg AS MATERIALIZED (
        SELECT u, count(*) AS d FROM bi GROUP BY u
    ),
    ranked AS MATERIALIZED (
        SELECT u, d, row_number() OVER (ORDER BY d DESC, u) AS rn,
               count(*) OVER () AS n
        FROM deg
    ),
    cls AS MATERIALIZED (
        SELECT u, rn <= (n + 9) // 10 AS is_core FROM ranked
    ),
    marked AS (
        SELECT cu.is_core AS core_u, cv.is_core AS core_v
        FROM edges e
        JOIN cls cu ON cu.u = e.u
        JOIN cls cv ON cv.u = e.v
    ),
    sides AS (
        SELECT CAST(sum(CASE WHEN u % 2 = 0 AND is_core
                             THEN 1 ELSE 0 END) AS BIGINT) AS nc_c,
               CAST(sum(CASE WHEN u % 2 = 1 AND is_core
                             THEN 1 ELSE 0 END) AS BIGINT) AS nc_s,
               CAST(sum(CASE WHEN u % 2 = 0 AND NOT is_core
                             THEN 1 ELSE 0 END) AS BIGINT) AS np_c,
               CAST(sum(CASE WHEN u % 2 = 1 AND NOT is_core
                             THEN 1 ELSE 0 END) AS BIGINT) AS np_s
        FROM cls
    ),
    blocks AS (
        SELECT CAST(sum(CASE WHEN core_u AND core_v THEN 1 ELSE 0 END)
                    AS BIGINT) AS e_cc,
               CAST(sum(CASE WHEN core_u <> core_v THEN 1 ELSE 0 END)
                    AS BIGINT) AS e_cp,
               CAST(sum(CASE WHEN NOT core_u AND NOT core_v
                             THEN 1 ELSE 0 END) AS BIGINT) AS e_pp
        FROM marked
    )
    SELECT nc_c + nc_s AS n_core, e_cc, e_cp, e_pp,
           CASE WHEN nc_c * nc_s > 0
                THEN e_cc * 1000000 // (nc_c * nc_s) ELSE 0 END
               AS dens_cc_micro,
           CASE WHEN nc_c * np_s + np_c * nc_s > 0
                THEN e_cp * 1000000 // (nc_c * np_s + np_c * nc_s)
                ELSE 0 END AS dens_cp_micro,
           CASE WHEN np_c * np_s > 0
                THEN e_pp * 1000000 // (np_c * np_s) ELSE 0 END
               AS dens_pp_micro
    FROM sides CROSS JOIN blocks
""")
def graph_core_periphery(spark, sf_dir):
    """Core-periphery block census: core = top-decile-degree nodes
    (exact rank over the bounded node table, ties pinned by id), edges
    classified core-core / core-periphery / periphery-periphery, block
    densities against the BIPARTITE possible-pair denominators (core
    customers x core suppliers etc.) in integer micros. The ideal
    Borgatti-Everett structure has dens_cc >> dens_cp >> dens_pp;
    node ranking is over #nodes rows, edge classification is two
    broadcast-able label joins."""
    edges = _edges(spark, sf_dir).transform(physical.cut)
    bi = _bi(edges)
    deg = bi.groupBy("u").agg(F.count("*").alias("d"))
    w = Window.orderBy(F.col("d").desc(), F.col("u"))
    n = deg.count()
    cls = (deg.select("u", F.row_number().over(w).alias("rn"))
           .select("u", (F.col("rn") <= (n + 9) // 10).alias("is_core"))
           .transform(physical.cut))
    sides = cls.agg(
        F.sum(F.when((F.col("u") % 2 == 0) & F.col("is_core"), 1)
              .otherwise(0)).cast("bigint").alias("nc_c"),
        F.sum(F.when((F.col("u") % 2 == 1) & F.col("is_core"), 1)
              .otherwise(0)).cast("bigint").alias("nc_s"),
        F.sum(F.when((F.col("u") % 2 == 0) & ~F.col("is_core"), 1)
              .otherwise(0)).cast("bigint").alias("np_c"),
        F.sum(F.when((F.col("u") % 2 == 1) & ~F.col("is_core"), 1)
              .otherwise(0)).cast("bigint").alias("np_s"))
    cu = cls.select(F.col("u").alias("cu_u"), F.col("is_core").alias("core_u"))
    cv = cls.select(F.col("u").alias("cv_u"), F.col("is_core").alias("core_v"))
    blocks = (edges.join(cu, edges["u"] == F.col("cu_u"))
              .join(cv, edges["v"] == F.col("cv_u"))
              .agg(F.sum(F.when(F.col("core_u") & F.col("core_v"), 1)
                         .otherwise(0)).cast("bigint").alias("e_cc"),
                   F.sum(F.when(F.col("core_u") != F.col("core_v"), 1)
                         .otherwise(0)).cast("bigint").alias("e_cp"),
                   F.sum(F.when(~F.col("core_u") & ~F.col("core_v"), 1)
                         .otherwise(0)).cast("bigint").alias("e_pp")))
    return sides.crossJoin(blocks).select(
        (F.col("nc_c") + F.col("nc_s")).alias("n_core"),
        "e_cc", "e_cp", "e_pp",
        F.expr("CASE WHEN nc_c * nc_s > 0"
               " THEN e_cc * 1000000 div (nc_c * nc_s)"
               " ELSE 0 END").alias("dens_cc_micro"),
        F.expr("CASE WHEN nc_c * np_s + np_c * nc_s > 0"
               " THEN e_cp * 1000000 div (nc_c * np_s + np_c * nc_s)"
               " ELSE 0 END").alias("dens_cp_micro"),
        F.expr("CASE WHEN np_c * np_s > 0"
               " THEN e_pp * 1000000 div (np_c * np_s)"
               " ELSE 0 END").alias("dens_pp_micro"))
