"""The three graphs the catalog's graph keys run over, each built from
the TPC-H tables by one Spark builder and one DuckDB twin for the
oracles:

- nation trade graph: customer nation -> supplier nation over every
  line (lineitem ⋈ orders ⋈ customer ⋈ supplier), `nation_pairs` /
  `nation_pairs_sql`, and its top-2-partner sparsification
  `top2_partners` / `top2_partners_sql`;
- customer-supplier graph: the distinct (o_custkey, l_suppkey) pairs
  of orders ⋈ lineitem, `cust_supp_edges` / `cust_supp_edges_sql`;
- supplier-part graph: the distinct (l_suppkey, l_partkey) pairs of
  lineitem with both degree tables, `supp_part` / `SUPP_PART_SQL`,
  and the wedge keys' 2..64 part cap `capped_edges`.

A key that wants a simple nation digraph drops the self pairs after
the grouping: `.filter(F.col("u") != F.col("v"))` in Spark, where
Catalyst pushes the filter below the aggregate, and `WHERE u <> v` in
the next CTE. With `c_nationkey <> s_nationkey` inside the join DuckDB
1.0 nested-loops customer x supplier and runs out of memory at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators import physical
from .relational import T
from ..numerics import units_sum, units_sum_sql


# ----------------------------------------------- nation trade graph

def nation_pairs(spark, sf_dir, *aggs):
    """(u, v, *aggs): every (customer nation, supplier nation) pair
    with at least one line, self pairs included; the distinct pairs
    when no aggregate is given. The aggregates read the joined
    lineitem/orders columns; both dimension tables broadcast. SQL
    twin: `nation_pairs_sql`."""
    le = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lines = (le.join(o, le.l_orderkey == o.o_orderkey)
             .join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .join(F.broadcast(s), le.l_suppkey == s.s_suppkey))
    u = F.col("c_nationkey").alias("u")
    v = F.col("s_nationkey").alias("v")
    if aggs:
        return lines.groupBy(u, v).agg(*aggs)
    return lines.select(u, v).distinct()


def nation_pairs_sql(*aggs: str) -> str:
    """DuckDB twin of `nation_pairs`: the CTE `pairs`, each aggregate
    given as `<expr> AS <name>`."""
    cols = "".join(f",\n               {a}" for a in aggs)
    return f"""pairs AS MATERIALIZED (
        SELECT c_nationkey AS u, s_nationkey AS v{cols}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN supplier ON l_suppkey  = s_suppkey
        GROUP BY 1, 2
    )"""


_REVENUE = "l_extendedprice * (1 - l_discount)"


def top2_partners(spark, sf_dir):
    """(src, dst): each nation's top-2 outbound trade partners by
    revenue in integer cents, ties broken by dst ASC; self pairs
    dropped. ONE fact aggregate; 25-node edge list out. SQL twin:
    `top2_partners_sql`."""
    w = (nation_pairs(spark, sf_dir,
                      units_sum(F.expr(_REVENUE), 100).alias("w"))
         .select(F.col("u").alias("src"), F.col("v").alias("dst"), "w")
         .filter(F.col("src") != F.col("dst")))
    rn = F.row_number().over(
        W.partitionBy("src").orderBy(F.col("w").desc(), "dst"))
    return (w.withColumn("rn", rn).filter(F.col("rn") <= 2)
            .select("src", "dst"))


def top2_partners_sql() -> str:
    """DuckDB twin of `top2_partners`: the CTEs `pairs` and `edges`."""
    return f"""{nation_pairs_sql(f"{units_sum_sql(_REVENUE, 100)} AS w")},
    edges AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM (
            SELECT u, v, row_number() OVER (PARTITION BY u
                                            ORDER BY w DESC, v) AS rn
            FROM pairs WHERE u <> v
        ) WHERE rn <= 2
    )"""


# ----------------------------------------- customer-supplier graph

def cust_supp_edges(spark, sf_dir):
    """(c, s): the distinct customer-supplier trade pairs of orders ⋈
    lineitem. SQL twin: `cust_supp_edges_sql`."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (o.join(li, o.o_orderkey == li.l_orderkey)
            .select(F.col("o_custkey").alias("c"),
                    F.col("l_suppkey").alias("s"))
            .distinct())


def cust_supp_edges_sql() -> str:
    """DuckDB twin of `cust_supp_edges`: the CTE `cs`."""
    return """cs AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    )"""


# --------------------------------------------- supplier-part graph

def supp_part(spark, sf_dir):
    """Distinct supplier-part edges (ONE distinct projection of
    lineitem), per-part supplier degree, per-supplier part degree.

    r12 (guide §2.4): the edge set is cut (physical.cut) —
    every wedge key derives at least three subtrees from it (per-part
    count, capped wedge input, supplier degree) and without the cut
    each subtree re-scanned lineitem and re-ran the distinct exchange
    (measured: SIX lineitem scans in graph_jaccard_neighbors' r11
    plan)."""
    li = T(spark, sf_dir, "lineitem")
    sp = (li.select(F.col("l_suppkey").alias("s"),
                    F.col("l_partkey").alias("p")).distinct()
          .transform(physical.cut))
    pc = sp.groupBy("p").agg(F.count("*").alias("c"))
    deg = sp.groupBy("s").agg(F.count("*").alias("d"))
    return sp, pc, deg


def capped_edges(sp, pc, sf_dir):
    """Edges routed through 2..64-supplier parts: the wedge skew cap
    every wedge key applies (a single-supplier part emits no wedge, so
    the c >= 2 bound is semantics-free where a key's oracle only caps
    at 64). The per-part count prefilter joins map-side
    (bounded_broadcast on the part dimension), so a hub part never
    reaches the downstream per-part supplier list."""
    keep = pc.filter((F.col("c") >= 2) & (F.col("c") <= 64))
    return sp.join(physical.bounded_broadcast(keep, sf_dir, ("part",)), "p")


SUPP_PART_SQL = """
    sp AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    pc AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM sp GROUP BY p),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM sp GROUP BY s)
"""
