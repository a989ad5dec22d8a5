"""Iterative-refinement panel (round 6, batch 94). The reference
engine (294 LoC of Rust delegating to SQLite, reference src/main.rs)
has none of this; three Tier-C mission operators sharing one
mechanism — a PINNED, UNROLLED number of refinement rounds, each
expressible as bounded joins/aggregates on both engines:

- survey_raking_ipf: iterative proportional fitting (raking) of the
  (nation x market-segment) customer table to uniform margins —
  3 unrolled IPF rounds in milli fixed point; the survey-weighting
  workhorse.
- anomaly_gesd_rounds: the generalized ESD outlier sweep — 3 rounds
  of remove-the-extreme-day over the daily order-count series, each
  reporting the Grubbs-style R^2 statistic (exact integer moments;
  one double division at the end).
- graph_ktruss_peel: 4-truss peeling on the sparsified nation trade
  graph — per-round triangle support via the canonical wedge join,
  edges with support < 2 peeled, 2 unrolled rounds.

Scale shapes: raking runs entirely on the 125-cell margin table
(corpus touched once); GESD's candidate panel is the bounded 2,405-day
calendar; the truss wedge joins partition on edge endpoints (the
degree-ordering refinement documented at graph_triangles applies
unchanged). Pinned rounds keep plans finite; the Spark sides
cut lineage between rounds (r5 plan-growth rule) and the oracles
chain AS MATERIALIZED CTEs."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from .tradegraph import nation_pairs, nation_pairs_sql


@query("survey_raking_ipf", oracle="""
    WITH cells AS MATERIALIZED (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM cells),
    r1 AS MATERIALIZED (
        SELECT nat, seg, n,
               CAST(1000 * ((t.big_n * 1000 // 25) * 1000
                    // CAST(sum(n * 1000) OVER (PARTITION BY nat)
                            AS BIGINT)) // 1000 AS BIGINT) AS w
        FROM cells CROSS JOIN tot t
    ),
    r2 AS MATERIALIZED (
        SELECT nat, seg, n,
               CAST(w * ((t.big_n * 1000 // 5) * 1000
                    // CAST(sum(n * w) OVER (PARTITION BY seg)
                            AS BIGINT)) // 1000 AS BIGINT) AS w
        FROM r1 CROSS JOIN tot t
    )
    SELECT nat AS c_nationkey, seg AS c_mktsegment, n AS n_customers,
           CAST(w * ((t.big_n * 1000 // 25) * 1000
                // CAST(sum(n * w) OVER (PARTITION BY nat)
                        AS BIGINT)) // 1000 AS BIGINT) AS w_milli
    FROM r2 CROSS JOIN tot t
""")
def survey_raking_ipf(spark, sf_dir):
    """Raking / iterative proportional fitting: per-cell milli
    weights that pull the (nation x segment) customer counts toward
    UNIFORM row and column margins — rows, columns, rows again
    (3 pinned rounds; IPF converges geometrically, and pinning the
    round count keeps the two engines in lockstep through the
    truncating divisions). Every factor is milli fixed point with
    non-negative `div` operands. The corpus is touched ONCE (the
    cell census); all three rounds run windows over the 125-row
    margin table — at 100 TB the rounds cost nothing."""
    cells = (T(spark, sf_dir, "customer")
             .groupBy(F.col("c_nationkey").alias("nat"),
                      F.col("c_mktsegment").alias("seg"))
             .agg(F.count("*").alias("n")))
    tot = cells.agg(F.sum("n").alias("big_n"))
    d = cells.crossJoin(F.broadcast(tot))

    def rake(df, part, n_margins):
        w_s = Window.partitionBy(part)
        return (df.withColumn(
            "w",
            F.expr(f"w * ((big_n * 1000 div {n_margins}) * 1000"
                   f" div _s) div 1000"))
            .drop("_s"))

    r0 = d.withColumn("w", F.lit(1000).cast("bigint"))
    r1 = rake(r0.withColumn("_s", F.sum(F.col("n") * F.col("w"))
                            .over(Window.partitionBy("nat"))),
              "nat", 25)
    r2 = rake(r1.withColumn("_s", F.sum(F.col("n") * F.col("w"))
                            .over(Window.partitionBy("seg"))),
              "seg", 5)
    r3 = rake(r2.withColumn("_s", F.sum(F.col("n") * F.col("w"))
                            .over(Window.partitionBy("nat"))),
              "nat", 25)
    return r3.select(F.col("nat").alias("c_nationkey"),
                     F.col("seg").alias("c_mktsegment"),
                     F.col("n").alias("n_customers"),
                     F.col("w").alias("w_milli"))


_GESD_DAILY_SQL = """
    daily AS MATERIALIZED (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    )
"""


def _gesd_round_sql(src: str, rnd: int) -> str:
    """One GESD round as SQL: moments over `src`, the extreme day
    (max |x*n - sum|, ties -> min day), its R^2 in milli."""
    return f"""
    m{rnd} AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS ss
        FROM {src}
    ),
    pick{rnd} AS MATERIALIZED (
        SELECT d.day, d.x, m.n, m.s, m.ss,
               abs(d.x * m.n - m.s) AS dev
        FROM {src} d CROSS JOIN m{rnd} m
        ORDER BY abs(d.x * m.n - m.s) DESC, d.day
        LIMIT 1
    ),
    rest{rnd} AS MATERIALIZED (
        SELECT d.day, d.x FROM {src} d
        WHERE d.day <> (SELECT day FROM pick{rnd})
    )
    """


_GESD_REPORT = """
        SELECT CAST({rnd} AS BIGINT) AS round, day,
               x AS x_removed,
               CAST(round(CAST(dev * dev * (n - 1) AS DOUBLE)
                    / (n * (n * ss - s * s)) * 1000) AS BIGINT)
                 AS r2_milli
        FROM pick{rnd}
"""


@query("anomaly_gesd_rounds", oracle=f"""
    WITH {_GESD_DAILY_SQL},
    {_gesd_round_sql('daily', 1)},
    {_gesd_round_sql('rest1', 2)},
    {_gesd_round_sql('rest2', 3)}
    {_GESD_REPORT.format(rnd=1)}
    UNION ALL {_GESD_REPORT.format(rnd=2)}
    UNION ALL {_GESD_REPORT.format(rnd=3)}
""")
def anomaly_gesd_rounds(spark, sf_dir):
    """Generalized ESD sweep: 3 unrolled rounds of remove-the-
    extreme-day over the daily order-count series. Deviations are
    compared fully cross-multiplied (|x*n - sum|, ties to the
    earliest day), so argmax needs no division; the reported
    Grubbs R^2 = dev^2 (n-1) / (n (n*ss - s^2)) keeps numerator and
    denominator as exact int64 moments (counts, not cents — at
    corpus sizes where x*n outgrows int64, rescale the series first)
    and spends ONE identically-formulated double division at the
    end. The candidate panel is the bounded 2,405-day calendar;
    each round is a 1-row argmax over it."""
    daily = (T(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.count("*").alias("x"))
             .transform(physical.cut))

    out = []
    cur = daily
    for rnd in (1, 2, 3):
        m = cur.agg(F.count("*").alias("n"),
                    F.sum("x").alias("s"),
                    F.sum(F.col("x") * F.col("x")).alias("ss"))
        pick = (cur.crossJoin(F.broadcast(m))
                .withColumn("dev", F.abs(F.col("x") * F.col("n")
                                         - F.col("s")))
                .orderBy(F.col("dev").desc(), "day")
                .limit(1)
                .transform(physical.cut))
        out.append(pick.select(
            F.lit(rnd).cast("bigint").alias("round"), "day",
            F.col("x").alias("x_removed"),
            F.round((F.col("dev") * F.col("dev") * (F.col("n") - 1))
                    .cast("double")
                    / (F.col("n") * (F.col("n") * F.col("ss")
                                     - F.col("s") * F.col("s")))
                    * 1000).cast("bigint").alias("r2_milli")))
        cur = (cur.join(F.broadcast(pick.select("day")), "day",
                        "left_anti")
               .transform(physical.cut))
    return out[0].unionAll(out[1]).unionAll(out[2])


_TRUSS_EDGES_SQL = f"""
    {nation_pairs_sql("CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_links")},
    raw AS (SELECT u, v, n_links FROM pairs WHERE u <> v),
    und AS (
        SELECT least(u, v) AS a, greatest(u, v) AS b,
               CAST(sum(n_links) AS BIGINT) AS w
        FROM raw GROUP BY 1, 2
    ),
    med AS (
        SELECT w AS cut FROM (
            SELECT w, row_number() OVER (ORDER BY w, a, b) AS rk,
                   count(*) OVER () AS n
            FROM und
        ) WHERE rk = (n + 1) // 2
    ),
    e0 AS MATERIALIZED (
        SELECT a, b FROM und CROSS JOIN med WHERE w > cut
    )
"""


def _truss_round_sql(src: str, rnd: int) -> str:
    return f"""
    tri{rnd} AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM {src} e1
        JOIN {src} e2 ON e2.a = e1.b
        JOIN {src} e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    sup{rnd} AS MATERIALIZED (
        SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
            SELECT x AS a, y AS b FROM tri{rnd}
            UNION ALL SELECT y, z FROM tri{rnd}
            UNION ALL SELECT x, z FROM tri{rnd}
        ) GROUP BY 1, 2
    ),
    e{rnd} AS MATERIALIZED (
        SELECT a, b FROM sup{rnd} WHERE support >= 2
    )
    """


@query("graph_ktruss_peel", oracle=f"""
    WITH {_TRUSS_EDGES_SQL},
    {_truss_round_sql('e0', 1)},
    {_truss_round_sql('e1', 2)}
    SELECT CAST(1 AS BIGINT) AS round,
           CAST((SELECT count(*) FROM tri1) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM e1) AS BIGINT) AS n_edges_kept
    UNION ALL
    SELECT 2,
           CAST((SELECT count(*) FROM tri2) AS BIGINT),
           CAST((SELECT count(*) FROM e2) AS BIGINT)
""")
def graph_ktruss_peel(spark, sf_dir):
    """4-truss peeling on the sparsified nation trade graph (edges
    above the exact-rank median link weight — the sparsification
    that makes peeling non-trivial on a dense small-world graph):
    per round, triangle support from the canonical a<b<c wedge join
    (each triangle credits its three edges), edges with support < 2
    peeled; 2 pinned rounds with the per-round triangle and
    surviving-edge censuses. The wedge joins partition on edge
    endpoints — at real graph scale the degree-ordering refinement
    (see graph_triangles) bounds fanout by arboricity, and peeling
    runs until fixpoint with a lineage cut per round."""
    raw = (nation_pairs(spark, sf_dir,
                        F.countDistinct("o_orderkey").alias("n_links"))
           .where(F.col("u") != F.col("v")))
    und = (raw.groupBy(F.least("u", "v").alias("a"),
                       F.greatest("u", "v").alias("b"))
           .agg(F.sum("n_links").alias("w")))
    wr = Window.orderBy("w", "a", "b")
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    med = (und.select("w", F.row_number().over(wr).alias("rk"),
                      F.count("*").over(wall).alias("n"))
           .where(F.expr("rk = (n + 1) div 2"))
           .select(F.col("w").alias("cut")))
    edges = (und.crossJoin(F.broadcast(med))
             .where(F.col("w") > F.col("cut"))
             .select("a", "b")
             .transform(physical.cut))

    out = []
    for rnd in (1, 2):
        e1 = edges.alias("e1")
        e2 = edges.select(F.col("a").alias("b"),
                          F.col("b").alias("c")).alias("e2")
        e3 = edges.select(F.col("a").alias("xa"),
                          F.col("b").alias("xc")).alias("e3")
        tri = (e1.join(e2, "b")
               .join(e3, (F.col("a") == F.col("xa"))
                     & (F.col("c") == F.col("xc")))
               .select("a", "b", "c")
               .transform(physical.cut))
        sup = (tri.select("a", "b")
               .unionAll(tri.select(F.col("b").alias("a"),
                                    F.col("c").alias("b")))
               .unionAll(tri.select("a", F.col("c").alias("b")))
               .groupBy("a", "b").agg(F.count("*").alias("support")))
        kept = (sup.where(F.col("support") >= 2)
                .select("a", "b")
                .transform(physical.cut))
        n_tri = tri.count()
        n_kept = kept.count()
        out.append((rnd, n_tri, n_kept))
        edges = kept
    sc = spark
    return sc.createDataFrame(
        [(int(r), int(t), int(k)) for r, t, k in out],
        "round bigint, n_triangles bigint, n_edges_kept bigint")
