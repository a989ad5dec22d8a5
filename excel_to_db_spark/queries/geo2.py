"""Geospatial pack II (round 6, batch 89). The reference engine (294
LoC of Rust delegating to SQLite, reference src/main.rs) has no
spatial surface; three Tier-C mission operators completing the `geo`
pack with the facility-location / flow layer (same hash-synthesized
integer-microdegree coordinates, same no-trig contract):

- geo_od_matrix: the origin-destination flow matrix — distinct
  customer->supplier trade pairs rolled up to zoom-4 tile pairs,
  top-15 flows (the transport-planning artifact).
- geo_catchment_share: Voronoi catchment census — each customer
  assigned to its NEAREST supplier (exact integer d2, ties pinned),
  per-supplier customer counts and micro shares; the
  facility-location coverage table.
- geo_nearest_deciles: service-distance distribution — exact-rank
  deciles of each customer's distance to the nearest supplier
  (integer meters via one correctly-rounded sqrt), the
  'how far is everyone from a depot' curve.

Scale shapes: the supplier side is facility-sized and broadcasts;
nearest-assignment is an EXACT grid prune (3x3 neighbor-cell
candidate join with an in-plan certificate, brute-force escalation
only for the ~exp(-5) of customers whose nearest facility is farther
than one cell — see ``_nearest``); tile rollups are bounded
aggregates."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .tradegraph import cust_supp_edges, cust_supp_edges_sql
from .geo import _LAT_SPAN, _LON_SPAN, _TX8, _TY8, _pts, _pts_sql

_CUST_SQL = _pts_sql("customer", "c_custkey", "c_nationkey", "")
_SUPP_SQL = _pts_sql("supplier", "s_suppkey", "s_nationkey", "s")

_NEAREST_SQL = f"""
    cust AS MATERIALIZED ({_CUST_SQL}),
    supp AS MATERIALIZED ({_SUPP_SQL}),
    scored AS (
        SELECT c.id AS cust_id, s.id AS supp_id,
               (c.latp - s.latp) * (c.latp - s.latp)
             + (c.lonp - s.lonp) * (c.lonp - s.lonp) AS d2
        FROM cust c CROSS JOIN supp s
    ),
    nearest AS MATERIALIZED (
        SELECT cust_id, supp_id, d2 FROM (
            SELECT cust_id, supp_id, d2,
                   row_number() OVER (PARTITION BY cust_id
                                      ORDER BY d2, supp_id) AS rk
            FROM scored
        ) WHERE rk = 1
    )
"""


def _nearest(spark, sf_dir, _g_override=None):
    """(cust_id, supp_id, d2): every customer's nearest supplier —
    EXACT grid-pruned argmin, ties pinned by min supplier id.
    ``_g_override`` pins the cell size for tests (a tiny g forces the
    escalation path; the result must be identical for ANY g >= 1).

    Through round 7 this was the brute-force broadcast-argmin over
    all |cust| x |supp| pairs (the r8 skew audit measured it as the
    two heaviest healthy-shaped geo keys: 118/104 s at sf1 on 32
    level tasks — all genuine pair work). The grid prune removes the
    work instead of spreading it:

    1. cell size g from the facility count M so the expected facility
       mass within radius g is ~5 (pi*g^2*M/AREA = 5): the one knob,
       derived not tuned.
    2. phase A: suppliers exploded to their 3x3 neighbor cells (9M
       rows, facility-sized, broadcast) equi-joined to customers on
       the single home cell -> ~9*5/pi ~ 14 candidates/customer
       instead of M.
    3. certification: |a-b| <= g implies the cell indices differ by
       at most 1 (non-negative ints), so every supplier with
       d2 <= g^2 is inside the 3x3 neighborhood. A phase-A minimum
       with min_d2 <= g^2 is therefore the TRUE minimum, and all its
       ties are in the candidate set too (any tie also has d2 <= g^2)
       — min(supp_id) over the tied candidates pins identically to
       the brute-force rank.
    4. escalation: customers with no candidate or min_d2 > g^2 (the
       nearest facility is farther than g; expected fraction
       exp(-5) ~ 0.7% under the uniform synthesis) fall back to the
       exact brute-force scan — on that subset only.

    Expected pair mass drops from N*M to ~14*N + 0.007*N*M. The
    DuckDB oracle stays the full brute-force rank, so the gate checks
    the prune's exactness externally. Argmin stays the TWO codegen'd
    hash aggregates (min d2, then min supp_id among ties re-derived
    by equi-join) — the window/min_by forms fell out of whole-stage
    codegen and ran 20-70x slower (r6 note). The probe side keeps its
    explicit-N repartition (single parquet split otherwise feeds the
    pipeline through one task), and the per-customer minima carry the
    broadcast hint only while the customer count is broadcastable — past
    that the re-derivation joins shuffle on cust_id instead (they
    carry ~14 rows/customer, not M, so the shuffle is candidate-mass
    proportional). M and the customer count are parquet-footer row
    counts (``physical.footer_rows``): no Spark job."""
    import math

    cust = _pts(spark, sf_dir, "customer", "c_custkey", "c_nationkey", "")
    supp = (_pts(spark, sf_dir, "supplier", "s_suppkey", "s_nationkey",
                 "s")
            .select(F.col("id").alias("supp_id"),
                    F.col("latp").alias("slat"),
                    F.col("lonp").alias("slon")))
    m = physical.footer_rows(sf_dir, ("supplier",))
    if m is None:
        m = supp.count()
    area = _LAT_SPAN * _LON_SPAN
    g = (int(_g_override) if _g_override is not None
         else max(1, math.isqrt(int(5 * area / (math.pi * max(m, 1))))))
    # hint_small marks frames bounded by the CUSTOMER count (one row per
    # certified/escalated customer).
    n_cust = physical.footer_rows(sf_dir, ("customer",))
    hint_small = (F.broadcast if physical.broadcastable(n_cust)
                  else (lambda df: df))
    d2 = ((F.col("latp") - F.col("slat")) * (F.col("latp") - F.col("slat"))
          + (F.col("lonp") - F.col("slon"))
          * (F.col("lonp") - F.col("slon")))
    supp9 = (supp.select(
        "supp_id", "slat", "slon",
        F.explode(F.array(*[
            F.struct(
                (F.expr(f"slat div {g}") + F.lit(dx)).alias("cx"),
                (F.expr(f"slon div {g}") + F.lit(dy)).alias("cy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("cell"))
        .select("supp_id", "slat", "slon", "cell.cx", "cell.cy"))
    custc = (cust.select(F.col("id").alias("cust_id"), "latp", "lonp")
             .repartition(32, "cust_id")
             .withColumn("cx", F.expr(f"latp div {g}"))
             .withColumn("cy", F.expr(f"lonp div {g}")))
    cand = (custc.join(F.broadcast(supp9), ["cx", "cy"])
            .select("cust_id", "supp_id", d2.alias("d2")))
    best_a = cand.groupBy("cust_id").agg(F.min("d2").alias("d2"))
    certified = best_a.where(F.col("d2") <= g * g)
    nearest_a = (cand.join(hint_small(certified), ["cust_id", "d2"])
                 .groupBy("cust_id", "d2")
                 .agg(F.min("supp_id").alias("supp_id")))
    esc = (custc
           .join(hint_small(certified.select("cust_id")), "cust_id",
                 "left_anti")
           .crossJoin(F.broadcast(supp))
           .select("cust_id", "supp_id", d2.alias("d2")))
    best_b = esc.groupBy("cust_id").agg(F.min("d2").alias("d2"))
    nearest_b = (esc.join(hint_small(best_b), ["cust_id", "d2"])
                 .groupBy("cust_id", "d2")
                 .agg(F.min("supp_id").alias("supp_id")))
    return (nearest_a.select("cust_id", "supp_id", "d2")
            .unionByName(nearest_b.select("cust_id", "supp_id", "d2"))
            .transform(physical.cut))


@query("geo_od_matrix", oracle=f"""
    WITH cust AS MATERIALIZED ({_CUST_SQL}),
    supp AS MATERIALIZED ({_SUPP_SQL}),
    {cust_supp_edges_sql()},
    flows AS (
        SELECT (c.lonp + 170000000) // {_TX8} // 16 AS o_tx,
               (60000000 - c.latp) // {_TY8} // 16 AS o_ty,
               (s.lonp + 170000000) // {_TX8} // 16 AS d_tx,
               (60000000 - s.latp) // {_TY8} // 16 AS d_ty,
               CAST(count(*) AS BIGINT) AS flow
        FROM cs e
        JOIN cust c ON c.id = e.c
        JOIN supp s ON s.id = e.s
        GROUP BY 1, 2, 3, 4
    )
    SELECT o_tx, o_ty, d_tx, d_ty, flow,
           CAST(row_number() OVER (ORDER BY flow DESC, o_tx, o_ty,
                                   d_tx, d_ty) AS BIGINT) AS rnk
    FROM flows
    QUALIFY row_number() OVER (ORDER BY flow DESC, o_tx, o_ty,
                               d_tx, d_ty) <= 15
""")
def geo_od_matrix(spark, sf_dir):
    """Origin-destination flow matrix: distinct customer->supplier
    trade pairs rolled to zoom-4 tile pairs (the `geo_tile_rollup`
    tiling), top-15 flows pinned — the demand-corridor artifact
    transport planning starts from. Tile keys fold into broadcast
    dim joins on the distinct edge list; the flow table is bounded
    by tiles^2."""
    cust = (_pts(spark, sf_dir, "customer", "c_custkey", "c_nationkey",
                 "")
            .select(F.col("id").alias("c"),
                    F.expr(f"(lonp + 170000000) div {_TX8} div 16")
                    .alias("o_tx"),
                    F.expr(f"(60000000 - latp) div {_TY8} div 16")
                    .alias("o_ty")))
    supp = (_pts(spark, sf_dir, "supplier", "s_suppkey", "s_nationkey",
                 "s")
            .select(F.col("id").alias("s"),
                    F.expr(f"(lonp + 170000000) div {_TX8} div 16")
                    .alias("d_tx"),
                    F.expr(f"(60000000 - latp) div {_TY8} div 16")
                    .alias("d_ty")))
    flows = (cust_supp_edges(spark, sf_dir)
             .join(F.broadcast(cust), "c")
             .join(F.broadcast(supp), "s")
             .groupBy("o_tx", "o_ty", "d_tx", "d_ty")
             .agg(F.count("*").alias("flow")))
    w = Window.orderBy(F.col("flow").desc(), "o_tx", "o_ty",
                       "d_tx", "d_ty")
    return (flows.withColumn("rnk", F.row_number().over(w)
                             .cast("bigint"))
            .where(F.col("rnk") <= 15)
            .select("o_tx", "o_ty", "d_tx", "d_ty", "flow", "rnk"))


@query("geo_catchment_share", oracle=f"""
    WITH {_NEAREST_SQL},
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nearest)
    SELECT n.supp_id, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(*) * 1000000 // t.n AS BIGINT) AS share_micro,
           CAST(max(n.d2) AS BIGINT) AS max_d2
    FROM nearest n CROSS JOIN tot t
    GROUP BY n.supp_id, t.n
""")
def geo_catchment_share(spark, sf_dir):
    """Voronoi catchment census: each customer assigned to its
    nearest supplier (broadcast-argmin, ties pinned by supplier id);
    per-facility customer counts, micro shares, and the farthest
    customer served — the coverage table a facility planner balances.
    Suppliers excluded from every catchment simply don't appear
    (identical on both engines)."""
    nearest = _nearest(spark, sf_dir)
    n = nearest.count()
    return (nearest.groupBy("supp_id")
            .agg(F.count("*").alias("n_customers"),
                 F.expr(f"count(*) * 1000000 div {n}")
                 .alias("share_micro"),
                 F.max("d2").cast("bigint").alias("max_d2")))


@query("geo_nearest_deciles", oracle=f"""
    WITH {_NEAREST_SQL},
    meters AS (
        SELECT CAST(round(sqrt(d2) * 0.111195) AS BIGINT) AS d_m
        FROM nearest
    ),
    ranked AS (
        SELECT d_m, row_number() OVER (ORDER BY d_m) AS rk,
               count(*) OVER () AS n
        FROM meters
    )
    SELECT CAST((rk - 1) * 10 // n AS BIGINT) AS decile,
           count(*) AS n_customers,
           min(d_m) AS min_m, max(d_m) AS max_m
    FROM ranked GROUP BY 1
""")
def geo_nearest_deciles(spark, sf_dir):
    """Service-distance distribution: integer meters to the nearest
    supplier (exact d2, one correctly-rounded sqrt, the 0.111195
    m/microdeg constant), exact-rank deciles with min/max — the
    'population within X km of a depot' curve read off directly.
    The rank runs over the bounded customer table."""
    nearest = _nearest(spark, sf_dir)
    meters = nearest.select(
        F.round(F.sqrt("d2") * 0.111195).cast("bigint").alias("d_m"))
    w = Window.orderBy("d_m")
    n = meters.count()
    ranked = meters.select("d_m", F.row_number().over(w).alias("rk"))
    return (ranked.groupBy(F.expr(f"(rk - 1) * 10 div {n}")
                           .alias("decile"))
            .agg(F.count("*").alias("n_customers"),
                 F.min("d_m").alias("min_m"),
                 F.max("d_m").alias("max_m")))
