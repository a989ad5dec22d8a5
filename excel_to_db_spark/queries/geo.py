"""Geospatial pack (round 6, batch 66). The reference engine (294 LoC
of Rust delegating to SQLite, reference src/main.rs) ships no spatial
surface; these are Tier-C mission operators — the tile/grid/radius
primitives every geo-enriched corpus (POI dedup, check-in sessions,
store-catchment joins) needs, expressed in the shapes that survive
100 TB: grid-cell equi-joins instead of cross products, hierarchical
tile re-aggregation instead of rescans, broadcast probe sets for kNN.

Coordinates are synthesized deterministically from the keys (no
lat/lon column exists in the corpus): `h32` (md5-derived 32-bit
uniform, `numerics.py`) maps each customer/supplier key into a
30-60N x -10..40E box in INTEGER MICRODEGREES. Every compared value
is exact integer arithmetic on those microdegrees — no trig anywhere
(libm sin/cos differ by ulps across engines; IEEE sqrt is correctly
rounded, so floor(sqrt(int)) is the one float op allowed). The
planar-microdegree metric is the equirectangular small-area
approximation; the meter constant 0.111195 m/microdeg is applied to
an exact integer distance, never inside a comparison.

- geo_grid_radius_join: all customer pairs within 0.25 deg via
  3x3 grid-cell blocking (cell = radius) — the O(n * density)
  spatial self-join; distance-band histogram out.
- geo_knn_topk: 3 nearest suppliers per probe customer — the
  broadcast-probe brute-force kNN shape (probes tiny, corpus huge).
- geo_tile_rollup: plate-carree z8 tiles rolled up to z6/z4 by
  integer tile division — aggregate-of-aggregate, never rescan;
  z4 rows carry the Bing-style base-4 quadkey.
- geo_dbscan_census: DBSCAN core/border/noise classification
  (eps = 1 deg, minPts = 4) from one grid-blocked neighbor-pair
  materialization reused by both the count and the border join.

Scale shapes: every join here is an equi-join on cell ids (9 probe
cells per point); at 1000 executors the cells hash-partition evenly
(hash coords are uniform by construction — real data needs salting
on mega-cities, documented in operators/dedup.py's skew playbook).
The pair CTE in the DBSCAN oracle is AS MATERIALIZED (DuckDB re-runs
a CTE per downstream reference otherwise)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import h32, h32_sql
from ..operators import physical
from .registry import query
from .relational import T


# Box: lat in [30e6, 60e6) microdeg (stored as latp = lat - 30e6),
# lon in [-10e6, 40e6) (stored as lonp = lon + 10e6) — both fields
# non-negative so `//`(duck) and `div`(spark) agree (both truncate
# toward zero; negatives would floor differently than truncate).
_LAT_SPAN = 30_000_000
_LON_SPAN = 50_000_000


def _pts_sql(table: str, key: str, nat: str, pfx: str) -> str:
    def h(c):
        return h32_sql(f"'{pfx}{c}:' || CAST({key} AS VARCHAR)")
    return f"""
        SELECT {key} AS id, {nat} AS nat,
               {h('lat')} % {_LAT_SPAN} AS latp,
               {h('lon')} % {_LON_SPAN} AS lonp
        FROM {table}
    """


def _pts(spark, sf_dir, table, key, nat, pfx):
    """(id, nat, latp, lonp) — hash-synthesized integer microdegree
    coordinates, shared by all four keys (and exactly mirrored by
    `_pts_sql` on the oracle side)."""
    def h(c):
        return h32(F.concat(F.lit(f"{pfx}{c}:"), F.col(key).cast("string")))
    return (T(spark, sf_dir, table)
            .select(F.col(key).alias("id"), F.col(nat).alias("nat"),
                    (h("lat") % _LAT_SPAN).alias("latp"),
                    (h("lon") % _LON_SPAN).alias("lonp")))


_RADIUS = 250_000           # 0.25 deg in microdegrees
_CELL = 250_000             # grid cell = radius => 3x3 neighborhood


@query("geo_grid_radius_join", oracle=f"""
    WITH pts AS ({_pts_sql('customer', 'c_custkey', 'c_nationkey', '')}),
    cells AS (
        SELECT id, latp, lonp,
               latp // {_CELL} AS cy, lonp // {_CELL} AS cx
        FROM pts
    ),
    probes AS (
        SELECT id, latp, lonp, cy + dy AS cy, cx + dx AS cx
        FROM cells
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy)
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx)
    ),
    pairs AS (
        SELECT (p.latp - q.latp) * (p.latp - q.latp)
             + (p.lonp - q.lonp) * (p.lonp - q.lonp) AS d2
        FROM probes p JOIN cells q ON p.cy = q.cy AND p.cx = q.cx
        WHERE p.id < q.id
          AND (p.latp - q.latp) * (p.latp - q.latp)
            + (p.lonp - q.lonp) * (p.lonp - q.lonp)
              <= {_RADIUS * _RADIUS}
    )
    SELECT CAST(floor(sqrt(d2)) AS BIGINT) // 50000 AS band,
           count(*) AS n_pairs,
           min(d2) AS min_d2, max(d2) AS max_d2
    FROM pairs GROUP BY 1
""")
def geo_grid_radius_join(spark, sf_dir):
    """Spatial self-join "all pairs within R" via grid-cell blocking:
    each point probes its 3x3 cell neighborhood (cell size = R) and
    equi-joins candidates — O(n * local density) candidates instead of
    the O(n^2) cross product, and a plain hash-shuffle join at any
    scale. Pair appears once (p explodes to 9 probe cells; q's real
    cell is unique; p.id < q.id de-mirrors). Distance bands are exact:
    d2 is integer, IEEE sqrt is correctly rounded, floor(sqrt(int))
    cross-engine stable."""
    pts = _pts(spark, sf_dir, "customer", "c_custkey", "c_nationkey", "")
    cells = pts.select(
        "id", "latp", "lonp",
        F.expr(f"latp div {_CELL}").alias("cy"),
        F.expr(f"lonp div {_CELL}").alias("cx"))
    off = F.array([F.lit(v) for v in (-1, 0, 1)])
    probes = (cells
              .withColumn("dy", F.explode(off))
              .withColumn("dx", F.explode(off))
              .select("id", "latp", "lonp",
                      (F.col("cy") + F.col("dy")).alias("cy"),
                      (F.col("cx") + F.col("dx")).alias("cx")))
    q = cells.select(F.col("id").alias("qid"), F.col("latp").alias("qlat"),
                     F.col("lonp").alias("qlon"), "cy", "cx")
    d2 = ((F.col("latp") - F.col("qlat")) * (F.col("latp") - F.col("qlat"))
          + (F.col("lonp") - F.col("qlon")) * (F.col("lonp") - F.col("qlon")))
    pairs = (probes.join(q, ["cy", "cx"])
             .where((F.col("id") < F.col("qid"))
                    & (d2 <= F.lit(_RADIUS * _RADIUS)))
             .select(d2.alias("d2")))
    return (pairs
            .select(F.expr("floor(sqrt(d2)) div 50000").alias("band"), "d2")
            .groupBy("band")
            .agg(F.count("*").alias("n_pairs"),
                 F.min("d2").alias("min_d2"),
                 F.max("d2").alias("max_d2")))


@query("geo_knn_topk", oracle=f"""
    WITH probes AS (
        SELECT * FROM ({_pts_sql('customer', 'c_custkey', 'c_nationkey', '')})
        WHERE id < 20
    ),
    sup AS ({_pts_sql('supplier', 's_suppkey', 's_nationkey', 's')}),
    scored AS (
        SELECT p.id AS cust_id, s.id AS supp_id,
               (p.latp - s.latp) * (p.latp - s.latp)
             + (p.lonp - s.lonp) * (p.lonp - s.lonp) AS d2
        FROM probes p CROSS JOIN sup s
    ),
    ranked AS (
        SELECT cust_id, supp_id, d2,
               row_number() OVER (PARTITION BY cust_id
                                  ORDER BY d2, supp_id) AS rnk
        FROM scored
    )
    SELECT cust_id, rnk, supp_id, d2,
           CAST(round(sqrt(d2) * 0.111195) AS BIGINT) AS d_m
    FROM ranked WHERE rnk <= 3
""")
def geo_knn_topk(spark, sf_dir):
    """Brute-force kNN in the broadcast-probe shape: the 20 probe
    customers broadcast against the supplier corpus, per-probe top-3
    by exact integer planar distance (ties pinned by supp_id). At
    100 TB this is the exact-rerank stage of the ANN stack
    (`similarity_rerank_two_stage`): probes are always small, the
    corpus side streams, the window collapses to per-probe top-k.
    Meters come from the exact integer d2 via one correctly-rounded
    sqrt and one exact double multiply — no trig."""
    probes = (_pts(spark, sf_dir, "customer", "c_custkey", "c_nationkey", "")
              .where(F.col("id") < 20)
              .select(F.col("id").alias("cust_id"),
                      F.col("latp").alias("plat"), F.col("lonp").alias("plon")))
    sup = (_pts(spark, sf_dir, "supplier", "s_suppkey", "s_nationkey", "s")
           .select(F.col("id").alias("supp_id"), "latp", "lonp"))
    d2 = ((F.col("plat") - F.col("latp")) * (F.col("plat") - F.col("latp"))
          + (F.col("plon") - F.col("lonp")) * (F.col("plon") - F.col("lonp")))
    scored = (sup.join(F.broadcast(probes))
              .select("cust_id", "supp_id", d2.alias("d2")))
    w = Window.partitionBy("cust_id").orderBy("d2", "supp_id")
    return (scored
            .withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rnk") <= 3)
            .select("cust_id", "rnk", "supp_id", "d2",
                    F.round(F.sqrt("d2") * 0.111195).cast("bigint")
                     .alias("d_m")))


# Plate-carree global tiling: x spans 360e6 microdeg, y 180e6; at z8
# the world is 256x256 tiles => exact integer tile sizes 1406250 x
# 703125 microdeg. zoom 6/4 derive from z8 by integer division.
_TX8 = 1_406_250
_TY8 = 703_125


@query("geo_tile_rollup", oracle=f"""
    WITH pts AS ({_pts_sql('customer', 'c_custkey', 'c_nationkey', '')}),
    t8 AS (
        SELECT (lonp + 170000000) // {_TX8} AS tx,
               (60000000 - latp) // {_TY8} AS ty,
               count(*) AS n
        FROM pts GROUP BY 1, 2
    ),
    t6 AS (SELECT tx // 4 AS tx, ty // 4 AS ty, CAST(sum(n) AS BIGINT) AS n
           FROM t8 GROUP BY 1, 2),
    t4 AS (SELECT tx // 16 AS tx, ty // 16 AS ty,
                  CAST(sum(n) AS BIGINT) AS n
           FROM t8 GROUP BY 1, 2)
    SELECT 8 AS zoom, tx, ty, CAST(NULL AS VARCHAR) AS quadkey, n FROM t8
    UNION ALL
    SELECT 6, tx, ty, CAST(NULL AS VARCHAR), n FROM t6
    UNION ALL
    SELECT 4, tx, ty,
           CAST(2 * ((ty // 8) % 2) + ((tx // 8) % 2) AS VARCHAR)
           || CAST(2 * ((ty // 4) % 2) + ((tx // 4) % 2) AS VARCHAR)
           || CAST(2 * ((ty // 2) % 2) + ((tx // 2) % 2) AS VARCHAR)
           || CAST(2 * (ty % 2) + (tx % 2) AS VARCHAR),
           n
    FROM t4
""")
def geo_tile_rollup(spark, sf_dir):
    """Hierarchical map-tile rollup: points bin once into zoom-8
    plate-carree tiles (exact integer tile math — z8 divides the
    360e6 x 180e6 microdegree world evenly), then z6 and z4 are
    AGGREGATES OF THE z8 AGGREGATE (tile // 4, // 16) — the
    re-aggregation contract (`agg_reaggregation`): coarse zooms never
    rescan the corpus, which is what makes multi-resolution tile
    serving feasible at 100 TB. z4 rows carry the Bing-style base-4
    quadkey (digit k = 2*y_bit + x_bit, MSB first over the 16x16
    grid)."""
    pts = _pts(spark, sf_dir, "customer", "c_custkey", "c_nationkey", "")
    t8 = (pts.select(F.expr(f"(lonp + 170000000) div {_TX8}").alias("tx"),
                     F.expr(f"(60000000 - latp) div {_TY8}").alias("ty"))
          .groupBy("tx", "ty").agg(F.count("*").alias("n")))
    t6 = (t8.groupBy(F.expr("tx div 4").alias("tx"),
                     F.expr("ty div 4").alias("ty"))
          .agg(F.sum("n").alias("n")))
    t4 = (t8.groupBy(F.expr("tx div 16").alias("tx"),
                     F.expr("ty div 16").alias("ty"))
          .agg(F.sum("n").alias("n")))
    qk = F.concat(*[
        (2 * F.expr(f"(ty div {1 << k}) % 2")
         + F.expr(f"(tx div {1 << k}) % 2")).cast("string")
        for k in (3, 2, 1, 0)])
    null_qk = F.lit(None).cast("string")
    return (t8.select(F.lit(8).alias("zoom"), "tx", "ty",
                      null_qk.alias("quadkey"), "n")
            .unionByName(t6.select(F.lit(6).alias("zoom"), "tx", "ty",
                                   null_qk.alias("quadkey"), "n"))
            .unionByName(t4.select(F.lit(4).alias("zoom"), "tx", "ty",
                                   qk.alias("quadkey"), "n")))


_EPS = 1_000_000            # DBSCAN eps = 1 deg (microdegrees)
_MINPTS = 4                 # core: >= 4 points within eps, self included


@query("geo_dbscan_census", oracle=f"""
    WITH pts AS ({_pts_sql('customer', 'c_custkey', 'c_nationkey', '')}),
    cells AS (
        SELECT id, latp, lonp,
               latp // {_EPS} AS cy, lonp // {_EPS} AS cx
        FROM pts
    ),
    probes AS (
        SELECT id, latp, lonp, cy + dy AS cy, cx + dx AS cx
        FROM cells
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy)
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx)
    ),
    pairs AS MATERIALIZED (
        SELECT p.id AS a, q.id AS b
        FROM probes p JOIN cells q ON p.cy = q.cy AND p.cx = q.cx
        WHERE (p.latp - q.latp) * (p.latp - q.latp)
            + (p.lonp - q.lonp) * (p.lonp - q.lonp)
              <= {_EPS * _EPS}
    ),
    ncnt AS MATERIALIZED (
        SELECT a AS id, count(*) AS n_nbr, count(*) >= {_MINPTS} AS core
        FROM pairs GROUP BY a
    ),
    border AS (
        SELECT DISTINCT n.id
        FROM ncnt n
        JOIN pairs p ON p.a = n.id
        JOIN ncnt q ON q.id = p.b AND q.core
        WHERE NOT n.core AND p.b <> n.id
    )
    SELECT count(*) AS n_points,
           CAST(sum(CASE WHEN n.core THEN 1 ELSE 0 END) AS BIGINT)
               AS n_core,
           CAST(sum(CASE WHEN NOT n.core AND b.id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_border,
           CAST(sum(CASE WHEN NOT n.core AND b.id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_noise
    FROM ncnt n LEFT JOIN border b ON b.id = n.id
""")
def geo_dbscan_census(spark, sf_dir):
    """DBSCAN point classification (core / border / noise).

    Round-9 rewrite (the PLANS.md 100-TB cost note, implemented): the
    census needs only the core BOOLEAN (count >= minPts), never the
    exact neighbor count, so the quadratic within-eps pair
    materialization short-circuits on a sub-grid of side eps/2:

    1. sub-cell diagonal = eps/sqrt(2) < eps, so all points sharing a
       sub-cell are MUTUAL eps-neighbors — any point whose own
       sub-cell holds >= minPts points (self included) is core with
       ZERO pair work. In the dense regions that drive the quadratic
       pair mass, this covers almost everyone.
    2. only the SPARSE points (own sub-cell < minPts) enumerate their
       eps-ball, over the +-2 sub-cell ring (eps = 2 sub-sides, and a
       point sits anywhere inside its sub-cell, so index offsets span
       exactly [-2, 2]; ring candidate area 25*(eps/2)^2 = 6.25 eps^2,
       LESS than the old 3x3 eps-cell ring's 9 eps^2). Their count is
       exact; non-core points are a subset of these by construction.
    3. border = non-core with a core eps-neighbor: the sparse pair
       list already holds every eps-neighbor of every non-core point,
       so one semi-join against the (dense-shortcut UNION sparse)
       core set finishes the census.

    Work drops from Theta(rho*N) pairs ~ N^2 to linear in N plus pair
    work on the sparse population only. Exactness: the (core, border,
    noise) partition is a pure function of the fixed eps-neighbor
    graph; branch 1 is implied by the sub-cell diagonal bound, branch
    2 computes the same count the old plan did, and the DuckDB oracle
    stays the full 3x3 pair materialization, so the gate checks the
    shortcut externally. Coordinates are non-negative by synthesis
    (latp in [0, 30e6), lonp in [0, 50e6) — module header), so `div`
    is floor division and the sub-cell geometry argument holds. At
    100 TB the sparse pair list checkpoints to parquet and both
    consumers read it."""
    # Load-bearing evenness (VERDICT r9 #4): the +-2 ring covers the
    # eps ball ONLY because eps == 2 * sub_side exactly. With an odd
    # eps, sub_side = eps // 2 would give eps > 2 * sub_side, a point
    # at a sub-cell edge could have eps-neighbors 3 sub-cells away,
    # and sparse points would be silently under-counted. The general
    # ring radius is ceil(eps / sub_side); this guard keeps the
    # hard-coded [-2, 2] offsets honest.
    # Explicit raise, not `assert` (ADVICE r10): asserts vanish under
    # `python -O`, and this guard exists precisely to stop a silent
    # sparse-point under-count in optimized runs.
    if _EPS % 2 != 0:
        raise ValueError("DBSCAN sub-cell ring assumes an even eps")
    sub_side = _EPS // 2
    pts = _pts(spark, sf_dir, "customer", "c_custkey", "c_nationkey", "")
    w_sub = Window.partitionBy("sy", "sx")
    sub = (pts.select(
        "id", "latp", "lonp",
        F.expr(f"latp div {sub_side}").alias("sy"),
        F.expr(f"lonp div {sub_side}").alias("sx"))
        .withColumn("sc", F.count("*").over(w_sub))
        .transform(physical.cut))
    sparse = sub.where(F.col("sc") < _MINPTS)
    off = F.array([F.lit(v) for v in (-2, -1, 0, 1, 2)])
    probes = (sparse
              .withColumn("dy", F.explode(off))
              .withColumn("dx", F.explode(off))
              .select("id", "latp", "lonp",
                      (F.col("sy") + F.col("dy")).alias("sy"),
                      (F.col("sx") + F.col("dx")).alias("sx")))
    q = sub.select(F.col("id").alias("qid"), F.col("latp").alias("qlat"),
                   F.col("lonp").alias("qlon"), "sy", "sx")
    d2 = ((F.col("latp") - F.col("qlat")) * (F.col("latp") - F.col("qlat"))
          + (F.col("lonp") - F.col("qlon")) * (F.col("lonp") - F.col("qlon")))
    pairs = (probes.join(q, ["sy", "sx"])
             .where(d2 <= F.lit(_EPS * _EPS))
             .select(F.col("id").alias("a"), F.col("qid").alias("b"))
             .transform(physical.cut))
    # Exact eps-neighbor count for every sparse point (self-pair always
    # present, exactly as in the oracle's pair list).
    ncnt = (pairs.groupBy(F.col("a").alias("nid"))
            .agg(F.count("*").alias("n_nbr"))
            .withColumn("ncore", F.col("n_nbr") >= _MINPTS)
            .transform(physical.cut))
    core_ids = (sub.where(F.col("sc") >= _MINPTS).select(F.col("id"))
                .unionByName(ncnt.where("ncore").select(
                    F.col("nid").alias("id")))
                .select(F.col("id").alias("cid")))
    noncore = ncnt.where(~F.col("ncore")).select("nid")
    border = (noncore
              .join(pairs, noncore["nid"] == pairs["a"])
              .where(F.col("b") != F.col("nid"))
              .join(core_ids, F.col("b") == F.col("cid"))
              .select("nid").distinct())
    cls = (sub.select("id", (F.col("sc") >= _MINPTS).alias("dense_core"))
           .join(ncnt, sub["id"] == ncnt["nid"], "left")
           .withColumn("core", F.col("dense_core")
                       | F.coalesce(F.col("ncore"), F.lit(False)))
           .join(border.withColumnRenamed("nid", "bid"),
                 F.col("id") == F.col("bid"), "left"))
    return cls.agg(
        F.count("*").alias("n_points"),
        F.sum(F.when(F.col("core"), 1).otherwise(0)).alias("n_core"),
        F.sum(F.when(~F.col("core") & F.col("bid").isNotNull(), 1)
              .otherwise(0)).alias("n_border"),
        F.sum(F.when(~F.col("core") & F.col("bid").isNull(), 1)
              .otherwise(0)).alias("n_noise"))
