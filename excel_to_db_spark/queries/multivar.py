"""Multivariate-dependence pack (round 6, batch 85). The reference
engine (294 LoC of Rust delegating to SQLite, reference src/main.rs)
has none of this; four Tier-C mission operators over the per-user
activity vector (clicks, views, purchases — exact integer counts),
all closed-form in 2-3 dimensions so every matrix inverse /
eigenvalue is explicit integer arithmetic (the d >= 3 iterative
versions are `embedding_pca_power` / `ml_logistic_newton`):

- anomaly_mahalanobis2: exact 2-D Mahalanobis outliers — the 2x2
  covariance inverted SYMBOLICALLY (d^2 = (vy dx^2 - 2 vxy dx dy +
  vx dy^2)/det on milli-snapped moments), top-10 users by distance.
- stats_empirical_copula: the rank-transform dependence grid — 5x5
  empirical copula density of (clicks, views) ranks plus the
  total-variation distance from the independence copula (log-free
  dependence strength).
- stats_pca2_exact: 2-variable PCA in closed form — eigenvalues of
  the 2x2 covariance via the quadratic formula, the discriminant
  sqrt on an exact integer (floor(sqrt), engine-stable), explained
  share in millis.
- stats_partial_corr: partial correlation r_clicks,views .
  purchases — the three pairwise correlations from milli-snapped
  moments, composed with pinned integer sqrt/division order.

Scale shapes: everything reduces the corpus to per-user counts once
(one shuffle on user_id), then to 6 scalar moments; only the
Mahalanobis top-10 and the copula grid touch the user table again
(broadcast moments)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T

_U_SQL = """
    u AS MATERIALIZED (
        SELECT user_id,
               CAST(count(*) FILTER (WHERE event_type = 'click')
                    AS BIGINT) AS x,
               CAST(count(*) FILTER (WHERE event_type = 'view')
                    AS BIGINT) AS y,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS z
        FROM events GROUP BY user_id
    ),
    m AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(z * z) AS BIGINT) AS szz,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * z) AS BIGINT) AS sxz,
               CAST(sum(y * z) AS BIGINT) AS syz
        FROM u
    ),
    v AS MATERIALIZED (
        SELECT n, sx, sy,
               (n * sxx - sx * sx) * 1000 // (n * n) AS vx,
               (n * syy - sy * sy) * 1000 // (n * n) AS vy,
               (n * szz - sz * sz) * 1000 // (n * n) AS vz,
               (n * sxy - sx * sy) * 1000 // (n * n) AS vxy,
               (n * sxz - sx * sz) * 1000 // (n * n) AS vxz,
               (n * syz - sy * sz) * 1000 // (n * n) AS vyz
        FROM m
    )
"""




def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — Python // floors
    negatives, SQL div/'//' truncates; every driver-side scalar here
    must match the engines."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q

def _uv(spark, sf_dir):
    """(u, v): per-user counts and the milli-snapped moment scalars
    (population covariances x1000 — the scale that keeps every
    downstream product inside BIGINT at any SF)."""
    ev = T(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(*[F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
                .cast("bigint").alias(c)
                for t, c in (("click", "x"), ("view", "y"),
                             ("purchase", "z"))])
         .transform(physical.cut))
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"))
    v = m.select(
        "n", "sx", "sy",
        F.expr("(n * sxx - sx * sx) * 1000 div (n * n)").alias("vx"),
        F.expr("(n * syy - sy * sy) * 1000 div (n * n)").alias("vy"),
        F.expr("(n * szz - sz * sz) * 1000 div (n * n)").alias("vz"),
        F.expr("(n * sxy - sx * sy) * 1000 div (n * n)").alias("vxy"),
        F.expr("(n * sxz - sx * sz) * 1000 div (n * n)").alias("vxz"),
        F.expr("(n * syz - sy * sz) * 1000 div (n * n)").alias("vyz"))
    return u, v.collect()[0]


@query("anomaly_mahalanobis2", oracle=f"""
    WITH {_U_SQL}
    SELECT user_id, x, y,
           CAST(m2 AS BIGINT) AS m2_milli,
           CAST(row_number() OVER (ORDER BY m2 DESC, user_id)
                AS BIGINT) AS rnk
    FROM (
        SELECT u.user_id, u.x, u.y,
               (v.vy * (u.x * v.n - v.sx) * (u.x * v.n - v.sx) * 1000
                  // (v.n * v.n)
                - 2 * v.vxy * (u.x * v.n - v.sx)
                  * (u.y * v.n - v.sy) * 1000 // (v.n * v.n)
                + v.vx * (u.y * v.n - v.sy) * (u.y * v.n - v.sy) * 1000
                  // (v.n * v.n))
               * 1000 // (v.vx * v.vy - v.vxy * v.vxy) AS m2
        FROM u CROSS JOIN v
    ) QUALIFY row_number() OVER (ORDER BY m2 DESC, user_id) <= 10
""")
def anomaly_mahalanobis2(spark, sf_dir):
    """Exact 2-D Mahalanobis outliers over (clicks, views): the 2x2
    covariance inverted symbolically — d^2 = (vy dx^2 - 2 vxy dx dy
    + vx dy^2)/det on milli-snapped population moments, deviations
    kept as n*x - sum(x) integers with pinned division order. Top-10
    users by distance (ties by id). The moment scalars broadcast;
    the corpus is scanned once more for the scoring projection."""
    u, v = _uv(spark, sf_dir)
    n, sx, sy = v["n"], v["sx"], v["sy"]
    vx, vy, vxy = v["vx"], v["vy"], v["vxy"]
    det = vx * vy - vxy * vxy
    m2 = (f"(({vy} * (x * {n} - {sx}) * (x * {n} - {sx}) * 1000"
          f" div ({n} * {n})"
          f" - 2 * {vxy} * (x * {n} - {sx}) * (y * {n} - {sy}) * 1000"
          f" div ({n} * {n})"
          f" + {vx} * (y * {n} - {sy}) * (y * {n} - {sy}) * 1000"
          f" div ({n} * {n})) * 1000 div {det})")
    w = Window.orderBy(F.desc("m2"), F.col("user_id"))
    return (u.select("user_id", "x", "y", F.expr(m2).alias("m2"))
            .withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rnk") <= 10)
            .select("user_id", "x", "y",
                    F.col("m2").cast("bigint").alias("m2_milli"),
                    "rnk"))


@query("stats_empirical_copula", oracle=f"""
    WITH {_U_SQL},
    ranked AS MATERIALIZED (
        SELECT user_id,
               row_number() OVER (ORDER BY x, user_id) AS rx,
               row_number() OVER (ORDER BY y, user_id) AS ry,
               count(*) OVER () AS n
        FROM u
    ),
    cells AS MATERIALIZED (
        SELECT (rx - 1) * 5 // n AS i, (ry - 1) * 5 // n AS j,
               CAST(count(*) AS BIGINT) AS c,
               CAST(max(n) AS BIGINT) AS n
        FROM ranked GROUP BY 1, 2
    ),
    dep AS (
        SELECT CAST(sum(abs(25 * c - n)) * 1000 // (50 * max(n))
                    AS BIGINT) AS dep_milli
        FROM cells
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, c,
           (SELECT dep_milli FROM dep) AS dep_milli
    FROM cells
""")
def stats_empirical_copula(spark, sf_dir):
    """Empirical copula density of (clicks, views): both margins
    rank-transformed (ties pinned by user id — the empirical copula
    is rank-uniform by construction), 5x5 grid counts, and the
    total-variation distance from the independence copula (sum
    |25c - n| / 50n, milli) as the log-free dependence strength.
    Rank windows over the bounded user table."""
    u, _ = _uv(spark, sf_dir)
    n = u.count()
    wx = Window.orderBy("x", "user_id")
    wy = Window.orderBy("y", "user_id")
    ranked = u.select(
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"))
    cells = (ranked.groupBy(
        F.expr(f"(rx - 1) * 5 div {n}").alias("i"),
        F.expr(f"(ry - 1) * 5 div {n}").alias("j"))
        .agg(F.count("*").alias("c"))
        .transform(physical.cut))
    dep = (cells.agg(F.expr(f"sum(abs(25 * c - {n})) * 1000"
                            f" div {50 * n}").cast("bigint")
                     .alias("d")).collect()[0]["d"])
    return cells.select(F.col("i").cast("bigint").alias("i"),
                        F.col("j").cast("bigint").alias("j"), "c",
                        F.lit(dep).cast("bigint").alias("dep_milli"))


@query("stats_pca2_exact", oracle=f"""
    WITH {_U_SQL}
    SELECT vx AS vx_milli, vy AS vy_milli, vxy AS vxy_milli,
           (vx + vy + CAST(floor(sqrt((vx - vy) * (vx - vy)
                                      + 4 * vxy * vxy)) AS BIGINT))
             // 2 AS lam1_milli,
           (vx + vy - CAST(floor(sqrt((vx - vy) * (vx - vy)
                                      + 4 * vxy * vxy)) AS BIGINT))
             // 2 AS lam2_milli,
           (vx + vy + CAST(floor(sqrt((vx - vy) * (vx - vy)
                                      + 4 * vxy * vxy)) AS BIGINT))
             // 2 * 1000 // (vx + vy) AS explained_milli
    FROM v
""")
def stats_pca2_exact(spark, sf_dir):
    """2-variable PCA in closed form: eigenvalues of the (clicks,
    views) covariance via the quadratic formula — the discriminant
    sqrt runs on an EXACT integer ((vx-vy)^2 + 4vxy^2 of
    milli-snapped moments), so floor(sqrt) is engine-stable; the
    explained share uses trace = lam1 + lam2 = vx + vy exactly. The
    d-dimensional iterative twin is `embedding_pca_power`."""
    _, v = _uv(spark, sf_dir)
    vx, vy, vxy = v["vx"], v["vy"], v["vxy"]
    spark_one = T(spark, sf_dir, "region").limit(1)
    disc = (vx - vy) * (vx - vy) + 4 * vxy * vxy
    import math
    s = math.isqrt(disc)
    lam1 = _tdiv(vx + vy + s, 2)
    lam2 = _tdiv(vx + vy - s, 2)
    return spark_one.select(
        F.lit(vx).cast("bigint").alias("vx_milli"),
        F.lit(vy).cast("bigint").alias("vy_milli"),
        F.lit(vxy).cast("bigint").alias("vxy_milli"),
        F.lit(lam1).cast("bigint").alias("lam1_milli"),
        F.lit(lam2).cast("bigint").alias("lam2_milli"),
        F.lit(lam1 * 1000 // (vx + vy)).cast("bigint")
        .alias("explained_milli"))


@query("stats_partial_corr", oracle=f"""
    WITH {_U_SQL},
    r AS (
        SELECT
            vxy * 1000000 // CAST(floor(sqrt(vx * vy)) AS BIGINT)
                AS rxy,
            vxz * 1000000 // CAST(floor(sqrt(vx * vz)) AS BIGINT)
                AS rxz,
            vyz * 1000000 // CAST(floor(sqrt(vy * vz)) AS BIGINT)
                AS ryz
        FROM v
    )
    SELECT CAST(rxy AS BIGINT) AS rxy_micro,
           CAST(rxz AS BIGINT) AS rxz_micro,
           CAST(ryz AS BIGINT) AS ryz_micro,
           CAST((rxy - rxz * ryz // 1000000) * 1000
                // (CAST(floor(sqrt(1000000000000 - rxz * rxz))
                         AS BIGINT)
                    * CAST(floor(sqrt(1000000000000 - ryz * ryz))
                           AS BIGINT) // 1000000) AS BIGINT)
               AS partial_xy_z_milli
    FROM r
""")
def stats_partial_corr(spark, sf_dir):
    """Partial correlation of clicks and views CONTROLLING for
    purchases: the three pairwise correlations from milli-snapped
    moments (micro, one floor(sqrt) each), composed as (rxy -
    rxz*ryz) / sqrt(1-rxz^2)/sqrt(1-ryz^2) with every sqrt on an
    exact integer and the division order pinned (the denominator
    factors take separate floor-sqrts — documented, deterministic).
    The number that says whether click-view dependence survives
    removing the activity-level confounder."""
    _, v = _uv(spark, sf_dir)
    import math
    vx, vy, vz = v["vx"], v["vy"], v["vz"]
    vxy, vxz, vyz = v["vxy"], v["vxz"], v["vyz"]
    rxy = _tdiv(vxy * 1_000_000, math.isqrt(vx * vy))
    rxz = _tdiv(vxz * 1_000_000, math.isqrt(vx * vz))
    ryz = _tdiv(vyz * 1_000_000, math.isqrt(vy * vz))
    den = (math.isqrt(10 ** 12 - rxz * rxz)
           * math.isqrt(10 ** 12 - ryz * ryz) // 1_000_000)
    partial = _tdiv((rxy - _tdiv(rxz * ryz, 1_000_000)) * 1000, den)
    one = T(spark, sf_dir, "region").limit(1)
    return one.select(
        F.lit(rxy).cast("bigint").alias("rxy_micro"),
        F.lit(rxz).cast("bigint").alias("rxz_micro"),
        F.lit(ryz).cast("bigint").alias("ryz_micro"),
        F.lit(partial).cast("bigint").alias("partial_xy_z_milli"))
