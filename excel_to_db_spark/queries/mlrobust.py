"""Robust-ML pack (round 6, batch 70). The reference engine (294 LoC
of Rust delegating to SQLite, reference src/main.rs) has none of this;
these are Tier-C mission operators — the outlier-tolerant estimators
and neighborhood classifiers a data-quality / anomaly layer runs
in-engine, each expressed without a single runtime float comparison:

- ml_ransac_line: RANSAC line fit on the daily demand series — 32
  hash-chosen candidate point-pairs, inlier test in EXACT integer
  cross-multiplied form |(y-y1)(x2-x1) - (y2-y1)(x-x1)| <= tol*|x2-x1|
  (no slope division until the report), consensus argmax pinned.
- ml_knn_classify: k=5 nearest-neighbor majority vote over 1e6-
  quantized embeddings (integer L2; broadcast-probe shape; vote tie
  -> smallest label) with ground-truth labels graded inline.
- ml_lof_grid: Local Outlier Factor (Breunig 2000) on the
  hash-synthesized customer points (`geo` pack construction), k = 3,
  squared-distance metric, candidates from the 3x3 grid neighborhood;
  lrd/LOF as pinned integer fixed-point divisions; points whose
  neighborhood is incomplete drop out via inner-join + HAVING
  count = 3 — the same rows on both engines by construction.
- ml_isolation_grid: isolation-forest-on-a-budget — 8 trees x 12
  FIXED hash-chosen axis thresholds (no adaptive ranges, so the
  whole forest is pure arithmetic); a point's isolation level per
  tree = first prefix depth where its cell count is 1; anomaly
  score = sum of levels; score census out.

Scale shapes: RANSAC candidates and kNN probes broadcast while the
corpus streams (one pass each); LOF's pair list is the grid-blocked
O(n * density) set reused through MATERIALIZED/checkpointed stages;
the isolation forest is 32 arithmetic columns + one grouped count —
the cheapest anomaly scorer in the repo at any scale."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T
from ..numerics import h32, h32_sql
from .forecast import _DAILY_TOTAL_SQL, _daily_total
from .geo import _LAT_SPAN, _LON_SPAN, _pts, _pts_sql

_TOL = 50          # RANSAC inlier tolerance, quantity units


@query("ml_ransac_line", oracle=f"""
    WITH {_DAILY_TOTAL_SQL},
    ranked AS MATERIALIZED (
        SELECT day, q, row_number() OVER (ORDER BY day) - 1 AS rn,
               count(*) OVER () AS n
        FROM dt
    ),
    cand AS (
        SELECT i,
               {h32_sql("'ra:' || CAST(i AS VARCHAR)")} % n AS i1,
               {h32_sql("'rb:' || CAST(i AS VARCHAR)")} % n AS i2
        FROM (SELECT unnest(range(32)) AS i)
        CROSS JOIN (SELECT max(n) AS n FROM ranked)
    ),
    pts AS MATERIALIZED (
        SELECT c.i, r1.day AS x1, r1.q AS y1, r2.day AS x2, r2.q AS y2
        FROM cand c
        JOIN ranked r1 ON r1.rn = c.i1
        JOIN ranked r2 ON r2.rn = c.i2
        WHERE c.i1 <> c.i2
    ),
    scored AS (
        SELECT p.i, p.x1, p.y1, p.x2, p.y2,
               CAST(sum(CASE WHEN abs((d.q - p.y1) * (p.x2 - p.x1)
                                      - (p.y2 - p.y1) * (d.day - p.x1))
                                  <= {_TOL} * abs(p.x2 - p.x1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
        FROM pts p CROSS JOIN dt d
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT i, x1, y1, x2, y2, n_inliers,
           (y2 - y1) * 1000 // (x2 - x1) AS slope_milli
    FROM scored ORDER BY n_inliers DESC, i LIMIT 1
""")
def ml_ransac_line(spark, sf_dir):
    """RANSAC consensus line on (day, daily quantity): 32 candidate
    pairs drawn by h32 over the rank index, inliers counted with the
    cross-multiplied residual test — exact integers, no division, so
    the consensus count can never flip cross-engine. The winning model
    (max inliers, tie -> lowest candidate id) is reported with its
    milli-slope. Candidates broadcast; the series streams once."""
    dt = _daily_total(spark, sf_dir).transform(physical.cut)
    n = dt.count()
    w = Window.orderBy("day")
    ranked = dt.select("day", "q",
                       (F.row_number().over(w) - 1).alias("rn"))
    cand = (spark.range(32).select(F.col("id").alias("i"))
            .select("i",
                    (h32(F.concat(F.lit("ra:"), F.col("i").cast("string")))
                     % n).alias("i1"),
                    (h32(F.concat(F.lit("rb:"), F.col("i").cast("string")))
                     % n).alias("i2"))
            .where(F.col("i1") != F.col("i2")))
    r1 = ranked.select(F.col("rn").alias("rn1"), F.col("day").alias("x1"),
                       F.col("q").alias("y1"))
    r2 = ranked.select(F.col("rn").alias("rn2"), F.col("day").alias("x2"),
                       F.col("q").alias("y2"))
    pts = (cand.join(r1, cand["i1"] == F.col("rn1"))
           .join(r2, cand["i2"] == F.col("rn2"))
           .select("i", "x1", "y1", "x2", "y2"))
    resid = F.abs((F.col("q") - F.col("y1")) * (F.col("x2") - F.col("x1"))
                  - (F.col("y2") - F.col("y1"))
                  * (F.col("day") - F.col("x1")))
    scored = (dt.crossJoin(F.broadcast(pts))
              .groupBy("i", "x1", "y1", "x2", "y2")
              .agg(F.sum(F.when(resid <= _TOL
                                * F.abs(F.col("x2") - F.col("x1")), 1)
                         .otherwise(0)).cast("bigint").alias("n_inliers")))
    return (scored.orderBy(F.col("n_inliers").desc(), F.col("i")).limit(1)
            .select("i", F.col("x1").cast("bigint").alias("x1"), "y1",
                    F.col("x2").cast("bigint").alias("x2"), "y2",
                    "n_inliers",
                    F.expr("(y2 - y1) * 1000 div (x2 - x1)")
                    .alias("slope_milli")))


@query("ml_knn_classify", oracle="""
    WITH v AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000000) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    probes AS (
        SELECT vec_id AS q_id, label AS q_label, qv AS q_qv
        FROM v WHERE vec_id % 25 = 0
    ),
    scored AS (
        SELECT q_id, q_label, c.vec_id AS n_id, c.label AS n_label,
               list_sum(list_transform(range(1, 65),
                        i -> (q_qv[i] - c.qv[i]) * (q_qv[i] - c.qv[i])))
                   AS d2
        FROM probes JOIN v c ON c.vec_id <> q_id
    ),
    top5 AS (
        SELECT q_id, q_label, n_label FROM (
            SELECT q_id, q_label, n_label,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY d2, n_id) AS rk
            FROM scored
        ) WHERE rk <= 5
    ),
    votes AS (
        SELECT q_id, q_label, n_label, count(*) AS n_votes
        FROM top5 GROUP BY 1, 2, 3
    )
    SELECT q_id, q_label AS true_label, n_label AS pred_label, n_votes,
           CASE WHEN n_label = q_label THEN 1 ELSE 0 END AS correct
    FROM (
        SELECT q_id, q_label, n_label, n_votes,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY n_votes DESC, n_label) AS rk
        FROM votes
    ) WHERE rk = 1
""")
def ml_knn_classify(spark, sf_dir, _nb_override=None):
    """k=5 nearest-neighbor classification over 1e6-quantized
    embeddings: integer L2 distances (quantize once, exact arithmetic
    after — the `embedding_quantize` contract), neighbor order pinned
    by (d2, id), majority vote pinned by (votes desc, label). Probes
    replicate to each corpus block of a cogrouped GEMM scorer (r11 —
    see the inline note; the old broadcast-crossJoin HOF formulation
    spent ~340 core-seconds interpreting per-pair folds); correctness
    graded inline against ground-truth labels."""
    e = T(spark, sf_dir, "embeddings")
    qv = F.transform(F.col("embedding").cast("array<double>"),
                     lambda x: F.round(x * 1000000).cast("bigint"))
    v = e.select("vec_id", "label", qv.alias("qv"))
    probes = (v.where(F.col("vec_id") % 25 == 0)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("label").alias("q_label"),
                      F.col("qv").alias("q_qv")))
    # Scoring kernel (r11): the r8 broadcast-crossJoin form computed
    # d2 per (probe, neighbor) pair with aggregate(zip_with(...)) —
    # interpreted per element, never whole-stage codegen — and even
    # fanned out it spent ~340 core-seconds on ~1.3e9 pair-element
    # ops at jittered sf1. The cogrouped blocked GEMM is the
    # curation_knn_density kernel applied to classification:
    # d2 = |q|^2 + |c|^2 - 2 q.c via float64 matmul, BIT-EXACT
    # because every intermediate is an integer below 2^53
    # (|qv_i| <= ~6e5, |dot| <= 64 * 3.6e11 ~ 2.3e13), and each
    # corpus block emits its LOCAL top-5 per probe under the pinned
    # (d2, n_id) order via lexsort — top-k is distributive over a
    # partition of the corpus, so the global 5-row window below sees
    # every global winner. Probes replicate to each block (the same
    # bytes the old broadcast shipped); forced-block equivalence is
    # pinned in tests/test_mlrobust.py.
    import numpy as np
    import pandas as pd

    n_parts = physical.parallelism(spark)
    nb = (_nb_override if _nb_override is not None
          else max(1, 4 * n_parts))  # corpus blocks = 4x cores
    corpus = v.select(F.col("vec_id").alias("n_id"),
                      F.col("label").alias("n_label"), "qv",
                      F.pmod(F.col("vec_id"), F.lit(nb)).cast("int")
                      .alias("blk"))
    pr = (probes.withColumn(
        "p_blk", F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))))

    def _knn_score_block(left: pd.DataFrame, right: pd.DataFrame
                         ) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"q_id": pd.Series([], dtype="int64"),
             "q_label": pd.Series([], dtype="int32"),
             "n_id": pd.Series([], dtype="int64"),
             "n_label": pd.Series([], dtype="int32"),
             "d2": pd.Series([], dtype="int64")})
        if len(left) == 0 or len(right) == 0:
            return empty
        q = np.stack(left["q_qv"].to_numpy()).astype(np.float64)
        c = np.stack(right["qv"].to_numpy()).astype(np.float64)
        qid = left["q_id"].to_numpy()
        nid = right["n_id"].to_numpy()
        d2 = ((q * q).sum(axis=1)[:, None] + (c * c).sum(axis=1)[None, :]
              - 2.0 * (q @ c.T))
        d2[qid[:, None] == nid[None, :]] = np.inf
        k = min(5, d2.shape[1])
        # Vectorized exact top-k per probe (a per-probe pandas-frame
        # loop measured SLOWER than the HOF baseline — ~200us of frame
        # churn x probes x blocks): threshold at the kth-smallest d2,
        # keep everything at-or-below it (ties included), then one
        # global lexsort by (probe, d2, n_id) and positional trim to
        # k — the pinned (d2, n_id) order, exactly.
        thr = np.partition(d2, k - 1, axis=1)[:, k - 1]
        mask = (d2 <= thr[:, None]) & np.isfinite(d2)
        ri, ci = np.nonzero(mask)
        if len(ri) == 0:
            return empty
        order = np.lexsort((nid[ci], d2[ri, ci], ri))
        ri, ci = ri[order], ci[order]
        counts = np.bincount(ri, minlength=len(q))
        offsets = np.cumsum(counts) - counts
        keep = (np.arange(len(ri)) - offsets[ri]) < k
        ri, ci = ri[keep], ci[keep]
        return pd.DataFrame(
            {"q_id": qid[ri],
             "q_label": left["q_label"].to_numpy()[ri],
             "n_id": nid[ci],
             "n_label": right["n_label"].to_numpy()[ci],
             "d2": d2[ri, ci].astype(np.int64)})

    scored = (pr.groupBy("p_blk")
              .cogroup(corpus.groupBy("blk"))
              .applyInPandas(_knn_score_block,
                             "q_id long, q_label int, n_id long, "
                             "n_label int, d2 long"))
    wk = Window.partitionBy("q_id").orderBy("d2", "n_id")
    top5 = (scored.withColumn("rk", F.row_number().over(wk))
            .where(F.col("rk") <= 5))
    votes = (top5.groupBy("q_id", "q_label", "n_label")
             .agg(F.count("*").alias("n_votes")))
    wv = Window.partitionBy("q_id").orderBy(F.col("n_votes").desc(),
                                            F.col("n_label"))
    return (votes.withColumn("rk", F.row_number().over(wv))
            .where(F.col("rk") == 1)
            .select("q_id", F.col("q_label").alias("true_label"),
                    F.col("n_label").alias("pred_label"), "n_votes",
                    F.when(F.col("n_label") == F.col("q_label"), 1)
                    .otherwise(0).alias("correct")))


_LCELL = 1_000_000
_LRD_SCALE = 3_000_000_000_000_000     # 3e15: lrd = 3e15 // sum(reach)

def _lof_subgrid_f(sf_dir, pts) -> int:
    """Sub-cells per _LCELL edge for the certificate pass, from the
    global point density: target ~64 expected candidates inside the
    R=1 explored square ((3s)^2 * rho = 64 => s = (8/3)/sqrt(rho)),
    snapped to the log-nearest divisor of _LCELL so the sub-grid nests
    exactly in the coarse grid (alignment is what keeps the explored
    square inside the contract's 3x3 ring — see _lof_top3). f == 1
    means the fixture is too sparse for the sub-grid to prune anything
    (the explored square IS the ring); callers fall back to the plain
    full-ring scan there. The point count is the customer table's
    footer row count (no job); ``pts.count()`` when it can't be read."""
    import math

    n = physical.footer_rows(sf_dir, ("customer",))
    if n is None:
        n = pts.count()
    rho = n / float(_LAT_SPAN * _LON_SPAN)
    if rho <= 0:
        return 1
    f_raw = _LCELL / math.sqrt(64.0 / (9.0 * rho))
    divisors = (1, 2, 4, 5, 8, 10, 20, 25, 40, 50, 100)
    return min(divisors, key=lambda d: abs(math.log(d / max(f_raw, 1e-9))))


def _lof_ring_top3(probe_pts, cells):
    """Exact top-3 (a, b, d2, rn) by the pinned (d2, id) order over the
    full 3x3 coarse-ring candidate set, for the given probe subset.
    This IS the published candidate geometry; the certificate pass
    only ever routes points here or proves their top-3 early."""
    off = F.array([F.lit(x) for x in (-1, 0, 1)])
    probes = (probe_pts
              .withColumn("dy", F.explode(off))
              .withColumn("dx", F.explode(off))
              .select("id", "latp", "lonp",
                      (F.col("cy") + F.col("dy")).alias("cy"),
                      (F.col("cx") + F.col("dx")).alias("cx")))
    q = cells.select(F.col("id").alias("qid"), F.col("latp").alias("qlat"),
                     F.col("lonp").alias("qlon"), "cy", "cx")
    d2 = ((F.col("latp") - F.col("qlat")) * (F.col("latp") - F.col("qlat"))
          + (F.col("lonp") - F.col("qlon")) * (F.col("lonp") - F.col("qlon")))
    wr = Window.partitionBy("a").orderBy("d2", "b")
    return (probes.join(q, ["cy", "cx"])
            .where(F.col("id") != F.col("qid"))
            .select(F.col("id").alias("a"), F.col("qid").alias("b"),
                    d2.alias("d2"))
            .withColumn("rn", F.row_number().over(wr))
            .where(F.col("rn") <= 3))


def _lof_top3(spark, sf_dir, pts, _f_override=None):
    """Each point's exact top-3 (d2, id)-ordered neighbors within its
    3x3 _LCELL-ring candidate set, as (a, b, d2, rn) rows with rn <= 3
    — the PLANS.md cost-note certificate path (VERDICT r9 #2).

    Phase A searches only the +-1 ring of an f x f sub-grid nested in
    the coarse grid (s = _LCELL / f with f a divisor, so sub-cell
    indices satisfy f*cy <= sy < f*(cy+1) and the explored square
    [sy-1, sy+1] x [sx-1, sx+1] sits inside the coarse 3x3 ring for
    any f >= 1 — phase-A candidates are always a SUBSET of the
    contract set). Certificate: every contract candidate OUTSIDE the
    explored square differs from the probe by >= B on some axis,
    where B = min(oy, ox, s-oy, s-ox) + s and (oy, ox) is the probe's
    integer offset inside its own sub-cell; so if phase A found >= 3
    candidates and the 3rd distance has d2_3 < B^2, no unexplored
    candidate can beat OR TIE any of the top-3 (strict inequality
    absorbs the (d2, id) tie-break), and the phase-A top-3 is the
    contract top-3 verbatim. Everyone else — sparse neighborhoods,
    boundary-hugging points — escalates to the full-ring scan, probe
    side only. Expected phase-A candidate mass is ~64/point by choice
    of f, and the escalated fraction is the Poisson tail
    P(<3 points within ~s) — sub-1% at the densities where the
    quadratic hurt. Total work: near-linear in N instead of
    Theta(9 N^2 / #cells)."""
    cells = pts.select(
        "id", "latp", "lonp",
        F.expr(f"latp div {_LCELL}").alias("cy"),
        F.expr(f"lonp div {_LCELL}").alias("cx"))
    f = (_lof_subgrid_f(sf_dir, pts)
         if _f_override is None else int(_f_override))
    if f < 2:
        # Sub-grid == coarse grid: the certificate pass would rescan
        # the whole ring for nothing. One plan, one materialization.
        return _lof_ring_top3(cells, cells).transform(physical.cut)
    s = _LCELL // f
    sub = cells.select(
        "id", "latp", "lonp", "cy", "cx",
        F.expr(f"latp div {s}").alias("sy"),
        F.expr(f"lonp div {s}").alias("sx"))
    # INVERTED ring join (round-10): the CANDIDATE side is exploded to
    # its 9 neighbor sub-cells and the probe joins on its OWN (sy, sx)
    # — same candidate set (|q.sy - a.sy| <= 1 and |q.sx - a.sx| <= 1),
    # but now every probe's candidates land under a single join key, so
    # a window over (sy, sx, id) is satisfied by the SMJ's
    # HashPartitioning(sy, sx) (ClusteredDistribution subsumption) and
    # the PAIR ROWS NEVER SHUFFLE: only the two point-row inputs are
    # exchanged (N + 9N rows), the pairs flow straight from the join
    # through a local sort into WindowGroupLimit's top-3 prune.
    # Measured at sf1j: 2.6 s vs 16 s for the probe-side-exploded form
    # whose 56N pair rows re-shuffled for Window.partitionBy(a). The
    # merge hint keeps the shuffle path: a broadcast join would discard
    # the reusable partitioning locally, and at 100 TB neither side
    # (N and 9N point rows) is broadcastable anyway.
    off = F.array([F.lit(x) for x in (-1, 0, 1)])
    q9 = (sub
          .withColumn("dy", F.explode(off))
          .withColumn("dx", F.explode(off))
          .select(F.col("id").alias("qid"), F.col("latp").alias("qlat"),
                  F.col("lonp").alias("qlon"),
                  (F.col("sy") + F.col("dy")).alias("sy"),
                  (F.col("sx") + F.col("dx")).alias("sx")))
    d2 = ((F.col("latp") - F.col("qlat")) * (F.col("latp") - F.col("qlat"))
          + (F.col("lonp") - F.col("qlon")) * (F.col("lonp") - F.col("qlon")))
    wr = Window.partitionBy("sy", "sx", "id").orderBy("d2", "qid")
    top_a = (sub.hint("merge").join(q9, ["sy", "sx"])
             .where(F.col("id") != F.col("qid"))
             .withColumn("d2", d2)
             .withColumn("rn", F.row_number().over(wr))
             .where(F.col("rn") <= 3)
             .select(F.col("id").alias("a"), F.col("qid").alias("b"),
                     "d2", "rn")
             .transform(physical.cut))
    per_a = (top_a.groupBy("a")
             .agg(F.count("*").alias("nc"),
                  F.max(F.when(F.col("rn") == 3, F.col("d2"))).alias("d3")))
    # B: axis-gap lower bound from the probe to anything outside the
    # explored square (integer microdegrees; oy/ox in [0, s)).
    bound = sub.select(
        F.col("id").alias("a"),
        (F.least(F.col("latp") - F.col("sy") * s,
                 F.col("sy") * s + s - F.col("latp"),
                 F.col("lonp") - F.col("sx") * s,
                 F.col("sx") * s + s - F.col("lonp"))
         + F.lit(s)).alias("bnd"))
    certified = (per_a.join(bound, "a")
                 .where((F.col("nc") == 3)
                        & (F.col("d3") < F.col("bnd") * F.col("bnd")))
                 .select("a"))
    top_cert = top_a.join(certified, "a", "semi")
    escal = sub.select("id", "latp", "lonp", "cy", "cx").join(
        certified.select(F.col("a").alias("id")), "id", "anti")
    top_esc = _lof_ring_top3(escal, cells)
    return (top_cert.select("a", "b", "d2", "rn")
            .unionByName(top_esc.select("a", "b", "d2", "rn"))
            .transform(physical.cut))


@query("ml_lof_grid", oracle=f"""
    WITH pts AS ({_pts_sql('customer', 'c_custkey', 'c_nationkey', '')}),
    cells AS (
        SELECT id, latp, lonp,
               latp // {_LCELL} AS cy, lonp // {_LCELL} AS cx
        FROM pts
    ),
    probes AS (
        SELECT id, latp, lonp, cy + dy AS cy, cx + dx AS cx
        FROM cells
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy)
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx)
    ),
    rk AS MATERIALIZED (
        SELECT a, b, d2, row_number() OVER (PARTITION BY a
                                            ORDER BY d2, b) AS rn
        FROM (
            SELECT p.id AS a, q.id AS b,
                   (p.latp - q.latp) * (p.latp - q.latp)
                 + (p.lonp - q.lonp) * (p.lonp - q.lonp) AS d2
            FROM probes p JOIN cells q ON p.cy = q.cy AND p.cx = q.cx
            WHERE p.id <> q.id
        )
    ),
    kd AS MATERIALIZED (
        SELECT a, CAST(max(CASE WHEN rn = 3 THEN d2 END) AS BIGINT)
                   AS kdist
        FROM rk WHERE rn <= 3 GROUP BY a HAVING count(*) = 3
    ),
    nbr AS MATERIALIZED (SELECT a, b, d2 FROM rk WHERE rn <= 3),
    lrd AS MATERIALIZED (
        SELECT n.a,
               {_LRD_SCALE} // CAST(sum(greatest(k.kdist, n.d2))
                                    AS BIGINT) AS lrd
        FROM nbr n JOIN kd k ON k.a = n.b
        GROUP BY n.a HAVING count(*) = 3
    ),
    lof AS (
        SELECT n.a, CAST(sum(lo.lrd) AS BIGINT) * 1000
                    // (3 * lp.lrd) AS lof_milli
        FROM nbr n
        JOIN lrd lo ON lo.a = n.b
        JOIN lrd lp ON lp.a = n.a
        GROUP BY n.a, lp.lrd HAVING count(*) = 3
    )
    SELECT lof_milli // 250 AS band, count(*) AS n_points,
           min(lof_milli) AS min_lof_milli,
           max(lof_milli) AS max_lof_milli
    FROM lof GROUP BY 1
""")
def ml_lof_grid(spark, sf_dir):
    """Local Outlier Factor, grid-blocked: candidates from the 3x3
    cell neighborhood (cell = the working radius, the `geo` pack
    blocking), k = 3 nearest under the pinned (d2, id) order,
    squared-distance metric; lrd and LOF as fixed-point integer
    divisions (3e15 / sum-of-reachabilities, x1000 ratio). Points
    whose own or whose neighbors' neighborhoods are incomplete fall
    out through inner joins + HAVING count = 3 — identical row-drop
    logic on both engines. Banded census out (LOF ~ 1000 = inlier).

    The top-3 list comes from `_lof_top3` — the round-10
    implementation of the PLANS.md 100-TB cost note's certificate
    path: the all-pairs 3x3 materialization (Theta(9 N^2 / #cells),
    quadratic through density) is replaced by a sub-grid first pass
    whose per-point top-3 is CERTIFIED exact when the 3rd distance
    beats the squared axis-gap bound to the unexplored region, with
    a full-ring fallback for the uncertified remainder. Bit-identical
    by construction: the top-3 within the FIXED 3x3-ring candidate
    set is search-order independent, and the DuckDB oracle stays the
    full materialization, so the gate checks the prune externally."""
    pts = _pts(spark, sf_dir, "customer", "c_custkey", "c_nationkey", "")
    nbr3 = _lof_top3(spark, sf_dir, pts)
    kd = (nbr3.groupBy("a")
          .agg(F.max(F.when(F.col("rn") == 3, F.col("d2")))
               .cast("bigint").alias("kdist"),
               F.count("*").alias("nc"))
          .where(F.col("nc") == 3).drop("nc"))
    nbr = nbr3.select("a", "b", "d2")
    lrd = (nbr.join(kd.select(F.col("a").alias("b2"), "kdist"),
                    nbr["b"] == F.col("b2"))
           .groupBy("a")
           .agg(F.expr(f"{_LRD_SCALE} div"
                       f" cast(sum(greatest(kdist, d2)) as bigint)")
                .alias("lrd"),
                F.count("*").alias("nc"))
           .where(F.col("nc") == 3).drop("nc")
           .transform(physical.cut))
    lof = (nbr
           .join(lrd.select(F.col("a").alias("b3"),
                            F.col("lrd").alias("lrd_o")),
                 nbr["b"] == F.col("b3"))
           .join(lrd.select(F.col("a").alias("a2"),
                            F.col("lrd").alias("lrd_p")),
                 nbr["a"] == F.col("a2"))
           .groupBy("a", "lrd_p")
           .agg(F.expr("cast(sum(lrd_o) as bigint)").alias("s"),
                F.count("*").alias("nc"))
           .where(F.col("nc") == 3)
           .select(F.expr("s * 1000 div (3 * lrd_p)").alias("lof_milli")))
    return (lof.groupBy(F.expr("lof_milli div 250").alias("band"))
            .agg(F.count("*").alias("n_points"),
                 F.min("lof_milli").alias("min_lof_milli"),
                 F.max("lof_milli").alias("max_lof_milli")))


@query("ml_isolation_grid", oracle=f"""
    WITH pts AS ({_pts_sql('customer', 'c_custkey', 'c_nationkey', '')}),
    tl AS (
        SELECT t, l,
               {h32_sql("'d:' || CAST(t AS VARCHAR) || ':'"
                        " || CAST(l AS VARCHAR)")} % 2 AS dim,
               {h32_sql("'t:' || CAST(t AS VARCHAR) || ':'"
                        " || CAST(l AS VARCHAR)")} AS thr_h
        FROM (SELECT unnest(range(8)) AS t)
        CROSS JOIN (SELECT unnest(range(1, 13)) AS l)
    ),
    bits AS (
        SELECT p.id, tl.t, tl.l,
               CASE WHEN (CASE WHEN tl.dim = 0 THEN p.latp
                          ELSE p.lonp END)
                       < (CASE WHEN tl.dim = 0 THEN tl.thr_h % 30000000
                          ELSE tl.thr_h % 50000000 END)
                    THEN 1 ELSE 0 END AS bit
        FROM pts p CROSS JOIN tl
    ),
    pfx AS MATERIALIZED (
        SELECT id, t, l,
               sum(bit * CAST(power(10, l) AS BIGINT))
                   OVER (PARTITION BY id, t ORDER BY l) AS pfx
        FROM bits
    ),
    cnt AS MATERIALIZED (
        SELECT t, l, pfx, count(*) AS c FROM pfx GROUP BY 1, 2, 3
    ),
    iso AS (
        SELECT p.id, p.t,
               coalesce(min(CASE WHEN c.c = 1 THEN p.l END), 13) AS iso
        FROM pfx p JOIN cnt c ON c.t = p.t AND c.l = p.l
                              AND c.pfx = p.pfx
        GROUP BY 1, 2
    ),
    score AS (
        SELECT id, CAST(sum(iso) AS BIGINT) AS score
        FROM iso GROUP BY id
    )
    SELECT score, count(*) AS n_points FROM score GROUP BY score
""")
def ml_isolation_grid(spark, sf_dir):
    """Isolation forest on a fixed grid: 8 trees x 12 hash-chosen
    axis-parallel thresholds (dimension and cut point both from h32 —
    NO adaptive ranges, so every split is pure arithmetic and the
    forest is embarrassingly parallel). A point's isolation level in
    a tree is the first prefix depth whose cell holds only that point
    (13 = never isolated at depth 12); the anomaly score sums levels
    over trees (low score = isolated early = anomalous). One grouped
    count per (tree, level, cell) — the cheapest anomaly scorer here
    at any scale."""
    # fan_out (r10 broadcast-probe sweep): the 96-row (tree, level)
    # crossJoin's probe side otherwise inherits the narrow local scan
    # (1-2 splits) and generates all 96N bit rows + their shuffle
    # write on as many cores (19.5 s of the sf1j wall).
    pts = physical.fan_out(_pts(spark, sf_dir, "customer", "c_custkey",
                                "c_nationkey", ""))
    tl = (spark.range(8).select(F.col("id").alias("t"))
          .crossJoin(spark.range(1, 13).select(F.col("id").alias("l"))))
    key = F.concat(F.col("t").cast("string"), F.lit(":"),
                   F.col("l").cast("string"))
    tl = tl.select(
        "t", "l",
        (h32(F.concat(F.lit("d:"), key)) % 2).alias("dim"),
        h32(F.concat(F.lit("t:"), key)).alias("thr_h"))
    coord = F.when(F.col("dim") == 0, F.col("latp")).otherwise(F.col("lonp"))
    thr = (F.when(F.col("dim") == 0, F.col("thr_h") % 30000000)
           .otherwise(F.col("thr_h") % 50000000))
    bits = (pts.crossJoin(F.broadcast(tl))
            .select("id", "t", "l",
                    F.when(coord < thr, 1).otherwise(0).alias("bit")))
    wp = (Window.partitionBy("id", "t").orderBy("l")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pfx = (bits.withColumn(
        "pfx", F.sum(F.col("bit")
                     * F.pow(F.lit(10), F.col("l")).cast("bigint"))
        .over(wp)).transform(physical.cut))
    cnt = (pfx.groupBy("t", "l", "pfx").agg(F.count("*").alias("c")))
    iso = (pfx.join(cnt, ["t", "l", "pfx"])
           .groupBy("id", "t")
           .agg(F.coalesce(
               F.min(F.when(F.col("c") == 1, F.col("l"))), F.lit(13))
               .alias("iso")))
    score = (iso.groupBy("id")
             .agg(F.sum("iso").cast("bigint").alias("score")))
    return score.groupBy("score").agg(F.count("*").alias("n_points"))
