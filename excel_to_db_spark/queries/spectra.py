"""Spectrum / tree / persistence pack (round 5, batch 48): the
embedding variance spectrum with participation ratio, a depth-2
decision tree trained in-engine, the AR(1) mean-reversion half-life,
and the rich-club coefficient. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this
surface; these are Tier-C mission operators:

- Variance spectrum + participation ratio PR = (sum var)^2 /
  sum var^2: how many dimensions the embedding actually uses —
  PR ~ d is healthy, PR << d means the space collapsed (the
  diagonal-covariance quick look; embedding_pca_power is the full
  eigensolve).
- Depth-2 CART (Breiman et al. 1984): root + two child splits
  chosen by exact Gini reduction over the value histogram — the
  recursive-partitioning step beyond the repo's depth-1
  ml_split_info_gain, still zero rows on the driver.
- AR(1) half-life: -ln 2 / ln rho — how many days a revenue shock
  takes to decay halfway; THE number a mean-reversion trading/
  capacity model is parameterized by.
- Rich club (Zhou & Mondragon 2004): phi(k) = density among
  nodes of degree > k — do the hubs preferentially trade with each
  other?

Determinism contract (SURVEY §4.3): snapped integer components
(1e6), histogram counts, degrees, and moment sums are exact
integers; split scores are fixed float expressions of exact counts
with smallest-threshold tie rule; all ratios round once."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import query
from .relational import T
from .tradegraph import nation_pairs, nation_pairs_sql
from ..numerics import (
    comoment, comoment_sql, units_sum, units_sum_sql, wide, wide_sql)


# --------------------------------------- embedding variance spectrum

@query("embedding_variance_spectrum", oracle=f"""
    WITH comp AS (
        SELECT vec_id, u.i AS dim,
               CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1e6)
                    AS BIGINT) AS v6
        FROM embeddings,
             unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    dims AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(v6)')} AS s,
               sum({wide_sql('v6')} * v6) AS q
        FROM comp GROUP BY dim
    ),
    lam AS (
        SELECT dim,
               CAST(round(CAST({comoment_sql('n', 'q', 's', 's')}
                               AS DOUBLE)
                          / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS l_u
        FROM dims
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS d,
               {wide_sql('sum(l_u)')} AS tot_u,
               sum({wide_sql('l_u')} * l_u) AS sq_u,
               CAST(max(l_u) AS BIGINT) AS max_u
        FROM lam
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n,
           d,
           round(CAST(tot_u AS DOUBLE) / 1e12, 6) AS total_var,
           round(CAST(max_u AS DOUBLE) / 1e12, 6) AS top_var,
           round((CAST(tot_u AS DOUBLE) * CAST(tot_u AS DOUBLE))
                 / CAST(sq_u AS DOUBLE), 4) AS participation_ratio
    FROM st
""")
def embedding_variance_spectrum(spark, sf_dir):
    """Per-dimension variance spectrum of the embedding cloud,
    summarized by the participation ratio PR = (sum lambda)^2 /
    sum lambda^2 — the effective number of active dimensions under
    the diagonal-covariance approximation (PR = d for a perfectly
    isotropic cloud, PR = 1 for a rank-1 collapse). The quick-look
    companion to embedding_pca_power's exact eigensolve and
    embedding_isotropy's mean-cosine: all three should tell one
    story, and their disagreement localizes the pathology
    (off-diagonal correlation vs per-axis scale).

    Components snap to 1e6 integers at the scan (float32 widened to
    double first — the map_in_arrow gotcha), so per-dim (n, s, q)
    are exact; each variance snaps to 1e12 fixed-point via the
    exact n-multiplied form, making total/sq/max sums over the 64
    dims exact integers; PR is one fixed float expression.

    Scale shape: explode + one (dim) aggregate + a d-row reduce."""
    comp = (T(spark, sf_dir, "embeddings")
            .select(F.posexplode(F.col("embedding"))
                    .alias("dim", "val"))
            .select("dim",
                    F.round(F.col("val").cast("double") * 1e6)
                    .cast("bigint").alias("v6")))
    dims = comp.groupBy("dim").agg(
        F.count("*").alias("n"), F.sum("v6").alias("s"),
        F.sum(wide("v6") * F.col("v6")).alias("q"))
    lam = dims.select(
        F.round(comoment("n", "q", "s", "s").cast("double")
                / (F.col("n").cast("double") * F.col("n")))
        .cast("bigint").alias("l_u"))
    st = lam.agg(F.count("*").alias("d"),
                 F.sum("l_u").alias("tot_u"),
                 F.sum(wide("l_u") * F.col("l_u"))
                 .alias("sq_u"),
                 F.max("l_u").alias("max_u"))
    n = T(spark, sf_dir, "embeddings").agg(F.count("*").alias("n"))
    return (st.crossJoin(F.broadcast(n))
            .select("n", "d",
                    F.round(F.col("tot_u").cast("double") / 1e12, 6)
                    .alias("total_var"),
                    F.round(F.col("max_u").cast("double") / 1e12, 6)
                    .alias("top_var"),
                    F.round((F.col("tot_u").cast("double")
                             * F.col("tot_u").cast("double"))
                            / F.col("sq_u").cast("double"), 4)
                    .alias("participation_ratio")))


# ------------------------------------------------ depth-2 CART

_TREE_HIST = """
    SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS b,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS BIGINT) AS pos
    FROM events WHERE event_type IN ('purchase', 'view')
    GROUP BY 1
"""

_TREE_SPLIT = """
        SELECT b AS thr,
               CAST(pl AS DOUBLE) * pl / cl
               + CAST(pt - pl AS DOUBLE) * (pt - pl) / (ct - cl)
                   AS score
        FROM (
            SELECT b,
                   CAST(sum(cnt) OVER (ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cl,
                   CAST(sum(pos) OVER (ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pl,
                   CAST(sum(cnt) OVER () AS BIGINT) AS ct,
                   CAST(sum(pos) OVER () AS BIGINT) AS pt
            FROM {src}
        ) WHERE cl < ct
        ORDER BY score DESC, thr ASC LIMIT 1
"""


@query("ml_tree_depth2", oracle=f"""
    WITH hist AS ({_TREE_HIST}),
    root AS ({_TREE_SPLIT.format(src="hist")}),
    lhist AS (SELECT hist.* FROM hist, root WHERE b <= thr),
    rhist AS (SELECT hist.* FROM hist, root WHERE b > thr),
    lsplit AS ({_TREE_SPLIT.format(src="lhist")}),
    rsplit AS ({_TREE_SPLIT.format(src="rhist")}),
    leaves AS (
        SELECT CASE WHEN h.b <= root.thr THEN
                   CASE WHEN h.b <= lsplit.thr THEN 0 ELSE 1 END
               ELSE
                   CASE WHEN h.b <= rsplit.thr THEN 2 ELSE 3 END
               END AS leaf,
               h.cnt, h.pos
        FROM hist h, root, lsplit, rsplit
    ),
    lstat AS (
        SELECT leaf, CAST(sum(cnt) AS BIGINT) AS c,
               CAST(sum(pos) AS BIGINT) AS p
        FROM leaves GROUP BY leaf
    ),
    acc AS (
        SELECT CAST(sum(greatest(p, c - p)) AS BIGINT) AS correct,
               CAST(sum(c) AS BIGINT) AS total
        FROM lstat
    )
    SELECT (SELECT thr FROM root) AS root_thr,
           (SELECT thr FROM lsplit) AS left_thr,
           (SELECT thr FROM rsplit) AS right_thr,
           round(CAST(correct AS DOUBLE) / total, 6) AS train_accuracy
    FROM acc
""")
def ml_tree_depth2(spark, sf_dir):
    """Depth-2 CART classifier trained in-engine (Breiman et al.
    1984): predict purchase-vs-view from the event value, bucketed to
    $10 bins. The root split maximizes the Gini-equivalent score
    sum_branch pos^2/count (binary-Gini reduction up to constants);
    each branch then picks its own best sub-split over ITS histogram
    slice — recursive partitioning as three bounded argmaxes over the
    value histogram, with zero rows ever leaving the cluster (the
    depth-1 ml_split_info_gain key's recursion step).

    All cumulative pos/count prefixes are exact integers over the
    ordered bounded histogram; split scores are fixed float
    expressions of exact counts with the smallest-threshold tie rule
    (ORDER BY score DESC, thr ASC LIMIT 1 on identical doubles);
    train_accuracy = leaf-majority correctness, an exact rational.

    Scale shape: ONE corpus histogram aggregate + three
    TakeOrdered(1) argmax passes over the ~50-bucket grid."""
    hist = (T(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("purchase", "view"))
            .groupBy(F.expr("CAST(round(value * 100) AS BIGINT)"
                            " DIV 1000").alias("b"))
            .agg(F.count("*").alias("cnt"),
                 F.sum(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("pos")))

    def best_split(h):
        wc = Window.orderBy("b").rowsBetween(
            Window.unboundedPreceding, 0)
        wt = Window.partitionBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
        cum = h.select(
            "b",
            F.sum("cnt").over(wc).alias("cl"),
            F.sum("pos").over(wc).alias("pl"),
            F.sum("cnt").over(wt).alias("ct"),
            F.sum("pos").over(wt).alias("pt"))
        scored = (cum.filter(F.col("cl") < F.col("ct"))
                  .select(F.col("b").alias("thr"),
                          (F.col("pl").cast("double") * F.col("pl")
                           / F.col("cl")
                           + (F.col("pt") - F.col("pl")).cast("double")
                           * (F.col("pt") - F.col("pl"))
                           / (F.col("ct") - F.col("cl")))
                          .alias("score")))
        return (scored.orderBy(F.col("score").desc(),
                               F.col("thr").asc()).limit(1)
                .select("thr"))

    root = best_split(hist)
    lhist = hist.crossJoin(F.broadcast(root)) \
        .filter(F.col("b") <= F.col("thr")).drop("thr")
    rhist = hist.crossJoin(F.broadcast(root)) \
        .filter(F.col("b") > F.col("thr")).drop("thr")
    lsplit = best_split(lhist).select(F.col("thr").alias("lthr"))
    rsplit = best_split(rhist).select(F.col("thr").alias("rthr"))
    leaves = (hist.crossJoin(F.broadcast(
        root.select(F.col("thr").alias("root_thr"))))
        .crossJoin(F.broadcast(lsplit))
        .crossJoin(F.broadcast(rsplit))
        .select(
            F.when(F.col("b") <= F.col("root_thr"),
                   F.when(F.col("b") <= F.col("lthr"), 0).otherwise(1))
            .otherwise(
                F.when(F.col("b") <= F.col("rthr"), 2).otherwise(3))
            .alias("leaf"), "cnt", "pos",
            "root_thr", "lthr", "rthr"))
    lstat = leaves.groupBy("leaf", "root_thr", "lthr", "rthr").agg(
        F.sum("cnt").alias("c"), F.sum("pos").alias("p"))
    acc = lstat.groupBy("root_thr", "lthr", "rthr").agg(
        F.sum(F.greatest(F.col("p"), F.col("c") - F.col("p")))
        .alias("correct"),
        F.sum("c").alias("total"))
    return acc.select(
        F.col("root_thr").alias("root_thr"),
        F.col("lthr").alias("left_thr"),
        F.col("rthr").alias("right_thr"),
        F.round(F.col("correct").cast("double") / F.col("total"), 6)
        .alias("train_accuracy"))


# ------------------------------------------------- AR(1) half-life

@query("ts_halflife", oracle=f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               {units_sum_sql('o_totalprice', 100)} AS y
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT lag(y) OVER (ORDER BY d) AS x, y FROM day
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x)')} AS sx,
               {wide_sql('sum(y)')} AS sy,
               sum({wide_sql('x')} * x) AS sxx,
               sum({wide_sql('x')} * y) AS sxy
        FROM pairs WHERE x IS NOT NULL
    ),
    fit AS (
        SELECT n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS rho
        FROM st
    )
    SELECT n, rho,
           CASE WHEN rho > 0 AND rho < 1 THEN
               round(-ln(2.0) / ln(rho), 2)
           END AS halflife_days
    FROM fit
""")
def ts_halflife(spark, sf_dir):
    """AR(1) mean-reversion half-life of daily order revenue:
    regress y_t on y_{t-1} in LEVELS; rho is the shock-persistence
    coefficient and halflife = -ln 2 / ln rho is how many days a
    revenue shock takes to decay halfway back to the mean — the one
    number a capacity buffer or mean-reversion strategy is sized by
    (NULL when rho leaves (0,1): no mean reversion to speak of). The
    level-space companion to ts_adf_test's difference-space t.

    Moment sums are exact HUGEINT/DECIMAL(38,0) off one lag pass;
    rho snaps at 6dp BEFORE the log ratio (snap, then consume).

    Scale shape: day-spine collapse + one lag window + 1-row
    reduce."""
    from pyspark.sql import Window as W
    day = (T(spark, sf_dir, "orders")
           .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("y")))
    pairs = (day.select(F.lag("y").over(W.orderBy("d")).alias("x"),
                        "y")
             .filter(F.col("x").isNotNull()))
    st = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(wide("x") * F.col("x")).alias("sxx"),
        F.sum(wide("x") * F.col("y")).alias("sxy"))
    fit = st.select(
        "n",
        F.round(comoment("n", "sxy", "sx", "sy").cast("double")
                / comoment("n", "sxx", "sx", "sx")
                .cast("double"), 6).alias("rho"))
    return fit.select(
        "n", "rho",
        F.when((F.col("rho") > 0) & (F.col("rho") < 1),
               F.round(-F.log(F.lit(2.0)) / F.log(F.col("rho")), 2))
        .alias("halflife_days"))


# --------------------------------------------------- rich club

@query("graph_rich_club", oracle=f"""
    -- AS MATERIALIZED: DuckDB inlines (re-executes) multi-referenced
    -- CTEs; without it the weighted-edge join runs ~12x through
    -- the rich/e reference chains (measured 204s -> ~18s at sf0.1).
    WITH {nation_pairs_sql(f"{units_sum_sql('l_extendedprice', 100)} AS cents")},
    w AS (SELECT u, v, cents FROM pairs WHERE u <> v),
    top AS (
        SELECT u, v FROM (
            SELECT u, v, row_number() OVER (PARTITION BY u
                         ORDER BY cents DESC, v) AS rk
            FROM w
        ) WHERE rk <= 3
    ),
    e AS MATERIALIZED (SELECT DISTINCT least(u, v) AS a,
          greatest(u, v) AS b FROM top),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) GROUP BY node
    ),
    ks AS (SELECT unnest([3, 5, 7]) AS k),
    rich AS MATERIALIZED (
        SELECT ks.k, deg.node FROM deg, ks WHERE deg.d > ks.k
    ),
    nr AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_rich FROM rich
        GROUP BY k
    ),
    er AS (
        SELECT ra.k, CAST(count(*) AS BIGINT) AS e_rich
        FROM e
        JOIN rich ra ON ra.node = e.a
        JOIN rich rb ON rb.node = e.b AND rb.k = ra.k
        GROUP BY ra.k
    )
    SELECT CAST(ks.k AS BIGINT) AS k,
           coalesce(nr.n_rich, 0) AS n_rich,
           coalesce(er.e_rich, 0) AS e_rich,
           CASE WHEN coalesce(nr.n_rich, 0) >= 2 THEN
               round(2.0 * coalesce(er.e_rich, 0)
                     / (CAST(nr.n_rich AS DOUBLE) * (nr.n_rich - 1)),
                     6)
           END AS phi
    FROM ks LEFT JOIN nr ON nr.k = ks.k LEFT JOIN er ON er.k = ks.k
    ORDER BY ks.k
""")
def graph_rich_club(spark, sf_dir):
    """Rich-club coefficient of the nation trade graph (Zhou &
    Mondragon 2004): phi(k) = 2 E_k / (N_k (N_k - 1)) over the
    subgraph induced by nodes of degree > k, for k = 5/10/15 — do
    high-degree nations preferentially trade with EACH OTHER? phi
    rising toward 1 with k is the rich-club ordering that degree
    assortativity (graph_assortativity) summarizes into one signed
    number; the k-profile shows where the club forms. NULL when the
    club has < 2 members (density undefined).

    Degrees and induced-edge counts are exact integers; membership
    is decided by an equi-join on (k, node) — at a web-scale graph
    the rich set for any useful k is tiny (that is the point of the
    metric), so both joins broadcast. The graph is the top-3-partner
    sparsification (each nation's 3 biggest trade partners by exact
    cents — the graph_assortativity/graph_bfs_levels rule: the raw
    nation graph is near-complete, where every phi is trivially 1).

    Scale shape: weighted edge aggregate + per-source top-k window +
    degree aggregate + a 3-k membership grid + broadcast equi-joins."""
    from pyspark.sql import Window as W
    w = (nation_pairs(spark, sf_dir,
                      units_sum(F.col("l_extendedprice"), 100).alias("cents"))
         .filter(F.col("u") != F.col("v")))
    top = (w.select("u", "v", F.row_number().over(
        W.partitionBy("u").orderBy(F.col("cents").desc(), "v"))
        .alias("rk")).filter(F.col("rk") <= 3).select("u", "v"))
    e = (top.select(F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b")).distinct())
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d")))
    ks = spark.range(3).select(
        (3 + F.col("id") * 2).cast("int").alias("k"))
    rich = (deg.crossJoin(F.broadcast(ks))
            .filter(F.col("d") > F.col("k"))
            .select("k", "node"))
    n_rich = rich.groupBy("k").agg(F.count("*").alias("n_rich"))
    ra = rich.select(F.col("k").alias("ka"),
                     F.col("node").alias("node_a"))
    rb = rich.select(F.col("k").alias("kb"),
                     F.col("node").alias("node_b"))
    e_rich = (e.join(F.broadcast(ra), e.a == ra.node_a)
              .join(F.broadcast(rb),
                    (e.b == rb.node_b) & (F.col("ka") == F.col("kb")))
              .groupBy(F.col("ka").alias("k"))
              .agg(F.count("*").alias("e_rich")))
    stat = (ks.join(n_rich, "k", "left")
            .join(e_rich, "k", "left")
            .select(F.col("k").cast("bigint").alias("k"),
                    F.coalesce("n_rich", F.lit(0)).alias("n_rich"),
                    F.coalesce("e_rich", F.lit(0)).alias("e_rich")))
    return (stat.select(
        "k", "n_rich", "e_rich",
        F.when(F.col("n_rich") >= 2,
               F.round(2.0 * F.col("e_rich")
                       / (F.col("n_rich").cast("double")
                          * (F.col("n_rich") - 1)), 6)).alias("phi"))
        .orderBy("k"))
