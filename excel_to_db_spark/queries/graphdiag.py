"""Graph-structure / unit-root / queueing pack (round 5, batch 40):
local clustering coefficients, directed-edge reciprocity, the
Dickey-Fuller unit-root test, and an Erlang-C waiting-probability
gate. The reference engine (294 LoC of Rust delegating to SQLite,
reference src/main.rs) has none of this surface; these are Tier-C
mission operators:

- Local clustering (Watts & Strogatz 1998): per-node triangle
  density 2T_v/(d_v(d_v-1)) and its mean — the small-world
  diagnostic that global transitivity alone hides.
- Reciprocity + dyad census: how often a directed trade edge is
  returned — the classic directed-graph health metric.
- Dickey-Fuller (Dickey & Fuller 1979): is the revenue series
  mean-reverting or a unit-root random walk? The stationarity gate
  before ANY autocorrelation-based model is trusted.
- Erlang C (Erlang 1917): P(wait) for a c-server queue at the
  observed offered load — the staffing curve every on-call rota and
  connection pool is sized from.

Determinism contract (SURVEY §4.3): triangles/degrees/dyads are exact
integers off canonicalized equi-joins (never all-pairs); DF moment
sums are exact DECIMAL(38,0)/HUGEINT; per-node clustering terms snap
at 1e6 before the unordered mean; Erlang C is one fixed IEEE
expression of an exact rational load."""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import query
from .relational import T
from .tradegraph import nation_pairs, nation_pairs_sql
from ..numerics import comoment, units_sum, units_sum_sql, wide, wide_sql

# Directed nation trade edge: customer nation -> supplier nation.
_RAW_EDGES_SQL = f"""{nation_pairs_sql()},
    raw AS (SELECT u, v FROM pairs WHERE u <> v)"""


def _raw_edges(spark, sf_dir):
    return nation_pairs(spark, sf_dir).filter(F.col("u") != F.col("v"))


# ------------------------------------------- local clustering coeff

@query("graph_local_clustering", oracle=f"""
    WITH {_RAW_EDGES_SQL},
    e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
          FROM raw),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) GROUP BY node
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tcnt AS (
        SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    ),
    per AS (
        SELECT deg.node, deg.d, coalesce(tcnt.t, 0) AS t,
               CASE WHEN deg.d >= 2 THEN
                   CAST(round(2.0 * coalesce(tcnt.t, 0)
                        / (CAST(deg.d AS DOUBLE) * (deg.d - 1)) * 1e6)
                        AS BIGINT)
               ELSE 0 END AS c_u
        FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(t) AS BIGINT) // 3 AS n_triangles,
           round(sum(c_u) / (CAST(count(*) AS DOUBLE) * 1e6), 6)
               AS avg_clustering,
           round(CAST(sum(t) AS DOUBLE)
                 / sum(CAST(d AS DOUBLE) * (d - 1) / 2.0 ), 6)
               AS transitivity
    FROM per
""")
def graph_local_clustering(spark, sf_dir):
    """Average local clustering coefficient + global transitivity of
    the undirected nation trade graph (Watts & Strogatz 1998): c_v =
    2 T_v / (d_v (d_v - 1)) per node (0 when d_v < 2), averaged over
    all nodes; transitivity = sum T_v / sum wedges = 3*triangles /
    open+closed wedges — reported together because the two famously
    diverge on hub-heavy graphs (a few dense hubs inflate
    transitivity, the mean c_v exposes the periphery).

    Triangle counting is the graph_triangles canonical shape
    (a < b < c wedge join — each triangle found once, never all
    pairs); per-node T_v and degrees are exact integers; each node's
    c_v snaps at 1e6 before the unordered mean; transitivity is one
    float division of exact sums.

    Scale shape: two equi-joins on the canonical edge list + three
    bounded aggregates; at 100 TB-scale graphs the degree-ordered
    orientation bounds fanout by arboricity (same note as
    graph_triangles)."""
    raw = _raw_edges(spark, sf_dir)
    e = (raw.select(F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b")).distinct())
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d")))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (e1.join(e2, F.col("e2.a") == F.col("e1.b"))
           .join(e3, (F.col("e3.a") == F.col("e1.a"))
                 & (F.col("e3.b") == F.col("e2.b")))
           .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                   F.col("e2.b").alias("z")))
    tcnt = (tri.select(F.col("x").alias("node"))
            .unionAll(tri.select(F.col("y").alias("node")))
            .unionAll(tri.select(F.col("z").alias("node")))
            .groupBy("node").agg(F.count("*").alias("t")))
    per = (deg.join(tcnt, "node", "left")
           .select("node", "d",
                   F.coalesce("t", F.lit(0)).alias("t"))
           .select("node", "d", "t",
                   F.when(F.col("d") >= 2,
                          F.round(2.0 * F.col("t")
                                  / (F.col("d").cast("double")
                                     * (F.col("d") - 1)) * 1e6)
                          .cast("bigint"))
                   .otherwise(F.lit(0)).alias("c_u")))
    return per.agg(
        F.count("*").alias("n_nodes"),
        F.expr("CAST(sum(t) AS BIGINT) DIV 3").alias("n_triangles"),
        F.round(F.sum("c_u") / (F.count("*").cast("double") * 1e6), 6)
        .alias("avg_clustering"),
        F.round(F.sum("t").cast("double")
                / F.sum(F.col("d").cast("double")
                        * (F.col("d") - 1) / 2.0), 6)
        .alias("transitivity"))


# --------------------------------------------- reciprocity / dyads

@query("graph_reciprocity", oracle=f"""
    WITH {_RAW_EDGES_SQL},
    rec AS (
        SELECT CAST(count(*) AS BIGINT) AS n_directed,
               CAST(sum(CASE WHEN r.u IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_reciprocated
        FROM raw e
        LEFT JOIN raw r ON r.u = e.v AND r.v = e.u
    )
    SELECT n_directed,
           n_reciprocated // 2 AS n_mutual_dyads,
           n_directed - n_reciprocated AS n_asymmetric_dyads,
           round(CAST(n_reciprocated AS DOUBLE) / n_directed, 6)
               AS reciprocity
    FROM rec
""")
def graph_reciprocity(spark, sf_dir):
    """Reciprocity + dyad census of the DIRECTED nation trade graph
    (customer nation -> supplier nation): what fraction of directed
    edges are returned (u->v and v->u both present), plus the
    mutual/asymmetric dyad counts — the first-order health metric of
    any directed relation (follower graphs, trade flows, call
    graphs). The canonicalized keys (graph_triangles et al.) erase
    direction; this key is the surface that keeps it.

    One self-equi-join on the reversed key pair decides reciprocation
    per edge (never all-pairs — the join key is (v,u)); counts are
    exact integers, mutual dyads = reciprocated/2 exactly, and
    reciprocity is one float division.

    Scale shape: the dedup'd edge list self-joins on its own
    (reversed) key — a broadcast-size dimension at any corpus scale
    since nations are bounded; for unbounded node sets this is one
    hash-partitioned equi-join."""
    raw = _raw_edges(spark, sf_dir)
    rev = raw.select(F.col("u").alias("ru"), F.col("v").alias("rv"))
    rec = (raw.join(rev, (F.col("ru") == F.col("v"))
                    & (F.col("rv") == F.col("u")), "left")
           .agg(F.count("*").alias("n_directed"),
                F.sum(F.when(F.col("ru").isNotNull(), 1).otherwise(0))
                .alias("n_reciprocated")))
    return rec.select(
        "n_directed",
        F.expr("n_reciprocated DIV 2").alias("n_mutual_dyads"),
        (F.col("n_directed") - F.col("n_reciprocated"))
        .alias("n_asymmetric_dyads"),
        F.round(F.col("n_reciprocated").cast("double")
                / F.col("n_directed"), 6).alias("reciprocity"))


# --------------------------------------------- Dickey-Fuller test

@query("ts_adf_test", oracle=f"""
    WITH day AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               {units_sum_sql('o_totalprice', 100)} AS v
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT lag(v) OVER (ORDER BY d) AS x,
               v - lag(v) OVER (ORDER BY d) AS y
        FROM day
    ),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {wide_sql('sum(x)')} AS sx,
               {wide_sql('sum(y)')} AS sy,
               sum({wide_sql('x')} * x) AS sxx,
               sum({wide_sql('x')} * y) AS sxy,
               sum({wide_sql('y')} * y) AS syy
        FROM pairs WHERE x IS NOT NULL
    ),
    fit AS (
        SELECT n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS beta,
               CAST(n * sxx - sx * sx AS DOUBLE)
                   / CAST(n AS DOUBLE) AS sxx_c,
               CAST(n * syy - sy * sy AS DOUBLE)
                   / CAST(n AS DOUBLE) AS syy_c,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n AS DOUBLE) AS sxy_c
        FROM st
    )
    SELECT n, round(beta, 8) AS beta,
           round(beta / sqrt(((syy_c - beta * sxy_c) / (n - 2))
                             / sxx_c), 4) AS adf_t
    FROM fit
""")
def ts_adf_test(spark, sf_dir):
    """Dickey-Fuller unit-root test over the daily order-revenue
    series (Dickey & Fuller 1979, no-augmentation form): regress
    delta_x_t on x_{t-1} with intercept; the t-ratio of the slope is
    the ADF statistic (deeply negative = mean-reverting; near 0 =
    random walk). THE stationarity gate before trusting the repo's
    autocorrelation keys (ts_pacf, ts_ljung_box) on a series.

    All five moment sums are exact HUGEINT/DECIMAL(38,0) integers off
    one lag pass (orders span ~2400 days — a real series, unlike the
    30-day event window); beta and its standard error are fixed
    float expressions over centered forms n*Sxy - SxSy etc.,
    transcribed operation-for-operation into the oracle. Note the t
    is compared against DF critical values (-2.86 at 5%), not normal
    ones — reported raw for that reason.

    Scale shape: day-spine collapse + one ordered lag window over
    the calendar-bounded series + a 1-row reduce."""
    from pyspark.sql import Window
    day = (T(spark, sf_dir, "orders")
           .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                    .alias("d"))
           .agg(units_sum(F.col("o_totalprice"), 100).alias("v")))
    w = Window.orderBy("d")
    pairs = (day.select(F.lag("v").over(w).alias("x"),
                        (F.col("v") - F.lag("v").over(w)).alias("y"))
             .filter(F.col("x").isNotNull()))
    st = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(wide("x") * F.col("x")).alias("sxx"),
        F.sum(wide("x") * F.col("y")).alias("sxy"),
        F.sum(wide("y") * F.col("y")).alias("syy"))
    beta = (comoment("n", "sxy", "sx", "sy").cast("double")
            / comoment("n", "sxx", "sx", "sx").cast("double"))
    sxx_c = (comoment("n", "sxx", "sx", "sx")
             .cast("double") / F.col("n").cast("double"))
    syy_c = (comoment("n", "syy", "sy", "sy")
             .cast("double") / F.col("n").cast("double"))
    sxy_c = (comoment("n", "sxy", "sx", "sy")
             .cast("double") / F.col("n").cast("double"))
    fit = st.select("n", beta.alias("beta"), sxx_c.alias("sxx_c"),
                    syy_c.alias("syy_c"), sxy_c.alias("sxy_c"))
    return fit.select(
        "n", F.round(F.col("beta"), 8).alias("beta"),
        F.round(F.col("beta")
                / F.sqrt(((F.col("syy_c")
                           - F.col("beta") * F.col("sxy_c"))
                          / (F.col("n") - 2)) / F.col("sxx_c")), 4)
        .alias("adf_t"))


# ------------------------------------------------------- Erlang C

@query("ops_erlang_c", oracle="""
    WITH busy AS (
        SELECT event_type AS service,
               CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
                   AS busy_hours,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    spine AS (
        SELECT CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
            AS total_hours
        FROM events
    ),
    load AS (
        SELECT service, busy_hours, n,
               4.5 * (CAST(busy_hours AS DOUBLE) / total_hours) AS a
        FROM busy, spine
    ),
    ec AS (
        SELECT service, busy_hours, n, round(a, 6) AS offered_load,
               (a * a * a * a * a / 120.0) * (5.0 / (5.0 - a))
                   / ((1.0 + a + a * a / 2.0 + a * a * a / 6.0
                       + a * a * a * a / 24.0)
                      + (a * a * a * a * a / 120.0)
                        * (5.0 / (5.0 - a))) AS pw
        FROM load
    )
    SELECT service, busy_hours, n, offered_load,
           round(pw, 6) AS p_wait
    FROM ec
""")
def ops_erlang_c(spark, sf_dir):
    """Erlang-C waiting probability for a c = 5 server pool per
    service (Erlang 1917): P(wait) = (a^c/c!)(c/(c-a)) / (sum_{k<c}
    a^k/k! + (a^c/c!)(c/(c-a))) at offered load a — the staffing
    curve behind every call-center rota, thread pool and connection
    pool. The load proxy is DOCUMENTED and scale-stable: a = 4.5 *
    busy-hour share (hours with >= 1 event / total hours), which
    pins a in (0, 4.5] so the c = 5 formula stays in its valid a < c
    regime at every sf (a raw lambda*s load would cross c as the
    corpus grows and the formula would be undefined).

    busy_hours and the hour spine are exact integers; a is an exact
    rational snapped at 6dp ONLY for display (the P(wait) expression
    consumes the unsnapped exact form — both engines build it from
    identical integer ratios); the factorial terms are explicit
    literal-coefficient polynomials, one fixed IEEE expression.

    Scale shape: one distinct-hour conditional aggregate + a
    broadcast-scalar join — 5 rows out."""
    ev = T(spark, sf_dir, "events")
    busy = (ev.groupBy(F.col("event_type").alias("service"))
            .agg(F.countDistinct(F.date_trunc("hour", F.col("ts")))
                 .alias("busy_hours"),
                 F.count("*").alias("n")))
    spine = ev.agg(F.countDistinct(F.date_trunc("hour", F.col("ts")))
                   .alias("total_hours"))
    load = (busy.crossJoin(F.broadcast(spine))
            .select("service", "busy_hours", "n",
                    (4.5 * (F.col("busy_hours").cast("double")
                            / F.col("total_hours"))).alias("a")))
    a = F.col("a")
    num = (a * a * a * a * a / 120.0) * (5.0 / (5.0 - a))
    den = ((1.0 + a + a * a / 2.0 + a * a * a / 6.0
            + a * a * a * a / 24.0)
           + (a * a * a * a * a / 120.0) * (5.0 / (5.0 - a)))
    return load.select(
        "service", "busy_hours", "n",
        F.round(a, 6).alias("offered_load"),
        F.round(num / den, 6).alias("p_wait"))
