"""Scale-estimation & robustness pack (round 5, batch 6): mergeable
cardinality sketches, skew-defeating join rewrites, multiple-testing
control, disclosure-distance auditing, and core decomposition. The
reference engine (294 LoC of Rust delegating to SQLite, reference
src/main.rs) has none of this surface; these are Tier-C mission
operators in the style of queries/curation*.py — each one exists
because the 100 TB story needs it:

- KMV sketches merge with k values per shard instead of shuffling every
  distinct value to one reducer — the mergeability is the point and is
  proven in-query (merged kth == direct kth, exact equality).
- Salted joins are THE standard rewrite when one join key carries a
  disproportionate share of a 100 TB fact table; the key proves the
  rewrite is result-identical to the plain join the oracle runs.
- Benjamini-Hochberg turns per-segment test statistics into a
  fleet-wide decision rule — a reverse running-min window, not a
  driver-side loop.

Determinism contract (SURVEY §4.3): every statistic is accumulated from
exact integers (counts, 32-bit hash values, integer cents) and rounded
ONCE at the end; downstream float consumers (BH's q-values) read the
already-rounded value so merge order can never move a result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import physical
from ..numerics import (
    cents_sum, cents_sum_sql, comoment, comoment_sql, erfc, erfc_sql, h32,
    h32_sql, u01, u01_sql, units_sum_sql, wide, wide_quot, wide_quot_sql,
    wide_sql)
from .registry import REGISTRY, query
from .relational import T
from .tradegraph import nation_pairs, nation_pairs_sql


# ------------------------------------------- KMV distinct sketch (merge)

_KMV_K = 64


@query("sketch_kmv_distinct", oracle=f"""
    WITH h AS (
        SELECT DISTINCT {h32_sql("CAST(l_partkey AS VARCHAR)")} AS h,
                        l_orderkey % 8 AS shard
        FROM lineitem
    ),
    exact AS (
        SELECT count(DISTINCT l_partkey) AS exact_ndv FROM lineitem
    ),
    direct_k AS (
        SELECT h FROM (SELECT DISTINCT h FROM h) ORDER BY h LIMIT {_KMV_K}
    ),
    shard_k AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (PARTITION BY shard ORDER BY h)
                      AS rn
            FROM h
        ) WHERE rn <= {_KMV_K}
    ),
    merged_k AS (
        SELECT h FROM (SELECT DISTINCT h FROM shard_k)
        ORDER BY h LIMIT {_KMV_K}
    ),
    stat AS (
        SELECT 'direct' AS method, max(h) AS kth_hash,
               CAST(count(*) AS BIGINT) AS k
        FROM direct_k
        UNION ALL
        SELECT 'merged', max(h), CAST(count(*) AS BIGINT) FROM merged_k
    )
    SELECT method, k, kth_hash,
           CAST(floor((k - 1) * 4294967296.0 / kth_hash) AS BIGINT)
               AS est_ndv,
           exact_ndv,
           round(100.0 * (CAST(floor((k - 1) * 4294967296.0 / kth_hash)
                               AS BIGINT) - exact_ndv) / exact_ndv, 4)
               AS err_pct
    FROM stat, exact
""")
def sketch_kmv_distinct(spark, sf_dir):
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002) with
    its merge law proven in-query.

    KMV keeps the k smallest distinct 32-bit hash values of a column
    and estimates NDV as (k-1)/u_(k) where u_(k) = kth_hash / 2^32.
    The 'direct' row builds one global sketch; the 'merged' row builds
    a per-shard sketch (8 shards by l_orderkey — shards OVERLAP in
    values, as real partitions would) and merges by union + re-taking
    the k smallest. Because each shard's k-min set contains every
    global k-min hash that shard saw, the merged sketch equals the
    direct one EXACTLY — that equality (same kth_hash, same est) is
    what the two result rows certify, and it is why the sketch scales:
    at 100 TB each executor ships k=64 longs, not its whole distinct
    set, and the combine is associative so Spark can tree-aggregate it.
    The global sort-limit-k here is TakeOrderedAndProject (per-partition
    top-k then a k*n_partitions driver merge), never a full sort.
    Estimation error vs the exact NDV is reported as err_pct
    (theory: RMSE ~ 1/sqrt(k-2) ~ 12.7% at k=64)."""
    K = _KMV_K
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey")
    hashes = li.select(
        h32(F.col("l_partkey").cast("string")).alias("h"),
        (F.col("l_orderkey") % 8).alias("shard"),
    ).distinct()

    exact = li.agg(F.countDistinct("l_partkey").alias("exact_ndv"))

    direct_k = hashes.select("h").distinct().orderBy("h").limit(K)
    from pyspark.sql import Window
    shard_k = (hashes
               .withColumn("rn", F.row_number().over(
                   Window.partitionBy("shard").orderBy("h")))
               .filter(F.col("rn") <= K)
               .select("h"))
    merged_k = shard_k.distinct().orderBy("h").limit(K)

    stat = (direct_k.agg(F.max("h").alias("kth_hash"),
                         F.count("*").alias("k"))
            .select(F.lit("direct").alias("method"), "k", "kth_hash")
            .unionAll(
                merged_k.agg(F.max("h").alias("kth_hash"),
                             F.count("*").alias("k"))
                .select(F.lit("merged").alias("method"), "k", "kth_hash")))

    est = F.floor((F.col("k") - 1) * F.lit(4294967296.0)
                  / F.col("kth_hash"))
    return (stat.crossJoin(F.broadcast(exact))
            .select("method", "k", "kth_hash",
                    est.alias("est_ndv"), "exact_ndv",
                    F.round(100.0 * (est - F.col("exact_ndv"))
                            / F.col("exact_ndv"), 4).alias("err_pct")))


# ------------------------------------------------------ skew-salted join

_NSALT = 8


@query("join_skew_salted", oracle=f"""
    SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_lines,
           {cents_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
""")
def join_skew_salted(spark, sf_dir):
    """Skew-salted join: the standard rewrite for a hot join key, proven
    result-identical to the plain join (which is what the oracle runs).

    A 100 TB fact table with one disproportionately popular key defeats
    hash-partitioned joins: every row for that key lands on one reducer.
    The rewrite: (1) fact side gains a salt in [0, S) derived from a
    NON-join column (here l_orderkey % 8, so one suppkey's rows spread
    over 8 reducers); (2) the dimension side is replicated S times via
    explode(sequence(0, S-1)); (3) join on (key, salt). Row multiplicity
    is preserved exactly — each fact row matches exactly one replica —
    so any downstream aggregate is unchanged, which the cents-exact
    revenue per nation certifies. AQE's skewedJoin handles MEASURED
    skew at runtime; explicit salting remains the tool when the skew is
    known and the dimension is too big to broadcast (replication factor
    S trades dim-side volume for fact-side balance). Revenue follows
    the SURVEY §4.3 integer-cents rule so the salted plan's different
    partial-agg grouping cannot move the rounded sum."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")

    fact = li.withColumn("salt", F.col("l_orderkey") % _NSALT)
    dim = s.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_NSALT - 1))))

    joined = fact.join(
        dim, (fact.l_suppkey == dim.s_suppkey)
        & (fact.salt == dim.salt))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (joined.groupBy("s_nationkey")
            .agg(F.count("*").alias("n_lines"),
                 cents_sum(rev).alias("revenue")))


# -------------------------------------- Benjamini-Hochberg FDR control


@query("stats_fdr_bh", oracle=f"""
    WITH cnt AS (
        SELECT s_nationkey,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
                    AS BIGINT) AS b
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey
    ),
    tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
        FROM cnt
    ),
    chi AS (
        SELECT s_nationkey, a, b,
               round(
                   (CAST(ta + tb AS DOUBLE)
                    * CAST(a * (tb - b) - b * (ta - a) AS DOUBLE)
                    * CAST(a * (tb - b) - b * (ta - a) AS DOUBLE))
                   / (CAST(a + b AS DOUBLE) * CAST(ta + tb - a - b AS DOUBLE)
                      * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)),
                   6) AS chi2
        FROM cnt, tot
    ),
    pv AS (
        SELECT s_nationkey, a, b, chi2,
               round({erfc_sql('sqrt(chi2 / 2.0)')}, 8) AS p_value
        FROM chi
    ),
    ranked AS (
        SELECT s_nationkey, a, b, chi2, p_value,
               CAST(row_number() OVER (ORDER BY p_value, s_nationkey)
                    AS BIGINT) AS bh_rank,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM pv
    )
    SELECT s_nationkey, a AS n_returned, b AS n_other, chi2, p_value,
           bh_rank,
           round(min(p_value * m / bh_rank) OVER (
               ORDER BY bh_rank
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 8)
               AS q_value,
           round(min(p_value * m / bh_rank) OVER (
               ORDER BY bh_rank
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 8)
               <= 0.05 AS reject
    FROM ranked
""")
def stats_fdr_bh(spark, sf_dir):
    """Benjamini-Hochberg step-up FDR control across 25 per-nation
    two-proportion tests (Benjamini & Hochberg 1995).

    Each nation's suppliers are tested for a deviant return rate via
    the 1-df 2x2 chi-square against the rest of the fleet — computed
    from exact BIGINT counts (a*(tb-b) - b*(ta-a) is the exact integer
    cross-product difference; only the final ratio is floating, with an
    identical operation ORDER on both engines so IEEE rounding agrees),
    snapped to 6 dp. The p-value is the 1-df chi-square survival
    function erfc(sqrt(x/2)) via the Abramowitz-Stegun 7.1.26
    polynomial — the SAME explicit arithmetic on both engines, snapped
    to 8 dp BEFORE any downstream use (SURVEY §4.3: snap, then
    consume). BH then needs two windows, not a driver loop: ascending
    rank by (p, nationkey), and the step-up q-value as a REVERSE
    running min over p*m/i (ROWS CURRENT..UNBOUNDED FOLLOWING). At a
    100 TB fleet with millions of segments this stays one sort-shuffle
    + one window pass; the m segments never sit on the driver.
    Rejections control expected false-discovery rate at 5%."""
    li = T(spark, sf_dir, "lineitem").select("l_suppkey", "l_returnflag")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cnt = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
           .groupBy("s_nationkey")
           .agg(F.sum(F.when(F.col("l_returnflag") == "R", 1)
                      .otherwise(0)).alias("a"),
                F.sum(F.when(F.col("l_returnflag") == "R", 0)
                      .otherwise(1)).alias("b")))
    tot = cnt.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))

    d = F.col("a") * (F.col("tb") - F.col("b")) \
        - F.col("b") * (F.col("ta") - F.col("a"))
    chi2 = F.round(
        ((F.col("ta") + F.col("tb")).cast("double")
         * d.cast("double") * d.cast("double"))
        / ((F.col("a") + F.col("b")).cast("double")
           * (F.col("ta") + F.col("tb") - F.col("a") - F.col("b"))
           .cast("double")
           * F.col("ta").cast("double") * F.col("tb").cast("double")),
        6)
    chi = (cnt.crossJoin(F.broadcast(tot))
           .select("s_nationkey", "a", "b", chi2.alias("chi2")))

    z = F.sqrt(F.col("chi2") / 2.0)
    pv = chi.select("s_nationkey", "a", "b", "chi2",
                    F.round(erfc(z), 8).alias("p_value"))

    from pyspark.sql import Window
    w_rank = Window.orderBy("p_value", "s_nationkey")
    ranked = (pv
              .withColumn("bh_rank",
                          F.row_number().over(w_rank).cast("bigint"))
              .withColumn("m", F.count("*").over(
                  Window.partitionBy()).cast("bigint")))
    w_suffix = (Window.orderBy("bh_rank")
                .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    q = F.round(F.min(F.col("p_value") * F.col("m") / F.col("bh_rank"))
                .over(w_suffix), 8)
    return ranked.select(
        "s_nationkey", F.col("a").alias("n_returned"),
        F.col("b").alias("n_other"), "chi2", "p_value", "bh_rank",
        q.alias("q_value"), (q <= 0.05).alias("reject"))


# ------------------------------------------------- t-closeness auditing

@query("privacy_t_closeness", oracle="""
    WITH j AS (
        SELECT c_mktsegment, c_nationkey, o_orderpriority
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cnt AS (
        SELECT c_mktsegment, c_nationkey, o_orderpriority,
               CAST(count(*) AS BIGINT) AS c
        FROM j GROUP BY ALL
    ),
    prios AS (SELECT DISTINCT o_orderpriority FROM j),
    grp AS (
        SELECT c_mktsegment, c_nationkey, CAST(sum(c) AS BIGINT) AS n_g
        FROM cnt GROUP BY ALL
    ),
    gcum AS (
        SELECT o_orderpriority,
               CAST(sum(c) OVER (ORDER BY o_orderpriority) AS BIGINT)
                   AS cum_glob,
               CAST(sum(c) OVER () AS BIGINT) AS n_tot
        FROM (SELECT o_orderpriority, sum(c) AS c FROM cnt GROUP BY ALL)
    ),
    dense AS (
        SELECT g.c_mktsegment, g.c_nationkey, g.n_g, p.o_orderpriority,
               COALESCE(c.c, 0) AS c
        FROM grp g CROSS JOIN prios p
        LEFT JOIN cnt c ON c.c_mktsegment = g.c_mktsegment
                       AND c.c_nationkey = g.c_nationkey
                       AND c.o_orderpriority = p.o_orderpriority
    ),
    cum AS (
        SELECT d.c_mktsegment, d.c_nationkey, d.n_g, gl.n_tot,
               CAST(sum(d.c) OVER (
                   PARTITION BY d.c_mktsegment, d.c_nationkey
                   ORDER BY d.o_orderpriority) AS BIGINT) AS cum_g,
               gl.cum_glob
        FROM dense d
        JOIN gcum gl ON gl.o_orderpriority = d.o_orderpriority
    )
    SELECT c_mktsegment, c_nationkey, n_g AS n_orders,
           round(CAST(sum(abs(cum_g * n_tot - cum_glob * n_g)) AS DOUBLE)
                 / (CAST(n_g AS DOUBLE) * CAST(n_tot AS DOUBLE) * 4.0),
                 6) AS t_close,
           round(CAST(sum(abs(cum_g * n_tot - cum_glob * n_g)) AS DOUBLE)
                 / (CAST(n_g AS DOUBLE) * CAST(n_tot AS DOUBLE) * 4.0),
                 6) > 0.08 AS is_breach
    FROM cum
    GROUP BY c_mktsegment, c_nationkey, n_g, n_tot
""")
def privacy_t_closeness(spark, sf_dir):
    """t-closeness disclosure audit (Li, Li & Venkatasubramanian 2007)
    over the (mktsegment, nationkey) quasi-identifier groups, sensitive
    attribute = o_orderpriority.

    k-anonymity hides identity, l-diversity forces distinct sensitive
    values (privacy_l_diversity); t-closeness is the stronger contract:
    each QI group's sensitive-value DISTRIBUTION must lie within
    distance t of the global one, or group membership itself leaks
    information. For an ORDERED categorical attribute the Earth-Mover
    distance is the mean absolute difference of the prefix CDFs — here
    computed EXACTLY: per-group and global cumulative counts stay
    BIGINT, the per-level term |cum_g*N - cum_G*n_g| is an exact
    integer over the common denominator n_g*N (no float CDFs to
    cancel), summed exactly, divided and rounded ONCE (SURVEY §4.3).
    Missing levels are densified via group x level cross join before
    the cumulative window, so every group compares over the full L=5
    levels. Distributed shape: one count shuffle on (QI, level), one
    partitioned cumulative window, one group-sum — no per-group
    driver work, so millions of QI groups cost the same three
    shuffles. is_breach flags groups with t > 0.08."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey")
    j = (o.join(c, o.o_custkey == c.c_custkey)
         .select("c_mktsegment", "c_nationkey", "o_orderpriority"))

    cnt = (j.groupBy("c_mktsegment", "c_nationkey", "o_orderpriority")
           .agg(F.count("*").alias("c")))
    prios = j.select("o_orderpriority").distinct()
    grp = (cnt.groupBy("c_mktsegment", "c_nationkey")
           .agg(F.sum("c").alias("n_g")))

    from pyspark.sql import Window
    lvl = cnt.groupBy("o_orderpriority").agg(F.sum("c").alias("c"))
    glob = lvl.select(
        "o_orderpriority",
        F.sum("c").over(Window.orderBy("o_orderpriority")
                        .rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow)).alias("cum_glob"),
        F.sum("c").over(Window.partitionBy()).alias("n_tot"))

    dense = (grp.crossJoin(F.broadcast(prios))
             .join(cnt, ["c_mktsegment", "c_nationkey", "o_orderpriority"],
                   "left")
             .withColumn("c", F.coalesce(F.col("c"), F.lit(0))))

    w_cum = (Window.partitionBy("c_mktsegment", "c_nationkey")
             .orderBy("o_orderpriority")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (dense
           .withColumn("cum_g", F.sum("c").over(w_cum))
           .join(F.broadcast(glob), "o_orderpriority"))

    t_close = F.round(
        F.sum(F.abs(F.col("cum_g") * F.col("n_tot")
                    - F.col("cum_glob") * F.col("n_g"))).cast("double")
        / (F.col("n_g").cast("double") * F.col("n_tot").cast("double")
           * 4.0), 6)
    return (cum.groupBy("c_mktsegment", "c_nationkey", "n_g", "n_tot")
            .agg(t_close.alias("t_close"))
            .select("c_mktsegment", "c_nationkey",
                    F.col("n_g").alias("n_orders"), "t_close",
                    (F.col("t_close") > 0.08).alias("is_breach")))


# ------------------------------------------------ k-core peeling rounds

_KCORE_ORACLE_HEAD = """
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    d0 AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        GROUP BY node
    ),
    scal AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS v0,
               CAST((SELECT count(*) FROM e0) AS BIGINT) AS en0,
               CAST((2 * (SELECT count(*) FROM e0) + count(*) - 1)
                    // count(*) AS BIGINT) AS k
        FROM d0
    ),
"""

_KCORE_ROUND_TMPL = """
    n{r} AS MATERIALIZED (
        SELECT node FROM d{p}, scal WHERE d >= k
    ),
    e{r} AS MATERIALIZED (
        SELECT a, b FROM e{p}
        WHERE a IN (SELECT node FROM n{r})
          AND b IN (SELECT node FROM n{r})
    ),
    d{r} AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT a AS node FROM e{r} UNION ALL SELECT b FROM e{r})
        GROUP BY node
    ),
"""

_KCORE_ROUNDS = 4
_KCORE_ORACLE = (
    _KCORE_ORACLE_HEAD
    + "".join(_KCORE_ROUND_TMPL.format(r=r, p=r - 1)
              for r in range(1, _KCORE_ROUNDS + 1)).rstrip().rstrip(",")
    + "\n    SELECT 0 AS peel_round, v0 AS n_nodes, en0 AS n_edges, k"
    "\n    FROM scal"
    + "".join(
        f"\n    UNION ALL SELECT {r},"
        f" (SELECT CAST(count(*) AS BIGINT) FROM n{r}),"
        f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}), k FROM scal"
        for r in range(1, _KCORE_ROUNDS + 1))
)


@query("graph_kcore", oracle=_KCORE_ORACLE)
def graph_kcore(spark, sf_dir):
    """k-core peeling (Seidman 1983; distributed form: Montresor et al.
    2013) on the part co-purchase graph, four synchronous rounds at
    k = ceil(mean degree).

    Edges: distinct part pairs co-occurring in an order (canonical
    a < b — one equi-self-join on l_orderkey, bounded by the ~4
    lines/order fanout, never all-pairs). The threshold is derived
    IN-QUERY from exact integer counts (k = (2|E| + |V| - 1) DIV |V|),
    so the key is scale-invariant — no magic constant tuned to one SF.
    Each peel round is the classic bulk-synchronous step: degree count
    (one shuffle on node), threshold filter against the broadcast
    scalar, then two LEFT SEMI joins that keep edges whose endpoints
    both survive. Rounds are inherently sequential (a removal changes
    neighbors' degrees), so the loop builds 4 chained plan stages —
    at 100 TB the same loop runs
    with each round's edge set checkpointed to parquet and the round
    count capped, exactly like the label-propagation keys. Reported:
    surviving node/edge counts per round — monotone non-increasing,
    converged when two consecutive rounds agree. The oracle unrolls
    the same 4 rounds as chained MATERIALIZED CTEs.

    Plan hygiene: each round's node/edge set is cut. Every round
    references the previous one four times (degree, two semi-joins,
    stats row) and embeds the k-scalar subtree, so an uncut logical
    plan grows ~4x per round and the 4-round union OOMs the driver
    just STRINGIFYING the tree (measured at sf0.001). The cut makes
    each round a plan leaf: constant-size tree, one short job per
    round."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    e0 = (x.join(y, (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
                 & (F.col("x.l_partkey") < F.col("y.l_partkey")))
          .select(F.col("x.l_partkey").alias("a"),
                  F.col("y.l_partkey").alias("b"))
          .distinct().transform(physical.cut))

    bi = e0.unionAll(e0.select(F.col("b").alias("a"),
                               F.col("a").alias("b")))
    d0 = bi.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("d"))
    scal = (d0.agg(F.count("*").alias("v0"))
            .crossJoin(e0.agg(F.count("*").alias("en0")))
            .withColumn("k", F.expr("(2 * en0 + v0 - 1) DIV v0"))
            # 1-row leaf: every round embeds k twice; uncut, each embed
            # re-aggregates the 2x-edge-sized degree frame
            .transform(physical.cut))

    stats = [scal.select(F.lit(0).alias("peel_round"),
                         F.col("v0").alias("n_nodes"),
                         F.col("en0").alias("n_edges"), "k")]
    # r12 DELTA PEELING (guide §2.4, VERDICT r11 #4): the r11 rounds
    # re-materialized the surviving EDGE set (two broadcast semi joins
    # + an edge-sized cut write) and re-counted degrees
    # from it every round. Peeling only ever needs the DEGREE vector:
    # d_r(v) = d_{r-1}(v) - #neighbors removed this round, so each
    # round is one map pass over the immutable checkpointed edge list
    # against the (small, shrinking) broadcast removed set + node-sized
    # aggregates; the edge set is written ONCE. n_edges falls out of
    # the handshake identity sum(d_r)/2. Exactness: d_0 is the subgraph
    # degree; removing R_r subtracts exactly the alive-neighbor count
    # (x in R_r was alive, v in keep_r is alive, e0 is distinct), and
    # zero-degree survivors self-evict next round because k >= 1
    # whenever any edge exists.
    cur = d0.transform(physical.cut)       # (node, d) — alive set
    for r in range(1, _KCORE_ROUNDS + 1):
        withk = cur.crossJoin(F.broadcast(scal.select("k")))
        keep = withk.filter(F.col("d") >= F.col("k")).select("node", "d")
        removed = (withk.filter(F.col("d") < F.col("k"))
                   .select(F.col("node").alias("x")))
        # removed is alive-node-sized, bounded by the part dimension
        dec = (bi.join(physical.bounded_broadcast(removed, sf_dir,
                                                  ("part",)),
                       F.col("a") == F.col("x"))
               .groupBy(F.col("b").alias("node"))
               .agg(F.count("*").alias("dec")))
        nxt = (keep.join(physical.bounded_broadcast(dec, sf_dir, ("part",)),
                         "node", "left")
               .select("node",
                       (F.col("d") - F.coalesce(F.col("dec"), F.lit(0)))
                       .alias("d"))
               .transform(physical.cut))
        stats.append(
            keep.agg(F.count("*").alias("n_nodes"))
            .crossJoin(nxt.agg(
                F.expr("CAST(coalesce(sum(d) DIV 2, 0) AS BIGINT)")
                .alias("n_edges")))
            .crossJoin(F.broadcast(scal.select("k")))
            .select(F.lit(r).alias("peel_round"), "n_nodes", "n_edges",
                    "k"))
        cur = nxt

    out = stats[0]
    for s_df in stats[1:]:
        out = out.unionAll(s_df)
    return out


# ----------------------------------------------- AMS (tug-of-war) F2

_AMS_R = 16


@query("sketch_ams_f2", oracle=f"""
    WITH f AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS f
        FROM lineitem GROUP BY l_partkey
    ),
    exact AS (
        SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2 FROM f
    ),
    est AS (
        SELECT est_id,
               CAST(sum((1 - 2 * ({h32_sql("l_partkey || ':' || est_id")}
                                  % 2)) * f) AS BIGINT)
                   AS signed_sum
        FROM f CROSS JOIN (SELECT range AS est_id FROM range({_AMS_R}))
        GROUP BY est_id
    ),
    sq AS (
        SELECT est_id, signed_sum,
               signed_sum * signed_sum AS est_f2
        FROM est
    ),
    m AS (
        SELECT sum(est_f2) / {_AMS_R}.0 AS mean_raw FROM sq
    )
    SELECT CAST(est_id AS INTEGER) AS est_id, signed_sum, est_f2,
           exact_f2, round(mean_raw, 2) AS mean_est_f2,
           round(100.0 * (mean_raw - exact_f2) / exact_f2, 4) AS err_pct
    FROM sq, exact, m
""")
def sketch_ams_f2(spark, sf_dir):
    """AMS 'tug-of-war' sketch for the second frequency moment F2 =
    sum f_i^2 (Alon, Matias & Szegedy 1996), 16 independent estimators
    against the exact answer.

    Each estimator draws a +-1 sign per key from the shared h32 hash
    (so both engines see the SAME 'random' bits) and keeps one signed
    counter S_j = sum_i sign_j(i) * f_i; E[S_j^2] = F2 exactly, and
    averaging 16 estimators tames the variance (theory:
    Var[S^2] <= 2*F2^2, so the 16-mean has ~35% RMSE). Everything is
    exact BIGINT — counts, signs, signed sums, squares — so there is
    no float path at all until the final mean/err division (SURVEY
    §4.3). Why it matters at 100 TB: S_j is a LINEAR function of the
    frequency vector, so sketches of shards merge by plain addition
    (one bigint per estimator per shard), F2 of a union/difference
    stream is computable from sketch algebra, and the whole thing is
    one map-side-combinable groupBy — the exact-F2 shuffle on key
    frequencies that this query also runs (for comparison) is the
    thing the sketch REPLACES at scale. Joint self-join sizes
    (F2 equals the self-join size on the key) are the classic use."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey")
    f = li.groupBy("l_partkey").agg(F.count("*").alias("f"))
    exact = f.agg(F.sum(F.col("f") * F.col("f")).alias("exact_f2"))

    est = (f.withColumn("est_id",
                        F.explode(F.sequence(F.lit(0), F.lit(_AMS_R - 1))))
           .withColumn("sign", 1 - 2 * (h32(F.concat(
               F.col("l_partkey").cast("string"), F.lit(":"),
               F.col("est_id").cast("string"))) % 2))
           .groupBy("est_id")
           .agg(F.sum(F.col("sign") * F.col("f")).alias("signed_sum"))
           .withColumn("est_f2",
                       F.col("signed_sum") * F.col("signed_sum")))
    m = est.agg((F.sum("est_f2") / float(_AMS_R)).alias("mean_raw"))
    return (est.crossJoin(F.broadcast(exact)).crossJoin(F.broadcast(m))
            .select(F.col("est_id").cast("int").alias("est_id"),
                    "signed_sum", "est_f2", "exact_f2",
                    F.round(F.col("mean_raw"), 2).alias("mean_est_f2"),
                    F.round(100.0 * (F.col("mean_raw")
                                     - F.col("exact_f2"))
                            / F.col("exact_f2"), 4).alias("err_pct")))


# ------------------------------------------- randomization (perm) test

_PERM_B = 99


@query("stats_permutation_test", oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS is_a,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    obs AS (
        SELECT CAST(sum(is_a) AS BIGINT) AS na,
               CAST(sum(1 - is_a) AS BIGINT) AS nb,
               CAST(sum(is_a * v) AS BIGINT) AS sa,
               CAST(sum((1 - is_a) * v) AS BIGINT) AS sb
        FROM base
    ),
    labeled AS (
        SELECT p, v, ({h32_sql("o_orderkey || ':' || p")} % 2) AS lab
        FROM base CROSS JOIN (SELECT range AS p FROM range(1, {_PERM_B + 1}))
    ),
    perm AS (
        SELECT p,
               CAST(sum(CASE WHEN lab = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(sum(CASE WHEN lab = 0 THEN v ELSE 0 END)
                    AS BIGINT) AS sa,
               CAST(sum(CASE WHEN lab = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb,
               CAST(sum(CASE WHEN lab = 1 THEN v ELSE 0 END)
                    AS BIGINT) AS sb
        FROM labeled
        GROUP BY p
    ),
    cmp AS (
        SELECT CAST(count(*) AS BIGINT) AS n_exceed
        FROM perm, obs o
        WHERE perm.na = 0 OR perm.nb = 0
           OR abs({comoment_sql('perm.sa', 'perm.nb', 'perm.sb', 'perm.na')})
              * ({wide_sql('o.na')} * o.nb)
              >= abs({comoment_sql('o.sa', 'o.nb', 'o.sb', 'o.na')})
                 * ({wide_sql('perm.na')} * perm.nb)
    )
    SELECT o.na AS n_a, o.nb AS n_b,
           round((CAST(o.sa AS DOUBLE) / o.na
                  - CAST(o.sb AS DOUBLE) / o.nb) / 100.0, 4)
               AS mean_diff,
           CAST({_PERM_B} AS BIGINT) AS n_perms, n_exceed,
           round((1.0 + n_exceed) / (1.0 + {_PERM_B}), 6) AS p_value
    FROM obs o, cmp
""")
def stats_permutation_test(spark, sf_dir):
    """Approximate randomization (Monte-Carlo permutation) test for the
    BUILDING-vs-MACHINERY difference in mean order value — the
    distribution-free alternative to the parametric Welch key, with
    hash-derived relabelings so both engines replay the SAME 99 draws.

    Each pseudo-permutation p relabels every order by h32(key:p) % 2
    (Fisher-style random relabeling — split sizes are binomial rather
    than fixed, the standard Monte-Carlo variant). The test statistic
    |mean_A - mean_B| is compared EXACTLY: means stay rational
    (integer-cent sums over counts), and |s_a*n_b - s_b*n_a| cross-
    multiplied through DECIMAL(38,0) decides every exceedance with zero
    float involvement — a permutation whose statistic ties the observed
    one counts as an exceedance on both engines, deterministically.
    p = (1 + #exceed) / (B + 1), the add-one estimator that keeps the
    test valid at any B. Distributed shape: explode x99 then ONE
    map-side-combinable aggregate — no per-permutation pass over the
    data, no driver loop; B scales the explode factor linearly and
    the 100 TB version just raises spark.sql.shuffle.partitions."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
            .select(
                "o_orderkey",
                F.when(F.col("c_mktsegment") == "BUILDING", 1)
                .otherwise(0).alias("is_a"),
                F.round(F.col("o_totalprice") * 100).cast("bigint")
                .alias("v")))

    obs = base.agg(
        F.sum("is_a").alias("na"),
        F.sum(1 - F.col("is_a")).alias("nb"),
        F.sum(F.col("is_a") * F.col("v")).alias("sa"),
        F.sum((1 - F.col("is_a")) * F.col("v")).alias("sb"))

    lab = h32(F.concat(F.col("o_orderkey").cast("string"), F.lit(":"),
                       F.col("p").cast("string"))) % 2
    perm = (base.withColumn(
        "p", F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))))
        .withColumn("lab", lab)
        .groupBy("p")
        .agg(F.sum(F.when(F.col("lab") == 0, 1).otherwise(0)).alias("na"),
             F.sum(F.when(F.col("lab") == 0, F.col("v")).otherwise(0))
             .alias("sa"),
             F.sum(F.when(F.col("lab") == 1, 1).otherwise(0)).alias("nb"),
             F.sum(F.when(F.col("lab") == 1, F.col("v")).otherwise(0))
             .alias("sb")))

    po = perm.crossJoin(F.broadcast(
        obs.select(F.col("na").alias("ona"), F.col("nb").alias("onb"),
                   F.col("sa").alias("osa"), F.col("sb").alias("osb"))))
    exceed = ((F.col("na") == 0) | (F.col("nb") == 0)
              | (F.abs(comoment("sa", "nb", "sb", "na"))
                 * (wide("ona") * F.col("onb"))
                 >= F.abs(comoment("osa", "onb", "osb", "ona"))
                 * (wide("na") * F.col("nb"))))
    cmp = po.agg(
        F.sum(F.when(exceed, 1).otherwise(0)).alias("n_exceed"))

    return (obs.crossJoin(F.broadcast(cmp))
            .select(F.col("na").alias("n_a"), F.col("nb").alias("n_b"),
                    F.round((F.col("sa").cast("double") / F.col("na")
                             - F.col("sb").cast("double") / F.col("nb"))
                            / 100.0, 4).alias("mean_diff"),
                    F.lit(_PERM_B).cast("bigint").alias("n_perms"),
                    "n_exceed",
                    F.round((1.0 + F.col("n_exceed"))
                            / (1.0 + _PERM_B), 6).alias("p_value")))


# ------------------------------------------------ difference-in-differences

_DID_SPLIT = "1995-06-17"


@query("stats_diff_in_diff", oracle=f"""
    WITH cells AS (
        SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treated,
               CASE WHEN o_orderdate >= DATE '{_DID_SPLIT}' THEN 1
                    ELSE 0 END AS post,
               CAST(count(*) AS BIGINT) AS n,
               {units_sum_sql('o_totalprice', 100)} AS s
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY ALL
    ),
    m AS (
        SELECT
          round(CAST(max(CASE WHEN treated = 1 AND post = 0 THEN s END)
                     AS DOUBLE)
                / (100.0 * max(CASE WHEN treated = 1 AND post = 0
                               THEN n END)), 4) AS m_treat_pre,
          round(CAST(max(CASE WHEN treated = 1 AND post = 1 THEN s END)
                     AS DOUBLE)
                / (100.0 * max(CASE WHEN treated = 1 AND post = 1
                               THEN n END)), 4) AS m_treat_post,
          round(CAST(max(CASE WHEN treated = 0 AND post = 0 THEN s END)
                     AS DOUBLE)
                / (100.0 * max(CASE WHEN treated = 0 AND post = 0
                               THEN n END)), 4) AS m_ctrl_pre,
          round(CAST(max(CASE WHEN treated = 0 AND post = 1 THEN s END)
                     AS DOUBLE)
                / (100.0 * max(CASE WHEN treated = 0 AND post = 1
                               THEN n END)), 4) AS m_ctrl_post,
          CAST(sum(n) AS BIGINT) AS n_orders
        FROM cells
    )
    SELECT m_treat_pre, m_treat_post, m_ctrl_pre, m_ctrl_post, n_orders,
           round((m_treat_post - m_treat_pre)
                 - (m_ctrl_post - m_ctrl_pre), 4) AS did_estimate
    FROM m
""")
def stats_diff_in_diff(spark, sf_dir):
    """Difference-in-differences estimator: BUILDING-segment customers
    as the 'treated' group, period split at 1995-06-17, outcome = mean
    order value (Card & Krueger style two-by-two design).

    DiD removes both the stable group difference and the common time
    trend: the estimate is (treat_post - treat_pre) - (ctrl_post -
    ctrl_pre). All four cell means come from exact integer-cent sums
    (one map-side-combinable aggregate over the fact table — the 2x2
    design needs only 4 (n, sum) pairs no matter the corpus size);
    each mean is rounded to 4 dp FIRST, and the estimate is computed
    from the rounded means (SURVEY §4.3: snap, then consume — the
    subtraction of near-equal means is exactly the cancellation-prone
    shape the rule exists for). The 2x2 pivot is a conditional-max
    over four rows, never a self-join."""
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .select(
                 F.when(F.col("c_mktsegment") == "BUILDING", 1)
                 .otherwise(0).alias("treated"),
                 F.when(F.col("o_orderdate") >= F.lit(_DID_SPLIT)
                        .cast("date"), 1).otherwise(0).alias("post"),
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("v"))
             .groupBy("treated", "post")
             .agg(F.count("*").alias("n"), F.sum("v").alias("s")))

    def cell_mean(tr, po):
        return F.round(
            F.max(F.when((F.col("treated") == tr) & (F.col("post") == po),
                         F.col("s"))).cast("double")
            / (100.0 * F.max(F.when((F.col("treated") == tr)
                                    & (F.col("post") == po),
                                    F.col("n")))), 4)

    m = cells.agg(
        cell_mean(1, 0).alias("m_treat_pre"),
        cell_mean(1, 1).alias("m_treat_post"),
        cell_mean(0, 0).alias("m_ctrl_pre"),
        cell_mean(0, 1).alias("m_ctrl_post"),
        F.sum("n").alias("n_orders"))
    return m.select(
        "m_treat_pre", "m_treat_post", "m_ctrl_pre", "m_ctrl_post",
        "n_orders",
        F.round((F.col("m_treat_post") - F.col("m_treat_pre"))
                - (F.col("m_ctrl_post") - F.col("m_ctrl_pre")), 4)
        .alias("did_estimate"))


# --------------------------------------------- Neyman optimal allocation

_NEYMAN_N = 1000


@query("sample_neyman_allocation", oracle=f"""
    WITH v AS (
        SELECT c_mktsegment AS stratum,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    m AS (
        SELECT stratum, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               sum({wide_sql('v')} * v) AS ss
        FROM v GROUP BY stratum
    ),
    w AS (
        SELECT stratum, n,
               sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                   AS sh
        FROM m
    ),
    ws AS (
        SELECT stratum, n, sh, CAST(round(n * sh) AS BIGINT) AS wsnap
        FROM w
    ),
    tot AS (SELECT CAST(sum(wsnap) AS BIGINT) AS wtot FROM ws),
    b AS (
        SELECT stratum, n, sh, wsnap,
               ({_NEYMAN_N} * wsnap) // wtot AS base,
               {_NEYMAN_N} * wsnap
                   - (({_NEYMAN_N} * wsnap) // wtot) * wtot AS rem
        FROM ws, tot
    ),
    r AS (
        SELECT stratum, n, sh, base, rem,
               CAST(row_number() OVER (ORDER BY rem DESC, stratum)
                    AS BIGINT) AS rk,
               CAST({_NEYMAN_N} - sum(base) OVER () AS BIGINT) AS leftover
        FROM b
    )
    SELECT stratum, n AS n_h, round(sh / 100.0, 4) AS s_h,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM r
""")
def sample_neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation of a fixed 1000-row sample budget
    across the market-segment strata (Neyman 1934): n_h proportional to
    N_h * S_h, which minimizes the variance of the stratified mean —
    high-variance strata earn more than proportional share.

    Per-stratum std devs come from exact integer moments (cent sums
    BIGINT, squares through HUGEINT/DECIMAL(38,0); the double division
    happens once, with the identical operation order on both engines).
    The fractional quotas are settled by the largest-remainder method
    in EXACT integer arithmetic: weights snapped to integer units, base
    shares via integer DIV, remainders n*w - base*W compared as exact
    BIGINTs (ties broken by stratum name) — so sum(alloc) == 1000
    exactly, with no float in the rounding path at all. The whole
    allocation is one map-side-combinable moment aggregate plus
    O(#strata) scalar work — the 100 TB fact table is read once; the
    ranking window touches 5 rows, not the corpus. This is the
    planning half of stratified sampling (sample_stratified draws the
    rows; this key decides how many to draw from where)."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .select(F.col("c_mktsegment").alias("stratum"),
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("v")))
    m = (v.groupBy("stratum")
         .agg(F.count("*").alias("n"), F.sum("v").alias("s"),
              F.sum(wide("v") * F.col("v"))
              .alias("ss")))
    sh = F.sqrt((F.col("n").cast("double") * F.col("ss").cast("double")
                 - F.col("s").cast("double") * F.col("s").cast("double"))
                / (F.col("n").cast("double")
                   * (F.col("n").cast("double") - 1.0)))
    ws = m.select("stratum", "n", sh.alias("sh"),
                  F.round(F.col("n") * sh).cast("bigint").alias("wsnap"))
    tot = ws.agg(F.sum("wsnap").alias("wtot"))
    b = (ws.crossJoin(F.broadcast(tot))
         .withColumn("base", F.expr(f"({_NEYMAN_N} * wsnap) DIV wtot"))
         .withColumn("rem", _NEYMAN_N * F.col("wsnap")
                     - F.col("base") * F.col("wtot")))
    from pyspark.sql import Window
    r = (b.withColumn("rk", F.row_number().over(
             Window.orderBy(F.col("rem").desc(), "stratum"))
             .cast("bigint"))
         .withColumn("leftover",
                     (_NEYMAN_N - F.sum("base").over(Window.partitionBy()))
                     .cast("bigint")))
    return r.select(
        "stratum", F.col("n").alias("n_h"),
        F.round(F.col("sh") / 100.0, 4).alias("s_h"),
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1)
         .otherwise(0)).cast("bigint").alias("alloc"))


# ------------------------------------------ population stability index

_PSI_EDGES = [500000, 1000000, 2500000, 5000000, 7500000,
              10000000, 15000000, 20000000, 30000000]  # cents


def _psi_bucket_sql(col: str) -> str:
    conds = " ".join(
        f"WHEN {col} < {e} THEN {i}" for i, e in enumerate(_PSI_EDGES))
    return f"CASE {conds} ELSE {len(_PSI_EDGES)} END"


@query("drift_psi", oracle=f"""
    WITH v AS (
        SELECT {_psi_bucket_sql("CAST(round(o_totalprice * 100) AS BIGINT)")}
                   AS bucket,
               CASE WHEN o_orderdate < DATE '1995-06-17' THEN 1 ELSE 0 END
                   AS pre
        FROM orders
    ),
    b AS (SELECT range AS bucket FROM range({len(_PSI_EDGES) + 1})),
    cnt AS (
        SELECT b.bucket,
               CAST(COALESCE(sum(CASE WHEN pre = 1 THEN 1 END), 0)
                    AS BIGINT) AS n_pre,
               CAST(COALESCE(sum(CASE WHEN pre = 0 THEN 1 END), 0)
                    AS BIGINT) AS n_post
        FROM b LEFT JOIN v ON v.bucket = b.bucket
        GROUP BY b.bucket
    ),
    tot AS (
        SELECT CAST(sum(n_pre) AS BIGINT) AS tp,
               CAST(sum(n_post) AS BIGINT) AS tq
        FROM cnt
    ),
    term AS (
        SELECT bucket, n_pre, n_post,
               CAST(round(
                   (((n_pre * 2 + 1) * 1.0 / (tp * 2 + {len(_PSI_EDGES) + 1}))
                    - ((n_post * 2 + 1) * 1.0
                       / (tq * 2 + {len(_PSI_EDGES) + 1})))
                   * ln(((n_pre * 2 + 1) * 1.0
                         / (tp * 2 + {len(_PSI_EDGES) + 1}))
                        / ((n_post * 2 + 1) * 1.0
                           / (tq * 2 + {len(_PSI_EDGES) + 1})))
                   * 1000000000) AS BIGINT) AS term_nano
        FROM cnt, tot
    ),
    s AS (SELECT CAST(sum(term_nano) AS BIGINT) AS psi_nano FROM term)
    SELECT CAST(bucket AS INTEGER) AS bucket, n_pre, n_post, term_nano,
           round(psi_nano / 1000000000.0, 6) AS psi
    FROM term, s
""")
def drift_psi(spark, sf_dir):
    """Population Stability Index between the pre- and post-1995-06-17
    order-value distributions over 10 pre-registered price buckets —
    the standard model-monitoring drift gate (PSI < 0.1 stable,
    0.1-0.25 shifting, > 0.25 retrain).

    PSI = sum_i (p_i - q_i) * ln(p_i / q_i). Buckets are FIXED cent
    thresholds (pre-registered, as production monitoring requires —
    data-derived edges would let the comparison window move its own
    goalposts); empty buckets are densified via the bucket spine and
    smoothed with the add-half (Jeffreys) estimator p_i =
    (2c_i + 1) / (2n + k), which keeps ln finite with zero tuning
    constants. Each bucket's term is computed from exact integer
    counts with the IDENTICAL expression shape on both engines and
    snapped to nano-units BEFORE the sum (SURVEY §4.3) — ln is the
    only float op, and it never feeds an unordered accumulation
    unrounded. One map-side-combinable bucket count over the fact
    table + O(k) scalar work: drift monitoring at 100 TB costs one
    scan."""
    return psi_from_counts(
        spark,
        psi_bucket_counts(
            T(spark, sf_dir, "orders").select("o_orderdate",
                                              "o_totalprice")))


def psi_bucket_counts(o):
    """The census half of the PSI pipeline — ONE streaming-safe
    aggregate (stateless per-row bucket/period flags + a <= 10-group
    conditional-count aggregate), shared by the batch key
    (`drift_psi`) and its streaming twin (`stream_drift_psi`): the
    drift counters a monitor maintains incrementally in complete
    output mode. No spine join here (static-LEFT-outer-JOIN-stream is
    unsupported); densification happens in psi_from_counts on the
    emitted, bounded state."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    bucket = F.lit(len(_PSI_EDGES))
    for i, e in reversed(list(enumerate(_PSI_EDGES))):
        bucket = F.when(cents < e, i).otherwise(bucket)
    v = o.select(
        bucket.cast("int").alias("bucket"),
        F.when(F.col("o_orderdate") < F.lit("1995-06-17").cast("date"), 1)
        .otherwise(0).alias("pre"))
    return (v.groupBy("bucket")
            .agg(F.sum(F.when(F.col("pre") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_pre"),
                 F.sum(F.when(F.col("pre") == 0, 1).otherwise(0))
                 .cast("bigint").alias("n_post")))


def psi_from_counts(spark, cnt):
    """The scalar half: densify the (<= 10-row) bucket counts over the
    full spine, Jeffreys-smooth, nano-snap each term, sum exactly —
    O(k) work on state the census guarantees is bounded."""
    k = len(_PSI_EDGES) + 1
    spine = spark.range(k).select(F.col("id").cast("int").alias("bucket"))
    cnt = (spine.join(cnt, "bucket", "left")
           .select("bucket",
                   F.coalesce(F.col("n_pre"), F.lit(0)).cast("bigint")
                   .alias("n_pre"),
                   F.coalesce(F.col("n_post"), F.lit(0)).cast("bigint")
                   .alias("n_post")))
    tot = cnt.agg(F.sum("n_pre").alias("tp"), F.sum("n_post").alias("tq"))
    p = (F.col("n_pre") * 2 + 1) * 1.0 / (F.col("tp") * 2 + k)
    q = (F.col("n_post") * 2 + 1) * 1.0 / (F.col("tq") * 2 + k)
    term = (cnt.crossJoin(F.broadcast(tot))
            .select("bucket", "n_pre", "n_post",
                    F.round((p - q) * F.log(p / q) * 1000000000)
                    .cast("bigint").alias("term_nano")))
    s = term.agg(F.sum("term_nano").alias("psi_nano"))
    return (term.crossJoin(F.broadcast(s))
            .select(F.col("bucket").cast("int").alias("bucket"),
                    "n_pre", "n_post", "term_nano",
                    F.round(F.col("psi_nano") / 1000000000.0, 6)
                    .alias("psi")))


# --------------------------------------- UniMax epoch-capped allocation

@query("mixture_unimax_budget", oracle="""
    WITH s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS s_tok
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(s_tok) AS BIGINT) AS st,
               CAST(count(*) AS BIGINT) AS m
        FROM s
    ),
    o AS (
        SELECT source, n_docs, s_tok, 2 * s_tok AS cap,
               CAST(row_number() OVER (ORDER BY 2 * s_tok, source)
                    AS BIGINT) AS j,
               CAST(COALESCE(sum(2 * s_tok) OVER (
                   ORDER BY 2 * s_tok, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS pprev,
               (st * 3) // 5 AS b, m
        FROM s, tot
    ),
    c AS (
        SELECT *, CASE WHEN cap * (m - j + 1) + pprev <= b
                       THEN 1 ELSE 0 END AS capped
        FROM o
    ),
    agg AS (
        SELECT CAST(COALESCE(sum(CASE WHEN capped = 1 THEN cap END), 0)
                    AS BIGINT) AS pc,
               CAST(sum(1 - capped) AS BIGINT) AS mu
        FROM c
    ),
    a AS (
        SELECT c.source, c.n_docs, c.s_tok, c.cap, c.capped, c.b,
               CASE WHEN c.capped = 1 THEN c.cap
                    ELSE (c.b - agg.pc) // agg.mu
                         + (CASE WHEN CAST(row_number() OVER (
                                PARTITION BY c.capped ORDER BY c.j)
                                AS BIGINT) <= (c.b - agg.pc) % agg.mu
                            THEN 1 ELSE 0 END)
               END AS alloc
        FROM c, agg
    )
    SELECT source, n_docs, s_tok, cap AS capacity, capped = 1 AS capped,
           CAST(alloc AS BIGINT) AS alloc,
           round(CAST(alloc AS DOUBLE) / s_tok, 4) AS epochs
    FROM a
""")
def mixture_unimax_budget(spark, sf_dir):
    """UniMax epoch-capped budget allocation (Chung et al. 2023):
    distribute a token budget B = 60% of the corpus across sources as
    EVENLY as possible, subject to no source being repeated beyond 2
    epochs — the published fix for temperature sampling's failure mode
    where upsampling a tiny source past usefulness burns budget.

    The water-filling solution is computed in CLOSED FORM with window
    functions instead of the paper's iterative loop: sort sources by
    capped capacity ascending; source j is saturated iff
    cap_j * (m-j+1) + prefix_{j-1} <= B (an EXACT integer predicate —
    saturation is a prefix property, so one pass decides every
    source); the survivors split the remaining budget by integer DIV
    with the remainder settled largest-remainder-style by rank, so
    sum(alloc) == B exactly, token for token, with no float anywhere
    (the reported epochs ratio is display-only). The corpus-sized work
    is ONE token-count aggregate; every window here runs over #sources
    rows. Companion to `mixture_interleave` (which paces the actual
    read order) and `sample_neyman_allocation` (variance-optimal
    rather than fairness-capped)."""
    d = T(spark, sf_dir, "documents")
    from ..operators import text as X
    s = (d.groupBy("source")
         .agg(F.count("*").alias("n_docs"),
              F.sum(X.token_count(F.col("text"))).alias("s_tok")))
    tot = s.agg(F.sum("s_tok").alias("st"), F.count("*").alias("m"))
    from pyspark.sql import Window
    wj = Window.orderBy("cap", "source")
    o = (s.crossJoin(F.broadcast(tot))
         .withColumn("cap", 2 * F.col("s_tok"))
         .withColumn("j", F.row_number().over(wj).cast("bigint"))
         .withColumn("pprev", F.coalesce(
             F.sum("cap").over(wj.rowsBetween(Window.unboundedPreceding,
                                              -1)), F.lit(0)))
         .withColumn("b", F.expr("(st * 3) DIV 5")))
    c = o.withColumn(
        "capped",
        F.when(F.col("cap") * (F.col("m") - F.col("j") + 1)
               + F.col("pprev") <= F.col("b"), 1).otherwise(0))
    agg = c.agg(
        F.coalesce(F.sum(F.when(F.col("capped") == 1, F.col("cap"))),
                   F.lit(0)).cast("bigint").alias("pc"),
        F.sum(1 - F.col("capped")).alias("mu"))
    rk = F.row_number().over(
        Window.partitionBy("capped").orderBy("j")).cast("bigint")
    a = (c.crossJoin(F.broadcast(agg))
         .withColumn("rk", rk)
         .withColumn(
             "alloc",
             F.when(F.col("capped") == 1, F.col("cap"))
             .otherwise(F.expr("(b - pc) DIV mu")
                        + F.when(F.col("rk") <= F.expr("(b - pc) % mu"),
                                 1).otherwise(0))))
    return a.select(
        "source", "n_docs", "s_tok", F.col("cap").alias("capacity"),
        (F.col("capped") == 1).alias("capped"),
        F.col("alloc").cast("bigint").alias("alloc"),
        F.round(F.col("alloc").cast("double") / F.col("s_tok"), 4)
        .alias("epochs"))


_PSI_ORACLE = REGISTRY["drift_psi"].oracle


@query("stream_drift_psi", oracle=_PSI_ORACLE)
def stream_drift_psi(spark, sf_dir):
    """Streaming twin of `drift_psi`: the bucket counters maintained by
    the Structured Streaming engine over a file-source replay of the
    orders table (see streaming/windows.py:run_stream_drift_psi for
    the state-size argument), PSI arithmetic applied to the final
    complete-mode emission. The batch SQL oracle checks the streaming
    counters value-for-value."""
    from ..streaming.windows import run_stream_drift_psi

    return run_stream_drift_psi(spark, sf_dir)


# --------------------------------------------------- Zipf law fit

@query("text_zipf_fit", oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS f
        FROM tok GROUP BY tok
    ),
    top AS (
        SELECT tok, f,
               CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT)
                   AS rk
        FROM freq ORDER BY f DESC, tok LIMIT 1000
    ),
    pts AS (
        SELECT rk, tok, f,
               CAST(round(ln(rk) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(f) * 1000000) AS BIGINT) AS y
        FROM top
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum({wide_sql('x')} * x) AS sxx,
               sum({wide_sql('x')} * y) AS sxy,
               sum({wide_sql('y')} * y) AS syy
        FROM pts
    ),
    fit AS (
        SELECT n,
               CAST({comoment_sql('n', 'sxy', 'sx', 'sy')} AS DOUBLE)
                   AS cov_n,
               CAST({comoment_sql('n', 'sxx', 'sx', 'sx')} AS DOUBLE)
                   AS varx_n,
               CAST({comoment_sql('n', 'syy', 'sy', 'sy')} AS DOUBLE)
                   AS vary_n
        FROM m
    ),
    best AS (SELECT tok AS top_token, f AS top_freq FROM top WHERE rk = 1)
    SELECT n AS n_points, top_token, top_freq,
           round(cov_n / varx_n, 4) AS zipf_slope,
           round((cov_n / varx_n) * (cov_n / vary_n), 4) AS r2
    FROM fit, best
""")
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    log-frequency vs log-rank on the top-1000 tokens (natural text
    gives slope ~ -1; a synthetic or heavily-templated corpus shows up
    immediately as a flat or kinked rank-frequency curve — this is the
    10-second corpus-linguistics sanity check a curation team runs on
    every new source).

    Exactness path (SURVEY §4.3): token frequencies and ranks are
    exact integers; each point's (ln rank, ln f) is snapped to
    micro-units BEFORE the moment sums, which then accumulate in
    HUGEINT/DECIMAL(38,0) (n*Sxy ~ 7e19 overflows int64); slope and
    r^2 are two final double divisions with identical operation order
    on both engines. The micro-unit scaling cancels in the slope, so
    the reported value is the dimensionless exponent. Distributed
    shape: one explode + hash-count shuffle (the token histogram every
    text key already pays), a TakeOrdered(1000), and windows/moments
    over those 1000 rows only — vocabulary size never reaches the
    driver."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("f"))
    top = (freq.orderBy(F.col("f").desc(), "tok").limit(1000)
           .withColumn("rk", F.row_number().over(
               Window.orderBy(F.col("f").desc(), "tok")).cast("bigint")))
    pts = top.select(
        "rk", "tok", "f",
        F.round(F.log(F.col("rk")) * 1000000).cast("bigint").alias("x"),
        F.round(F.log(F.col("f")) * 1000000).cast("bigint").alias("y"))
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(wide("x") * F.col("x")).alias("sxx"),
        F.sum(wide("x") * F.col("y")).alias("sxy"),
        F.sum(wide("y") * F.col("y")).alias("syy"))
    fit = m.select(
        "n",
        comoment("n", "sxy", "sx", "sy").cast("double")
        .alias("cov_n"),
        comoment("n", "sxx", "sx", "sx").cast("double")
        .alias("varx_n"),
        comoment("n", "syy", "sy", "sy").cast("double")
        .alias("vary_n"))
    best = (top.filter(F.col("rk") == 1)
            .select(F.col("tok").alias("top_token"),
                    F.col("f").alias("top_freq")))
    return (fit.crossJoin(F.broadcast(best))
            .select(F.col("n").alias("n_points"), "top_token", "top_freq",
                    F.round(F.col("cov_n") / F.col("varx_n"), 4)
                    .alias("zipf_slope"),
                    F.round((F.col("cov_n") / F.col("varx_n"))
                            * (F.col("cov_n") / F.col("vary_n")), 4)
                    .alias("r2")))


# --------------------------------------------- Bellman-Ford SSSP rounds

_SSSP_ROUNDS = 4

_SSSP_ORACLE_HEAD = f"""
    WITH {nation_pairs_sql("CAST(count(*) AS BIGINT) AS cnt")},
    raw AS (SELECT u, v, cnt FROM pairs WHERE u <> v),
    und AS (
        SELECT least(u, v) AS a, greatest(u, v) AS b,
               CAST(sum(cnt) AS BIGINT) AS cnt
        FROM raw GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tc FROM und),
    e AS MATERIALIZED (
        SELECT u, v, w FROM (
            SELECT a AS u, b AS v, 1 + tc // cnt AS w FROM und, tot
            UNION ALL
            SELECT b, a, 1 + tc // cnt FROM und, tot
        )
    ),
    d0 AS MATERIALIZED (SELECT 0 AS node, CAST(0 AS BIGINT) AS dist),
"""

_SSSP_ROUND_TMPL = """
    d{r} AS MATERIALIZED (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{p}
            UNION ALL
            SELECT e.v AS node, d{p}.dist + e.w AS dist
            FROM d{p} JOIN e ON e.u = d{p}.node
        ) GROUP BY node
    ),
"""

_SSSP_ORACLE = (
    _SSSP_ORACLE_HEAD
    + "".join(_SSSP_ROUND_TMPL.format(r=r, p=r - 1)
              for r in range(1, _SSSP_ROUNDS + 1)).rstrip().rstrip(",")
    + f"\n    SELECT node, dist FROM d{_SSSP_ROUNDS}"
)


@query("graph_sssp_bellman", oracle=_SSSP_ORACLE)
def graph_sssp_bellman(spark, sf_dir):
    """Single-source shortest paths from nation 0 by synchronous
    Bellman-Ford relaxation over the WEIGHTED nation trade graph —
    edge cost 1 + total_traffic DIV edge_traffic, so heavily-traded
    lanes are cheap (an exact integer weight: no float ever enters
    the min-plus algebra, which is what makes distributed SSSP
    hash-comparable at all).

    Four relaxation rounds, each the classic bulk-synchronous step:
    candidate distances = current frontier JOIN edges (shuffle on the
    edge source), then a min-aggregate per node folds candidates into
    the running labels — the same iterate-join-aggregate skeleton as
    graph_pagerank3/graph_bfs_levels, with min-plus instead of
    sum-times. Rounds reference the previous label set twice (union +
    join), so each round is cut (physical.cut; the
    graph_kcore plan-growth lesson). Four rounds bound path length at
    4 hops; on this dense 25-node trade graph that reaches every
    node, which the convergence test asserts (round 4 == round 3).
    The oracle unrolls the identical rounds as MATERIALIZED CTEs."""
    raw = (nation_pairs(spark, sf_dir, F.count("*").alias("cnt"))
           .filter(F.col("u") != F.col("v")))
    und = (raw.groupBy(F.least("u", "v").alias("a"),
                       F.greatest("u", "v").alias("b"))
           .agg(F.sum("cnt").alias("cnt")))
    tot = und.agg(F.sum("cnt").alias("tc"))
    w = F.expr("1 + tc DIV cnt")
    half = und.crossJoin(F.broadcast(tot))
    e = (half.select(F.col("a").alias("u"), F.col("b").alias("v"),
                     w.alias("w"))
         .unionAll(half.select(F.col("b").alias("u"),
                               F.col("a").alias("v"), w.alias("w")))
         .transform(physical.cut))

    d = spark.createDataFrame([(0, 0)], "node int, dist bigint").select(
        F.col("node").cast("int").alias("node"),
        F.col("dist").cast("bigint").alias("dist"))
    for _ in range(_SSSP_ROUNDS):
        cand = (d.join(e, d.node == e.u)
                .select(F.col("v").alias("node"),
                        (F.col("dist") + F.col("w")).alias("dist")))
        d = (d.unionByName(cand)
             .groupBy("node").agg(F.min("dist").alias("dist"))
             .transform(physical.cut))
    return d


# ------------------------------------------- soft-dedup loss weighting

@query("dedup_soft_weights", oracle="""
    WITH q AS (
        SELECT doc_id, source,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    cl AS (
        SELECT fp, CAST(count(*) AS BIGINT) AS sz FROM q GROUP BY fp
    ),
    wts AS (
        SELECT q.source, q.n_tok, cl.sz,
               CAST(round(1000000.0 / cl.sz) AS BIGINT) AS w_micro
        FROM q JOIN cl ON q.fp = cl.fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_in_clusters,
           CAST(sum(w_micro) AS BIGINT) AS eff_docs_micro,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_tok * w_micro) AS BIGINT) AS eff_tokens_micro
    FROM wts GROUP BY source
""")
def dedup_soft_weights(spark, sf_dir):
    """Soft dedup: instead of DROPPING duplicates, down-weight every
    member of an exact-duplicate cluster to 1/cluster_size for the
    training loss — total weight per distinct content stays exactly 1,
    so no information is deleted but no document is over-counted (the
    repetition-control alternative curation stacks reach for when
    near-dup clusters carry provenance worth keeping). Reported per
    source: raw vs effective document and token counts — the gap IS
    each source's internal redundancy.

    Same fingerprint family as `dedup_exact` / `dedup_quality_keep_
    best` (one definition of 'duplicate' across the policy keys).
    Weights snap to micro-units per row (1e6/sz is exact to half a
    micro-unit; the per-source sums are then exact BIGINT adds —
    SURVEY §4.3). One fingerprint shuffle + one source rollup; at
    100 TB this is strictly cheaper than hard dedup because no
    keep-row election is needed — the weight is a pure function of
    cluster size."""
    from ..operators import text as X

    d = T(spark, sf_dir, "documents")
    q = d.select("doc_id", "source",
                 X.fingerprint(F.col("text")).alias("fp"),
                 X.token_count(F.col("text")).alias("n_tok"))
    cl = q.groupBy("fp").agg(F.count("*").alias("sz"))
    wts = (q.join(cl, "fp")
           .select("source", "n_tok", "sz",
                   F.round(1000000.0 / F.col("sz")).cast("bigint")
                   .alias("w_micro")))
    return (wts.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
                 .cast("bigint").alias("n_in_clusters"),
                 F.sum("w_micro").alias("eff_docs_micro"),
                 F.sum("n_tok").alias("n_tokens"),
                 F.sum(F.col("n_tok") * F.col("w_micro"))
                 .alias("eff_tokens_micro")))


# ------------------------------------ DP median (exponential mechanism)

@query("privacy_dp_median", oracle=f"""
    WITH c AS (
        SELECT CAST(l_quantity AS INTEGER) AS qty,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT qty, c,
               CAST(sum(c) OVER (ORDER BY qty) AS BIGINT) AS cum,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM c
    ),
    util AS (
        SELECT qty, c,
               -abs((cum - c) - (n - cum)) AS u,
               cum, n
        FROM cum
    ),
    noisy AS (
        SELECT qty, c, u, cum, n,
               CAST(round((u / 2.0
                   - ln(-ln({u01_sql("'dpmed:' || CAST(qty AS VARCHAR)")})))
                   * 1000000000)
                    AS BIGINT) AS score_nano
        FROM util
    ),
    med AS (
        SELECT min(qty) AS true_median FROM cum, (SELECT max(n) AS nn
                                                  FROM cum)
        WHERE cum * 2 >= nn
    )
    SELECT qty, c AS n_rows, CAST(u AS BIGINT) AS utility, score_nano,
           CAST(row_number() OVER (ORDER BY score_nano DESC, qty)
                AS BIGINT) = 1 AS is_choice,
           true_median
    FROM noisy, med
""")
def privacy_dp_median(spark, sf_dir):
    """Differentially-private median of l_quantity via the exponential
    mechanism (McSherry & Talwar 2007), epsilon = 1, candidate set =
    the 50 observed quantity levels — the third leg of the governance
    release path next to `privacy_dp_histogram` (Laplace counts) and
    `privacy_sensitivity_census` (contribution bounding): rank
    statistics need the exponential mechanism because adding noise to
    a median directly destroys it.

    Utility u(q) = -|#less - #greater| is EXACT integer (sensitivity
    2, so the score is u/2 at eps=1); sampling uses the Gumbel-max
    trick with hash-derived uniforms (h32('dpmed:'||q) + 0.5)/2^32 —
    both engines replay the same draw, making a randomized mechanism
    hash-verifiable (same device as privacy_dp_histogram). Scores are
    nano-snapped before the argmax; the chosen value is flagged
    alongside the true median, so the released error is visible in
    the result. One count aggregate over the fact table; every window
    runs over the 50 candidate rows."""
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("qty"))
    c = li.groupBy("qty").agg(F.count("*").alias("c"))
    w = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    cum = (c.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(Window.partitionBy())))
    u = -F.abs((F.col("cum") - F.col("c")) - (F.col("n") - F.col("cum")))
    draw = u01(F.concat(F.lit("dpmed:"), F.col("qty").cast("string")))
    score = F.round((u / 2.0 - F.log(-F.log(draw))) * 1000000000) \
        .cast("bigint")
    noisy = cum.select("qty", "c", u.cast("bigint").alias("u"),
                       score.alias("score_nano"))
    med = (cum.filter(F.col("cum") * 2 >= F.col("n"))
           .agg(F.min("qty").alias("true_median")))
    pick = Window.orderBy(F.col("score_nano").desc(), "qty")
    return (noisy.crossJoin(F.broadcast(med))
            .select("qty", F.col("c").alias("n_rows"),
                    F.col("u").alias("utility"), "score_nano",
                    (F.row_number().over(pick).cast("bigint") == 1)
                    .alias("is_choice"),
                    "true_median"))


# ---------------------------------------------- CUSUM change detection

@query("ts_cusum_detection", oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS d
        FROM daily
    ),
    dev AS (
        SELECT day, c, c * d - t AS dev, t, d
        FROM daily, tot
    ),
    pre1 AS (
        SELECT day, c, t, d,
               CAST(sum(dev) OVER (ORDER BY day) AS BIGINT) AS p
        FROM dev
    ),
    pre AS (
        SELECT day, c, t, d, p,
               CAST(min(p) OVER (ORDER BY day) AS BIGINT) AS minp
        FROM pre1
    )
    SELECT day, c AS n_orders,
           CAST(p - least(minp, 0) AS BIGINT) AS s_units,
           p - least(minp, 0) > 8 * t AS alarm
    FROM pre
""")
def ts_cusum_detection(spark, sf_dir):
    """One-sided CUSUM change detection (Page 1954) on the daily order
    count — the classic sequential drift alarm, computed WITHOUT the
    sequential recursion: S_t = max(0, S_{t-1} + x_t - k) unrolls to
    S_t = P_t - min(0, min_{j<=t} P_j) where P is the running sum of
    deviations, so two stacked ordered windows (a cumulative sum and a
    running min OVER it) replace the loop — the standard trick for
    porting per-row recursions to a set engine.

    Everything is exact integers: deviations are scaled by the day
    count (c*D - T) so the reference level k = mean needs no division;
    S stays in count-times-days units and the alarm threshold (8
    mean-days of cumulated excess, i.e. 8*T in scaled units) is an
    integer compare. The ordered windows run over the DAY spine
    (~2.4k rows, bounded by the calendar, not the corpus — the same
    bounded-window argument as the other daily time-series keys); the
    corpus-sized work is the one daily count aggregate."""
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"))
    daily = o.groupBy("day").agg(F.count("*").alias("c"))
    tot = daily.agg(F.sum("c").alias("t"), F.count("*").alias("d"))
    dev = (daily.crossJoin(F.broadcast(tot))
           .withColumn("dev", F.col("c") * F.col("d") - F.col("t")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    pre = (dev.withColumn("p", F.sum("dev").over(w))
           .withColumn("minp", F.min("p").over(w)))
    s = F.col("p") - F.least(F.col("minp"), F.lit(0))
    return pre.select(
        "day", F.col("c").alias("n_orders"),
        s.cast("bigint").alias("s_units"),
        (s > 8 * F.col("t")).alias("alarm"))


# ------------------------------------------------ IPW treatment effect

@query("stats_ipw_ate", oracle=f"""
    WITH j AS (
        SELECT c_nationkey AS stratum,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treat,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    prop AS (
        SELECT stratum, CAST(count(*) AS BIGINT) AS n_s,
               CAST(sum(treat) AS BIGINT) AS n_t
        FROM j GROUP BY stratum
    ),
    wtd AS (
        SELECT j.stratum, j.treat, j.v, p.n_s, p.n_t,
               CASE WHEN j.treat = 1 THEN (p.n_s * 1000000) // p.n_t
                    ELSE (p.n_s * 1000000) // (p.n_s - p.n_t)
               END AS w_micro
        FROM j JOIN prop p ON j.stratum = p.stratum
        WHERE p.n_t > 0 AND p.n_s - p.n_t > 0
    ),
    agg AS (
        SELECT CAST(sum(CASE WHEN treat = 1 THEN w_micro END) AS BIGINT)
                   AS wt1,
               sum(CASE WHEN treat = 1
                        THEN {wide_sql('v')} * w_micro END) AS s1,
               CAST(sum(CASE WHEN treat = 0 THEN w_micro END) AS BIGINT)
                   AS wt0,
               sum(CASE WHEN treat = 0
                        THEN {wide_sql('v')} * w_micro END) AS s0,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(treat) AS BIGINT) AS n_treat
        FROM wtd
    )
    SELECT n, n_treat,
           round(CAST(s1 AS DOUBLE) / CAST(wt1 AS DOUBLE) / 100.0, 4)
               AS mean_treated_ipw,
           round(CAST(s0 AS DOUBLE) / CAST(wt0 AS DOUBLE) / 100.0, 4)
               AS mean_control_ipw,
           round(round(CAST(s1 AS DOUBLE) / CAST(wt1 AS DOUBLE)
                       / 100.0, 4)
                 - round(CAST(s0 AS DOUBLE) / CAST(wt0 AS DOUBLE)
                         / 100.0, 4), 4) AS ate_ipw
    FROM agg
""")
def stats_ipw_ate(spark, sf_dir):
    """Inverse-propensity-weighted average treatment effect (Horvitz-
    Thompson / Hajek estimator): BUILDING-segment membership as
    'treatment', nation as the confounding stratum — each order is
    weighted by 1/p(treat|stratum) (treated) or 1/(1-p) (control), so
    strata where treatment is rare count each treated order more and
    the reweighted arms share one covariate distribution. Completes
    the causal set next to `stats_diff_in_diff` (time confounding),
    `stats_cuped` (variance reduction) and `stats_permutation_test`
    (exact inference).

    Exactness: propensities are exact stratum counts, so the weight
    is integer-DIV micro-units (n_s*1e6 DIV n_t — no float
    propensity model anywhere); weighted sums accumulate value-cents
    x micro-weights in HUGEINT/DECIMAL(38,0); the two Hajek means are
    single double divisions, snapped to 4 dp BEFORE the subtraction
    (SURVEY §4.3 — differencing near-equal means is the cancellation
    shape). Strata with an empty arm drop out (positivity violation
    — the standard exclusion, made explicit). One stratum-count
    aggregate + one weighted aggregate over the joined fact: two
    corpus passes, no per-stratum work on the driver."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment")
    j = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .select(F.col("c_nationkey").alias("stratum"),
                 F.when(F.col("c_mktsegment") == "BUILDING", 1)
                 .otherwise(0).alias("treat"),
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("v")))
    prop = (j.groupBy("stratum")
            .agg(F.count("*").alias("n_s"), F.sum("treat").alias("n_t")))
    wtd = (j.join(F.broadcast(prop), "stratum")
           .filter((F.col("n_t") > 0) & (F.col("n_s") - F.col("n_t") > 0))
           .withColumn("w_micro", F.expr(
               "CASE WHEN treat = 1 THEN (n_s * 1000000) DIV n_t "
               "ELSE (n_s * 1000000) DIV (n_s - n_t) END")))
    agg = wtd.agg(
        F.sum(F.when(F.col("treat") == 1, F.col("w_micro"))).cast("bigint")
        .alias("wt1"),
        F.sum(F.when(F.col("treat") == 1,
                     wide("v") * F.col("w_micro")))
        .alias("s1"),
        F.sum(F.when(F.col("treat") == 0, F.col("w_micro"))).cast("bigint")
        .alias("wt0"),
        F.sum(F.when(F.col("treat") == 0,
                     wide("v") * F.col("w_micro")))
        .alias("s0"),
        F.count("*").alias("n"), F.sum("treat").alias("n_treat"))
    m1 = F.round(F.col("s1").cast("double") / F.col("wt1").cast("double")
                 / 100.0, 4)
    m0 = F.round(F.col("s0").cast("double") / F.col("wt0").cast("double")
                 / 100.0, 4)
    return agg.select(
        "n", "n_treat", m1.alias("mean_treated_ipw"),
        m0.alias("mean_control_ipw"),
        F.round(m1 - m0, 4).alias("ate_ipw"))


# ------------------------------------- doubly-robust (AIPW) estimator

@query("stats_aipw_ate", oracle=f"""
    WITH j AS (
        SELECT c_nationkey AS stratum,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS treat,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    mods AS (
        SELECT stratum, CAST(count(*) AS BIGINT) AS n_s,
               CAST(sum(treat) AS BIGINT) AS n_t,
               CAST(sum(CASE WHEN treat = 1 THEN v ELSE 0 END) AS BIGINT)
                   AS s_t,
               CAST(sum(CASE WHEN treat = 0 THEN v ELSE 0 END) AS BIGINT)
                   AS s_c
        FROM j GROUP BY stratum
    ),
    scored AS (
        SELECT j.treat, j.v,
               s_t // n_t AS m1,
               s_c // (n_s - n_t) AS m0,
               (n_s * 1000000) // n_t AS w1,
               (n_s * 1000000) // (n_s - n_t) AS w0
        FROM j JOIN mods USING (stratum)
        WHERE n_t > 0 AND n_s - n_t > 0
    ),
    terms AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(m1 - m0) AS BIGINT) AS reg_sum,
               sum(CASE WHEN treat = 1
                        THEN {wide_sql('v - m1')} * w1 ELSE 0 END)
                   AS aug1,
               sum(CASE WHEN treat = 0
                        THEN {wide_sql('v - m0')} * w0 ELSE 0 END)
                   AS aug0
        FROM scored
    )
    SELECT n,
           round(CAST(reg_sum AS DOUBLE) / n / 100.0, 4) AS ate_outcome,
           round((CAST(reg_sum AS DOUBLE)
                  + CAST(aug1 AS DOUBLE) / 1000000.0
                  - CAST(aug0 AS DOUBLE) / 1000000.0) / n / 100.0, 4)
               AS ate_aipw
    FROM terms
""")
def stats_aipw_ate(spark, sf_dir):
    """Doubly-robust (AIPW / augmented-IPW) treatment effect — the
    estimator that stays consistent if EITHER the outcome model or the
    propensity model is right: ATE = mean over all units of
    [m1(s) - m0(s)] + 1/n * sum of the inverse-propensity-weighted
    residual corrections treat*(v - m1)/p - (1-treat)*(v - m0)/(1-p).
    Outcome model = per-stratum arm means, propensity = per-stratum
    treatment share (both saturated in the nation stratum, the same
    design as `stats_ipw_ate` — the two keys bracket the estimator
    family: pure weighting vs weighting + regression).

    Exactness: arm means and inverse propensities are integer-DIV
    (cents / micro-units) from exact counts; the residual corrections
    accumulate cents x micro-weights in HUGEINT/DECIMAL(38,0); the
    final assembly is one double expression with identical operation
    order, rounded once. The documented approximation: m and w are
    floor-quotients (bias < 1 cent / 1 micro-weight per term, far
    under the 4-dp rounding). Distributed shape: ONE stratum-moment
    aggregate (n, n_t, both arm sums in the same pass) broadcast back
    onto the fact scan, then one global aggregate — two corpus reads,
    everything map-side combinable."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment")
    j = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .select(F.col("c_nationkey").alias("stratum"),
                 F.when(F.col("c_mktsegment") == "BUILDING", 1)
                 .otherwise(0).alias("treat"),
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("v")))
    mods = (j.groupBy("stratum")
            .agg(F.count("*").alias("n_s"), F.sum("treat").alias("n_t"),
                 F.sum(F.when(F.col("treat") == 1, F.col("v"))
                       .otherwise(0)).alias("s_t"),
                 F.sum(F.when(F.col("treat") == 0, F.col("v"))
                       .otherwise(0)).alias("s_c")))
    scored = (j.join(F.broadcast(mods), "stratum")
              .filter((F.col("n_t") > 0)
                      & (F.col("n_s") - F.col("n_t") > 0))
              .select("treat", "v",
                      F.expr("s_t DIV n_t").alias("m1"),
                      F.expr("s_c DIV (n_s - n_t)").alias("m0"),
                      F.expr("(n_s * 1000000) DIV n_t").alias("w1"),
                      F.expr("(n_s * 1000000) DIV (n_s - n_t)")
                      .alias("w0")))
    terms = scored.agg(
        F.count("*").alias("n"),
        F.sum(F.col("m1") - F.col("m0")).alias("reg_sum"),
        F.sum(F.when(F.col("treat") == 1,
                     wide(F.col("v") - F.col("m1")) * F.col("w1"))
              .otherwise(0)).alias("aug1"),
        F.sum(F.when(F.col("treat") == 0,
                     wide(F.col("v") - F.col("m0")) * F.col("w0"))
              .otherwise(0)).alias("aug0"))
    return terms.select(
        "n",
        F.round(F.col("reg_sum").cast("double") / F.col("n") / 100.0, 4)
        .alias("ate_outcome"),
        F.round((F.col("reg_sum").cast("double")
                 + F.col("aug1").cast("double") / 1000000.0
                 - F.col("aug0").cast("double") / 1000000.0)
                / F.col("n") / 100.0, 4).alias("ate_aipw"))


# ------------------------------------- delta-method ratio-metric SE

@query("stats_delta_method_ratio", oracle=f"""
    WITH j AS (
        SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'treat'
                    ELSE 'control' END AS arm,
               o_custkey AS unit,
               CAST(round(o_totalprice * 100) AS BIGINT) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    u AS (
        SELECT arm, unit, CAST(count(*) AS BIGINT) AS y,
               CAST(sum(x) AS BIGINT) AS x
        FROM j GROUP BY arm, unit
    ),
    m AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               sum({wide_sql('x')} * x) AS sxx,
               sum({wide_sql('y')} * y) AS syy,
               sum({wide_sql('x')} * y) AS sxy
        FROM u GROUP BY arm
    )
    SELECT arm, n, sy AS n_orders,
           round(CAST(sx AS DOUBLE) / sy / 100.0, 4) AS ratio,
           round(sqrt(greatest(
                 ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                  - 2.0 * (CAST(sx AS DOUBLE) / sy)
                        * (CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * sy / n)
                  + (CAST(sx AS DOUBLE) / sy)
                    * (CAST(sx AS DOUBLE) / sy)
                    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))
                 / (n - 1.0), 0.0))
                 / (CAST(sy AS DOUBLE) / n) / sqrt(CAST(n AS DOUBLE))
                 / 100.0, 6) AS se_ratio
    FROM m
""")
def stats_delta_method_ratio(spark, sf_dir):
    """Delta-method standard error for a RATIO metric (revenue per
    order) with customer-level randomization units — the estimator
    every experimentation platform needs because ratio metrics violate
    the i.i.d.-rows assumption: orders cluster within customers, so
    var(sum x / sum y) must come from the per-UNIT joint moments
    (Deng et al. 2017, 'ratio metrics in randomized experiments'):
    var(r) ~ [var(x) - 2 r cov(x,y) + r^2 var(y)] / (n ybar^2).

    The fact collapses to per-(arm, unit) exact integer pairs (cents,
    order count) in one aggregate; the five cross-moments accumulate
    in HUGEINT/DECIMAL(38,0); ratio and SE are single double
    expressions with identical operation order on both engines,
    snapped once (a greatest(.,0) guards the variance against
    last-ulp negativity in degenerate arms). Compare
    `stats_power_mde`/`stats_srm_check` (binary/count metrics) — this
    key closes the ratio-metric gap in the experimentation set. Two
    map-side-combinable aggregates; nothing unit-level leaves the
    executors."""
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .select(F.when(F.col("c_mktsegment") == "BUILDING", "treat")
                 .otherwise("control").alias("arm"),
                 F.col("o_custkey").alias("unit"),
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("x")))
    u = (j.groupBy("arm", "unit")
         .agg(F.count("*").alias("y"), F.sum("x").alias("x")))
    m = (u.groupBy("arm")
         .agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
              F.sum("y").alias("sy"),
              F.sum(wide("x") * F.col("x")).alias("sxx"),
              F.sum(wide("y") * F.col("y")).alias("syy"),
              F.sum(wide("x") * F.col("y")).alias("sxy")))
    dx = F.col("sx").cast("double")
    dy = F.col("sy").cast("double")
    dn = F.col("n").cast("double")
    r = dx / dy
    varnum = ((F.col("sxx").cast("double") - dx * F.col("sx") / F.col("n"))
              - 2.0 * r * (F.col("sxy").cast("double")
                           - dx * F.col("sy") / F.col("n"))
              + r * r * (F.col("syy").cast("double")
                         - dy * F.col("sy") / F.col("n")))
    se = (F.sqrt(F.greatest(varnum / (F.col("n") - 1.0), F.lit(0.0)))
          / (dy / F.col("n")) / F.sqrt(dn) / 100.0)
    return m.select("arm", "n", F.col("sy").alias("n_orders"),
                    F.round(r / 100.0, 4).alias("ratio"),
                    F.round(se, 6).alias("se_ratio"))


# ------------------------------------------ seasonality period scan

_SEASON_PERIODS = (5, 6, 7, 8, 9)
_SQ_OVER_N = wide_quot_sql(f"{wide_sql('s')} * s", "n")   # (sum^2) div n


@query("ts_seasonality_strength", oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c,
               CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS di
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s,
               CAST(sum({wide_sql('c')} * c) AS BIGINT) AS ss
        FROM daily
    ),
    folds AS (
        SELECT p.p, d.di % p.p AS phase,
               CAST(count(*) AS BIGINT) AS n_ph,
               CAST(sum(d.c) AS BIGINT) AS s_ph
        FROM daily d CROSS JOIN (SELECT unnest({list(_SEASON_PERIODS)})
                                 AS p) p
        GROUP BY 1, 2
    ),
    between_ AS (
        SELECT p,
               CAST(sum({wide_quot_sql(f'{wide_sql("s_ph")} * s_ph', 'n_ph')})
                    AS BIGINT) AS b_int
        FROM folds GROUP BY p
    )
    SELECT CAST(p AS INTEGER) AS period,
           round((b_int - {_SQ_OVER_N}) * 1.0 / (ss - {_SQ_OVER_N}), 6)
               AS strength,
           CAST(row_number() OVER (
               ORDER BY round((b_int - {_SQ_OVER_N}) * 1.0
                              / (ss - {_SQ_OVER_N}), 6) DESC, p)
                AS BIGINT) = 1 AS is_dominant
    FROM between_, tot
""")
def ts_seasonality_strength(spark, sf_dir):
    """Seasonality-period detection by folded variance ratio: for each
    candidate period p in {{5..9}}, fold the daily order-count series
    by day-index mod p and measure the fraction of total variance the
    p phase means explain (the one-way-ANOVA R^2 of the fold model) —
    the dominant period maximizes it. This is the integer-exact
    alternative to a periodogram: cos/sin differ in the last ulp
    between Java and C libm (cross-engine hash poison), while the
    fold needs only the anova-style integer moments (per-phase
    (sum^2 DIV n) in HUGEINT/DECIMAL(38,0), grand term folded out —
    the exact machinery of stats_anova_f applied per candidate
    period).

    One daily aggregate, one (period, phase) aggregate over
    days x 5 candidates (calendar-bounded, not corpus-bounded), one
    <= 45-row rollup. The strength ratio is a single snapped double;
    the argmax is an integer-tie-broken window over 5 rows."""
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"))
    daily = (o.groupBy("day").agg(F.count("*").alias("c"))
             .withColumn("di", F.datediff(
                 F.col("day"), F.lit("1992-01-01").cast("date"))))
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("c").alias("s"),
        F.sum(wide("c") * F.col("c")).cast("bigint")
        .alias("ss"))
    periods = F.array(*[F.lit(p) for p in _SEASON_PERIODS])
    folds = (daily.withColumn("p", F.explode(periods))
             .groupBy("p", (F.col("di") % F.col("p")).alias("phase"))
             .agg(F.count("*").alias("n_ph"), F.sum("c").alias("s_ph")))
    between = (folds.select(
        "p", wide_quot(wide("s_ph") * F.col("s_ph"), "n_ph").alias("t"))
        .groupBy("p").agg(F.sum("t").alias("b_int")))
    g = between.crossJoin(F.broadcast(tot)).withColumn(
        "grand", wide_quot(wide("s") * F.col("s"), "n"))
    strength = F.round(
        (F.col("b_int") - F.col("grand")) * 1.0
        / (F.col("ss") - F.col("grand")), 6)
    w = Window.orderBy(F.col("strength").desc(), "p")
    return (g.withColumn("strength", strength)
            .select(F.col("p").cast("int").alias("period"), "strength",
                    (F.row_number().over(w).cast("bigint") == 1)
                    .alias("is_dominant")))


# ----------------------------------- small-cell complementary suppression

_SUPP_K = 3
_SUPP_ROUNDS = 3

_SUPP_ROUND_SQL = """
    s{r} AS MATERIALIZED (
        SELECT nat, seg, n,
               CASE WHEN sup = 1 THEN 1
                    WHEN rpick = 1 OR cpick = 1 THEN 1 ELSE 0 END AS sup,
               CASE WHEN sup = 0 AND (rpick = 1 OR cpick = 1)
                    THEN {r} ELSE rsup END AS rsup
        FROM (
            SELECT nat, seg, n, sup, rsup,
                   CASE WHEN sum(sup) OVER (PARTITION BY nat) = 1
                         AND sup = 0
                         AND row_number() OVER (
                             PARTITION BY nat, sup ORDER BY n, seg) = 1
                        THEN 1 ELSE 0 END AS rpick,
                   CASE WHEN sum(sup) OVER (PARTITION BY seg) = 1
                         AND sup = 0
                         AND row_number() OVER (
                             PARTITION BY seg, sup ORDER BY n, nat) = 1
                        THEN 1 ELSE 0 END AS cpick
            FROM s{p}
        )
    ),
"""

_SUPP_ORACLE = ("""
    WITH cells AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2
    ),
    s0 AS MATERIALIZED (
        SELECT nat, seg, n,
               CASE WHEN n < """ + str(_SUPP_K) + """ THEN 1 ELSE 0 END
                   AS sup,
               CASE WHEN n < """ + str(_SUPP_K) + """ THEN 0
                    ELSE CAST(NULL AS INTEGER) END AS rsup
        FROM cells
    ),"""
    + "".join(_SUPP_ROUND_SQL.format(r=r, p=r - 1)
              for r in range(1, _SUPP_ROUNDS + 1)).rstrip().rstrip(",")
    + f"""
    SELECT nat AS c_nationkey, seg AS c_mktsegment, n AS n_customers,
           sup = 1 AS suppressed, CAST(rsup AS INTEGER) AS round_suppressed
    FROM s{_SUPP_ROUNDS}
""")


@query("privacy_cell_suppression", oracle=_SUPP_ORACLE)
def privacy_cell_suppression(spark, sf_dir):
    """Small-cell suppression with complementary protection — the
    statistical-disclosure-control step census bureaus apply before
    releasing a frequency table: cells under k=3 are primary-suppressed,
    and then any row or column left with EXACTLY ONE suppressed cell
    gets its smallest unsuppressed cell suppressed too (otherwise the
    hidden value is recoverable from the published margin — primary
    suppression alone is a known disclosure hole). Three synchronous
    rounds reach the fixpoint on this 25x5 table; marks from the row
    rule and the column rule apply simultaneously with deterministic
    (count, name) tie-breaks, so both engines trace the same path.

    All decisions are integer count comparisons — no float anywhere.
    Distributed shape: ONE count aggregate over the fact table; every
    suppression round is window work over the released table itself
    (#cells rows, bounded by the release schema, not the corpus),
    cut per round with the usual physical.cut. Completes the
    disclosure-control set: k-anonymity (identity), l-diversity
    (attribute), t-closeness (distribution), DP (noise) — and now
    safe TABULAR release."""
    from pyspark.sql import Window

    c = T(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"))
    s = (c.groupBy("nat", "seg").agg(F.count("*").alias("n"))
         .withColumn("sup", F.when(F.col("n") < _SUPP_K, 1).otherwise(0))
         .withColumn("rsup", F.when(F.col("n") < _SUPP_K, 0)
                     .otherwise(F.lit(None).cast("int")))
         .transform(physical.cut))
    for r in range(1, _SUPP_ROUNDS + 1):
        wr = Window.partitionBy("nat")
        wc = Window.partitionBy("seg")
        wrn = Window.partitionBy("nat", "sup").orderBy("n", "seg")
        wcn = Window.partitionBy("seg", "sup").orderBy("n", "nat")
        picked = (s
                  .withColumn("rpick",
                              ((F.sum("sup").over(wr) == 1)
                               & (F.col("sup") == 0)
                               & (F.row_number().over(wrn) == 1))
                              .cast("int"))
                  .withColumn("cpick",
                              ((F.sum("sup").over(wc) == 1)
                               & (F.col("sup") == 0)
                               & (F.row_number().over(wcn) == 1))
                              .cast("int")))
        s = (picked.select(
            "nat", "seg", "n",
            F.when(F.col("sup") == 1, 1)
            .when((F.col("rpick") == 1) | (F.col("cpick") == 1), 1)
            .otherwise(0).alias("sup"),
            F.when((F.col("sup") == 0)
                   & ((F.col("rpick") == 1) | (F.col("cpick") == 1)),
                   F.lit(r)).otherwise(F.col("rsup")).alias("rsup"))
            .transform(physical.cut))
    return s.select(F.col("nat").alias("c_nationkey"),
                    F.col("seg").alias("c_mktsegment"),
                    F.col("n").alias("n_customers"),
                    (F.col("sup") == 1).alias("suppressed"),
                    F.col("rsup").cast("int").alias("round_suppressed"))
