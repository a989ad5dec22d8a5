"""Event-stream depth + iterative graph analytics (Tier C extensions).

Shapes a warehouse user reaches past plain SQL: rolling-window anomaly
detection on a stream, exact inter-arrival statistics, and an iterative
fixed-point algorithm (PageRank) unrolled into declarative joins so
Catalyst still sees the whole plan. The reference's analogue surface is
its SQL passthrough (reference src/main.rs:220); these exercise what a
100 TB deployment needs beyond it.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import query
from .relational import T
from .tradegraph import (nation_pairs, nation_pairs_sql, top2_partners,
                         top2_partners_sql)
from ..numerics import cents_sum_sql


# ---------------------------------------------------- rolling anomaly

@query("events_rolling_anomaly", oracle="""
    WITH r AS (
        SELECT event_type, value,
               avg(value)         OVER w AS mu,
               stddev_samp(value) OVER w AS sigma,
               count(*)           OVER w AS n_hist
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           count(*) AS n_checked,
           CAST(sum(CASE WHEN round(abs(value - mu) / sigma, 4) > 3.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM r
    WHERE n_hist >= 5 AND sigma > 0
    GROUP BY event_type
""")
def events_rolling_anomaly(spark, sf_dir):
    """Rolling z-score anomaly detection: each event scored against the
    mean/stddev of its user's previous 10 events (current row excluded
    so a spike can't mask itself); |z| > 3 with >= 5 history rows flags.

    One shuffle on user_id serves all three window aggregates (same
    frame); scoring is JVM-side whole-stage codegen, no Python. The
    z-score is rounded before thresholding so both engines compare the
    same 4-dp number — a strict float threshold would be a cross-engine
    coin flip at the boundary."""
    e = T(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-10, -1))
    r = e.select(
        "event_type", "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_hist"))
    z = F.round(F.abs(F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (r.filter((F.col("n_hist") >= 5) & (F.col("sigma") > 0))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_checked"),
                 F.sum(F.when(z > 3.0, 1).otherwise(0))
                  .alias("n_anomalies")))


# ----------------------------------------------------- inter-arrival

@query("events_inter_arrival", oracle="""
    WITH d AS (
        SELECT event_type,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id))
               / 1000000.0 AS delta_s
        FROM events
    )
    SELECT event_type,
           count(*) AS n,
           round(avg(delta_s), 4) AS avg_s,
           round(quantile_cont(delta_s, 0.5), 4)  AS p50_s,
           round(quantile_cont(delta_s, 0.95), 4) AS p95_s
    FROM d WHERE delta_s IS NOT NULL
    GROUP BY event_type
""")
def events_inter_arrival(spark, sf_dir):
    """Inter-arrival time distribution per event type: seconds since the
    same user's previous event (any type), with exact median and p95.

    Deltas are computed on integer epoch-microseconds (unix_micros /
    epoch_us) so both engines subtract exact BIGINTs — casting
    timestamps to float seconds first would give last-ulp drift. The
    lag window shuffles once on user_id (stream order), the stats
    aggregation once on the tiny event_type key set; exact percentiles
    interpolate identically to DuckDB's quantile_cont."""
    e = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts arrives as TIMESTAMP_NTZ from parquet; unix_micros needs TIMESTAMP.
    # The session timezone is pinned UTC, so the cast is value-preserving
    # and matches DuckDB's epoch_us on the same naive timestamps.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = e.select(
        "event_type",
        ((us - F.lag(us).over(w)) / F.lit(1000000.0)).alias("delta_s"))
    return (d.filter(F.col("delta_s").isNotNull())
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("delta_s"), 4).alias("avg_s"),
                 F.round(F.percentile("delta_s", 0.5), 4).alias("p50_s"),
                 F.round(F.percentile("delta_s", 0.95), 4).alias("p95_s")))


# -------------------------------------------------- unrolled pagerank

_PR_ORACLE = f"""
    WITH {nation_pairs_sql("sum(l_extendedprice * (1 - l_discount)) AS w")},
    norm AS (
        SELECT u AS src, v AS dst,
               w / sum(w) OVER (PARTITION BY u) AS p
        FROM pairs
    ),
    sz AS (SELECT count(*) AS n FROM nation),
    r0 AS (SELECT n_nationkey AS node, 1.0 / n AS rank FROM nation, sz),
    r1 AS (
        SELECT n.node,
               0.15 / (SELECT n FROM sz)
               + 0.85 * coalesce(sum(r.rank * e.p), 0) AS rank
        FROM r0 n
        LEFT JOIN norm e ON e.dst = n.node
        LEFT JOIN r0 r   ON r.node = e.src
        GROUP BY n.node
    ),
    r2 AS (
        SELECT n.node,
               0.15 / (SELECT n FROM sz)
               + 0.85 * coalesce(sum(r.rank * e.p), 0) AS rank
        FROM r1 n
        LEFT JOIN norm e ON e.dst = n.node
        LEFT JOIN r1 r   ON r.node = e.src
        GROUP BY n.node
    ),
    r3 AS (
        SELECT n.node,
               0.15 / (SELECT n FROM sz)
               + 0.85 * coalesce(sum(r.rank * e.p), 0) AS rank
        FROM r2 n
        LEFT JOIN norm e ON e.dst = n.node
        LEFT JOIN r2 r   ON r.node = e.src
        GROUP BY n.node
    )
    SELECT node, round(rank, 6) AS rank
    FROM r3
"""


@query("graph_pagerank3", oracle=_PR_ORACLE)
def graph_pagerank3(spark, sf_dir):
    """PageRank (damping 0.85, 3 iterations) over the nation-level trade
    graph: edge customer-nation -> supplier-nation weighted by revenue.

    The iterative fixed point is UNROLLED into the logical plan — each
    iteration is a broadcast join of the (|nations|-row) rank vector
    against the normalized edge list, so Catalyst sees one declarative
    DAG and the fact table is touched exactly once at runtime: AQE
    materializes the edge shuffle for iteration 1 and iterations 2-3
    read it back as ReusedExchange (guarded in tests/test_plans_r4.py).
    At 100 TB the edge aggregation dominates; iterations cost
    |edges| * k regardless of fact size. Dangling nodes keep the
    0.15/N floor (sink mass is dropped, identically on both engines)."""
    nation = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"))

    edges = (nation_pairs(spark, sf_dir,
                          F.sum(F.expr("l_extendedprice * (1 - l_discount)"))
                          .alias("w"))
             .select(F.col("u").alias("src"), F.col("v").alias("dst"), "w"))
    norm = edges.select(
        "src", "dst",
        (F.col("w") / F.sum("w").over(W.partitionBy("src"))).alias("p"))

    n_nodes = nation.count()  # driver scalar: |nation| (25), not a fact scan
    ranks = nation.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(3):
        contrib = (F.broadcast(ranks)
                   .join(norm, ranks.node == norm.src)
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum(F.col("rank") * F.col("p")).alias("c")))
        ranks = (nation.join(F.broadcast(contrib), "node", "left")
                 .select("node",
                         (F.lit(0.15 / n_nodes)
                          + F.lit(0.85) * F.coalesce("c", F.lit(0.0)))
                         .alias("rank")))
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# ------------------------------------------------------ streaming hop

_HOPPING_ORACLE = f"""
    SELECT ws AS win_start, ws + INTERVAL '10 minutes' AS win_end,
           count(*) AS n_events,
           {cents_sum_sql('value')} AS sum_value
    FROM (
        SELECT value,
               unnest([time_bucket(INTERVAL '5 minutes', ts),
                       time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws
        FROM events
    )
    GROUP BY ws
"""


@query("stream_hopping", oracle=_HOPPING_ORACLE)
def stream_hopping(spark, sf_dir):
    """Hopping windows executed by the Structured Streaming engine
    (events replayed through the file source, width 10 min / slide
    5 min, watermark-bounded state, memory sink). Complete mode on
    finite input makes the batch `events_hopping` oracle exact —
    completing the batch/streaming parity matrix for all three window
    kinds (tumbling, session, hopping)."""
    from ..streaming import run_hopping_stream

    return run_hopping_stream(spark, sf_dir)


# ----------------------------------------------------------- ewma

@query("window_ewma", oracle="""
    WITH lasts AS (
        SELECT user_id, value,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                   AS vals,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    w AS (
        SELECT user_id, vals,
               list_transform(generate_series(1, len(vals)),
                              j -> power(0.9, len(vals) - j)) AS wts
        FROM lasts WHERE rn = 1
    )
    SELECT user_id,
           round(list_dot_product(vals, wts)
                 / list_aggregate(wts, 'sum'), 4) AS ewma
    FROM w
""")
def window_ewma(spark, sf_dir):
    """Exponentially weighted moving average (alpha-decay 0.9, last 20
    observations) of each user's value stream, reported at the stream
    head — the standard smoothing statistic for monitoring series.

    collect_list over a bounded ROWS frame keeps state at 20 values per
    row regardless of stream length; the weighted reduction runs as
    JVM higher-order functions (zip_with + aggregate), no Python, and
    both engines reduce the identical list in identical order. One
    user_id shuffle serves the frame collection and the head-row pick."""
    e = T(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-19, 0))
    wdesc = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    lasts = (e.select("user_id",
                      F.collect_list("value").over(w).alias("vals"),
                      F.row_number().over(wdesc).alias("rn"))
             .filter(F.col("rn") == 1))
    n = F.size("vals")
    wts = F.transform(F.sequence(F.lit(1), n),
                      lambda j: F.pow(F.lit(0.9), n - j))
    num = F.aggregate(F.zip_with("vals", wts, lambda x, wt: x * wt),
                      F.lit(0.0), lambda acc, x: acc + x)
    den = F.aggregate(wts, F.lit(0.0), lambda acc, x: acc + x)
    return lasts.select(
        "user_id",
        F.round(num / den, 4).alias("ewma"))


# ---------------------------------------------------- exact decimals

@query("agg_decimal_exact", oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
               AS sum_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
               AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
""")
def agg_decimal_exact(spark, sf_dir):
    """Exact DECIMAL money aggregation: sums carry no float error, so
    both engines agree to the last cent with NO rounding discipline —
    unlike the double sums everywhere else (and unlike the reference,
    whose REAL columns make SQLite sum in floating point; reference
    src/main.rs:184-187). Spark's decimal sum stays inside Tungsten's
    long-backed decimal128 fast path; partial aggregation applies as
    with any sum. The FINAL projection casts to STRING: the decimal
    stays exact through the aggregate, and the string surface ("x.yz",
    two decimals on both engines) avoids the cross-engine
    Decimal-vs-float64 type-class hash hazard (VERDICT r4 #2)."""
    le = T(spark, sf_dir, "lineitem")
    return (le.groupBy("l_returnflag")
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("string").alias("sum_price"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                  .cast("string").alias("sum_qty"),
                 F.count("*").alias("n")))


# ----------------------------------------------------- BFS shortest hops

_BFS_ORACLE = f"""
    WITH RECURSIVE {top2_partners_sql()},
    walk(node, level) AS (
        SELECT n_nationkey, 0 FROM nation WHERE n_nationkey = 0
        UNION
        SELECT e.dst, w.level + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.level < 12
    )
    SELECT node, CAST(min(level) AS INTEGER) AS level
    FROM walk GROUP BY node
"""


@query("graph_bfs_levels", oracle=_BFS_ORACLE)
def graph_bfs_levels(spark, sf_dir):
    """Breadth-first shortest-hop levels from nation 0 over a sparsified
    trade graph: each nation keeps only its top-2 outbound trade partners
    by revenue (deterministic: revenue summed in integer cents so the
    ranking can't flip across engines; ties broken by dst ASC).

    The fact-table aggregation runs ONCE; the resulting digraph is
    MODEL-sized by construction (25 nations x top-2 outbound edges), so
    the BFS itself runs over the collected edge list in driver Python —
    see the r11 note below for the bound that justifies the collect.
    Both sides pin max depth 12, so "unreached within 12 hops" is
    excluded identically (the DuckDB oracle walks a depth-bounded
    recursive CTE whose UNION-dedup keeps it polynomial)."""
    nation = T(spark, sf_dir, "nation")
    # r11 (guide §5, the markov/components precedent): the sparsified
    # digraph is MODEL-sized by construction — 25 nations x top-2
    # outbound edges, bounded by the nation schema at any corpus
    # scale — so after the ONE fact aggregate the BFS state is <=50
    # rows. The former loop ran up to 12 hops of join+anti-join+count
    # Spark jobs; the same frontier BFS over the collected edge list
    # is level-identical (hop order is the BFS order on both sides).
    # At a genuinely data-sized graph the distributed frontier loop
    # (graph_components pre-r11 shape) remains the right budget; here
    # the model bound makes the collect exact and O(1).
    erows = [(r[0], r[1]) for r in top2_partners(spark, sf_dir).collect()]
    seeds = [r[0] for r in nation
             .filter(F.col("n_nationkey") == 0)
             .select("n_nationkey").collect()]
    if not seeds:  # the old seed filter matched nothing -> empty frame
        return spark.createDataFrame([], "node int, level int")
    adj: dict[int, list[int]] = {}
    for src, dst in erows:
        adj.setdefault(src, []).append(dst)
    # seed FROM the collected filter result (ADVICE r11: a hardcoded
    # {0: 0} would silently diverge if the seed filter ever changed)
    level = {int(s): 0 for s in seeds}
    frontier = sorted(level)
    for depth in range(1, 13):
        nxt = sorted({d for n in frontier for d in adj.get(n, ())
                      if d not in level})
        if not nxt:
            break
        for d in nxt:
            level[d] = depth
        frontier = nxt
    out = sorted((int(n), int(lv)) for n, lv in level.items())
    return spark.createDataFrame(out, "node int, level int")


# -------------------------------------------- position-based attribution

@query("attribution_position", oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS journey
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    convs AS (
        SELECT DISTINCT user_id, journey
        FROM e WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT e.user_id, e.journey, e.event_type,
               row_number() OVER (PARTITION BY e.user_id, e.journey
                                  ORDER BY e.ts, e.event_id) AS rn,
               count(*) OVER (PARTITION BY e.user_id, e.journey) AS k
        FROM e JOIN convs USING (user_id, journey)
        WHERE e.event_type <> 'purchase'
    ),
    credit AS (
        SELECT event_type AS channel,
               CAST(round(CASE
                   WHEN k = 1 THEN 1.0
                   WHEN rn = 1 OR rn = k THEN
                        CASE WHEN k = 2 THEN 0.5 ELSE 0.4 END
                   ELSE 0.2 / (k - 2)
               END * 1e6) AS BIGINT) AS micro
        FROM touches
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           round(sum(micro) / 1e6, 4) AS credit
    FROM credit GROUP BY channel
""")
def attribution_position(spark, sf_dir):
    """Position-based (U-shaped) multi-touch attribution: each purchase
    credits its preceding touch journey 40% to the first touch, 40% to
    the last, and 20% split across the middle (k=1 -> 1.0,
    k=2 -> 0.5/0.5) — the marketing-channel operator one step past
    attribution_last_touch's winner-take-all.

    Journeys come from ONE user-stream window pass: a running purchase
    count splits each user's events into journey segments (no
    self-join), a semi join keeps only journeys that actually convert,
    and per-journey rank/size are a second window over the same
    partitioning (one shuffle on user_id total, then a tiny channel
    aggregate). Determinism: per-touch weights are a fixed per-row
    float expression snapped to integer micro-credits (round(w*1e6)),
    so the cross-channel sums are exact bigints on both engines —
    the non-terminating 0.2/(k-2) split can never flake the hash."""
    e = (T(spark, sf_dir, "events")
         .filter(F.col("event_type").isin("view", "click", "purchase")))
    wp = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, -1))
    e = e.withColumn(
        "journey",
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1))
                    .over(wp), F.lit(0)))
    convs = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", "journey").distinct())
    wj = W.partitionBy("user_id", "journey")
    touches = (e.filter(F.col("event_type") != "purchase")
               .join(convs, ["user_id", "journey"], "semi")
               .withColumn("rn", F.row_number().over(
                   wj.orderBy("ts", "event_id")))
               .withColumn("k", F.count("*").over(wj)))
    w = (F.when(F.col("k") == 1, F.lit(1.0))
         .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")),
               F.when(F.col("k") == 2, F.lit(0.5)).otherwise(F.lit(0.4)))
         .otherwise(F.lit(0.2) / (F.col("k") - 2)))
    return (touches
            .select(F.col("event_type").alias("channel"),
                    F.round(w * 1e6).cast("bigint").alias("micro"))
            .groupBy("channel")
            .agg(F.count("*").alias("n_touches"),
                 F.round(F.sum("micro") / 1e6, 4).alias("credit")))


# ------------------------------------------- connected components

@query("graph_components", oracle=f"""
    WITH RECURSIVE {nation_pairs_sql()},
    e0 AS (
        SELECT u AS src, v AS dst
        FROM pairs
        JOIN nation cn ON u = cn.n_nationkey
        JOIN nation sn ON v = sn.n_nationkey
        WHERE cn.n_regionkey = sn.n_regionkey AND u <> v
    ),
    edges AS (
        SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
    ),
    reach(root, node) AS (
        SELECT n_nationkey, n_nationkey FROM nation
        UNION
        SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT root AS node, CAST(min(node) AS INTEGER) AS component
    FROM reach GROUP BY root
""")
def graph_components(spark, sf_dir):
    """Connected components by iterative min-label propagation over the
    intra-region trade graph (nations joined by any customer->supplier
    line whose two nations share a region): each node repeatedly adopts
    the minimum label among itself and its neighbors until a fixpoint —
    label = min node id of the component. Region-restricting the edges
    makes the expected answer structurally interesting (one component
    per region, plus singletons for nations with no intra-region trade)
    rather than one giant blob.

    Scale shape: the fact-table aggregation to the DISTINCT edge list
    runs ONCE; the edge list is NATION-bounded (a model, not data), so
    the hash-min fixpoint runs over the collected edges in driver
    Python — the r11 note below states the bound that justifies the
    collect. The DuckDB oracle computes full reachability with a
    recursive CTE and takes min per root: both sides yield the
    canonical min-id labeling."""
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")

    cn = nation.select(F.col("n_nationkey").alias("src"),
                       F.col("n_regionkey").alias("src_rk"))
    sn = nation.select(F.col("n_nationkey").alias("dst"),
                       F.col("n_regionkey").alias("dst_rk"))
    half = (nation_pairs(spark, sf_dir)
            .join(F.broadcast(cn), F.col("u") == F.col("src"))
            .join(F.broadcast(sn), F.col("v") == F.col("dst"))
            .filter((F.col("src_rk") == F.col("dst_rk"))
                    & (F.col("src") != F.col("dst")))
            .select("src", "dst"))
    edges = (half.union(half.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
             .distinct())

    # r11 (guide §5): the propagation state is NATION-sized (25 nodes,
    # <=600 directed edges after the one fact aggregate) — a MODEL, not
    # data. The former loop ran up to 25 rounds of join+agg+count Spark
    # jobs with a driver scalar per round; collecting the bounded edge
    # list (the gramian_int .collect() precedent) and running the same
    # hash-min fixpoint in Python is value-identical: min-label
    # propagation converges to the canonical min-id component labeling
    # whatever the iteration schedule. At 100 TB only the fact
    # aggregate's width changes; the label model stays 25 rows.
    erows = [(r[0], r[1]) for r in edges.collect()]
    nodes = [r[0] for r in nation.select("n_nationkey").collect()]
    lbl = {n: n for n in nodes}
    changed = True
    while changed:
        changed = False
        for src, dst in erows:
            if lbl[src] < lbl[dst]:
                lbl[dst] = lbl[src]
                changed = True
    out = [(int(n), int(lbl[n])) for n in nodes]
    return spark.createDataFrame(out, "node int, component int")
