"""Candles/randomness/community/CV pack (round 5, batch 26): OHLC
time-bucket candles, the Wald-Wolfowitz runs test, Newman modularity
of a community assignment, and k-fold cross-validation of a decision
stump by histogram subtraction. The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this surface;
these are Tier-C mission operators:

- OHLC candles are the canonical downsampling of a value stream
  (finance's open/high/low/close) — first/last are ORDER-dependent
  aggregates, the part naive groupBy cannot express.
- The runs test asks "is this sequence random or does it cluster?" —
  the cheapest detector of serial dependence in a monitored series.
- Modularity scores a community assignment against the configuration-
  model null — the objective Louvain optimizes, computable exactly
  from degree sums when the communities are GIVEN.
- Histogram-subtraction CV is the scale trick worth showing: ONE
  histogram pass yields every fold's train histogram as (total -
  fold), so 5-fold cross-validation costs one scan, not five.

Determinism contract (SURVEY §4.3): candles are exact cents, runs
and degrees are exact integers, fold histograms are exact integer
tables, and every float statistic is one snapped expression over
already-reduced integers.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..numerics import erfc, erfc_sql, h32, h32_sql
from .registry import query
from .relational import T
from .tradegraph import cust_supp_edges, cust_supp_edges_sql


# ------------------------------------------------- hourly OHLC candles

@query("ts_ohlc_candles", oracle="""
    WITH px AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(round(value * 100) AS BIGINT) AS cents,
               ts, event_id,
               row_number() OVER (PARTITION BY CAST(floor(epoch(ts))
                                  AS BIGINT) // 3600
                                  ORDER BY ts, event_id) AS rn_o,
               row_number() OVER (PARTITION BY CAST(floor(epoch(ts))
                                  AS BIGINT) // 3600
                                  ORDER BY ts DESC, event_id DESC) AS rn_c
        FROM events
    )
    SELECT h AS hour_epoch,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(max(CASE WHEN rn_o = 1 THEN cents END) AS BIGINT)
               AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rn_c = 1 THEN cents END) AS BIGINT)
               AS close_cents
    FROM px GROUP BY h
    ORDER BY hour_epoch
""")
def ts_ohlc_candles(spark, sf_dir):
    """Hourly OHLC candles over the event value stream: open/close are
    the first/last value by (ts, event_id) within the hour (the
    deterministic total order), high/low are max/min — the canonical
    order-aware downsample that a plain groupBy cannot express.

    First/last come from two row_number windows PARTITIONED BY the
    hour bucket (ascending and descending), folded into the same
    per-hour aggregate as max/min via conditional max — one window
    shuffle keyed on the bucket, one combineable aggregate, both
    partitioned (never global). Values are exact integer cents; the
    hour index is floor(epoch)/3600 under the documented
    DuckDB-epoch/Spark-unix_timestamp parity rule.

    Scale shape: at 100 TB this is the standard two-exchange candle
    pipeline — hash-partition by hour for the window, then the reduce;
    rows out are bounded by the calendar."""
    ev = T(spark, sf_dir, "events").select("ts", "event_id", "value")
    h = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    px = ev.select(
        h.alias("h"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "ts", "event_id")
    w_o = Window.partitionBy("h").orderBy("ts", "event_id")
    w_c = Window.partitionBy("h").orderBy(F.col("ts").desc(),
                                          F.col("event_id").desc())
    px = (px.withColumn("rn_o", F.row_number().over(w_o))
          .withColumn("rn_c", F.row_number().over(w_c)))
    return (px.groupBy(F.col("h").alias("hour_epoch"))
            .agg(F.count("*").alias("n_trades"),
                 F.max(F.when(F.col("rn_o") == 1, F.col("cents")))
                  .alias("open_cents"),
                 F.max("cents").alias("high_cents"),
                 F.min("cents").alias("low_cents"),
                 F.max(F.when(F.col("rn_c") == 1, F.col("cents")))
                  .alias("close_cents"))
            .orderBy("hour_epoch"))


# ------------------------------------------- Wald-Wolfowitz runs test

@query("stats_runs_test", oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM daily
    ),
    signs AS (
        SELECT d, CASE WHEN x * n > s THEN 1 ELSE 0 END AS above
        FROM daily, tot
    ),
    runs AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(above) AS BIGINT) AS n1,
               CAST(count(*) - sum(above) AS BIGINT) AS n2,
               CAST(1 + sum(CASE WHEN above <> prev THEN 1 ELSE 0 END)
                    AS BIGINT) AS r
        FROM (SELECT above, lag(above) OVER (ORDER BY d) AS prev
              FROM signs)
        WHERE TRUE
    ),
    stat AS (
        SELECT n, n1, n2, r,
               round(2.0 * n1 * n2 / (n1 + n2) + 1, 6) AS e_r,
               round((2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2)
                     / ((n1 + n2) * 1.0 * (n1 + n2)
                        * (n1 + n2 - 1)), 6) AS v_r
        FROM runs
    ),
    zed AS (
        SELECT n, n1, n2, r, e_r, v_r,
               round((r - e_r) / sqrt(v_r), 6) + 0.0 AS z
        FROM stat
    )
    SELECT n, n1, n2, r AS n_runs, e_r, v_r, z,
           round({erfc_sql('abs(zed.z) / sqrt(2.0)')}, 8) AS p_value
    FROM zed
""")
def stats_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test (1940) on the daily event-count series
    dichotomized about its mean: too FEW runs of above/below means the
    series clusters (positive serial dependence), too many means it
    alternates. R = 1 + #sign changes; E[R] and Var[R] follow from n1,
    n2 alone; two-sided p via the A-S erfc polynomial on |z|
    (stats_fdr_bh protocol).

    The above/below comparison is exact integer cross-multiplication
    (x*n > s, never x > s/n with a float mean); runs, n1, n2 are exact
    integers off one lag window over the bounded day spine; z folds
    IEEE -0.0 (+ 0.0, the rolling-corr rule) before the p-value reads
    it.

    Scale shape: the fact collapses once to days; everything after is
    one ordered pass over the calendar-bounded series + scalar math."""
    ev = T(spark, sf_dir, "events").select("ts")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
             .agg(F.count("*").alias("x")))
    tot = daily.agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    signs = (daily.crossJoin(F.broadcast(tot))
             .select("d", F.when(F.col("x") * F.col("n") > F.col("s"), 1)
                     .otherwise(0).alias("above")))
    w = Window.orderBy("d")
    runs = (signs.withColumn("prev", F.lag("above").over(w))
            .agg(F.count("*").alias("n"),
                 F.sum("above").alias("n1"),
                 (F.count("*") - F.sum("above")).alias("n2"),
                 (1 + F.sum(F.when(F.col("above") != F.col("prev"), 1)
                            .otherwise(0))).alias("r")))
    e_r = F.round(2.0 * F.col("n1") * F.col("n2")
                  / (F.col("n1") + F.col("n2")) + 1, 6)
    v_r = F.round((2.0 * F.col("n1") * F.col("n2"))
                  * (2.0 * F.col("n1") * F.col("n2")
                     - F.col("n1") - F.col("n2"))
                  / ((F.col("n1") + F.col("n2")) * 1.0
                     * (F.col("n1") + F.col("n2"))
                     * (F.col("n1") + F.col("n2") - 1)), 6)
    stat = runs.select("n", "n1", "n2", F.col("r").alias("n_runs"),
                       e_r.alias("e_r"), v_r.alias("v_r"))
    zed = stat.withColumn(
        "z", F.round((F.col("n_runs") - F.col("e_r"))
                     / F.sqrt(F.col("v_r")), 6) + 0.0)
    za = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    return zed.select("n", "n1", "n2", "n_runs", "e_r", "v_r", "z",
                      F.round(erfc(za), 8).alias("p_value"))


# ------------------------------------------------ Newman modularity

@query("graph_modularity", oracle=f"""
    WITH {cust_supp_edges_sql()},
    labeled AS (
        SELECT cu.c_nationkey AS comm_c, su.s_nationkey AS comm_s
        FROM cs
        JOIN customer cu ON cu.c_custkey = cs.c
        JOIN supplier su ON su.s_suppkey = cs.s
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM labeled),
    intra AS (
        SELECT comm_c AS comm, CAST(count(*) AS BIGINT) AS e_in
        FROM labeled WHERE comm_c = comm_s GROUP BY comm_c
    ),
    deg AS (
        SELECT comm, CAST(sum(d) AS BIGINT) AS d_tot FROM (
            SELECT comm_c AS comm, CAST(count(*) AS BIGINT) AS d
            FROM labeled GROUP BY comm_c
            UNION ALL
            SELECT comm_s, CAST(count(*) AS BIGINT) FROM labeled
            GROUP BY comm_s
        ) GROUP BY comm
    ),
    terms AS (
        SELECT deg.comm, coalesce(intra.e_in, 0) AS e_in, deg.d_tot,
               CAST(round((coalesce(intra.e_in, 0) * 1.0 / m
                           - (d_tot * 1.0 / (2 * m))
                             * (d_tot * 1.0 / (2 * m))) * 1e9)
                    AS BIGINT) AS q_u
        FROM deg LEFT JOIN intra USING (comm) CROSS JOIN m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           (SELECT m FROM m) AS m_edges,
           round(CAST(sum(q_u) AS BIGINT) / 1e9, 6) AS modularity
    FROM terms
""")
def graph_modularity(spark, sf_dir):
    """Newman modularity (Newman & Girvan 2004) of the nation
    partition over the customer-supplier trade graph: Q = sum over
    communities of (e_in/m - (d_c/2m)^2) — how much denser
    within-nation trade is than the degree-preserving random null.
    This is the objective Louvain climbs; when the assignment is
    GIVEN, it is exactly computable from two degree aggregates (no
    iteration).

    Edge endpoints carry their nation labels via two broadcast dim
    joins; e_in, community degree sums, and m are exact BIGINTs; each
    community's term snaps to 1e-9 units before the final sum
    (SURVEY §4.3), so Q is order-free.

    Scale shape: one DISTINCT-pair edge aggregate (the only
    corpus-sized shuffle), two broadcast label joins, then aggregates
    over the #communities-row table."""
    cu = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = cust_supp_edges(spark, sf_dir)
    labeled = (edges
               .join(F.broadcast(cu), edges.c == cu.c_custkey)
               .join(F.broadcast(su), edges.s == su.s_suppkey)
               .select(F.col("c_nationkey").alias("comm_c"),
                       F.col("s_nationkey").alias("comm_s")))
    m = labeled.agg(F.count("*").alias("m"))
    intra = (labeled.filter(F.col("comm_c") == F.col("comm_s"))
             .groupBy(F.col("comm_c").alias("comm"))
             .agg(F.count("*").alias("e_in")))
    deg = (labeled.groupBy(F.col("comm_c").alias("comm"))
           .agg(F.count("*").alias("d"))
           .unionAll(labeled.groupBy(F.col("comm_s").alias("comm"))
                     .agg(F.count("*").alias("d")))
           .groupBy("comm").agg(F.sum("d").alias("d_tot")))
    e_in = F.coalesce(F.col("e_in"), F.lit(0))
    terms = (deg.join(intra, "comm", "left")
             .crossJoin(F.broadcast(m))
             .select("comm", e_in.alias("e_in"), "d_tot",
                     F.round((e_in * 1.0 / F.col("m")
                              - (F.col("d_tot") * 1.0 / (2 * F.col("m")))
                                * (F.col("d_tot") * 1.0
                                   / (2 * F.col("m")))) * 1e9)
                     .cast("bigint").alias("q_u")))
    return (terms.agg(F.count("*").alias("n_communities"),
                      F.round(F.sum("q_u") / 1e9, 6).alias("modularity"))
            .crossJoin(F.broadcast(m))
            .select("n_communities", F.col("m").alias("m_edges"),
                    "modularity"))


# ---------------------- k-fold CV of a decision stump (one-scan trick)

_CV_H = ("(CASE WHEN {p} = 0 OR {p} = {n} THEN 0.0 ELSE "
         "-({p} * 1.0 / {n}) * ln({p} * 1.0 / {n}) "
         "- (({n} - {p}) * 1.0 / {n}) * ln(({n} - {p}) * 1.0 / {n}) "
         "END)")


@query("ml_cv_stump", oracle=f"""
    WITH hist AS (
        SELECT {h32_sql("'cv:' || CAST(l_orderkey AS VARCHAR) || '-'"
                        " || CAST(l_linenumber AS VARCHAR)")} % 5 AS fold,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos
        FROM lineitem GROUP BY 1, 2
    ),
    tq AS (
        SELECT q, CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(pos) AS BIGINT) AS pos_all
        FROM hist GROUP BY q
    ),
    grid AS (
        SELECT f.fold, tq.q,
               tq.n_all - coalesce(h.n, 0) AS n_tr,
               tq.pos_all - coalesce(h.pos, 0) AS pos_tr,
               coalesce(h.n, 0) AS n_te,
               coalesce(h.pos, 0) AS pos_te
        FROM tq CROSS JOIN (SELECT unnest(range(0, 5)) AS fold) f
        LEFT JOIN hist h ON h.fold = f.fold AND h.q = tq.q
    ),
    cum AS (
        SELECT fold, q,
               CAST(sum(n_tr) OVER w AS BIGINT) AS nl,
               CAST(sum(pos_tr) OVER w AS BIGINT) AS pl,
               CAST(sum(n_tr) OVER wf AS BIGINT) AS nt,
               CAST(sum(pos_tr) OVER wf AS BIGINT) AS pt,
               CAST(sum(n_te) OVER w AS BIGINT) AS tl_n,
               CAST(sum(pos_te) OVER w AS BIGINT) AS tl_pos,
               CAST(sum(n_te) OVER wf AS BIGINT) AS te_n,
               CAST(sum(pos_te) OVER wf AS BIGINT) AS te_pos
        FROM grid
        WINDOW w AS (PARTITION BY fold ORDER BY q),
               wf AS (PARTITION BY fold)
    ),
    gains AS (
        SELECT fold, q AS threshold, nl, pl, nt, pt,
               tl_n, tl_pos, te_n, te_pos,
               round({_CV_H.format(p='pt', n='nt')}
                     - (nl * {_CV_H.format(p='pl', n='nl')}
                        + (nt - nl) * {_CV_H.format(p='(pt - pl)',
                                                    n='(nt - nl)')})
                       / nt, 9) AS gain
        FROM cum WHERE nl < nt AND nl > 0
    ),
    best AS (
        SELECT * FROM (
            SELECT gains.*,
                   row_number() OVER (PARTITION BY fold
                                      ORDER BY gain DESC, threshold)
                       AS rk
            FROM gains
        ) WHERE rk = 1
    ),
    scored AS (
        SELECT fold, threshold, gain, te_n,
               (CASE WHEN 2 * pl > nl THEN tl_pos
                     ELSE tl_n - tl_pos END)
               + (CASE WHEN 2 * (pt - pl) > nt - nl
                       THEN te_pos - tl_pos
                       ELSE (te_n - tl_n) - (te_pos - tl_pos) END)
                   AS correct
        FROM best
    )
    SELECT fold, threshold, gain, te_n AS test_n, correct,
           round(correct * 1.0 / te_n, 6) AS test_acc
    FROM scored
    ORDER BY fold
""")
def ml_cv_stump(spark, sf_dir):
    """5-fold cross-validation of an information-gain decision stump
    on l_quantity vs the is-returned label — via the histogram-
    subtraction trick: ONE (fold, feature) histogram pass gives every
    fold's TRAIN histogram as (total - fold) by pure integer
    subtraction, so 5-fold CV costs one corpus scan instead of five.
    Per fold: pick the best threshold on the train histogram
    (information gain, the ml_split_info_gain formula), point each
    side at its train-majority class, score accuracy on the held-out
    fold — all from the same cumulative tables.

    Folds are md5 lanes over the row key (orderkey-linenumber).
    Entropies are the identical plain-text expression over exact
    BIGINTs on both engines (stats_fdr_bh libm protocol); ties in gain
    break toward the smallest threshold, ties in the majority vote
    predict negative — every decision is pinned.

    Scale shape: one map-side-combinable (fold, q) histogram (5 x 50
    rows bounded by folds x feature cardinality); the grid completion,
    cumulative windows (partitioned BY fold), best-row selection, and
    scoring all operate on that bounded table."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    fold = F.pmod(h32(F.concat(F.lit("cv:"),
                               F.col("l_orderkey").cast("string"),
                               F.lit("-"),
                               F.col("l_linenumber").cast("string"))),
                  F.lit(5))
    hist = (li.groupBy(fold.alias("fold"),
                       F.col("l_quantity").cast("bigint").alias("q"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("l_returnflag") == "R", 1)
                       .otherwise(0)).alias("pos")))
    tq = hist.groupBy("q").agg(F.sum("n").alias("n_all"),
                               F.sum("pos").alias("pos_all"))
    folds = spark.range(5).select(F.col("id").cast("bigint")
                                  .alias("fold"))
    grid = (tq.crossJoin(F.broadcast(folds))
            .join(hist, ["fold", "q"], "left")
            .select("fold", "q",
                    (F.col("n_all") - F.coalesce(F.col("n"), F.lit(0)))
                    .alias("n_tr"),
                    (F.col("pos_all")
                     - F.coalesce(F.col("pos"), F.lit(0)))
                    .alias("pos_tr"),
                    F.coalesce(F.col("n"), F.lit(0)).alias("n_te"),
                    F.coalesce(F.col("pos"), F.lit(0)).alias("pos_te")))
    w = Window.partitionBy("fold").orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wf = Window.partitionBy("fold")
    cum = grid.select(
        "fold", "q",
        F.sum("n_tr").over(w).alias("nl"),
        F.sum("pos_tr").over(w).alias("pl"),
        F.sum("n_tr").over(wf).alias("nt"),
        F.sum("pos_tr").over(wf).alias("pt"),
        F.sum("n_te").over(w).alias("tl_n"),
        F.sum("pos_te").over(w).alias("tl_pos"),
        F.sum("n_te").over(wf).alias("te_n"),
        F.sum("pos_te").over(wf).alias("te_pos"))

    def H(p, n):
        p1 = p * 1.0 / n
        p0 = (n - p) * 1.0 / n
        return (F.when((p == 0) | (p == n), F.lit(0.0))
                .otherwise(-p1 * F.log(p1) - p0 * F.log(p0)))

    nl, pl = F.col("nl"), F.col("pl")
    nt, pt = F.col("nt"), F.col("pt")
    gain = F.round(
        H(pt, nt) - (nl * H(pl, nl) + (nt - nl) * H(pt - pl, nt - nl))
        / nt, 9)
    gains = (cum.filter((nl < nt) & (nl > 0))
             .select("fold", F.col("q").alias("threshold"),
                     "nl", "pl", "nt", "pt",
                     "tl_n", "tl_pos", "te_n", "te_pos",
                     gain.alias("gain")))
    wb = Window.partitionBy("fold").orderBy(F.col("gain").desc(),
                                            F.col("threshold"))
    best = (gains.withColumn("rk", F.row_number().over(wb))
            .filter(F.col("rk") == 1))
    correct = (
        F.when(2 * F.col("pl") > F.col("nl"), F.col("tl_pos"))
        .otherwise(F.col("tl_n") - F.col("tl_pos"))
        + F.when(2 * (F.col("pt") - F.col("pl"))
                 > F.col("nt") - F.col("nl"),
                 F.col("te_pos") - F.col("tl_pos"))
        .otherwise((F.col("te_n") - F.col("tl_n"))
                   - (F.col("te_pos") - F.col("tl_pos"))))
    return (best.select("fold", "threshold", "gain",
                        F.col("te_n").alias("test_n"),
                        correct.alias("correct"))
            .withColumn("test_acc",
                        F.round(F.col("correct") * 1.0
                                / F.col("test_n"), 6))
            .orderBy("fold"))
