"""Data-quality & pagination pack (Tier B/C extensions).

Column profiling, Benford digit screening, snapshot diffing, keyset
pagination, and period-rank movement — the operational QA shapes around
a warehouse. All single- or double-shuffle declarative plans; the
reference reaches the same semantics through its SQL passthrough
(reference src/main.rs:220).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import query, scratch_dir
from .relational import T
from .operational import cdc_merge_upsert
from ..numerics import cents_sum, cents_sum_sql, units_sum, units_sum_sql


# ------------------------------------------------------- profiling

@query("profile_columns", oracle="""
    SELECT 'o_totalprice' AS col_name,
           count(*) AS n,
           count(*) - count(o_totalprice) AS n_null,
           count(DISTINCT o_totalprice) AS n_distinct,
           round(min(o_totalprice), 2) AS min_d,
           round(max(o_totalprice), 2) AS max_d
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), NULL, NULL
    FROM orders
""")
def profile_columns(spark, sf_dir):
    """Column profile report (the first job any pipeline runs on a new
    table): per column — row count, null count, distinct count, numeric
    min/max — emitted long-format, one row per column.

    All three profiles aggregate in ONE pass over the fact: a single
    agg computes every statistic (distinct counts expand to the
    standard per-column dedup plans under the hood), and the long
    format is assembled from the 1-row result with a tiny union —
    never one scan per column."""
    o = T(spark, sf_dir, "orders")
    g = o.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.count("o_totalprice")).alias("null_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        (F.count("*") - F.count("o_custkey")).alias("null_cust"),
        F.countDistinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").cast("double").alias("min_cust"),
        F.max("o_custkey").cast("double").alias("max_cust"),
        (F.count("*") - F.count("o_orderstatus")).alias("null_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"))
    rows = [
        ("o_totalprice", "null_price", "nd_price", "min_price", "max_price"),
        ("o_custkey", "null_cust", "nd_cust", "min_cust", "max_cust"),
        ("o_orderstatus", "null_status", "nd_status", None, None),
    ]
    parts = [
        g.select(F.lit(name).alias("col_name"), F.col("n"),
                 F.col(nnull).alias("n_null"),
                 F.col(nd).alias("n_distinct"),
                 (F.col(mn) if mn else F.lit(None).cast("double"))
                 .alias("min_d"),
                 (F.col(mx) if mx else F.lit(None).cast("double"))
                 .alias("max_d"))
        for name, nnull, nd, mn, mx in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------- benford

@query("stats_benford", oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit, count(*) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS obs_frac,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_frac
    FROM d GROUP BY digit
""")
def stats_benford(spark, sf_dir):
    """Benford's-law screen: leading-digit distribution of order totals
    vs the log10(1 + 1/d) expectation — the classic fraud/synthetic-data
    smell test.

    The leading digit comes from the DECIMAL string rendering (both
    engines canonicalize DECIMAL(18,2) identically) rather than
    log/pow arithmetic, whose float rounding at exact powers of ten
    would disagree between engines. One scan, |digits| groups, the
    fraction normalized by a window over the 9-row aggregate."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        1, 1).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n"))
    return counts.select(
        "digit", "n",
        F.round(F.col("n") * F.lit(1.0)
                / F.sum("n").over(W.partitionBy()), 6).alias("obs_frac"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
         .alias("benford_frac"))


# ---------------------------------------------------- snapshot diff

@query("snapshot_diff", oracle="""
    WITH changes AS (
        SELECT c_custkey AS key,
               CASE WHEN c_custkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
               round(c_acctbal + 100.0, 2) AS new_acctbal,
               'UPGRADED' AS new_segment
        FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 17 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'I', round(c_acctbal, 2), 'FRESH'
        FROM customer WHERE c_custkey % 97 = 0
    ),
    new AS (
        SELECT coalesce(ch.key, c_custkey) AS c_custkey,
               CASE WHEN ch.op IN ('U', 'I') THEN ch.new_acctbal
                    ELSE round(c_acctbal, 2) END AS c_acctbal,
               CASE WHEN ch.op IN ('U', 'I') THEN ch.new_segment
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
        FULL JOIN changes ch ON c_custkey = ch.key
        WHERE ch.op IS NULL OR ch.op <> 'D'
    ),
    old AS (
        SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal, c_mktsegment
        FROM customer
    )
    SELECT CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                WHEN o.c_acctbal <> n.c_acctbal
                     OR o.c_mktsegment <> n.c_mktsegment THEN 'modified'
                ELSE 'unchanged' END AS op,
           count(*) AS n
    FROM old o FULL JOIN new n USING (c_custkey)
    GROUP BY 1
""")
def snapshot_diff(spark, sf_dir):
    """Snapshot diff report: classify every key across two table
    versions (the base customer snapshot vs the CDC-merged state from
    `cdc_merge_upsert`) as added / removed / modified / unchanged —
    the audit every incremental pipeline runs after a merge.

    One full-outer join on the key (the natural co-partitioning; both
    sides shuffle once), classification is a projection, and the
    report aggregates to 4 rows. Reuses the exact merge definition so
    the diff provably describes that operator's effect."""
    old = T(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment")
    new = cdc_merge_upsert(spark, sf_dir)
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"),
               "full_outer")
    op = (F.when(F.col("o.c_custkey").isNull(), "added")
          .when(F.col("n.c_custkey").isNull(), "removed")
          .when((F.col("o.c_acctbal") != F.col("n.c_acctbal"))
                | (F.col("o.c_mktsegment") != F.col("n.c_mktsegment")),
                "modified")
          .otherwise("unchanged"))
    return j.groupBy(op.alias("op")).agg(F.count("*").alias("n"))


# ------------------------------------------------ keyset pagination

@query("keyset_pagination", oracle="""
    WITH anchor AS (
        SELECT o_totalprice AS a_price, o_orderkey AS a_key
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 1 OFFSET 39
    )
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders, anchor
    WHERE o_totalprice < a_price
       OR (o_totalprice = a_price AND o_orderkey > a_key)
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
""")
def keyset_pagination(spark, sf_dir):
    """Keyset (seek-method) pagination: page 3 of orders by
    (totalprice DESC, orderkey ASC), resuming AFTER the 40th row's
    composite key instead of OFFSET 40.

    The at-scale pagination idiom: OFFSET n forces every page to
    re-sort and skip n rows (cost grows per page), while the keyset
    predicate pushes to the scan and each page stays a constant-cost
    TakeOrderedAndProject. The anchor row itself is a 1-row broadcast
    from the previous page's tail."""
    o = T(spark, sf_dir, "orders")
    anchor = (o.orderBy(F.col("o_totalprice").desc(),
                        F.col("o_orderkey").asc())
              .limit(40)
              .orderBy(F.col("o_totalprice").asc(),
                       F.col("o_orderkey").desc())
              .limit(1)
              .select(F.col("o_totalprice").alias("a_price"),
                      F.col("o_orderkey").alias("a_key")))
    return (o.crossJoin(F.broadcast(anchor))
            .filter((F.col("o_totalprice") < F.col("a_price"))
                    | ((F.col("o_totalprice") == F.col("a_price"))
                       & (F.col("o_orderkey") > F.col("a_key"))))
            .select("o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"))
            .orderBy(F.col("o_totalprice").desc(),
                     F.col("o_orderkey").asc())
            .limit(20))


# -------------------------------------------------- rank movement

@query("rank_movement", oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS s_suppkey,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               {cents_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-05-01'
          AND l_shipdate <  TIMESTAMP '1995-07-01'
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT s_suppkey, month, revenue,
               rank() OVER (PARTITION BY month
                            ORDER BY revenue DESC, s_suppkey ASC) AS rk
        FROM rev
    )
    SELECT a.s_suppkey,
           CAST(a.rk AS BIGINT) AS rank_may,
           CAST(b.rk AS BIGINT) AS rank_jun,
           CAST(a.rk - b.rk AS BIGINT) AS moved_up
    FROM ranked a JOIN ranked b USING (s_suppkey)
    WHERE a.month = DATE '1995-05-01' AND b.month = DATE '1995-06-01'
    ORDER BY moved_up DESC, a.s_suppkey ASC
    LIMIT 15
""")
def rank_movement(spark, sf_dir):
    """Period-over-period rank movement: supplier revenue rank in May
    vs June 1995, top climbers first — the leaderboard-delta report.

    One pushed-down-filtered scan aggregates both months (month is a
    grouping key, not two queries); ranking windows run per month on
    the |suppliers| x 2 aggregate, and the self-join joins that tiny
    aggregate to itself on suppkey. Revenue snaps to cents before
    ranking so tie order is engine-independent."""
    le = T(spark, sf_dir, "lineitem")
    lo = F.lit("1995-05-01 00:00:00").cast("timestamp")
    hi = F.lit("1995-07-01 00:00:00").cast("timestamp")
    rev = (le.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
           .groupBy(F.col("l_suppkey").alias("s_suppkey"),
                    F.to_date(F.date_trunc("month", "l_shipdate"))
                     .alias("month"))
           .agg(cents_sum(le.l_extendedprice * (1 - le.l_discount))
                .alias("revenue")))
    wr = W.partitionBy("month").orderBy(
        F.col("revenue").desc(), F.col("s_suppkey").asc())
    ranked = rev.select("s_suppkey", "month",
                        F.rank().over(wr).cast("bigint").alias("rk"))
    a = ranked.filter(F.col("month") == F.lit("1995-05-01").cast("date"))
    b = ranked.filter(F.col("month") == F.lit("1995-06-01").cast("date"))
    return (a.alias("a").join(b.alias("b"), "s_suppkey")
            .select("s_suppkey",
                    F.col("a.rk").alias("rank_may"),
                    F.col("b.rk").alias("rank_jun"),
                    (F.col("a.rk") - F.col("b.rk")).alias("moved_up"))
            .orderBy(F.col("moved_up").desc(), F.col("s_suppkey").asc())
            .limit(15))


# ---------------------------------------------------- time rollup

@query("time_rollup", oracle=f"""
    SELECT coalesce(CAST(yr AS VARCHAR), '(all)') AS yr,
           coalesce(CAST(qtr AS VARCHAR), '(all)') AS qtr,
           coalesce(CAST(mon AS VARCHAR), '(all)') AS mon,
           CAST(GROUPING(yr) + GROUPING(qtr) + GROUPING(mon) AS INTEGER)
               AS lvl,
           count(*) AS n,
           {cents_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM (
        SELECT year(l_shipdate) AS yr, quarter(l_shipdate) AS qtr,
               month(l_shipdate) AS mon,
               l_extendedprice, l_discount
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
    )
    GROUP BY ROLLUP(yr, qtr, mon)
""")
def time_rollup(spark, sf_dir):
    """Time-hierarchy rollup (year -> quarter -> month plus grand
    total) in one pass — the hypertable/continuous-aggregate shape:
    every coarser granularity materializes from the same scan, so a
    dashboard hitting month AND quarter AND year costs one fact read.

    ROLLUP expands to 4 grouping sets that share the partial-aggregate
    shuffle; `lvl` counts rolled-up hierarchy levels (0 = month rows,
    3 = grand total). The year filter is pushed to the parquet scan."""
    le = T(spark, sf_dir, "lineitem")
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-01-01 00:00:00").cast("timestamp")
    base = (le.filter((F.col("l_shipdate") >= lo)
                      & (F.col("l_shipdate") < hi))
            .select(F.year("l_shipdate").alias("yr"),
                    F.quarter("l_shipdate").alias("qtr"),
                    F.month("l_shipdate").alias("mon"),
                    "l_extendedprice", "l_discount"))
    return (base.rollup("yr", "qtr", "mon")
            .agg(F.count("*").alias("n"),
                 cents_sum(F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                  .alias("revenue"),
                 (F.grouping("yr") + F.grouping("qtr") + F.grouping("mon"))
                 .cast("int").alias("lvl"))
            .select(F.coalesce(F.col("yr").cast("string"), F.lit("(all)"))
                     .alias("yr"),
                    F.coalesce(F.col("qtr").cast("string"), F.lit("(all)"))
                     .alias("qtr"),
                    F.coalesce(F.col("mon").cast("string"), F.lit("(all)"))
                     .alias("mon"),
                    "lvl", "n", "revenue"))


# ------------------------------------------- schema evolution read

@query("schema_evolution_read", oracle="""
    SELECT r_regionkey, r_name, NULL AS ingest_batch FROM region
    UNION ALL
    SELECT r_regionkey + 100, upper(r_name), 2 FROM region
""")
def schema_evolution_read(spark, sf_dir):
    """Schema-evolution read: two parquet batches written with
    DIFFERENT schemas (v2 adds an ingest_batch column) unify under one
    mergeSchema scan, v1 rows null-filling the new column — how a
    long-lived 100 TB table absorbs schema change without rewriting
    history.

    mergeSchema reconciles footers at planning time; each file still
    reads only its own columns (no data rewrite, no cast pass). The
    v2 batch derives deterministically from region so the oracle can
    replay both batches as a UNION."""

    r = T(spark, sf_dir, "region")
    out = scratch_dir("schevo")
    r.select("r_regionkey", "r_name").write.mode("overwrite").parquet(
        f"{out}/v1")
    (r.select((F.col("r_regionkey") + 100).alias("r_regionkey"),
              F.upper("r_name").alias("r_name"),
              F.lit(2).alias("ingest_batch"))
     .write.mode("overwrite").parquet(f"{out}/v2"))
    back = (spark.read.option("mergeSchema", "true")
            .parquet(f"{out}/v1", f"{out}/v2"))
    return back.select("r_regionkey", "r_name", "ingest_batch")


_IN_1996 = ("l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate <  TIMESTAMP '1997-01-01'")
_IN_1998 = ("l_shipdate >= TIMESTAMP '1998-01-01'"
            " AND l_shipdate <  TIMESTAMP '1999-01-01'")


@query("price_index_laspeyres", oracle=f"""
    WITH per AS (
        SELECT l_partkey,
               {units_sum_sql('l_extendedprice', 100, where=_IN_1996)} AS c0,
               {units_sum_sql('l_quantity', where=_IN_1996)} AS q0,
               {units_sum_sql('l_extendedprice', 100, where=_IN_1998)} AS c1,
               {units_sum_sql('l_quantity', where=_IN_1998)} AS q1
        FROM lineitem GROUP BY 1
    ),
    basket AS (
        SELECT q0,
               c0 / CAST(q0 AS DOUBLE) AS p0,
               c1 / CAST(q1 AS DOUBLE) AS p1
        FROM per WHERE q0 > 0 AND q1 > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_parts,
           round({units_sum_sql('q0 * p1', 1e4)} / 1e4
                 / ({units_sum_sql('q0 * p0', 1e4)} / 1e4),
                 6) AS laspeyres
    FROM basket
""")
def price_index_laspeyres(spark, sf_dir):
    """Laspeyres price index, 1998 vs the 1996 base year: the
    fixed-basket inflation measure sum(q0*p1)/sum(q0*p0) over parts
    traded in BOTH periods (p = unit price = revenue/quantity per
    part-period) — the canonical cross-period price analytics a
    warehouse computes.

    Shape: both periods come out of ONE scan (FILTERed aggregates per
    part, one map-side-combined shuffle); the basket terms are per-part
    rows and the index is a 1-row aggregate. Determinism: cents and
    quantities are exact bigints; each q0*p term is one fixed float
    expression per part snapped to integer 1e-4 units before summation
    (SURVEY 4.3 fixed-point rule), so accumulation order can't flake
    the hash."""
    le = T(spark, sf_dir, "lineitem")

    def period(y, col):
        inside = ((F.col("l_shipdate") >= F.lit(f"{y}-01-01")
                   .cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit(f"{y + 1}-01-01")
                     .cast("timestamp")))
        return F.sum(F.when(inside, col))

    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    per = le.groupBy("l_partkey").agg(
        period(1996, cents).alias("c0"), period(1996, qty).alias("q0"),
        period(1998, cents).alias("c1"), period(1998, qty).alias("q1"))
    basket = (per.filter((F.col("q0") > 0) & (F.col("q1") > 0))
              .select("q0",
                      (F.col("c0") / F.col("q0").cast("double")).alias("p0"),
                      (F.col("c1") / F.col("q1").cast("double")).alias("p1")))
    num = units_sum(F.col("q0") * F.col("p1"), 1e4) / 1e4
    den = units_sum(F.col("q0") * F.col("p0"), 1e4) / 1e4
    return basket.agg(F.count("*").alias("n_parts"),
                      F.round(num / den, 6).alias("laspeyres"))


@query("inventory_abc_xyz", oracle=f"""
    WITH monthly AS (
        SELECT l_partkey, date_trunc('month', l_shipdate) AS mon,
               {units_sum_sql('l_quantity')} AS q,
               {units_sum_sql('l_extendedprice', 100)} AS c
        FROM lineitem GROUP BY 1, 2
    ),
    per AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS nm,
               CAST(sum(q) AS BIGINT) AS sq,
               CAST(sum(q * q) AS BIGINT) AS sqq,
               CAST(sum(c) AS BIGINT) AS rev
        FROM monthly GROUP BY 1
    ),
    ranked AS (
        SELECT *,
               CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(sum(rev) OVER () AS BIGINT) AS tot
        FROM per
    ),
    classed AS (
        SELECT CASE WHEN 2 * cum <= tot THEN 'A'
                    WHEN 5 * cum <= 4 * tot THEN 'B'
                    ELSE 'C' END AS abc,
               CASE WHEN nm < 2 THEN 'Z'
                    WHEN 4 * nm * (nm * sqq - sq * sq)
                         < (nm - 1) * sq * sq THEN 'X'
                    WHEN nm * (nm * sqq - sq * sq)
                         < (nm - 1) * sq * sq THEN 'Y'
                    ELSE 'Z' END AS xyz,
               rev
        FROM ranked
    )
    SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(rev) / 100.0, 2) AS revenue
    FROM classed GROUP BY abc, xyz
""")
def inventory_abc_xyz(spark, sf_dir):
    """ABC/XYZ inventory classification — the planner's 9-box matrix:
    ABC = cumulative revenue share tiers (A: first 50%, B: to 80%,
    C: tail), XYZ = monthly-demand variability (X: cv < 0.5 steady,
    Y: cv < 1 variable, Z: erratic or < 2 observed months).

    Exactness: revenue tiers compare 2*cum <= tot / 5*cum <= 4*tot and
    variability compares k * n(n*Sqq - Sq^2) < (n-1) * Sq^2 — every
    classification test is pure bigint cross-multiplication (cv
    thresholds 0.5 and 1.0 squared into integers), so engines cannot
    disagree at a class boundary. Shape: the fact collapses to
    (part, month) then to parts (two map-side-combined shuffles); the
    cumulative-share window runs over the PART aggregate —
    dim-cardinality, safe by construction (same argument as
    pareto_share)."""
    le = T(spark, sf_dir, "lineitem")
    monthly = (le.groupBy("l_partkey",
                          F.date_trunc("month", F.col("l_shipdate"))
                          .alias("mon"))
               .agg(units_sum(F.col("l_quantity"))
                    .alias("q"),
                    units_sum(F.col("l_extendedprice"), 100).alias("c")))
    per = monthly.groupBy("l_partkey").agg(
        F.count("*").alias("nm"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum("c").alias("rev"))
    wcum = (W.orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
            .rowsBetween(W.unboundedPreceding, 0))
    ranked = per.select(
        "*",
        F.sum("rev").over(wcum).alias("cum"),
        F.sum("rev").over(W.partitionBy()).alias("tot"))
    var_num = (F.col("nm") * (F.col("nm") * F.col("sqq")
                              - F.col("sq") * F.col("sq")))
    var_den = (F.col("nm") - 1) * F.col("sq") * F.col("sq")
    abc = (F.when(2 * F.col("cum") <= F.col("tot"), "A")
           .when(5 * F.col("cum") <= 4 * F.col("tot"), "B")
           .otherwise("C"))
    xyz = (F.when(F.col("nm") < 2, "Z")
           .when(4 * var_num < var_den, "X")
           .when(var_num < var_den, "Y")
           .otherwise("Z"))
    return (ranked.select(abc.alias("abc"), xyz.alias("xyz"), "rev")
            .groupBy("abc", "xyz")
            .agg(F.count("*").alias("n_parts"),
                 F.round(F.sum("rev") / 100.0, 2).alias("revenue")))
