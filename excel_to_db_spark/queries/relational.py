"""Tier B relational operators (SURVEY.md §2.B).

The reference exposes these through its SQL passthrough into SQLite
(reference src/main.rs:220); here each is implemented with the Spark
DataFrame API (Catalyst supplies the physical strategy: broadcast hash
join for small dims, sort-merge for big ones, TakeOrderedAndProject for
top-k, partial aggregation map-side, etc.). Oracle = DuckDB SQL on the
same parquet views.

Scale notes are attached per operator where the plan choice matters at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load_table
from .registry import query


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- scans

@query("scan_full", oracle="SELECT r_regionkey, r_name FROM region")
def scan_full(spark, sf_dir):
    """Full table scan. Parquet vectorized reader + column pruning."""
    return T(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query("point_lookup", oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey = 100
""")
def point_lookup(spark, sf_dir):
    """Key lookup. SQLite used its unique index (reference
    src/main.rs:189); Spark pushes the predicate into the parquet scan
    (row-group min/max pruning) — check PushedFilters in .explain()."""
    return (T(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") == 100)
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))


@query("values_inline", oracle="""
    SELECT id, tag FROM (VALUES (CAST(1 AS BIGINT), 'alpha'),
                                (CAST(2 AS BIGINT), 'beta'),
                                (CAST(3 AS BIGINT), 'gamma')) AS t(id, tag)
""")
def values_inline(spark, sf_dir):
    """Inline VALUES relation (SQLite `SELECT * FROM (VALUES ...)`)."""
    return spark.sql(
        "SELECT id, tag FROM VALUES (CAST(1 AS BIGINT),'alpha'),"
        "(CAST(2 AS BIGINT),'beta'),(CAST(3 AS BIGINT),'gamma') AS t(id, tag)")


# ----------------------------------------------------- projection/filter

@query("project_expr", oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net_price,
           upper(l_returnflag) AS rflag
    FROM lineitem
""")
def project_expr(spark, sf_dir):
    """Projection with expressions + aliases (whole-stage codegen).

    Rounding is spelled floor(x*100+0.5)/100 on BOTH sides: per-row
    round() at 2dp hits half-tie cells where Spark (exact BigDecimal
    HALF_UP) and DuckDB (double multiply/round) disagree by 1 ulp; the
    floor formulation is identical IEEE double arithmetic in any engine."""
    le = T(spark, sf_dir, "lineitem")
    return le.select(
        "l_orderkey", "l_linenumber",
        (F.floor(le.l_extendedprice * (1 - le.l_discount) * 100 + 0.5) / 100)
            .alias("net_price"),
        F.upper("l_returnflag").alias("rflag"))


@query("filter_pred", oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 300000.0
""")
def filter_pred(spark, sf_dir):
    """Conjunctive WHERE; both predicates push to the parquet scan."""
    o = T(spark, sf_dir, "orders")
    return (o.filter((o.o_orderstatus == "F") & (o.o_totalprice > 300000.0))
             .select("o_orderkey", "o_totalprice"))


@query("filter_between_in", oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')
""")
def filter_between_in(spark, sf_dir):
    """BETWEEN + IN predicate filters; both push to the parquet scan."""
    le = T(spark, sf_dir, "lineitem")
    return (le.filter(le.l_quantity.between(10, 20)
                      & le.l_returnflag.isin("A", "R"))
              .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))


@query("filter_like", oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_name LIKE '%bolt%' AND p_type NOT LIKE 'PROMO%'
""")
def filter_like(spark, sf_dir):
    """LIKE patterns. NB SQLite LIKE is case-insensitive (SURVEY §4.3);
    the compat layer maps it to ilike — this query uses ANSI LIKE so the
    oracle agrees."""
    p = T(spark, sf_dir, "part")
    return (p.filter(p.p_name.like("%bolt%") & ~p.p_type.like("PROMO%"))
             .select("p_partkey", "p_name", "p_type"))


# ------------------------------------------------------------------ joins

@query("join_inner", oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 400000.0
""")
def join_inner(spark, sf_dir):
    """Inner equi-join. customer is the small dim -> broadcast hash join
    (no shuffle of the fact side); at 100 TB the orders side streams."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    c = T(spark, sf_dir, "customer")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
             .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment"))


@query("join_left", oracle="""
    SELECT c.c_custkey, count(o.o_orderkey) AS n_big_orders
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000.0) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
""")
def join_left(spark, sf_dir):
    """Left outer join preserving unmatched rows, then count(col) which
    skips the NULLs produced by non-matches."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000.0)
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
             .groupBy("c_custkey")
             .agg(F.count("o_orderkey").alias("n_big_orders")))


@query("join_full", oracle="""
    SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
    FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer
          WHERE c_acctbal < -900.0 GROUP BY c_nationkey) c
    FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier
               GROUP BY s_nationkey) s
      ON c.nk = s.nk
""")
def join_full(spark, sf_dir):
    """Full outer join of two pre-aggregated sides (both small after agg;
    at scale the aggregation shuffles, the join of aggregates is cheap)."""
    c = (T(spark, sf_dir, "customer").filter(F.col("c_acctbal") < -900.0)
         .groupBy(F.col("c_nationkey").alias("nk"))
         .agg(F.count("*").alias("n_cust")))
    s = (T(spark, sf_dir, "supplier")
         .groupBy(F.col("s_nationkey").alias("nk"))
         .agg(F.count("*").alias("n_supp")))
    return (c.join(s, c.nk == s.nk, "full")
             .select(F.coalesce(c.nk, s.nk).alias("nationkey"),
                     "n_cust", "n_supp"))


@query("join_cross", oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
""")
def join_cross(spark, sf_dir):
    """Cartesian product of two tiny dims (5 x 25 rows)."""
    return (T(spark, sf_dir, "region").crossJoin(T(spark, sf_dir, "nation"))
            .select("r_name", "n_name"))


@query("join_theta", oracle="""
    SELECT a.r_name AS a_name, b.r_name AS b_name
    FROM region a JOIN region b ON a.r_regionkey < b.r_regionkey
""")
def join_theta(spark, sf_dir):
    """Non-equi (theta) join -> BroadcastNestedLoopJoin; only sane when
    one side broadcasts, which Catalyst picks automatically here."""
    a = T(spark, sf_dir, "region").alias("a")
    b = T(spark, sf_dir, "region").alias("b")
    return (a.join(b, F.col("a.r_regionkey") < F.col("b.r_regionkey"))
             .select(F.col("a.r_name").alias("a_name"),
                     F.col("b.r_name").alias("b_name")))


@query("join_semi", oracle="""
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
""")
def join_semi(spark, sf_dir):
    """Left-semi join (SQLite reaches this via EXISTS/IN subqueries)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select("c_custkey"))


@query("join_anti", oracle="""
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
""")
def join_anti(spark, sf_dir):
    """Left-anti join: customers with no large order (the plain
    no-order-at-all variant is empty in this data — every customer
    ordered — which would make the check trivial)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey"))


# ------------------------------------------------------------- aggregates

# Exact money sum in integer cents — order-independent (numerics.py is
# the single definition; see it for the SQL twin and rationale).
from ..numerics import cents_sum, cents_sum_sql, units_sum_sql  # noqa: E402


@query("agg_basic", oracle=f"""
    SELECT count(*) AS n_rows,
           {cents_sum_sql('l_quantity')} AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
""")
def agg_basic(spark, sf_dir):
    """Global aggregate: partial (map-side) + final, no group keys."""
    le = T(spark, sf_dir, "lineitem")
    return le.agg(
        F.count("*").alias("n_rows"),
        cents_sum(F.col("l_quantity")).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"))


@query("agg_groupby", oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {cents_sum_sql('l_quantity')} AS sum_qty,
           {cents_sum_sql('l_extendedprice')} AS sum_base_price,
           {cents_sum_sql(
               'l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {cents_sum_sql(
               'l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           {cents_sum_sql('l_extendedprice')} / count(*) AS avg_price,
           {cents_sum_sql('l_discount')} / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
""")
def agg_groupby(spark, sf_dir):
    """Flagship: TPC-H Q1-shaped pricing summary. Hash aggregate with
    map-side partial aggregation — the canonical 100 TB scan+agg; the
    only shuffle moves a handful of (flag,status) groups."""
    le = T(spark, sf_dir, "lineitem")
    disc = le.l_extendedprice * (1 - le.l_discount)
    return (le.filter(le.l_shipdate <= F.lit("2001-06-01 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(cents_sum(F.col("l_quantity")).alias("sum_qty"),
                 cents_sum(F.col("l_extendedprice")).alias("sum_base_price"),
                 cents_sum(disc).alias("sum_disc_price"),
                 cents_sum(disc * (1 + le.l_tax)).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 # avg of exact-2dp values: snap the SUM to cents, then
                 # divide — both engines then hold bit-identical doubles,
                 # immune to the midpoint flake that round(avg(x), k)
                 # has when the true average lands on a k-dp boundary
                 # (avg_qty is exempt: integer quantities sum exactly).
                 (cents_sum(F.col("l_extendedprice")) / F.count("*"))
                 .alias("avg_price"),
                 (cents_sum(F.col("l_discount")) / F.count("*"))
                 .alias("avg_disc"),
                 F.count("*").alias("count_order")))


@query("agg_distinct", oracle="""
    SELECT count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
""")
def agg_distinct(spark, sf_dir):
    """COUNT(DISTINCT) aggregates — an extra shuffle per distinct key set."""
    le = T(spark, sf_dir, "lineitem")
    return le.agg(F.countDistinct("l_partkey").alias("n_parts"),
                  F.countDistinct("l_suppkey").alias("n_supps"),
                  F.count("*").alias("n_rows"))


@query("agg_having", oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) >= 15
""")
def agg_having(spark, sf_dir):
    """GROUP BY + HAVING == aggregate then filter on the aggregate."""
    return (T(spark, sf_dir, "orders")
            .groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
            .filter(F.col("n_orders") >= 15))


@query("agg_filter", oracle=f"""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25) AS n_big,
           {cents_sum_sql('l_extendedprice', where='l_discount > 0.05')}
               AS sum_hidisc
    FROM lineitem GROUP BY l_returnflag
""")
def agg_filter(spark, sf_dir):
    """FILTER-clause aggregates (SQLite >=3.30) == conditional agg."""
    le = T(spark, sf_dir, "lineitem")
    return (le.groupBy("l_returnflag")
            .agg(F.count(F.when(le.l_quantity > 25, 1)).alias("n_big"),
                 F.round(F.sum(F.when(le.l_discount > 0.05,
                                      F.round(le.l_extendedprice * 100)
                                      .cast("bigint"))) / 100.0, 2)
                  .alias("sum_hidisc")))


@query("agg_rollup", oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS rflag,
           coalesce(l_linestatus, '(all)') AS lstat,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_r,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_l,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
""")
def agg_rollup(spark, sf_dir):
    """ROLLUP with GROUPING markers — beyond SQLite (no GROUPING SETS
    there); native in both Spark and the oracle."""
    le = T(spark, sf_dir, "lineitem")
    return (le.rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.grouping("l_returnflag").cast("int").alias("g_r"),
                 F.grouping("l_linestatus").cast("int").alias("g_l"))
            .select(F.coalesce("l_returnflag", F.lit("(all)")).alias("rflag"),
                    F.coalesce("l_linestatus", F.lit("(all)")).alias("lstat"),
                    "g_r", "g_l", "n", "sum_qty"))


# ---------------------------------------------------------------- windows

@query("window_rank", oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    QUALIFY row_number() OVER w <= 5
""")
def window_rank(spark, sf_dir):
    """Ranking window functions; unique (acctbal, custkey) tie-break keeps
    the result deterministic. One shuffle on the partition key."""
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc()))
    c = T(spark, sf_dir, "customer")
    return (c.select("c_mktsegment", "c_custkey", "c_acctbal",
                     F.row_number().over(w).cast("bigint").alias("rn"),
                     F.rank().over(w).cast("bigint").alias("rnk"),
                     F.dense_rank().over(w).cast("bigint").alias("drnk"))
            .filter(F.col("rn") <= 5))


@query("window_lag_lead", oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER w AS prev_total,
           lead(o_totalprice) OVER w AS next_total,
           first_value(o_orderkey) OVER w AS first_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""")
def window_lag_lead(spark, sf_dir):
    """lag/lead/first_value analytics over per-customer order history."""
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc()))
    o = T(spark, sf_dir, "orders")
    return o.select("o_custkey", "o_orderkey",
                    F.lag("o_totalprice").over(w).alias("prev_total"),
                    F.lead("o_totalprice").over(w).alias("next_total"),
                    F.first("o_orderkey").over(w).alias("first_order"))


@query("window_frame_sum", oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS roll3,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
    FROM events
""")
def window_frame_sum(spark, sf_dir):
    """Aggregate-over-window with explicit ROWS frames."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w.rowsBetween(-2, 0)), 2).alias("roll3"),
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
         .alias("running"))


# ------------------------------------------------------------- sort/limit

@query("sort_multi", oracle="""
    SELECT c_custkey, seg FROM (
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg FROM customer
    ) t ORDER BY seg ASC NULLS FIRST, c_custkey DESC LIMIT 100
""")
def sort_multi(spark, sf_dir):
    """Multi-key sort with explicit null ordering + LIMIT (the LIMIT makes
    sort semantics observable under the order-insensitive hash)."""
    c = T(spark, sf_dir, "customer")
    return (c.select("c_custkey",
                     F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"))
             .orderBy(F.col("seg").asc_nulls_first(), F.col("c_custkey").desc())
             .limit(100))


@query("topk", oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""")
def topk(spark, sf_dir):
    """Top-k: Catalyst plans TakeOrderedAndProject — per-partition heaps,
    no global sort; exactly what you want at 100 TB."""
    return (T(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(10))


# ----------------------------------------------------------------- set ops

@query("set_union", oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
""")
def set_union(spark, sf_dir):
    """UNION (distinct) of the two nation-key projections."""
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


@query("set_intersect", oracle="""
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal < 0.0
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
""")
def set_intersect(spark, sf_dir):
    """INTERSECT (distinct semantics, as in SQLite)."""
    c = (T(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0.0)
         .select(F.col("c_nationkey").alias("nk")))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@query("set_except", oracle="""
    SELECT c_custkey AS ck FROM customer
    EXCEPT
    SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 300000.0
""")
def set_except(spark, sf_dir):
    """EXCEPT (distinct) — customers minus big spenders; non-empty,
    unlike nation-minus-supplier-nations (suppliers cover all 25)."""
    c = T(spark, sf_dir, "customer").select(F.col("c_custkey").alias("ck"))
    o = (T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
         .select(F.col("o_custkey").alias("ck")))
    return c.subtract(o)


@query("distinct_rows", oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""")
def distinct_rows(spark, sf_dir):
    """SELECT DISTINCT — the reference's only native dedup surface."""
    return T(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ------------------------------------------------------- subqueries / CTEs

@query("cte_query", oracle=f"""
    WITH cust_orders AS (
        SELECT o_custkey, count(*) AS n_orders,
               {units_sum_sql('o_totalprice', 100)} AS spent_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment, count(*) AS n_cust,
           round(sum(co.spent_cents) / count(*) / 100.0, 4) AS avg_spent
    FROM customer c JOIN cust_orders co ON c.c_custkey = co.o_custkey
    GROUP BY c.c_mktsegment
""")
def cte_query(spark, sf_dir):
    """CTE + join-back, via the spark.sql passthrough (the rebuild's
    analogue of reference src/main.rs:220). Money flows through the
    pipeline as integer cents end to end (SURVEY §4.3): the per-customer
    totals AND the segment average are exact until the final 4dp round,
    so no summation order on either engine can flip the hash."""
    return spark.sql(f"""
        WITH cust_orders AS (
            SELECT o_custkey, count(*) AS n_orders,
                   {units_sum_sql('o_totalprice', 100)} AS spent_cents
            FROM {{orders}} GROUP BY o_custkey
        )
        SELECT c.c_mktsegment, count(*) AS n_cust,
               round(sum(co.spent_cents) / count(*) / 100.0, 4) AS avg_spent
        FROM {{customer}} c JOIN cust_orders co ON c.c_custkey = co.o_custkey
        GROUP BY c.c_mktsegment
    """, orders=T(spark, sf_dir, "orders"),
        customer=T(spark, sf_dir, "customer"))


@query("cte_recursive", oracle="""
    WITH RECURSIVE seq(n) AS (
        SELECT 1 UNION ALL SELECT n + 1 FROM seq WHERE n < 25
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS total
    FROM seq
""")
def cte_recursive(spark, sf_dir):
    """Recursive CTE (SQLite WITH RECURSIVE; Spark >= 4.0 supports it)."""
    return spark.sql("""
        WITH RECURSIVE seq(n) AS (
            SELECT 1 UNION ALL SELECT n + 1 FROM seq WHERE n < 25
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS total
        FROM seq
    """)


@query("subquery_scalar", oracle="""
    SELECT count(*) AS n_above FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
""")
def subquery_scalar(spark, sf_dir):
    """Uncorrelated scalar subquery as a filter bound (one extra job)."""
    return spark.sql("""
        SELECT count(*) AS n_above FROM {orders}
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM {orders})
    """, orders=T(spark, sf_dir, "orders"))


@query("subquery_correlated", oracle="""
    SELECT c_custkey FROM customer c
    WHERE c_acctbal > (SELECT 2 * avg(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
""")
def subquery_correlated(spark, sf_dir):
    """Correlated scalar subquery; Catalyst decorrelates it into an
    aggregate + join (SQLite re-executes per row — O(n^2))."""
    return spark.sql("""
        SELECT c_custkey FROM {customer} c
        WHERE c_acctbal > (SELECT 2 * avg(c2.c_acctbal) FROM {customer} c2
                           WHERE c2.c_nationkey = c.c_nationkey)
    """, customer=T(spark, sf_dir, "customer"))


@query("window_frame_range", oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           count(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                          RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING)
               AS n_within_500,
           round(sum(c_acctbal) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                                      RANGE BETWEEN 500.0 PRECEDING AND CURRENT ROW), 2)
               AS sum_below
    FROM customer
""")
def window_frame_range(spark, sf_dir):
    """RANGE (value-based) window frames — peers counted by ORDER BY
    value distance, not row offsets (vs the ROWS frames in
    window_frame_sum). Completes the SQLite frame-spec matrix; Spark has
    no GROUPS frames or EXCLUDE (documented unsupported corner,
    SURVEY.md §2.B)."""
    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal"))
    return c.select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.count("*").over(w.rangeBetween(-500, 500)).alias("n_within_500"),
        F.round(F.sum("c_acctbal").over(w.rangeBetween(-500, 0)), 2)
         .alias("sum_below"))


@query("agg_pivot", oracle="""
    SELECT l_linestatus,
           round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS qty_A,
           round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS qty_N,
           round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS qty_R
    FROM lineitem GROUP BY l_linestatus
""")
def agg_pivot(spark, sf_dir):
    """PIVOT: rows -> columns per return flag. Spark's groupBy().pivot()
    with an EXPLICIT value list (omitting it adds a distinct-scan job to
    discover values — never do that at 100 TB); semantically identical
    to the conditional-aggregation ANSI form the oracle states."""
    le = T(spark, sf_dir, "lineitem")
    p = (le.groupBy("l_linestatus")
         .pivot("l_returnflag", ["A", "N", "R"])
         .agg(F.round(F.sum("l_quantity"), 2)))
    return p.select("l_linestatus",
                    F.col("A").alias("qty_A"),
                    F.col("N").alias("qty_N"),
                    F.col("R").alias("qty_R"))


@query("agg_stats", oracle="""
    SELECT round(stddev_samp(l_extendedprice), 4)             AS sd_price,
           round(var_samp(l_extendedprice), 2)                AS var_price,
           round(skewness(l_extendedprice), 4)                AS skew_price,
           round(kurtosis(l_extendedprice), 4)                AS kurt_price,
           round(corr(l_quantity, l_extendedprice), 6)        AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4)  AS covar_qty_price
    FROM lineitem
""")
def agg_stats(spark, sf_dir):
    """Statistical aggregates: stddev/variance/skewness/kurtosis/
    corr/covar — single-pass distributed moment computation (partial
    aggregation merges moment states across partitions). Rounded at 4dp:
    both engines' one-pass formulas agree to >=6 significant digits
    [measured]; skew/kurt differ last-ulp past that."""
    le = T(spark, sf_dir, "lineitem")
    return le.agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.skewness("l_extendedprice"), 4).alias("skew_price"),
        F.round(F.kurtosis("l_extendedprice"), 4).alias("kurt_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4)
         .alias("covar_qty_price"))


@query("sample_bernoulli", oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_total, true AS sample_within_2pct
    FROM lineitem
""")
def sample_bernoulli(spark, sf_dir):
    """TABLESAMPLE: Bernoulli 10% sample (seeded — deterministic within
    an engine, but engine-specific RNG, so like the approx sketches the
    hashed contract is the tolerance CLAIM: |rate - 0.1| < 0.02). At
    100 TB sampling is the front door of every profiling/quality job."""
    le = T(spark, sf_dir, "lineitem")
    sampled = le.sample(fraction=0.1, seed=42).count()
    return (le.agg(F.count("*").cast("bigint").alias("n_total"))
            .select("n_total",
                    (F.abs(F.lit(sampled) / F.col("n_total") - 0.1) < 0.02)
                    .alias("sample_within_2pct")))


@query("agg_cube", oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def agg_cube(spark, sf_dir):
    """CUBE: all 2^k grouping combinations in one pass. Spark expands the
    grouping sets before the aggregate, so it stays a single shuffle with
    partial aggregation (not k separate scans unioned). SQLite has no
    CUBE — extension beyond the reference surface, same as agg_rollup."""
    le = T(spark, sf_dir, "lineitem")
    return (le.cube("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count("*").alias("n")))


@query("agg_grouping_sets", oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping() markers (the only way to
    tell a real NULL group key from a rollup placeholder). Expressed via
    the SQL passthrough — the DataFrame API exposes only cube/rollup."""
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """, lineitem=T(spark, sf_dir, "lineitem"))


@query("window_cume", oracle="""
    SELECT s_suppkey, s_nationkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC)
""")
def window_cume(spark, sf_dir):
    """percent_rank + cume_dist (the remaining SQLite ranking functions).
    Unique tie-break key (s_suppkey) makes both distributions exact."""
    s = T(spark, sf_dir, "supplier")
    w = (Window.partitionBy("s_nationkey")
         .orderBy(F.col("s_acctbal").asc(), F.col("s_suppkey").asc()))
    return s.select(
        "s_suppkey", "s_nationkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


@query("unpivot_melt", oracle="""
    SELECT p_partkey, metric, value
    FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
                 p_retailprice AS retailprice FROM part)
    UNPIVOT (value FOR metric IN (size, retailprice))
""")
def unpivot_melt(spark, sf_dir):
    """UNPIVOT / melt: wide -> long without a join or union-of-scans
    (Spark Expand node, one pass over part). Inverse of agg_pivot."""
    p = T(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"))
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")


@query("set_union_by_name", oracle="""
    SELECT a, b FROM (SELECT s_suppkey AS a, s_name AS b FROM supplier)
    UNION ALL BY NAME (SELECT s_name AS b, s_suppkey AS a FROM supplier)
""")
def set_union_by_name(spark, sf_dir):
    """UNION ALL BY NAME: schema alignment by column name, not position
    — the safe union for evolving pipelines (a positional union here
    would scramble a bigint into a string column)."""
    s = T(spark, sf_dir, "supplier")
    left = s.select(F.col("s_suppkey").alias("a"), F.col("s_name").alias("b"))
    right = s.select(F.col("s_name").alias("b"), F.col("s_suppkey").alias("a"))
    return left.unionByName(right)


@query("window_topk_per_group", oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           event_id, value,
           CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (
              PARTITION BY event_type, time_bucket(INTERVAL '10 minutes', ts)
              ORDER BY value DESC, event_id ASC) AS rn
          FROM events)
    WHERE rn <= 2
""")
def window_topk_per_group(spark, sf_dir):
    """Top-k per group per time window (the 'best event per type per
    10 minutes' shape): rank inside (type, window), keep k. Catalyst
    inserts WindowGroupLimit below the shuffle, so each partition prunes
    to k rows per group BEFORE the exchange — the windowed analogue of
    TakeOrderedAndProject (see PLANS.md similarity_topk). Unique
    tie-break (event_id) pins determinism."""
    ev = T(spark, sf_dir, "events")
    w = (Window.partitionBy("event_type", F.window("ts", "10 minutes"))
         .orderBy(F.col("value").desc(), F.col("event_id").asc()))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .select("event_type",
                    F.window("ts", "10 minutes").start.alias("win_start"),
                    "event_id", "value", "rn"))


@query("cohort_retention", oracle="""
    WITH fo AS (
        SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(f.cohort AS DATE) AS cohort_month,
           CAST(date_diff('month', f.cohort,
                          date_trunc('month', o.o_orderdate)) AS INT)
               AS months_since,
           count(DISTINCT o.o_custkey) AS active_customers
    FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
""")
def cohort_retention(spark, sf_dir):
    """Cohort retention: customers grouped by first-order month, counted
    distinct per months-elapsed. The first-order table is a
    customer-cardinality aggregate of the fact table itself (a derived
    dim); at 100 TB both sides shuffle on custkey once and AQE picks the
    join strategy. Month arithmetic is exact on both engines because
    both operands are month-truncated."""
    o = T(spark, sf_dir, "orders")
    mo = F.date_trunc("month", "o_orderdate")
    fo = (o.groupBy("o_custkey").agg(F.min(mo).alias("cohort")))
    return (o.join(fo, "o_custkey")
            .groupBy(F.col("cohort").cast("date").alias("cohort_month"),
                     F.months_between(mo, F.col("cohort")).cast("int")
                     .alias("months_since"))
            .agg(F.countDistinct("o_custkey").alias("active_customers")))
