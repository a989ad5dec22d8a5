"""Tier B relational surface, second pack (SURVEY.md §2.B addendum).

Fills the remaining SQL-surface corners a user of the reference's SQLite
passthrough (reference src/main.rs:220) would reach for next: exact
percentiles/median, argmin/argmax, order-deterministic string
aggregation, boolean/bitwise aggregates, calendar-spine gap fill,
per-key top-n via LATERAL, map-typed columns, date/interval arithmetic,
and a regexp pack. Everything is built-in pyspark.sql.functions (JVM
codegen); oracle = DuckDB SQL on the same parquet views.

Oracle discipline as in queries/registry.py: identical aliases both
sides, floats rounded, explicit casts where the engines' natural widths
differ, deterministic tie-breaks everywhere ordering feeds the result.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..numerics import cents_sum, cents_sum_sql, units_sum, units_sum_sql
from .registry import query
from .relational import T


# ------------------------------------------------------- exact order stats

@query("agg_percentile_exact", oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6)        AS qty_p50,
           round(quantile_cont(l_quantity, 0.9), 6)        AS qty_p90,
           round(median(l_extendedprice), 6)               AS price_med
    FROM lineitem
    GROUP BY l_returnflag
""")
def agg_percentile_exact(spark, sf_dir):
    """EXACT percentiles (sort-based, linear interpolation) per group —
    the precise counterpart of `approx_percentile`'s sketch. Both
    engines interpolate identically, so values hash-match. At 100 TB the
    exact path costs a per-group sort; the approx sketch is the default
    and this is the audit tool."""
    li = T(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("qty_p50"),
                 F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("qty_p90"),
                 F.round(F.median("l_extendedprice"), 6).alias("price_med")))


@query("agg_argminmax", oracle="""
    WITH per_price AS (
        SELECT o_orderpriority, o_totalprice,
               max(o_orderkey) AS max_k, min(o_orderkey) AS min_k
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority,
           max_by(max_k, o_totalprice)      AS top_order,
           min_by(min_k, o_totalprice)      AS bottom_order,
           round(max(o_totalprice), 2)      AS top_price
    FROM per_price
    GROUP BY o_orderpriority
""")
def agg_argminmax(spark, sf_dir):
    """argmax/argmin per group via max_by/min_by. Price ties are broken
    structurally: a pre-aggregation per (group, price) keeps max/min
    orderkey, so the argmax input has unique ordering keys and the
    answer is engine-independent (DuckDB's arg_max takes no composite
    ordering key, so a struct tie-break wouldn't port). Both levels are
    map-side-combinable aggregations — no window, no self-join."""
    o = T(spark, sf_dir, "orders")
    per_price = (o.groupBy("o_orderpriority", "o_totalprice")
                 .agg(F.max("o_orderkey").alias("max_k"),
                      F.min("o_orderkey").alias("min_k")))
    return (per_price.groupBy("o_orderpriority")
            .agg(F.max_by("max_k", "o_totalprice").alias("top_order"),
                 F.min_by("min_k", "o_totalprice").alias("bottom_order"),
                 F.round(F.max("o_totalprice"), 2).alias("top_price")))


@query("agg_listagg", oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(count(*) AS BIGINT)                AS n_nations
    FROM region JOIN nation ON r_regionkey = n_regionkey
    GROUP BY r_name
""")
def agg_listagg(spark, sf_dir):
    """Order-deterministic string aggregation (SQLite group_concat /
    LISTAGG): collect_list -> array_sort -> array_join pins the element
    order that plain group_concat leaves partition-dependent — the only
    way a concatenated aggregate can hash-match across engines (or
    across two runs of the same cluster)."""
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    return (r.join(n, r.r_regionkey == n.n_regionkey)
            .groupBy("r_name")
            .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",")
                  .alias("nations"),
                 F.count("*").alias("n_nations")))


@query("agg_bool_bit", oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity < 50)                        AS all_small,
           bool_or(l_discount > 0.09)                       AS any_deep_disc,
           CAST(bit_and(l_orderkey % 256) AS BIGINT)        AS key_bit_and,
           CAST(bit_or(l_orderkey % 256) AS BIGINT)         AS key_bit_or,
           CAST(bit_xor(l_orderkey % 256) AS BIGINT)        AS key_bit_xor
    FROM lineitem
    GROUP BY l_returnflag
""")
def agg_bool_bit(spark, sf_dir):
    """Boolean (every/any) and bitwise (AND/OR/XOR) aggregates — the
    flag-summary primitives. All five are single-pass, map-side
    combinable, O(1) state per group."""
    li = T(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey") % 256
    return (li.groupBy("l_returnflag")
            .agg(F.bool_and(F.col("l_quantity") < 50).alias("all_small"),
                 F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_disc"),
                 F.bit_and(k).alias("key_bit_and"),
                 F.bit_or(k).alias("key_bit_or"),
                 F.bit_xor(k).alias("key_bit_xor")))


# ------------------------------------------------------------ calendar spine

@query("date_spine", oracle=f"""
    WITH spine AS (
        SELECT CAST(d AS DATE) AS day
        FROM generate_series(DATE '1995-06-01', DATE '1995-06-30',
                             INTERVAL 1 DAY) AS t(d)
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               count(*)                  AS n_orders,
               {cents_sum_sql('o_totalprice')} AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-06-01'
          AND o_orderdate <  TIMESTAMP '1995-07-01'
        GROUP BY 1
    )
    SELECT s.day,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
           coalesce(revenue, 0.0)                AS revenue
    FROM spine s LEFT JOIN daily USING (day)
""")
def date_spine(spark, sf_dir):
    """Calendar-spine gap fill: generate the full day range with
    sequence()+explode, left-join the daily aggregate, zero-fill missing
    days. The spine is generated (no scan) and tiny; the fact aggregation
    carries the pushed-down date filter — the standard time-series
    densification with no driver-side loop."""
    o = T(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit("1995-06-01").cast("date"),
                             F.lit("1995-06-30").cast("date"))).alias("day"))
    daily = (o.filter((F.col("o_orderdate") >= "1995-06-01")
                      & (F.col("o_orderdate") < "1995-07-01"))
             .groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.count("*").alias("n_orders"),
                  cents_sum(F.col("o_totalprice")).alias("revenue")))
    return (spine.join(daily, "day", "left")
            .select("day",
                    F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                    F.coalesce("revenue", F.lit(0.0)).alias("revenue")))


# ------------------------------------------------------------- lateral top-n

@query("lateral_topn", oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
    FROM orders o,
         LATERAL (SELECT l_linenumber, l_extendedprice
                  FROM lineitem
                  WHERE l_orderkey = o.o_orderkey
                  ORDER BY l_extendedprice DESC, l_linenumber
                  LIMIT 2) l
    WHERE o.o_totalprice > 450000
""")
def lateral_topn(spark, sf_dir):
    """Per-key top-n as a correlated LATERAL subquery (SQL form) —
    Catalyst decorrelates it into a join + per-key WindowGroupLimit, the
    same plan the explicit window rewrite produces, so the nested-loop
    the SQL text implies never executes. Tie-break on l_linenumber makes
    the 2-row cut deterministic."""
    return spark.sql("""
        SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM {orders} o,
             LATERAL (SELECT l_linenumber, l_extendedprice
                      FROM {lineitem}
                      WHERE l_orderkey = o.o_orderkey
                      ORDER BY l_extendedprice DESC, l_linenumber
                      LIMIT 2) l
        WHERE o.o_totalprice > 450000
    """, orders=T(spark, sf_dir, "orders"),
        lineitem=T(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------- map columns

@query("map_funcs", oracle="""
    SELECT o_orderkey, k, v, CAST(2 AS INT) AS n_keys
    FROM (
        SELECT o_orderkey, 'status' AS k, o_orderstatus  AS v FROM orders
        UNION ALL
        SELECT o_orderkey, 'priority',    o_orderpriority      FROM orders
    )
    WHERE o_orderkey < 1000
""")
def map_funcs(spark, sf_dir):
    """Map-typed column plumbing: build map<string,string> per row with
    map_from_arrays, take size(), explode to (key, value) rows. Maps are
    first-class in Spark SQL (the natural carrier for sparse per-row
    attributes); the oracle states the same rows relationally."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    m = F.map_from_arrays(F.array(F.lit("status"), F.lit("priority")),
                          F.array("o_orderstatus", "o_orderpriority"))
    return (o.select("o_orderkey", m.alias("m"))
            .select("o_orderkey", F.explode("m").alias("k", "v"),
                    F.size("m").alias("n_keys"))
            .select("o_orderkey", "k", "v", "n_keys"))


# ------------------------------------------------------- interval arithmetic

@query("interval_arith", oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 DAY  AS DATE)      AS ship_by,
           CAST(o_orderdate + INTERVAL 2 MONTH AS DATE)     AS review_month,
           CAST(date_trunc('month', o_orderdate) AS DATE)   AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '1998-01-01') AS INT)        AS days_to_98,
           CAST(isodow(o_orderdate) - 1 AS INT)             AS weekday_mon0,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT)   AS qtr
    FROM orders WHERE o_orderkey < 2000
""")
def interval_arith(spark, sf_dir):
    """Date/interval arithmetic pack (SQLite's date(x, '+N day', 'start
    of month', …) modifiers): interval add, month add (end-clamped the
    same way in both engines), truncation, last_day, day difference,
    Monday-based weekday, quarter. All codegen'd date math on the int
    epoch-day representation."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_add(d.cast("date"), 3).alias("ship_by"),
        F.add_months(d.cast("date"), 2).alias("review_month"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.datediff(F.lit("1998-01-01").cast("date"), d.cast("date"))
         .cast("int").alias("days_to_98"),
        F.weekday(d.cast("date")).cast("int").alias("weekday_mon0"),
        F.quarter(d).cast("int").alias("qtr"))


# ------------------------------------------------------------------- regexp

@query("regexp_pack", oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)$', 1)                  AS noun,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels,
           regexp_replace(p_name, '[aeiou]', '_', 'g')             AS devoweled,
           regexp_matches(p_name, '^(red|blue)')                   AS is_primary
    FROM part
""")
def regexp_pack(spark, sf_dir):
    """Regexp pack: extract / count / global replace / match-test.
    Patterns kept in the common Java-regex ∩ RE2 subset (no backrefs,
    no lookaround) so both engines agree. All four run inside
    whole-stage codegen — regexps are JVM-side, never a Python UDF."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("noun"),
        F.regexp_count("p_name", F.lit(r"[aeiou]")).cast("int").alias("n_vowels"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike(r"^(red|blue)").alias("is_primary"))


@query("customer_rfm", oracle=f"""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         DATE '2001-09-01')       AS recency_days,
               count(*)                            AS frequency,
               {cents_sum_sql('o_totalprice')}
                                                   AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT *,
               ntile(4) OVER (ORDER BY recency_days, o_custkey)      AS r,
               ntile(4) OVER (ORDER BY frequency DESC, o_custkey)    AS f,
               ntile(4) OVER (ORDER BY monetary DESC, o_custkey)     AS m
        FROM rfm
    )
    SELECT r, f, m,
           CAST(count(*) AS BIGINT)        AS n_customers,
           {cents_sum_sql('monetary')}
                                           AS segment_value
    FROM scored GROUP BY r, f, m
""")
def customer_rfm(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary quartiles): one
    per-customer aggregation, three ntile windows (each tie-broken by
    custkey so quartile edges are engine-independent), then a segment
    rollup. The global ntile sort is over the CUSTOMER aggregate, not
    the fact table — at 100 TB that's dim-cardinality, and each window
    is one range-partitioned sort of 3-column rows."""
    o = T(spark, sf_dir, "orders")
    rfm = (o.groupBy("o_custkey")
           .agg(F.datediff(F.lit("2001-09-01").cast("date"),
                           F.max("o_orderdate").cast("date")).alias("recency_days"),
                F.count("*").alias("frequency"),
                cents_sum(F.col("o_totalprice")).alias("monetary")))
    scored = rfm.select(
        "*",
        F.ntile(4).over(Window.orderBy("recency_days", "o_custkey")).alias("r"),
        F.ntile(4).over(Window.orderBy(F.col("frequency").desc(),
                                       "o_custkey")).alias("f"),
        F.ntile(4).over(Window.orderBy(F.col("monetary").desc(),
                                       "o_custkey")).alias("m"))
    return (scored.groupBy("r", "f", "m")
            .agg(F.count("*").alias("n_customers"),
                 cents_sum(F.col("monetary")).alias("segment_value")))


@query("set_bag_ops", oracle="""
    WITH a AS (SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q
               FROM lineitem WHERE l_orderkey < 3000),
         b AS (SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q
               FROM lineitem WHERE l_orderkey >= 1500 AND l_orderkey < 4500)
    SELECT f, q, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT * FROM a INTERSECT ALL SELECT * FROM b
    ) GROUP BY f, q
""")
def set_bag_ops(spark, sf_dir):
    """Bag-semantics set operation (INTERSECT ALL): duplicates preserved
    up to the minimum multiplicity on each side — the multiset algebra
    SQLite's compound SELECTs only offer in distinct form for INTERSECT.
    Spark's intersectAll implements it as one aggregation of per-side
    counts, no join. Output re-aggregated so the check compares
    multiplicities explicitly."""
    li = T(spark, sf_dir, "lineitem")
    a = (li.filter(F.col("l_orderkey") < 3000)
         .select(F.col("l_returnflag").alias("f"),
                 F.col("l_quantity").cast("bigint").alias("q")))
    b = (li.filter((F.col("l_orderkey") >= 1500) & (F.col("l_orderkey") < 4500))
         .select(F.col("l_returnflag").alias("f"),
                 F.col("l_quantity").cast("bigint").alias("q")))
    return (a.intersectAll(b)
            .groupBy("f", "q").agg(F.count("*").alias("n")))


@query("window_ignore_nulls", oracle="""
    SELECT o_orderkey,
           first_value(big_price IGNORE NULLS) OVER w  AS first_big,
           last_value(big_price IGNORE NULLS)  OVER w  AS running_last_big
    FROM (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_totalprice > 300000
                    THEN round(o_totalprice, 2) END AS big_price
        FROM orders WHERE o_orderkey < 2000
    )
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def window_ignore_nulls(spark, sf_dir):
    """IGNORE NULLS navigation: first/last non-null value over a running
    frame — the gap-filling / last-observation-carried-forward primitive
    (sparse sensor readings, sessionized attributes). NULLs are
    manufactured with a CASE so the skip behavior is actually exercised;
    same single window sort serves both functions."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    from pyspark.sql.window import Window as W
    w = (W.partitionBy("o_custkey").orderBy("o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    big = F.when(F.col("o_totalprice") > 300000,
                 F.round(F.col("o_totalprice"), 2))
    return (o.select("o_orderkey", "o_custkey", big.alias("big_price"))
            .select("o_orderkey",
                    F.first("big_price", ignorenulls=True).over(w)
                     .alias("first_big"),
                    F.last("big_price", ignorenulls=True).over(w)
                     .alias("running_last_big")))


@query("customer_rfm_scaled", oracle=f"""
    WITH rfm AS (
        SELECT o_custkey,
               CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                              DATE '2001-09-01') AS BIGINT) AS rec,
               CAST(count(*) AS BIGINT)                     AS freq,
               {units_sum_sql(
                   'o_totalprice', 100)}                              AS mon
        FROM orders GROUP BY o_custkey
    ),
    b AS (
        SELECT quantile_cont(rec, 0.25) AS r1, quantile_cont(rec, 0.50) AS r2,
               quantile_cont(rec, 0.75) AS r3,
               quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.50) AS f2,
               quantile_cont(freq, 0.75) AS f3,
               quantile_cont(mon, 0.25) AS m1, quantile_cont(mon, 0.50) AS m2,
               quantile_cont(mon, 0.75) AS m3
        FROM rfm
    )
    SELECT CAST(1 + CAST(rec > r1 AS INT) + CAST(rec > r2 AS INT)
                  + CAST(rec > r3 AS INT) AS INTEGER) AS r,
           CAST(4 - CAST(freq > f1 AS INT) - CAST(freq > f2 AS INT)
                  - CAST(freq > f3 AS INT) AS INTEGER) AS f,
           CAST(4 - CAST(mon > m1 AS INT) - CAST(mon > m2 AS INT)
                  - CAST(mon > m3 AS INT) AS INTEGER) AS m,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(mon) / 100.0, 2) AS segment_value
    FROM rfm, b
    GROUP BY 1, 2, 3
""")
def customer_rfm_scaled(spark, sf_dir):
    """RFM segmentation, the SCALE-PATH variant: quartile classes come
    from exact percentile BOUNDARIES broadcast onto the scan (the
    range_partition_histogram machinery) instead of customer_rfm's
    three ntile windows — at a billion customers the ntile form
    single-partitions three times; this form is one aggregate + one
    broadcast, period.

    Semantics note (why both keys exist): ntile splits TIES across
    tiles to equalize row counts; boundary classing puts every tied
    value in one class — the honest trade for distributing. All three
    metrics are exact integers (days / counts / cents) and boundaries
    interpolate at dyadic quantiles, so both engines class every
    customer identically. r=1 is most recent; f=1 / m=1 are the
    most frequent / highest value (matching customer_rfm's DESC
    ntiles)."""
    o = T(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("2001-09-01").cast("date"),
                   F.max("o_orderdate").cast("date")).cast("bigint")
        .alias("rec"),
        F.count("*").alias("freq"),
        units_sum(F.col("o_totalprice"), 100)
        .alias("mon"))
    b = rfm.agg(*[F.percentile(c, q).alias(f"{c[0]}{i}")
                  for c in ("rec", "freq", "mon")
                  for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))])

    def cls(col, pfx, asc):
        hits = sum((F.col(col) > F.col(f"{pfx}{i}")).cast("int")
                   for i in (1, 2, 3))
        return (1 + hits) if asc else (4 - hits)

    return (rfm.crossJoin(F.broadcast(b))
            .groupBy(cls("rec", "r", True).alias("r"),
                     cls("freq", "f", False).alias("f"),
                     cls("mon", "m", False).alias("m"))
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.sum("mon") / 100.0, 2).alias("segment_value")))


@query("generator_funcs", oracle="""
    WITH stacked AS (
        SELECT r_regionkey, 'key_sq' AS metric,
               CAST(r_regionkey * r_regionkey AS BIGINT) AS val
        FROM region
        UNION ALL
        SELECT r_regionkey, 'name_len' AS metric,
               CAST(length(r_name) AS BIGINT) AS val
        FROM region
    ),
    arrs AS (
        SELECT r_regionkey, metric, val,
               CASE WHEN val % 3 = 0
                    THEN [{'pos': CAST(NULL AS INTEGER),
                           'item': CAST(NULL AS BIGINT)}]
                    ELSE [{'pos': CAST(i - 1 AS INTEGER),
                           'item': CAST(i AS BIGINT)}
                          for i in range(1, CAST(val % 3 AS BIGINT) + 1)]
               END AS items
        FROM stacked
    )
    SELECT r_regionkey, metric, val,
           unnest(items, recursive := true)
    FROM arrs
""")
def generator_funcs(spark, sf_dir):
    """Row-generator surface (stack + posexplode_outer): stack() pivots
    two per-region metrics into rows without a UNION of scans (one scan,
    codegen'd), then posexplode_outer unrolls a derived sequence of
    length val mod 3 — OUTER keeps the parent row with NULL (pos, item)
    when the sequence is empty, the generator twin of a left join.
    SQLite (the reference's engine) has no generator functions at all;
    json_each is its closest cousin (covered by json_kv_explode).

    The oracle builds the same rows with UNION ALL + unnest WITH
    ORDINALITY, emulating OUTER via a sentinel single-NULL list on the
    empty case. All values integer-exact; generators never shuffle —
    output cardinality grows executor-side."""
    r = T(spark, sf_dir, "region")
    stacked = r.selectExpr(
        "r_regionkey",
        "stack(2, 'key_sq', CAST(r_regionkey * r_regionkey AS BIGINT), "
        "'name_len', CAST(length(r_name) AS BIGINT)) AS (metric, val)")
    return (stacked
            .select("r_regionkey", "metric", "val",
                    F.expr("CASE WHEN val % 3 = 0 THEN array() "
                           "ELSE sequence(1L, val % 3) END").alias("items"))
            .select("r_regionkey", "metric", "val",
                    F.posexplode_outer("items").alias("pos", "item")))
