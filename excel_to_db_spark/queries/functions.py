"""Scalar-function packs (SURVEY.md §2.B rows: str/math/date/cond/cast/
JSON/arith) plus the UDF and approx-aggregate extension rows.

In the reference every one of these is SQLite's C implementation reached
through the passthrough at src/main.rs:220; here each is the same-named
built-in in pyspark.sql.functions (JVM-side, whole-stage codegen — never
a Python UDF except the deliberate `udf_scalar` demonstration, which is
an Arrow-batched pandas_udf).

Oracle-parity rules applied throughout (SURVEY.md §4.3): identical
aliases both sides, explicit casts where natural result widths differ
(Spark int vs DuckDB bigint), no transcendental functions in hashed
output (libm last-ulp differences), rounding spelled floor(x*k+0.5)/k.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..operators import physical
from .registry import query
from .relational import T
from ..numerics import units_sum_sql


@query("str_funcs", oracle="""
    SELECT p_partkey,
           CAST(length(p_name) AS BIGINT)            AS name_len,
           upper(p_brand)                            AS brand_up,
           lower(p_type)                             AS type_lo,
           substring(p_name, 1, 8)                   AS name8,
           trim(concat(' ', p_name, ' '))            AS name_trim,
           replace(p_type, ' ', '_')                 AS type_us,
           CAST(instr(p_name, 'bolt') AS BIGINT)     AS bolt_pos,
           lpad(CAST(p_size AS VARCHAR), 4, '0')     AS size4,
           reverse(p_brand)                          AS brand_rev,
           concat_ws('|', p_brand, p_type)           AS brand_type,
           CAST(ascii(p_name) AS INT)                AS first_cp
    FROM part
""")
def str_funcs(spark, sf_dir):
    """String function pack: length/upper/lower/substr/trim/replace/
    instr/lpad/reverse/concat_ws/ascii (SQLite core string funcs)."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.length("p_name").cast("bigint").alias("name_len"),
        F.upper("p_brand").alias("brand_up"),
        F.lower("p_type").alias("type_lo"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.instr("p_name", "bolt").cast("bigint").alias("bolt_pos"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.reverse("p_brand").alias("brand_rev"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.ascii("p_name").cast("int").alias("first_cp"))


@query("math_funcs", oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 30000.0)                   AS dev,
           CAST(sign(l_discount - 0.05) AS DOUBLE)          AS disc_sign,
           CAST(floor(l_extendedprice / 1000) AS BIGINT)    AS price_k,
           CAST(ceil(l_quantity / 10) AS BIGINT)            AS qty_decile,
           sqrt(l_extendedprice)                            AS price_sqrt,
           power(l_discount, 2)                             AS disc_sq,
           CAST(l_orderkey % 7 AS BIGINT)                   AS key_mod7,
           greatest(l_quantity, 25.0)                       AS qty_hi,
           least(l_quantity, 25.0)                          AS qty_lo
    FROM lineitem
""")
def math_funcs(spark, sf_dir):
    """Math pack: abs/sign/floor/ceil/sqrt/power/mod/greatest/least.
    sqrt is IEEE-exact so it hashes identically across engines;
    ln/exp/trig are intentionally excluded from hashed output (libm
    last-ulp differences), though Spark exposes them all the same."""
    le = T(spark, sf_dir, "lineitem")
    return le.select(
        "l_orderkey", "l_linenumber",
        F.abs(le.l_extendedprice - 30000.0).alias("dev"),
        F.signum(le.l_discount - 0.05).cast("double").alias("disc_sign"),
        F.floor(le.l_extendedprice / 1000).alias("price_k"),
        F.ceil(le.l_quantity / 10).alias("qty_decile"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.pow("l_discount", F.lit(2)).alias("disc_sq"),
        (le.l_orderkey % 7).cast("bigint").alias("key_mod7"),
        F.greatest(le.l_quantity, F.lit(25.0)).alias("qty_hi"),
        F.least(le.l_quantity, F.lit(25.0)).alias("qty_lo"))


@query("date_funcs", oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)      AS yr,
           CAST(month(o_orderdate) AS INT)     AS mo,
           CAST(day(o_orderdate) AS INT)       AS dy,
           CAST(quarter(o_orderdate) AS INT)   AS qtr,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           strftime(o_orderdate, '%Y-%m-%d')   AS iso_day,
           CAST(o_orderdate AS DATE) + 30      AS due_date,
           CAST(date_diff('day', TIMESTAMP '1997-01-01 00:00:00', o_orderdate)
                AS INT)                        AS days_since_97
    FROM orders
""")
def date_funcs(spark, sf_dir):
    """Date/time pack. SQLite's strftime modifiers map to year/month/
    day/quarter/date_trunc/date_format/date_add/datediff (the strftime
    pattern translation: %Y-%m-%d -> yyyy-MM-dd)."""
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dy"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.col("o_orderdate"),
                   F.lit("1997-01-01").cast("timestamp")).cast("int")
         .alias("days_since_97"))


@query("case_when", oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 9000 THEN 'mid'
                ELSE 'high' END                         AS bal_tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           CASE WHEN c_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS nk_parity
    FROM customer
""")
def case_when(spark, sf_dir):
    """Conditional pack: CASE WHEN / coalesce / nullif / iif."""
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(c.c_acctbal < 0, "debt")
         .when(c.c_acctbal < 5000, "low")
         .when(c.c_acctbal < 9000, "mid")
         .otherwise("high").alias("bal_tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER"))
         .alias("seg_or_other"),
        F.when(c.c_nationkey % 2 == 0, "even").otherwise("odd").alias("nk_parity"))


@query("cast_funcs", oracle="""
    SELECT l_orderkey,
           CAST(l_linenumber AS BIGINT)                   AS line_big,
           CAST(l_quantity AS BIGINT)                     AS qty_int,
           CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT)    AS key_roundtrip,
           CAST(l_shipdate AS DATE)                       AS ship_day,
           TRY_CAST('12abc' AS INT)                       AS bad_cast,
           TRY_CAST(concat(CAST(l_orderkey AS VARCHAR), '0') AS BIGINT) AS key_x10
    FROM lineitem
""")
def cast_funcs(spark, sf_dir):
    """CAST pack. SQLite CAST is permissive ('12abc'->12); ANSI Spark and
    DuckDB both error, so the oracle pair uses TRY_CAST (NULL) — the
    sqlite-compat layer maps CAST->TRY_CAST for dialect parity
    (compat/sqlite_dialect.py). l_quantity is integral-valued so the
    double->bigint cast truncation is unambiguous."""
    le = T(spark, sf_dir, "lineitem")
    return le.select(
        "l_orderkey",
        le.l_linenumber.cast("bigint").alias("line_big"),
        le.l_quantity.cast("bigint").alias("qty_int"),
        le.l_orderkey.cast("string").cast("bigint").alias("key_roundtrip"),
        le.l_shipdate.cast("date").alias("ship_day"),
        F.lit("12abc").try_cast("int").alias("bad_cast"),
        F.concat(le.l_orderkey.cast("string"), F.lit("0")).try_cast("bigint")
         .alias("key_x10"))


@query("json_extract", oracle="""
    SELECT event_id, event_type,
           json_extract_string(props, '$.k')              AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           CAST(json_extract_string(props, '$.missing') AS VARCHAR) AS k_missing
    FROM events
""")
def json_extract(spark, sf_dir):
    """JSON pack over events.props (a JSON text column, as SQLite's
    json_extract / -> / ->> operate on TEXT). get_json_object is the
    Spark twin; from_json gives the typed path."""
    ev = T(spark, sf_dir, "events")
    return ev.select(
        "event_id", "event_type",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("k_missing"))


@query("json_typed", oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
""")
def json_typed(spark, sf_dir):
    """Schema-on-read JSON: from_json into a typed struct, then aggregate
    on the extracted field — the scalable pattern (one parse, columnar
    after) vs per-access string extraction."""
    ev = T(spark, sf_dir, "events")
    return (ev.select("event_type",
                      F.from_json("props", "k BIGINT").alias("p"))
            .groupBy("event_type")
            .agg(F.sum("p.k").cast("bigint").alias("sum_k"),
                 F.count("*").alias("n")))


@query("arith_funcs", oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice + l_tax                       AS plus_v,
           l_extendedprice - l_discount                  AS minus_v,
           l_quantity * 2.0                              AS times_v,
           l_extendedprice / 4.0                         AS div_v,
           CAST(l_orderkey // 100 AS BIGINT)             AS int_div,
           CAST(l_orderkey % 10 AS BIGINT)               AS mod_v,
           l_returnflag || '-' || l_linestatus           AS concat_v
    FROM lineitem
""")
def arith_funcs(spark, sf_dir):
    """Arithmetic + || concat. Integer division is spelled explicitly
    (Spark `div`, DuckDB `//`) because bare int/int differs by dialect:
    SQLite->0, Spark/DuckDB->0.5 (SURVEY §4.3)."""
    le = T(spark, sf_dir, "lineitem")
    return le.select(
        "l_orderkey", "l_linenumber",
        (le.l_extendedprice + le.l_tax).alias("plus_v"),
        (le.l_extendedprice - le.l_discount).alias("minus_v"),
        (le.l_quantity * 2.0).alias("times_v"),
        (le.l_extendedprice / 4.0).alias("div_v"),
        F.expr("l_orderkey div 100").cast("bigint").alias("int_div"),
        (le.l_orderkey % 10).cast("bigint").alias("mod_v"),
        F.concat_ws("-", "l_returnflag", "l_linestatus").alias("concat_v"))


@query("udf_scalar", oracle="""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
               AS n_words
    FROM documents
""")
def udf_scalar(spark, sf_dir):
    """Extension row (SQLite's create_scalar_function is never used by
    the reference): a vectorized Arrow-batched pandas_udf — the ONLY
    sanctioned way to run Python per-value at scale (10-100x over
    row-at-a-time UDFs). Word count over single-spaced text, so the SQL
    oracle can state the same semantics exactly."""
    @F.pandas_udf(LongType())
    def n_words(s: pd.Series) -> pd.Series:
        return s.str.count(" ").add(1).astype("int64")

    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", n_words("text").alias("n_words"))


@query("approx_distinct", oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           true AS approx_within_5pct
    FROM lineitem
""")
def approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++). The sketch estimate is
    engine-specific, so the hashed contract is the tolerance CLAIM:
    |approx - exact| / exact < 5% (rsd default 5%) must hold, and the
    oracle pins it to `true`. At 100 TB the approx path avoids the
    exact-distinct shuffle entirely."""
    le = T(spark, sf_dir, "lineitem")
    return (le.agg(F.countDistinct("l_partkey").cast("bigint").alias("n_exact"),
                   F.approx_count_distinct("l_partkey").alias("n_approx"))
            .select("n_exact",
                    (F.abs(F.col("n_approx") - F.col("n_exact"))
                     / F.col("n_exact") < 0.05).alias("approx_within_5pct")))


@query("agg_groupconcat", oracle="""
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY c_name) AS names
    FROM customer WHERE c_acctbal > 9900.0
    GROUP BY c_mktsegment
""")
def agg_groupconcat(spark, sf_dir):
    """SQLite group_concat == Spark concat_ws over a SORTED collect_list
    (both sides pin element order — the unordered variants are
    legitimately non-deterministic in SQLite AND Spark, SURVEY §7.3)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900.0)
    return (c.groupBy("c_mktsegment")
            .agg(F.concat_ws(",", F.array_sort(F.collect_list("c_name")))
                  .alias("names")))


@query("window_ntile", oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER w AS BIGINT)  AS quartile,
           percent_rank() OVER w            AS pct_rank,
           cume_dist() OVER w               AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
""")
def window_ntile(spark, sf_dir):
    """ntile / percent_rank / cume_dist (SQLite >=3.25 window set)."""
    from pyspark.sql.window import Window
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc()))
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"))


@query("window_nth", oracle="""
    SELECT o_custkey, o_orderkey,
           nth_value(o_totalprice, 2) OVER wf AS second_price,
           last_value(o_orderkey) OVER wf     AS last_order
    FROM orders
    WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def window_nth(spark, sf_dir):
    """nth_value / last_value over the full-partition frame (the default
    running frame makes last_value useless — classic window gotcha,
    identical in SQLite, DuckDB, and Spark)."""
    from pyspark.sql.window import Window
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_custkey", "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.last("o_orderkey").over(w).alias("last_order"))


@query("date_epoch", oracle="""
    SELECT o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT)              AS unix_sec,
           epoch(o_orderdate) / 86400.0 + 2440587.5        AS julian_day,
           CAST(strftime(o_orderdate, '%w') AS INT)        AS dow_sun0
    FROM orders
""")
def date_epoch(spark, sf_dir):
    """SQLite unixepoch()/julianday()/strftime('%w') equivalents:
    unix_timestamp, the julian-day affine map (exact double arithmetic,
    no libm), and day-of-week with SQLite's Sunday=0 convention
    (Spark dayofweek is Sunday=1)."""
    o = T(spark, sf_dir, "orders")
    sec = F.unix_timestamp("o_orderdate").cast("double")
    return o.select(
        "o_orderkey",
        F.unix_timestamp("o_orderdate").alias("unix_sec"),
        (sec / 86400.0 + 2440587.5).alias("julian_day"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow_sun0"))


@query("str_funcs2", oracle="""
    SELECT p_partkey,
           lower(hex(p_brand))                       AS brand_hex,
           chr(65 + CAST(p_partkey % 26 AS INT))     AS letter,
           unicode(p_name)                           AS first_cp,
           printf('%08d', p_partkey)                 AS key_pad,
           repeat(p_brand, 2)                        AS brand2,
           left(p_name, 5)                           AS name_l5,
           right(p_name, 5)                          AS name_r5,
           split_part(p_type, ' ', 2)                AS type_word2,
           contains(p_type, 'BRASS')                 AS has_brass,
           starts_with(p_type, 'PROMO')              AS is_promo,
           translate(p_brand, '#', '_')              AS brand_us
    FROM part
""")
def str_funcs2(spark, sf_dir):
    """Second string pack: hex/chr/unicode/printf/repeat/left/right/
    split_part/contains/starts_with/translate (SQLite core + printf).
    hex() case differs across engines -> normalized with lower()."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.hex(F.col("p_brand"))).alias("brand_hex"),
        F.chr(F.lit(65) + (F.col("p_partkey") % 26).cast("int")).alias("letter"),
        F.ascii("p_name").alias("first_cp"),
        F.format_string("%08d", "p_partkey").alias("key_pad"),
        F.repeat(F.col("p_brand"), 2).alias("brand2"),
        F.substring("p_name", 1, 5).alias("name_l5"),
        F.col("p_name").substr(F.length("p_name") - 4, F.lit(5)).alias("name_r5"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(2)).alias("type_word2"),
        F.contains(F.col("p_type"), F.lit("BRASS")).alias("has_brass"),
        F.startswith(F.col("p_type"), F.lit("PROMO")).alias("is_promo"),
        F.translate(F.col("p_brand"), "#", "_").alias("brand_us"))


@query("approx_percentile", oracle="""
    SELECT round(quantile_cont(l_extendedprice, 0.5), 2)  AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.95), 2) AS p95_exact,
           true AS approx_within_1pct
    FROM lineitem
""")
def approx_percentile(spark, sf_dir):
    """approx_percentile (t-digest-style sketch). Like approx_distinct,
    the sketch value is engine-specific, so the hashed contract is the
    tolerance CLAIM (|approx-exact|/exact < 1% at both quantiles) plus
    the exact interpolated percentiles themselves (Spark `percentile` ==
    DuckDB quantile_cont, both linear interpolation). At 100 TB the
    sketch path is one pass + tiny merge state; the exact path sorts."""
    le = T(spark, sf_dir, "lineitem")
    agg = le.agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("e50"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("e95"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.percentile_approx("l_extendedprice", F.lit(0.95), F.lit(10000)).alias("a95"))
    return agg.select(
        F.round("e50", 2).alias("p50_exact"),
        F.round("e95", 2).alias("p95_exact"),
        ((F.abs(F.col("a50") - F.col("e50")) / F.col("e50") < 0.01)
         & (F.abs(F.col("a95") - F.col("e95")) / F.col("e95") < 0.01))
        .alias("approx_within_1pct"))


@query("filter_glob", oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE p_name LIKE '%bolt%' AND p_name GLOB 'blue*'
""")
def filter_glob(spark, sf_dir):
    """SQLite GLOB through the compat layer: the Spark side runs
    rewrite() on a GLOB query (GLOB 'pat' -> LIKE with */? translated,
    ESCAPE for literal %/_), proving the dialect layer inside the t2
    gate. DuckDB has GLOB natively, so the oracle states both spellings."""
    from ..compat.sqlite_dialect import rewrite

    return spark.sql(rewrite(
        "SELECT p_partkey, p_name FROM {part} "
        "WHERE p_name LIKE '%bolt%' AND p_name GLOB 'blue*'",
        sqlite_compat=True).replace("ILIKE", "LIKE"),
        part=T(spark, sf_dir, "part"))


@query("json_kv_explode", oracle="""
    SELECT event_id, k, CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS v
    FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)
""")
def json_kv_explode(spark, sf_dir):
    """Lateral key/value explode of a JSON object column — SQLite's
    json_each table-valued function (the reference reaches it through the
    passthrough). Spark: one from_json into map<string,bigint>, then
    explode — parse once, not once per key."""
    ev = T(spark, sf_dir, "events")
    return (ev.select("event_id",
                      F.explode(F.from_json("props", "map<string,bigint>"))
                      .alias("k", "v")))


@query("array_funcs", oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT vec_id,
           len(list_filter(e, x -> x > 0.0)) AS n_pos,
           round(list_reduce(list_transform(e, x -> abs(x)), (a,b) -> a + b), 6)
               AS l1,
           round(list_reduce(e[1:8], (a,b) -> a + b), 6) AS head8_sum,
           round(list_dot_product(e, list_reverse(e)), 6) AS dot_rev,
           len(list_filter(e, x -> abs(x) > 0.3)) > 0 AS has_large
    FROM v
""")
def array_funcs(spark, sf_dir):
    """Higher-order array function pack — the JVM-side primitives the
    whole Tier C vector/text library is built on (filter, transform,
    aggregate/fold, zip_with, slice, exists): all evaluated inside
    whole-stage codegen, no Python boundary. Left-fold order is pinned
    on both engines, so the float results are exact matches.

    NB per the build-loop notes: no common-subexpression elimination
    inside HOF lambdas — each lambda body here touches its element once."""
    e = T(spark, sf_dir, "embeddings")
    arr = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(F.filter(arr, lambda x: x > 0.0)).alias("n_pos"),
        F.round(F.aggregate(F.transform(arr, lambda x: F.abs(x)),
                            F.lit(0.0), lambda a, b: a + b), 6).alias("l1"),
        F.round(F.aggregate(F.slice(arr, 1, 8), F.lit(0.0),
                            lambda a, b: a + b), 6).alias("head8_sum"),
        F.round(F.aggregate(F.zip_with(arr, F.reverse(arr),
                                       lambda a, b: a * b),
                            F.lit(0.0), lambda a, b: a + b), 6).alias("dot_rev"),
        F.exists(arr, lambda x: F.abs(x) > 0.3).alias("has_large"))


@query("date_strftime_compat", oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m')            AS ym,
           strftime(o_orderdate, '%j')               AS doy,
           CAST(epoch(o_orderdate) AS BIGINT)        AS epoch_s
    FROM orders WHERE o_orderkey < 1000
""")
def date_strftime_compat(spark, sf_dir):
    """SQLite strftime through the compat layer: the Spark side submits
    the SQLite-dialect text and rewrite() translates strftime('%Y-%m',
    col) -> date_format(col, 'yyyy-MM') and strftime('%s', col) ->
    unix_timestamp(col) (sqlite_dialect._STRFTIME_MAP). DuckDB has
    C-style strftime natively (args flipped), so the oracle states the
    same values directly — three engines, one answer."""
    from ..compat.sqlite_dialect import rewrite

    return spark.sql(rewrite(
        "SELECT o_orderkey, "
        "strftime('%Y-%m', o_orderdate) AS ym, "
        "strftime('%j', o_orderdate) AS doy, "
        "strftime('%s', o_orderdate) AS epoch_s "
        "FROM {orders} WHERE o_orderkey < 1000",
        sqlite_compat=True), orders=T(spark, sf_dir, "orders"))


@query("udtf_chunks", oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST((i - 1) // 40 AS INT)                  AS chunk_id,
           CAST(len(t[i:i+39]) AS INT)                 AS n_tok,
           md5(array_to_string(t[i:i+39], ' '))        AS chunk_md5
    FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, 40)) AS i
          FROM toks)
""")
def udtf_chunks(spark, sf_dir):
    """Fixed 40-token document chunking — the context-window chunking
    step of an embedding/RAG pipeline — expressed entirely JVM-side:
    split -> sequence(0, (n-1) div 40) -> explode -> slice -> md5, all
    whole-stage-codegen built-ins, no Python worker in the loop.

    This was originally a Python UDTF via LATERAL (kept as the smaller
    `udtf_lateral` key to demonstrate that API surface); re-expressing
    the fan-out as explode(sequence(...)) removed the Arrow hop and cut
    the sf0.1 bench time ~10x (VERDICT r2 #5). At 100 TB the chunk
    expansion is a narrow transformation — no shuffle, no state; md5 and
    slice run inside codegen over the exploded rows."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (d.select("doc_id", toks.alias("toks"))
            .select("doc_id", "toks",
                    F.explode(F.expr(
                        "cast(sequence(0, (size(toks)-1) div 40) "
                        "as array<int>)")).alias("chunk_id"))
            .select(
                "doc_id", "chunk_id",
                F.slice("toks", F.col("chunk_id") * 40 + 1, 40).alias("chunk"))
            .select(
                "doc_id", "chunk_id",
                F.size("chunk").cast("int").alias("n_tok"),
                F.md5(F.concat_ws(" ", "chunk")).alias("chunk_md5")))


@query("udtf_lateral", oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id <= 50
    )
    SELECT doc_id,
           CAST((i - 1) // 40 AS INT)                  AS chunk_id,
           CAST(len(t[i:i+39]) AS INT)                 AS n_tok,
           md5(array_to_string(t[i:i+39], ' '))        AS chunk_md5
    FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, 40)) AS i
          FROM toks)
""")
def udtf_lateral(spark, sf_dir):
    """Python UDTF (Spark 3.5+ table function API) demo: the same
    40-token chunking as `udtf_chunks`, but through a user-defined table
    function called via a correlated LATERAL join — one input row fans
    out to N output rows through the Python worker. UDTFs are the third
    Python extension surface next to scalar pandas_udf (`udf_scalar`)
    and grouped applyInPandas (`group_zscore_pandas`). Deliberately
    bounded to 50 docs: the hot path belongs JVM-side (`udtf_chunks`);
    this key proves the API, not throughput."""
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id int, n_tok int, chunk_md5 string")
    class ChunkDoc:
        def eval(self, text: str):
            toks = (text or "").split(" ")
            for ci in range(0, len(toks), 40):
                chunk = toks[ci:ci + 40]
                yield (ci // 40, len(chunk),
                       hashlib.md5(" ".join(chunk).encode()).hexdigest())

    spark.udtf.register("chunk_doc", ChunkDoc)
    return spark.sql("""
        SELECT d.doc_id, c.chunk_id, c.n_tok, c.chunk_md5
        FROM {docs} d, LATERAL chunk_doc(d.text) c
    """, docs=T(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50))


@query("map_in_arrow", oracle="""
    SELECT vec_id,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                     * CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
                            AS BIGINT))) AS BIGINT)
               AS norm_sq_milli
    FROM embeddings
""")
def map_in_arrow(spark, sf_dir):
    """mapInArrow — the zero-copy Arrow-native Python surface (one level
    below pandas UDFs: no pandas conversion at all). Squared L2 norms
    of the embedding vectors computed on the raw Arrow ListArray
    buffers: flatten once, one vectorized numpy pass, segment sums via
    add.reduceat on the list offsets. Per-batch Python cost is O(values)
    with no per-row objects — the shape for 100 TB featurization when
    the kernel genuinely can't be a built-in expression.

    Components are fixed-pointed to integer milli-units before squaring,
    so the aggregate is EXACT integer arithmetic on both engines —
    no float-summation-order hazard (SURVEY §4.3). Fixed-pointing uses
    floor(CAST(v AS DOUBLE)*1000 + 0.5) on BOTH engines: the float64
    product can round onto an exact .5 boundary where numpy
    (half-even) and SQL (half-up) disagree — floor(v + 0.5) is one
    identical double op everywhere (the repo-wide rounding rule) — and
    the float32 column must be widened BEFORE the multiply, because
    DuckDB multiplies FLOAT in single precision while numpy/Spark
    widen first (both pitfalls hit in practice at sf0.1)."""
    import pyarrow as pa

    def norms(batches):
        import numpy as np
        for batch in batches:
            names = batch.schema.names
            vid = batch.column(names.index("vec_id"))
            col = batch.column(names.index("embedding"))
            flat = np.asarray(col.values.to_numpy(zero_copy_only=False),
                              dtype=np.float64)
            offs = col.offsets.to_numpy().astype(np.int64)
            # floor(v*1000 + 0.5), NOT np.round: numpy rounds half-even
            # while SQL rounds half away, and the float64 PRODUCT can
            # round onto an exact .5 boundary even though no exact
            # binary x has x*1000 == k+0.5 (hit at sf0.1, vec_id 1879).
            # floor(v + 0.5) is the same double op on both engines.
            q = np.floor(flat * 1000 + 0.5).astype(np.int64) ** 2
            # cumsum-difference segment sums: exact for empty lists
            # anywhere (a reduceat clamp mis-attributes the final
            # element when the batch ENDS with an empty list)
            cs = np.concatenate(([0], np.cumsum(q)))
            sums = cs[offs[1:]] - cs[offs[:-1]]
            yield pa.RecordBatch.from_arrays(
                [vid, pa.array(sums, type=pa.int64())],
                ["vec_id", "norm_sq_milli"])

    emb = T(spark, sf_dir, "embeddings")
    return emb.mapInArrow(norms, "vec_id long, norm_sq_milli long")


@query("cogroup_asof_pandas", oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         e AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'error')
    SELECT u.user_id,
           CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_errors,
           CAST(count(DISTINCT CASE WHEN EXISTS (
                    SELECT 1 FROM c
                    WHERE c.user_id = e.user_id
                      AND c.ts <= e.ts
                      AND c.ts >= e.ts - INTERVAL '5 minutes')
                THEN e.event_id END) AS BIGINT) AS n_click_preceded
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN e ON e.user_id = u.user_id
    GROUP BY u.user_id
""")
def cogroup_asof_pandas(spark, sf_dir):
    """Cogrouped applyInPandas — the LAST cell of the Python-extension
    matrix (scalar pandas_udf / UDTF / applyInPandas / mapInPandas /
    mapInArrow / applyInPandasWithState): two DataFrames grouped on the
    same key arrive as PAIRED pandas frames per key, here used for a
    per-user pandas merge_asof — errors matched to the most recent
    click within 5 minutes before them.

    Plan: ONE co-partitioned shuffle (both sides hash to the same
    user_id partitions — CoGroup, not a join), then Arrow-batched
    per-key pandas. This is the escape hatch when per-key logic needs
    real pandas (asof tolerances, resampling, curve fitting) — and the
    batch twin of what applyInPandasWithState does in streaming. The
    declarative `join_asof` family stays the hot path; the oracle here
    is the correlated-EXISTS statement of the same semantics."""
    import pandas as pd

    e = T(spark, sf_dir, "events")
    # Explicit-N repartition on the group key: the cogroup exchange is
    # byte-light (two filtered narrow columns) but the per-key pandas
    # stage is compute-heavy, so AQE's coalescer merged it onto 4
    # tasks at sf1j (r9 audit: 81% of a 31 s wall). A user-numbered
    # hash repartition satisfies the cogroup's required distribution
    # (no second exchange) and AQE never coalesces it.
    n_parts = physical.parallelism(spark)
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts")
              .repartition(n_parts, "user_id"))
    errors = (e.filter(F.col("event_type") == "error")
              .select("user_id", "event_id", "ts")
              .repartition(n_parts, "user_id"))

    def per_user(key: tuple, clicks_pdf: pd.DataFrame,
                 errors_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(errors_pdf) == 0:
            return pd.DataFrame(columns=["user_id", "n_errors",
                                         "n_click_preceded"])
        # The 3-arg signature takes user_id from the GROUP KEY, and the
        # value columns are accessed shape-aware: when the downstream
        # plan needs only row counts (df.count()), Catalyst prunes the
        # worker's INPUT columns — the frames arrive with the right row
        # cardinality but WITHOUT errors.ts (found by the round-7 sf1
        # execution sweep; it fails at every SF, check.py's collect()
        # never triggers pruning; the observed pruned shape keeps
        # clicks.ts and errors.event_id, so pruning is per-side
        # minimal, not symmetric). Output row-count depends only on
        # the errors side being non-empty, which survives pruning.
        #
        # Under any pruned shape n_click_preceded is emitted as NULL,
        # never 0 (ADVICE r7): a count-only plan ignores the value, and
        # a plan that DOES consume values despite pruned inputs (a
        # future Catalyst change, or a refactor renaming 'ts') surfaces
        # visible nulls — which the oracle gate hash-mismatches loudly —
        # instead of plausible wrong zeros. The one shape no Spark
        # version produces (errors.ts present, clicks.ts absent: clicks
        # has no other value column to keep) still raises.
        err_has_ts = "ts" in errors_pdf.columns
        ck_has_ts = "ts" in clicks_pdf.columns
        if err_has_ts and not ck_has_ts:
            raise RuntimeError(
                f"cogroup_asof_pandas: unexpected input shape — "
                f"errors has 'ts' but clicks does not (errors cols="
                f"{list(errors_pdf.columns)}, clicks cols="
                f"{list(clicks_pdf.columns)}); no known pruning "
                f"produces this — values would be silently wrong.")
        n_prec = None
        if err_has_ts and ck_has_ts:
            n_prec = 0
            if len(clicks_pdf) > 0:
                err = errors_pdf.sort_values("ts")
                ck = (clicks_pdf.sort_values("ts")
                      .rename(columns={"ts": "click_ts"}))
                m = pd.merge_asof(err, ck[["click_ts"]],
                                  left_on="ts", right_on="click_ts",
                                  direction="backward",
                                  tolerance=pd.Timedelta(minutes=5))
                n_prec = int(m["click_ts"].notna().sum())
        return pd.DataFrame([{"user_id": int(key[0]),
                              "n_errors": len(errors_pdf),
                              "n_click_preceded": n_prec}])

    return (clicks.groupBy("user_id")
            .cogroup(errors.groupBy("user_id"))
            .applyInPandas(per_user,
                           "user_id long, n_errors long, "
                           "n_click_preceded long"))


@query("udaf_grouped_pandas", oracle=f"""
    SELECT l_returnflag,
           round({units_sum_sql(
               "CAST(round(l_extendedprice * 100) AS BIGINT)"
               " * CAST(l_quantity AS BIGINT)")}
                 / CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                 / 100.0, 4) AS wavg_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
""")
def udaf_grouped_pandas(spark, sf_dir):
    """Custom aggregate in Python: quantity-weighted mean price per
    return flag via a GROUPED_AGG pandas_udf — the UDAF slot in the
    Python-extension matrix (scalar pandas_udf / UDTF / applyInPandas /
    mapInPandas / mapInArrow / cogroup already covered).

    Spark plans this as a real two-phase aggregate: rows shuffle once on
    the group key and each group's Arrow batch reduces to a single
    scalar inside the worker — no per-row Python, no group
    materialization on the driver. Determinism: the UDAF accumulates in
    int64 (cents x integral quantity), so the only float op is one final
    division of exact integers — identical on both engines and safe to
    round."""
    @F.pandas_udf("double")
    def wavg_cents(cents: pd.Series, qty: pd.Series) -> float:
        c = cents.astype("int64")
        q = qty.astype("int64")
        return float((c * q).sum() / q.sum())

    @F.pandas_udf("long")
    def n_rows(qty: pd.Series) -> int:
        # Catalyst rejects mixing GROUPED_AGG pandas UDFs with built-in
        # aggregates in one agg, so the count is a UDAF too.
        return int(len(qty))

    le = T(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (le.groupBy("l_returnflag")
            .agg(F.round(wavg_cents(cents, F.col("l_quantity")) / 100.0, 4)
                 .alias("wavg_price"),
                 n_rows(F.col("l_quantity")).alias("n"))
            .select("l_returnflag", "wavg_price", "n"))


@query("udtf_arrow", oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id <= 50
    )
    SELECT doc_id,
           CAST((i - 1) // 40 AS INT)                  AS chunk_id,
           CAST(len(t[i:i+39]) AS INT)                 AS n_tok,
           md5(array_to_string(t[i:i+39], ' '))        AS chunk_md5
    FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, 40)) AS i
          FROM toks)
""")
def udtf_arrow(spark, sf_dir):
    """Arrow-optimized Python UDTF (Spark 4.1 `useArrow=True`):
    identical contract to `udtf_lateral`, but rows cross the Python
    boundary as Arrow batches instead of pickled rows — the same
    serialization upgrade pandas_udf brought to scalar UDFs, applied
    to table functions. Same 50-doc bound: the key proves the Arrow
    UDTF path end-to-end (register → LATERAL join → fan-out), with
    the JVM-side `udtf_chunks` remaining the hot-path form."""
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id int, n_tok int, chunk_md5 string",
          useArrow=True)
    class ChunkDocArrow:
        def eval(self, text: str):
            toks = (text or "").split(" ")
            for ci in range(0, len(toks), 40):
                chunk = toks[ci:ci + 40]
                yield (ci // 40, len(chunk),
                       hashlib.md5(" ".join(chunk).encode()).hexdigest())

    spark.udtf.register("chunk_doc_arrow", ChunkDocArrow)
    return spark.sql("""
        SELECT d.doc_id, c.chunk_id, c.n_tok, c.chunk_md5
        FROM {docs} d, LATERAL chunk_doc_arrow(d.text) c
    """, docs=T(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50))


# ------------------------------------------------ map-column HOFs

@query("map_hof_funcs", oracle="""
    WITH kv AS (
        SELECT 'status' AS map_key, upper(o_orderstatus) AS map_value
        FROM orders
        UNION ALL
        SELECT 'prio', upper(split_part(o_orderpriority, '-', 1))
        FROM orders
        UNION ALL
        SELECT 'src', 'ORD' FROM orders
    )
    SELECT map_key, map_value, CAST(count(*) AS BIGINT) AS n
    FROM kv GROUP BY 1, 2
""")
def map_funcs(spark, sf_dir):
    """Map-typed column surface: build a map per order with
    str_to_map, rewrite values with the transform_values HOF, drop the numeric
    cust key with map_filter, append a constant entry with map_concat +
    create_map, and explode entries back to rows for the count.

    The oracle states the SEMANTICS in plain relational SQL (each
    order contributes its ('status', upper(status)), ('prio',
    upper(prio_code)) and ('src','ORD') entries) — so the key proves
    Spark's map HOF pipeline computes exactly what the flat form
    says, not merely that it runs. All JVM-side expression work in
    one whole-stage-codegen'd projection; the only shuffle is the
    final map-side-combinable count."""
    o = T(spark, sf_dir, "orders")
    raw = F.concat(F.lit("status:"), F.col("o_orderstatus"),
                   F.lit(",prio:"),
                   F.substring_index(F.col("o_orderpriority"), "-", 1),
                   F.lit(",cust:"), F.col("o_custkey").cast("string"))
    m = F.str_to_map(raw, F.lit(","), F.lit(":"))
    m = F.transform_values(m, lambda k, v: F.upper(v))
    m = F.map_filter(m, lambda k, v: k != F.lit("cust"))
    m = F.map_concat(m, F.create_map(F.lit("src"), F.lit("ORD")))
    return (o.select(F.explode(m).alias("map_key", "map_value"))
            .groupBy("map_key", "map_value")
            .agg(F.count("*").alias("n")))


@query("url_funcs", oracle="""
    WITH u AS (
        SELECT 'shop.example.com' AS host,
               '/' || replace(lower(o_orderpriority), ' ', '-') || '/item' AS path,
               CAST(o_orderkey AS VARCHAR) AS id_q,
               o_orderpriority
        FROM orders
    )
    SELECT o_orderpriority, host, path,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(CAST(id_q AS BIGINT)) AS BIGINT) AS min_id
    FROM u GROUP BY o_orderpriority, host, path
""")
def url_funcs(spark, sf_dir):
    """URL function pack (parse_url HOST/PATH/QUERY-key): URLs are the
    join key of every web corpus — per-domain dedup, crawl precedence,
    and robots accounting all start by splitting them. The URLs are
    synthesized from order columns (the corpus has no URL column), so
    the oracle can recompute every component from the source columns
    instead of reimplementing a parser; the Spark side must round-trip
    through the REAL parser (java.net.URI semantics) to agree.

    Per-row parse in codegen; one small aggregation to keep the result
    priority-sized. The query-parameter extraction is exercised
    end-to-end: min(id) only agrees if parse_url recovered the id
    parameter of every URL."""
    o = T(spark, sf_dir, "orders")
    url = F.concat(F.lit("https://shop.example.com/"),
                   F.translate(F.lower("o_orderpriority"), " ", "-"),
                   F.lit("/item?id="),
                   F.col("o_orderkey").cast("string"), F.lit("&ref=mail"))
    u = o.select(
        "o_orderpriority",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("id_q"))
    return (u.groupBy("o_orderpriority", "host", "path")
            .agg(F.count("*").alias("n"),
                 F.min(F.col("id_q").cast("bigint")).alias("min_id")))


@query("bitwise_funcs", oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_orderkey & l_partkey) AS BIGINT) AS s_and,
           CAST(sum(l_orderkey | l_partkey) AS BIGINT) AS s_or,
           CAST(sum(xor(l_orderkey, l_partkey)) AS BIGINT) AS s_xor,
           CAST(sum(l_partkey << 3) AS BIGINT) AS s_shl,
           CAST(sum(l_orderkey >> 2) AS BIGINT) AS s_shr,
           CAST(sum(bit_count(l_orderkey)) AS BIGINT) AS s_pop
    FROM lineitem
""")
def bitwise_funcs(spark, sf_dir):
    """Bitwise scalar pack (& | ^ shifts popcount): the primitives under
    every bitmap/bloom/simhash operator in the repo, exercised directly
    as SQL surface. All operands are non-negative bigints, so shift and
    popcount semantics agree across engines without masking; the
    row-wise results are summed into one exact-integer census row
    (map-side combinable, codegen end to end)."""
    le = T(spark, sf_dir, "lineitem")
    a, b = F.col("l_orderkey"), F.col("l_partkey")
    return le.agg(
        F.count("*").alias("n"),
        F.sum(a.bitwiseAND(b)).alias("s_and"),
        F.sum(a.bitwiseOR(b)).alias("s_or"),
        F.sum(a.bitwiseXOR(b)).alias("s_xor"),
        F.sum(F.shiftleft(b, 3)).alias("s_shl"),
        F.sum(F.shiftright(a, 2)).alias("s_shr"),
        F.sum(F.bit_count(a)).alias("s_pop"))


@query("hash_funcs", oracle="""
    SELECT substr(md5(c_name), 1, 12) AS h_md5,
           substr(sha256(c_name), 1, 12) AS h_sha256,
           c_name
    FROM customer WHERE c_custkey <= 50
""")
def hash_funcs(spark, sf_dir):
    """Cryptographic digest pack (md5 / sha2-256): the content-address
    primitives under every dedup signature and cache key in the repo,
    exercised directly as scalar surface. Both engines produce
    lowercase hex; prefixes keep the comparison readable. Per-row
    codegen, filter pushed to the scan."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    return c.select(
        F.substring(F.md5("c_name"), 1, 12).alias("h_md5"),
        F.substring(F.sha2("c_name", 256), 1, 12).alias("h_sha256"),
        "c_name")
