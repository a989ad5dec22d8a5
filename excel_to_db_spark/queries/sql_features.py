"""Spark 4 SQL-surface features (Tier B addendum): SQL scripting
(BEGIN/DECLARE/WHILE control flow), parameterized SQL (named
placeholders), the pandas-on-Spark API, runtime dynamic partition
pruning, physical join-strategy hints, SQL-declared functions
(CREATE FUNCTION ... RETURN), and collation-aware semantics
(COLLATE UTF8_LCASE).

These are the API/engine features a user migrating OFF the reference's
SQLite passthrough (reference src/main.rs:220) gains — SQLite has no
procedural SQL, no bind-by-name into arbitrary expressions, no
DataFrame API, no partitioned layouts. Each key still carries a plain
DuckDB oracle: the FEATURE is Spark-side, the ANSWER is engine-neutral.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from .registry import query, scratch_dir
from .relational import T
from ..numerics import cents_sum, cents_sum_sql, units_sum_sql


@query("sql_parameterized", oracle=f"""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           {cents_sum_sql('o_totalprice')}
               AS sum_price
    FROM orders WHERE o_totalprice > 200000.0 AND o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
""")
def sql_parameterized(spark, sf_dir):
    """Parameterized SQL: named placeholders bound server-side
    (spark.sql(..., args={...})) — the injection-safe REPL/API surface
    SQLite reaches with `?` binds. Placeholders bind as literals into
    the plan, so constant folding and parquet filter pushdown see the
    VALUE (the pushed filter is identical to a hand-inlined literal);
    the plan is cacheable by parameter shape."""
    return spark.sql(
        f"""
        SELECT o_orderstatus, count(*) AS n,
               -- 100.0 parses as DECIMAL(3,1) in Spark SQL, so the
               -- division result is DECIMAL; CAST back to the DOUBLE
               -- type class the driver's DuckDB fetch produces.
               CAST({cents_sum_sql('o_totalprice')} AS DOUBLE) AS sum_price
        FROM {{orders}} WHERE o_totalprice > :thr AND o_orderpriority = :pri
        GROUP BY o_orderstatus
        """,
        args={"thr": 200000.0, "pri": "1-URGENT"},
        orders=T(spark, sf_dir, "orders"))


@query("sql_scripting", oracle="""
    WITH t AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    r AS (
        SELECT c, row_number() OVER (ORDER BY c) AS rn,
               count(*) OVER () AS n
        FROM t
    )
    SELECT round(min(c) / 100.0, 2) AS median_price
    FROM r WHERE rn = (n + 1) // 2
""")
def sql_scripting(spark, sf_dir):
    """SQL scripting (Spark 4 BEGIN/DECLARE/WHILE/IF): the lower median
    of order value found by integer BISECTION over cents — procedural
    control flow driving real queries, the capability SQLite users
    script in application code. Each iteration issues one count(*)
    aggregate; the loop state is session variables.

    This is deliberately the control-flow DEMO, not the best median
    plan (that is ONE percentile aggregate — range_partition_histogram)
    — but the shape matters at scale: two approx_percentile seeds plus
    ~log2(bracket) bisection steps x one partial-aggregated scan each,
    zero data movement beyond a count,
    driver holds two BIGINTs. Bisection over integers is exact, so both
    engines name the identical cent value."""
    return spark.sql("""
        BEGIN
          DECLARE lo BIGINT DEFAULT 0;
          DECLARE hi BIGINT DEFAULT 0;
          DECLARE mid BIGINT;
          DECLARE need BIGINT;
          -- Approximate seed, exact refinement: approx_percentile at
          -- accuracy 10000 bounds the true median's RANK within
          -- +/-0.01%, so the 49.5%/50.5% values bracket the exact
          -- median at ANY scale and bisection needs ~log2(bracket)
          -- scans instead of log2(max_cents).
          SET lo = (SELECT approx_percentile(c, 0.495, 10000)
                    FROM {t});
          SET hi = (SELECT approx_percentile(c, 0.505, 10000)
                    FROM {t});
          SET need = (SELECT (count(*) + 1) DIV 2 FROM {t});
          WHILE lo < hi DO
            SET mid = (lo + hi) DIV 2;
            IF (SELECT count(*) FROM {t} WHERE c <= mid) >= need THEN
              SET hi = mid;
            ELSE
              SET lo = mid + 1;
            END IF;
          END WHILE;
          -- lo is BIGINT and 100.0 parses as DECIMAL in scripting
          -- context, so cast: the driver hash-compares column types.
          SELECT CAST(round(lo / 100.0, 2) AS DOUBLE) AS median_price;
        END
    """, t=T(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")))


@query("pandas_on_spark_agg", oracle=f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           {cents_sum_sql('c_acctbal')}
               AS sum_balance
    FROM customer GROUP BY c_mktsegment
""")
def pandas_on_spark_agg(spark, sf_dir):
    """pandas-on-Spark (pyspark.pandas): the pandas dialect compiled to
    the same Catalyst plans — segment counts + exact cents balance via
    .groupby().agg() on a ps.DataFrame, converted back with
    .to_spark(). Completes the Python API matrix (DataFrame / SQL /
    pandas_udf / UDTF / applyInPandas / mapInPandas / mapInArrow /
    cogroup / GROUPED_AGG UDAF / pandas-on-Spark).

    Everything stays distributed: the ps frame wraps the Spark plan
    (no toPandas), the cents conversion is a column expression, and
    the groupby compiles to the ordinary partial-aggregated shuffle —
    pandas SYNTAX, Spark EXECUTION."""
    import pyspark.pandas as ps

    psdf = ps.DataFrame(T(spark, sf_dir, "customer")
                        .select("c_mktsegment",
                                F.round(F.col("c_acctbal") * 100)
                                .cast("bigint").alias("cents")))
    out = (psdf.groupby("c_mktsegment")
           .agg(n=("cents", "count"), s=("cents", "sum"))
           .reset_index())
    return (out.to_spark()
            .select("c_mktsegment",
                    F.col("n").cast("bigint").alias("n"),
                    F.round(F.col("s") / 100.0, 2).alias("sum_balance")))


@query("join_dpp_pruned", oracle=f"""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           {cents_sum_sql('o_totalprice')}
               AS sum_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderstatus
""")
def join_dpp_pruned(spark, sf_dir):
    """Dynamic partition pruning: the fact is laid out partitioned by
    o_orderstatus; a selective dimension filter (a 1-row status dim)
    prunes fact PARTITIONS at runtime through the join — the scan never
    reads the other status directories. At 100 TB this is the
    difference between scanning one partition and the whole table when
    the pruning predicate only exists on the dim side.

    tests/test_plans_r10.py asserts `dynamicpruning` in the fact scan's
    partition filters. The write-once partitioned layout is the same
    one sink_parquet_partitioned exercises; here it feeds the pruned
    read."""
    out = scratch_dir("dpp")
    (T(spark, sf_dir, "orders")
     .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out))
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame([("F", 1)], "status string, flag int")
    return (fact.join(dim.filter(F.col("flag") == 1),
                      fact.o_orderstatus == dim.status)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 cents_sum(F.col("o_totalprice")).alias("sum_price")))


@query("join_hint_shuffle_hash", oracle=f"""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           {cents_sum_sql('o_totalprice')}
               AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
""")
def join_hint_shuffle_hash(spark, sf_dir):
    """Join-strategy hints: the same orders x customer join forced to
    SHUFFLED_HASH — the strategy for a build side too big to broadcast
    but small enough to hash, skipping the sort a merge join would pay
    on both inputs. Hints pick the PHYSICAL strategy only; the result
    is identical to the optimizer's own choice (the oracle is the plain
    join), and tests/test_plans_r10.py asserts ShuffledHashJoin here vs
    SortMergeJoin under the MERGE hint on the identical query.

    At 100 TB the decision matters: sort-merge spills sort runs for
    both relations; shuffled-hash builds one in-memory (spillable) map
    of the smaller — the right pick whenever |build| fits executor
    memory per partition after AQE coalescing."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").hint("shuffle_hash")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 cents_sum(F.col("o_totalprice")).alias("sum_price")))


@query("sql_declared_udf", oracle="""
    WITH pri AS (
        SELECT o_orderpriority AS p,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS urgency
        FROM orders
    )
    SELECT urgency, CAST(count(*) AS BIGINT) AS n,
           round(sum(cents) / 100.0, 2) AS sum_price
    FROM pri GROUP BY urgency
""")
def sql_declared_udf(spark, sf_dir):
    """SQL-declared functions (Spark 4 CREATE FUNCTION ... RETURN):
    a scalar SQL UDF (exact cents conversion) and a second one parsing
    the urgency digit — user extensibility WITHOUT leaving the JVM or
    the optimizer: the function body inlines into the plan like a
    macro, so codegen, pushdown, and partial aggregation all still
    apply (unlike a Python UDF, which is an optimizer barrier). The
    reference's engine has no CREATE FUNCTION at all."""
    cents_fn = f"cents_{uuid.uuid4().hex[:8]}"
    urg_fn = f"urg_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {cents_fn}(x DOUBLE) "
              f"RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)")
    spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {urg_fn}(p STRING) "
              f"RETURNS INT RETURN CAST(substr(p, 1, 1) AS INT)")
    return spark.sql(f"""
        SELECT {urg_fn}(o_orderpriority) AS urgency, count(*) AS n,
               -- CAST: bigint / DECIMAL-literal 100.0 is DECIMAL in
               -- Spark SQL; the oracle side fetches DOUBLE.
               CAST(round(sum({cents_fn}(o_totalprice)) / 100.0, 2)
                    AS DOUBLE) AS sum_price
        FROM {{orders}} GROUP BY {urg_fn}(o_orderpriority)
    """, orders=T(spark, sf_dir, "orders"))


@query("string_collation_group", oracle="""
    SELECT lower(o_orderpriority) AS pri_ci,
           CAST(count(*) AS BIGINT) AS n
    FROM (SELECT CASE WHEN o_orderkey % 2 = 0
                      THEN upper(o_orderpriority)
                      ELSE lower(o_orderpriority) END AS o_orderpriority
          FROM orders)
    GROUP BY 1
""")
def string_collation_group(spark, sf_dir):
    """Collation-aware grouping (Spark 4 COLLATE): priorities with
    deliberately mixed case grouped under UTF8_LCASE, so '1-URGENT' and
    '1-urgent' are ONE group — engine-level case-insensitive semantics
    where SQLite users reach for NOCASE. The collated comparison
    happens inside the hash aggregate (no lower() projection needed);
    the oracle expresses the same semantics with lower() since DuckDB's
    collation names differ. Output canonicalizes to lowercase so both
    engines name groups identically."""
    mixed = (T(spark, sf_dir, "orders")
             .select(F.when(F.col("o_orderkey") % 2 == 0,
                            F.upper("o_orderpriority"))
                     .otherwise(F.lower("o_orderpriority"))
                     .alias("o_orderpriority")))
    # Collation propagates through lower(): without the cast the output
    # column is typed string COLLATE UTF8_LCASE, a type the external
    # driver's canonicalizer may not normalize.
    return spark.sql("""
        SELECT CAST(lower(pri) AS STRING) AS pri_ci, count(*) AS n FROM (
            SELECT o_orderpriority COLLATE UTF8_LCASE AS pri FROM {mixed}
        ) GROUP BY pri
    """, mixed=mixed).select("pri_ci", "n")


@query("sql_identifier_clause", oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(max(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderpriority
""")
def sql_identifier_clause(spark, sf_dir):
    """IDENTIFIER clause (Spark 4): table AND column names bound from
    parameters — templated SQL (per-tenant table routing, metric-column
    selection) without string interpolation, so a parameter can never
    smuggle SQL syntax into the plan. SQLite (the reference's engine,
    src/main.rs:220) has no identifier binding at all: its `?` binds
    values only. The IDENTIFIER() calls resolve during analysis, so the
    optimized plan is identical to the hand-written query — pushdown
    and pruning are unaffected.

    max() over doubles needs no rounding contract (no summation-order
    dependence: max is order-free); rounded to 2dp only to pin the
    display contract."""
    name = f"ident_{uuid.uuid4().hex[:8]}"
    T(spark, sf_dir, "orders").createOrReplaceTempView(name)
    df = spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               round(max(IDENTIFIER(:metric)), 2) AS max_price
        FROM IDENTIFIER(:tbl)
        GROUP BY o_orderpriority
        """,
        args={"tbl": name, "metric": "o_totalprice"})
    spark.catalog.dropTempView(name)  # the frame is already analysed
    return df


@query("ansi_try_funcs", oracle="""
    SELECT * FROM (VALUES
        (1, 5.0,
            CAST(30 AS BIGINT), CAST(123 AS INTEGER), CAST(10 AS INTEGER)),
        (2, CAST(NULL AS DOUBLE),
            CAST(21 AS BIGINT), CAST(NULL AS INTEGER), CAST(20 AS INTEGER)),
        (3, CAST(9223372036854775807 AS DOUBLE) / 3,
            CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
            CAST(30 AS INTEGER)),
        (4, CAST(NULL AS DOUBLE),
            CAST(NULL AS BIGINT), CAST(-5 AS INTEGER),
            CAST(NULL AS INTEGER))
    ) AS t(id, div_q, mul_t, cast_c, elem_e)
""")
def ansi_try_funcs(spark, sf_dir):
    """ANSI-mode error-safe function family (try_divide / try_multiply /
    try_cast / try_element_at): under Spark 4's default ANSI SQL mode,
    division by zero, numeric overflow, and malformed casts RAISE —
    the try_* variants return NULL instead, the contract a 100 TB batch
    job needs (one bad row must not kill a 6-hour stage; the NULLs are
    then auditable with a count filter, see csv/json_malformed_handling
    for the source-side twin). The oracle is the explicit expected
    truth table — error semantics pinned row by row:
    id 2 divides by zero, id 3 overflows BIGINT*3 and INT32 cast,
    id 4 feeds NULL/out-of-range inputs through every function."""
    rows = spark.sql("""
        SELECT * FROM VALUES
            (1, CAST(10 AS BIGINT), 2, '123'),
            (2, CAST(7 AS BIGINT), 0, '12abc'),
            (3, CAST(9223372036854775807 AS BIGINT), 3, '987654321098'),
            (4, CAST(NULL AS BIGINT), 4, '-5')
        AS t(id, a, b, s)
    """)
    return rows.select(
        "id",
        F.try_divide(F.col("a"), F.col("b")).alias("div_q"),
        F.try_multiply(F.col("a"), F.lit(3).cast("bigint")).alias("mul_t"),
        F.col("s").try_cast("int").alias("cast_c"),
        F.try_element_at(F.array(F.lit(10), F.lit(20), F.lit(30)),
                         F.col("id").cast("int")).alias("elem_e"))


@query("sql_pipe_syntax", oracle=f"""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           {units_sum_sql('o_totalprice', 100)}
               AS cents
    FROM orders
    WHERE o_orderdate >= '1995-01-01'
    GROUP BY o_orderpriority
""")
def sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4: FROM t |> WHERE ... |> AGGREGATE ...):
    the linear top-to-bottom query dialect — each |> stage reads as a
    DataFrame method chain but stays pure SQL, so REPL users compose
    filters and aggregations without inside-out SELECT nesting. The
    parser lowers pipes to the SAME logical plan as the classic form
    (filter pushdown, partial aggregation all unchanged); the oracle is
    that classic form on DuckDB."""
    return spark.sql("""
        FROM {orders}
        |> WHERE o_orderdate >= '1995-01-01'
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents1
        |> AGGREGATE count(*) AS n, sum(cents1) AS cents
           GROUP BY o_orderpriority
    """, orders=T(spark, sf_dir, "orders"))


@query("sql_session_variables", oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           round(max(o_totalprice), 2) AS max_price
    FROM orders WHERE o_totalprice > 400000.0
    GROUP BY o_orderstatus
""")
def sql_session_variables(spark, sf_dir):
    """Session variables + EXECUTE IMMEDIATE (Spark 4): DECLARE
    VARIABLE / SET VAR give SQL-only sessions typed, injection-safe
    state (the REPL analogue of sqlite's bind params held across
    statements), and EXECUTE IMMEDIATE runs SQL text held in a
    variable — together the dynamic-SQL surface a migrating SQLite
    user asks for first. The threshold rides through a DOUBLE variable
    into the WHERE clause (still folds to a pushed filter); the final
    SELECT itself executes from a STRING variable."""
    name = f"vars_{uuid.uuid4().hex[:8]}"
    T(spark, sf_dir, "orders").createOrReplaceTempView(name)
    spark.sql("DECLARE OR REPLACE VARIABLE price_thr DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR price_thr = 400000.0")
    spark.sql("DECLARE OR REPLACE VARIABLE stmt STRING")
    spark.sql(f"""SET VAR stmt =
        'SELECT o_orderstatus, count(*) AS n,
                round(max(o_totalprice), 2) AS max_price
         FROM {name} WHERE o_totalprice > price_thr
         GROUP BY o_orderstatus'""")
    df = spark.sql("EXECUTE IMMEDIATE stmt")
    spark.catalog.dropTempView(name)  # the frame is already analysed
    return df


@query("sql_group_by_all", oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           {units_sum_sql('o_totalprice', 100)}
               AS cents
    FROM orders WHERE o_orderdate < '1994-01-01'
    GROUP BY ALL
""")
def sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL / ORDER BY ALL (Spark 4, also DuckDB dialect): the
    analyzer infers the grouping keys as every non-aggregate select
    item — the ergonomic form ad-hoc REPL users reach for (and one
    SQLite lacks). Resolution happens at analysis time; the plan is
    byte-identical to the explicit GROUP BY, so partial aggregation
    and pushdown are unaffected. The oracle runs the same GROUP BY ALL
    on DuckDB — both dialects must infer the same keys."""
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               {units_sum_sql('o_totalprice', 100)} AS cents
        FROM {{orders}} WHERE o_orderdate < '1994-01-01'
        GROUP BY ALL
    """, orders=T(spark, sf_dir, "orders"))


@query("sql_group_order_all", oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           {cents_sum_sql('o_totalprice')}
               AS sum_price
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
""")
def sql_group_order_all(spark, sf_dir):
    """GROUP BY ALL + ORDER BY ALL (Spark 4 surface; the convenience
    grouping DuckDB pioneered and ANSI took up): every non-aggregate
    select item becomes a grouping key, and ORDER BY ALL sorts by the
    full select list left-to-right — the analyst shorthand that
    removes the copy-the-select-list failure mode (adding a column to
    the projection silently changing GROUP BY is a classic bug class).
    Semantically identical to spelling the keys out, so Catalyst
    plans the same partial/final hash aggregate; the ORDER BY ALL sort
    is total and deterministic here because the grouped keys are
    unique. Money stays in integer cents (SURVEY §4.3); the division
    result is CAST back to DOUBLE because Spark types 100.0 as
    DECIMAL(4,1) (same note as sql_parameterized)."""
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST({cents_sum_sql('o_totalprice')} AS DOUBLE) AS sum_price
        FROM {{orders}}
        GROUP BY ALL
        ORDER BY ALL
    """, orders=T(spark, sf_dir, "orders"))


@query("union_by_name_missing", oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(o_orderpriority) AS BIGINT) AS n_with_priority,
           CAST(count(o_custkey) AS BIGINT) AS n_with_custkey
    FROM (
        SELECT o_orderstatus, o_custkey, NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL BY NAME
        SELECT o_orderpriority, o_orderstatus, NULL AS o_custkey
        FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY o_orderstatus
""")
def union_by_name_missing(spark, sf_dir):
    """UNION BY NAME with missing columns — the schema-drift-tolerant
    union (DataFrame `unionByName(allowMissingColumns=True)`; DuckDB
    spells it UNION ALL BY NAME): two extracts whose projections
    DISAGREE in column order AND column set combine by NAME, absent
    columns padded with NULL — positional UNION would silently pair
    o_orderpriority with o_custkey here, the classic integration bug
    this operator exists to kill. The census counts non-NULL per
    column per status to prove each column kept its own values
    through the union (not its positional neighbor's). Catalyst
    resolves the mapping at analysis time — the physical plan is the
    same two scans + union as the positional form, zero runtime
    cost. Same family as `parquet_schema_evolution` (drift at the
    storage layer vs drift at the query layer)."""
    o = T(spark, sf_dir, "orders")
    even = (o.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderstatus", "o_custkey"))
    odd = (o.filter(F.col("o_orderkey") % 2 == 1)
           .select("o_orderpriority", "o_orderstatus"))
    u = even.unionByName(odd, allowMissingColumns=True)
    return (u.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.count("o_orderpriority").alias("n_with_priority"),
                 F.count("o_custkey").alias("n_with_custkey")))
