"""Storage-layout queries: bucketed co-located joins + extra format
round trips (ORC, xlsx).

The reference's storage story is a single SQLite file (reference
src/main.rs:87-128); at 100 TB the equivalent decisions are table
LAYOUT decisions — bucketing to pre-shuffle the join keys once at write
time, columnar formats with predicate pushdown, and a spreadsheet hop
for the reference's own xlsx surface. Each query here is a full
write-then-read-back round trip whose DuckDB oracle reproduces the
result from the ORIGINAL parquet, so the check proves losslessness of
the layout hop, not just that it ran.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from .registry import query, scratch_dir
from .relational import T
from ..numerics import cents_sum, cents_sum_sql, units_sum_sql


def write_bucketed(df: DataFrame, name: str, key: str, buckets: int = 8,
                   path: str | None = None) -> str:
    """Write `df` as a bucketed, per-bucket-sorted external table and
    return the catalog name. `repartition(buckets, key)` first, so each
    write task holds exactly one bucket's rows (repartition and bucketing
    share the same Murmur3 `hash pmod n` routing) — one file per bucket,
    which is what lets the scan keep the sort order and the join skip
    both the Exchange and (with sorted single files) the Sort.

    This is the write-once/join-many contract: the shuffle that a plain
    join would pay per query is paid once at layout time. At 100 TB the
    same pattern is the difference between re-shuffling the fact table
    on every join and never shuffling it again."""
    path = path or scratch_dir(f"bkt_{name}")
    (df.repartition(buckets, F.col(key))
       .write.mode("overwrite")
       .bucketBy(buckets, key).sortBy(key)
       .option("path", path)
       .saveAsTable(name))
    return name


def bucketed_join_pair(spark: SparkSession, sf_dir: str, buckets: int = 8
                       ) -> DataFrame:
    """Bucket orders and customer on custkey, then join the two bucketed
    tables. Both scans are already hash-distributed by the join key, so
    the SortMergeJoin runs with NO Exchange on either side (asserted in
    tests/test_storage.py). The merge hint pins SMJ — broadcast would
    also be exchange-free but wouldn't demonstrate co-location."""
    run = uuid.uuid4().hex[:8]
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    to = write_bucketed(o, f"bkt_orders_{run}", "o_custkey", buckets)
    tc = write_bucketed(c, f"bkt_customer_{run}", "c_custkey", buckets)
    return (spark.table(to).hint("merge")
            .join(spark.table(tc),
                  F.col("o_custkey") == F.col("c_custkey")))


@query("join_bucketed", oracle=f"""
    SELECT c_mktsegment, count(*) AS n_orders,
           {cents_sum_sql('o_totalprice')} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
""")
def join_bucketed(spark, sf_dir):
    """Co-located join via bucketed storage: orders and customer written
    once as 8-bucket tables on custkey, then joined bucket-to-bucket —
    zero Exchange on either join side (the only shuffle left is the
    final segment aggregation). The round trip through the bucketed
    layout is verified value-for-value against the original parquet."""
    return (bucketed_join_pair(spark, sf_dir)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 cents_sum(F.col("o_totalprice")).alias("revenue")))


@query("orc_roundtrip", oracle=f"""
    SELECT l_returnflag, count(*) AS n,
           {cents_sum_sql('l_extendedprice')} AS sum_price,
           {cents_sum_sql('l_quantity')} AS sum_qty
    FROM lineitem WHERE l_discount > 0.05
    GROUP BY l_returnflag
""")
def orc_roundtrip(spark, sf_dir):
    """ORC sink + source round trip (the second big columnar format —
    same DataFrame API, different physical encoder): write a lineitem
    projection as ORC, read it back, and push the discount filter down
    to the ORC scan (ORC keeps min/max stripe stats just like parquet
    row groups, so the pushed filter skips stripes). Aggregation over
    the round-tripped copy must equal DuckDB over the original parquet."""
    out = scratch_dir("orcrt")
    (T(spark, sf_dir, "lineitem")
     .select("l_returnflag", "l_extendedprice", "l_quantity", "l_discount")
     .write.mode("overwrite").orc(out))
    back = spark.read.orc(out).filter(F.col("l_discount") > 0.05)
    return (back.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 cents_sum(F.col("l_extendedprice")).alias("sum_price"),
                 cents_sum(F.col("l_quantity")).alias("sum_qty")))


@query("excel_sink_partitioned", oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           {cents_sum_sql('o_totalprice')} AS sum_price
    FROM orders WHERE o_orderkey % 100 = 0
    GROUP BY o_orderstatus
""")
def excel_sink_partitioned(spark, sf_dir):
    """Distributed xlsx sink + source: `df.write.format("xlsx")` fans
    the slice out to executor tasks (one part-N.xlsx each; driver-side
    commit writes a _SUCCESS manifest naming exactly the committed
    parts), then `spark.read.format("xlsx").schema(...)` reads the
    manifest's parts back in parallel with generic positional coercion.
    Write + read both executor-parallel — Excel as a real distributed
    format, not the reference's single-threaded driver parse
    (src/main.rs:49-85). Aggregation over the round trip must equal
    DuckDB over the original parquet."""

    from ..sources.datasource import XlsxDataSource

    spark.dataSource.register(XlsxDataSource)
    out = scratch_dir("xlsx_sink")
    (T(spark, sf_dir, "orders")
     .filter(F.col("o_orderkey") % 100 == 0)
     .select("o_orderkey", "o_orderstatus",
             F.round("o_totalprice", 2).alias("price"))
     .repartition(4)
     .write.format("xlsx").mode("overwrite").option("path", out).save())
    back = (spark.read.format("xlsx")
            .schema("o_orderkey bigint, o_orderstatus string, price double")
            .option("path", out).load())
    return (back.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 cents_sum(F.col("price"))
                 .alias("sum_price")))


@query("excel_roundtrip", oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
    FROM orders WHERE o_orderkey % 500 = 0
""")
def excel_roundtrip(spark, sf_dir):
    """xlsx sink + source round trip on NON-golden data: an orders slice
    written through the pure-Python workbook writer (inline strings, the
    reference's sheet shape) and read back through the same parser the
    Tier A queries use (sources/xlsx.py) — proving the xlsx surface is a
    real bidirectional format hop, not a demo.xlsx-only path. The hop is
    driver-side single-file by nature (as in the reference, src/main.rs:
    49-85); the slice is filtered down BEFORE leaving the cluster."""
    from ..sources.xlsx import read_xlsx_rows
    from ..sources.xlsx_writer import write_xlsx

    rows = (T(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 500 == 0)
            .select("o_orderkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("price"))
            .toLocalIterator())
    path = os.path.join(scratch_dir("xlsxrt"), "xlsxrt.xlsx")
    header = ["o_orderkey", "o_orderstatus", "price"]
    write_xlsx(path, [header] + [list(r) for r in rows])
    back = read_xlsx_rows(path)[1:]  # skip header
    typed = [(int(r[0]), str(r[1]), float(r[2])) for r in back]
    schema = Ty.StructType([
        Ty.StructField("o_orderkey", Ty.LongType()),
        Ty.StructField("o_orderstatus", Ty.StringType()),
        Ty.StructField("price", Ty.DoubleType()),
    ])
    return spark.createDataFrame(typed, schema)


@query("dynamic_partition_overwrite", oracle=f"""
    SELECT event_type, count(*) AS n,
           {cents_sum_sql(
               "CASE WHEN event_type = 'click' THEN value * 2 ELSE value END")} AS sum_value
    FROM events GROUP BY event_type
""")
def dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the incremental-backfill primitive:
    an INSERT OVERWRITE that replaces ONLY the partitions present in the
    incoming data, leaving every other partition's files untouched.

    Here: events written partitioned by event_type, then the 'click'
    partition alone is rewritten with doubled values via the per-write
    `partitionOverwriteMode=dynamic` option (no global conf mutation —
    session stays clean for concurrent queries). The read-back
    aggregation must show exactly one modified partition; the oracle
    recomputes that end state from the original parquet. At 100 TB this
    is how a daily pipeline repairs one day out of thousands without a
    full-table rewrite, and the option keeps it transactional per
    partition (Spark stages to _temporary and commits per-partition
    directories)."""
    out = scratch_dir("dpo")
    base = (T(spark, sf_dir, "events")
            .select("event_id", "user_id", "value", "event_type"))
    base.write.partitionBy("event_type").mode("overwrite").parquet(out)

    clicks2 = (base.filter(F.col("event_type") == "click")
               .withColumn("value", F.col("value") * 2))
    (clicks2.write.partitionBy("event_type")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite").parquet(out))

    back = spark.read.parquet(out)
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 cents_sum(F.col("value")).alias("sum_value")))


@query("federated_union", oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           {cents_sum_sql('round(o_totalprice, 2)')} AS sum_price
    FROM orders GROUP BY o_orderstatus
""")
def federated_union(spark, sf_dir):
    """Federated multi-format read: one logical table physically split
    across parquet, ORC, and CSV (orderkey mod 3), each slice read back
    with its format's reader under ONE explicit schema and recombined
    with unionByName. The aggregate over the union must equal the
    single-source oracle — proving the three readers agree on types,
    nulls, and values (CSV doubles pre-rounded to 2dp so the text hop
    is exact; the oracle applies the same rounding).

    The production story: a 100 TB lake is never one format — historic
    CSV dumps, an ORC era, a parquet present. unionByName over
    per-format scans federates them without a rewrite; each branch
    keeps its own pushdown (column pruning works in all three readers,
    predicate pushdown in the columnar two)."""
    out = scratch_dir("fed")
    base = (T(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("o_totalprice")))
    m = F.col("o_orderkey") % 3
    base.filter(m == 0).write.mode("overwrite").parquet(f"{out}/pq")
    base.filter(m == 1).write.mode("overwrite").orc(f"{out}/orc")
    (base.filter(m == 2).write.mode("overwrite")
     .option("header", True).csv(f"{out}/csv"))

    schema = Ty.StructType([
        Ty.StructField("o_orderkey", Ty.LongType()),
        Ty.StructField("o_orderstatus", Ty.StringType()),
        Ty.StructField("o_totalprice", Ty.DoubleType()),
    ])
    pq = spark.read.schema(schema).parquet(f"{out}/pq")
    orc = spark.read.schema(schema).orc(f"{out}/orc")
    csv = spark.read.schema(schema).option("header", True).csv(f"{out}/csv")
    fed = pq.unionByName(orc).unionByName(csv)
    return (fed.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 cents_sum(F.col("o_totalprice")).alias("sum_price")))


@query("range_partition_histogram", oracle="""
    WITH t AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    b AS (
        SELECT quantile_cont(cents, 0.25) AS b1,
               quantile_cont(cents, 0.50) AS b2,
               quantile_cont(cents, 0.75) AS b3
        FROM t
    )
    SELECT CAST(1 + CAST(cents > b1 AS INTEGER)
                  + CAST(cents > b2 AS INTEGER)
                  + CAST(cents > b3 AS INTEGER) AS INTEGER) AS bucket,
           count(*) AS n,
           round(min(cents) / 100.0, 2) AS min_price,
           round(max(cents) / 100.0, 2) AS max_price
    FROM t, b
    GROUP BY 1
""")
def range_partition_histogram(spark, sf_dir):
    """Equi-depth range layout audit: exact quartile boundaries of the
    order value distribution, then the per-bucket row count + value
    span — the boundary computation behind skew-free range partitioning
    (repartitionByRange / global sorts pick boundaries the same way,
    from a sample instead of the exact quantile).

    Scale shape: ONE aggregation computes all three boundaries (no
    global sort — percentile is an aggregate, so the data never
    single-partitions), the 3-value boundary row broadcasts back onto
    the scan, and the bucket histogram is an ordinary 4-group hash
    aggregate. Boundaries interpolate integer cents at dyadic fractions
    (0.25/0.5/0.75), so both engines' type-7 quantiles are bit-exact
    and the bucket comparisons can't flip."""
    o = T(spark, sf_dir, "orders")
    t = o.select(F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents"))
    b = t.agg(F.percentile("cents", 0.25).alias("b1"),
              F.percentile("cents", 0.50).alias("b2"),
              F.percentile("cents", 0.75).alias("b3"))
    bucket = (F.lit(1)
              + (F.col("cents") > F.col("b1")).cast("int")
              + (F.col("cents") > F.col("b2")).cast("int")
              + (F.col("cents") > F.col("b3")).cast("int"))
    return (t.crossJoin(F.broadcast(b))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.round(F.min("cents") / 100.0, 2).alias("min_price"),
                 F.round(F.max("cents") / 100.0, 2).alias("max_price")))


@query("parquet_schema_evolution", oracle=f"""
    SELECT CAST(1 + (o_orderkey % 2) AS INTEGER) AS epoch,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_priority,
           {units_sum_sql('o_totalprice', 100)}
               AS sum_cents
    FROM orders
    GROUP BY 1
""")
def parquet_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet write epochs — the lakehouse
    reality every long-lived 100 TB table lives with: epoch=1 was
    written BEFORE the o_orderpriority column existed; epoch=2 adds
    it. The reader must union the schemas (mergeSchema=true), surface
    the missing column as NULL for old files, and keep partition
    discovery working off the epoch=N directory layout — all three
    are verified by the census (epoch-1 rows are 100% NULL in the
    added column; integer-cent sums survive the round trip exactly).

    Physical notes: mergeSchema triggers a footer-merge job across
    files (O(#files), why production tables move the schema to a
    catalog); the epoch partition column comes from directory names,
    so an epoch filter would prune entire directories without reading
    a byte (same machinery as dynamic_partition_overwrite). The
    oracle recomputes the census from the ORIGINAL table — the
    round trip must be invisible."""
    out = scratch_dir("schevo")
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("total_cents"))
    (o.filter(F.col("o_orderkey") % 2 == 0)
     .select("o_orderkey", "total_cents")
     .write.mode("overwrite").parquet(f"{out}/epoch=1"))
    (o.filter(F.col("o_orderkey") % 2 == 1)
     .select("o_orderkey", "total_cents", "o_orderpriority")
     .write.mode("overwrite").parquet(f"{out}/epoch=2"))
    back = (spark.read.option("mergeSchema", "true")
            .option("basePath", out).parquet(out))
    return (back.groupBy("epoch")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.when(F.col("o_orderpriority").isNull(), 1)
                       .otherwise(0)).cast("bigint")
                 .alias("n_null_priority"),
                 F.sum("total_cents").alias("sum_cents")))
