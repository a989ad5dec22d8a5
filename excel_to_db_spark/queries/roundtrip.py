"""Source/sink round-trip queries (SURVEY.md §2.A sinks, widened).

The reference's I/O surface is xlsx-in -> SQLite-in-process -> CSV-out
(reference src/main.rs:49-128, 264-286). The xlsx and CSV legs are
covered by the Tier A parity queries (queries/parity.py); this module
exercises the remaining legs as full write-then-read-back round trips,
each returning data that the DuckDB oracle reproduces from the ORIGINAL
parquet — so the check proves the sink+source pair is lossless, not just
that it ran:

- `sqlite_roundtrip` — the reference's actual DB sink (import_database,
  reference src/main.rs:87-128) re-expressed: batched single-transaction
  INSERTs via sinks.db.write_sqlite, then read back through sqlite3.
- `csv_roundtrip` — distributed CSV write (header, per-partition files)
  re-read with an explicit schema; type fidelity across the text hop.
- `jsonl_roundtrip` — JSON-lines write/read with nested-string props
  surviving the hop, then a post-trip aggregation over extracted fields.
"""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from .registry import query, scratch_dir
from .relational import T
from ..numerics import cents_sum_sql


@query("sqlite_roundtrip", oracle=f"""
    SELECT o_orderpriority, count(*) AS n,
           {cents_sum_sql('o_totalprice')}
             AS revenue
    FROM orders GROUP BY o_orderpriority
""")
def sqlite_roundtrip(spark, sf_dir):
    """The reference's DB sink as a round trip: aggregate orders, write
    into a SQLite file (one transaction, executemany batches — vs the
    reference's per-row autocommit loop, reference src/main.rs:112-123),
    read it back through sqlite3, and return the read-back rows. The
    aggregate is computed in integer cents so the value that crosses the
    SQLite REAL hop is a short exact decimal. At 100 TB the sink input
    is an aggregate by construction (toLocalIterator streams it); the
    full-fact path is Spark's executor-parallel `df.write.jdbc`."""
    from ..sinks.db import write_sqlite

    agg = (T(spark, sf_dir, "orders")
           .groupBy("o_orderpriority")
           .agg(F.count("*").alias("n"),
                F.round(F.sum(F.expr(
                    "CAST(round(o_totalprice * 100) AS BIGINT)")) / 100.0, 2)
                .alias("revenue")))
    path = os.path.join(scratch_dir("sqlite"), "sqlite.db")
    write_sqlite(agg, path, table="order_revenue",
                 unique_key="o_orderpriority")
    con = sqlite3.connect(path)
    try:
        rows = con.execute(
            'SELECT "o_orderpriority", "n", "revenue" FROM "order_revenue"'
        ).fetchall()
    finally:
        con.close()
    schema = Ty.StructType([
        Ty.StructField("o_orderpriority", Ty.StringType()),
        Ty.StructField("n", Ty.LongType()),
        Ty.StructField("revenue", Ty.DoubleType()),
    ])
    return spark.createDataFrame(rows, schema)


@query("csv_roundtrip", oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
           o_orderdate
    FROM orders WHERE o_orderkey % 250 = 0
""")
def csv_roundtrip(spark, sf_dir):
    """Distributed CSV sink + source round trip: write a filtered
    projection with header (executor-parallel part files — the layout
    that scales, vs the reference's driver-side single file, reference
    src/main.rs:264-286), then read back with an EXPLICIT schema — never
    inferSchema, which would re-scan the data and guess. Timestamps
    cross the text hop via Spark's default ISO instant format; doubles
    via shortest-round-trip rendering, pre-rounded to 2dp so the text is
    a short exact decimal on both engines."""
    out = scratch_dir("csvrt")
    (T(spark, sf_dir, "orders")
     .filter(F.col("o_orderkey") % 250 == 0)
     .select("o_orderkey", "o_orderstatus",
             F.round("o_totalprice", 2).alias("price"), "o_orderdate")
     .write.mode("overwrite").option("header", True).csv(out))
    schema = Ty.StructType([
        Ty.StructField("o_orderkey", Ty.LongType()),
        Ty.StructField("o_orderstatus", Ty.StringType()),
        Ty.StructField("price", Ty.DoubleType()),
        Ty.StructField("o_orderdate", Ty.TimestampType()),
    ])
    return spark.read.schema(schema).option("header", True).csv(out)


@query("jsonl_roundtrip", oracle=f"""
    SELECT event_type, count(*) AS n,
           {cents_sum_sql('value')}
             AS sum_value,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
""")
def jsonl_roundtrip(spark, sf_dir):
    """JSON-lines sink + source round trip: write events as JSONL
    (executor-parallel), read back with an explicit schema, and
    aggregate — including a field extracted from the nested JSON string
    column that crossed the hop as a string (write-side escaping must
    compose with the inner JSON). get_json_object is the streaming
    JsonPath evaluator — no full from_json materialization for one key.
    The double sum accumulates in integer cents (SURVEY §4.3) so the
    result does not depend on partial-aggregation order — JSON renders
    doubles shortest-round-trip, so cents survive the text hop exactly."""
    out = scratch_dir("jsonrt")
    (T(spark, sf_dir, "events")
     .select("event_id", "user_id", "event_type", "value", "props")
     .write.mode("overwrite").json(out))
    schema = Ty.StructType([
        Ty.StructField("event_id", Ty.LongType()),
        Ty.StructField("user_id", Ty.LongType()),
        Ty.StructField("event_type", Ty.StringType()),
        Ty.StructField("value", Ty.DoubleType()),
        Ty.StructField("props", Ty.StringType()),
    ])
    back = spark.read.schema(schema).json(out)
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum(F.expr(
                     "CAST(round(value * 100) AS BIGINT)")) / 100.0, 2)
                 .alias("sum_value"),
                 F.sum(F.get_json_object("props", "$.k").cast("bigint"))
                 .alias("sum_k")))
