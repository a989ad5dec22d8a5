"""Reference-parity queries (SURVEY.md §2.A): the reference's OWN
operator surface — Excel scan, load, display formatting, CSV export —
registered as oracle-checked queries against the golden demo.xlsx values
(SURVEY.md §5.1: 2 data rows, known cell values).

These exercise the full reference pipeline end to end: pure-Python xlsx
parse (sources/xlsx.py) -> typed DataFrame with the reference's executed
coercion semantics (ingest.py) -> display formatter / CSV sink
(sinks/). The oracle side is literal VALUES rows, because the expected
output IS a fixed golden table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

from ..ingest import load_excel_table
from ..sinks.csv_sink import export_csv
from ..sinks.display import collect_formatted
from ..numerics import cents_sum, cents_sum_sql
from .registry import query, scratch_dir

DEMO_XLSX = "/root/reference/demo.xlsx"
if not os.path.exists(DEMO_XLSX):
    # No reference checkout: the committed copy of the same two golden
    # rows, written with sources/xlsx_writer.write_xlsx.
    DEMO_XLSX = os.path.normpath(os.path.join(
        os.path.dirname(os.path.abspath(__file__)), os.pardir, os.pardir,
        "tests", "fixtures", "demo.xlsx"))


@query("excel_scan", oracle="""
    SELECT * FROM (VALUES
        ('ent_XXX_V2',     12001.12, CAST(100 AS BIGINT), 12001.12, 11.0),
        ('ent_XXX_YYY_V2', 12001.12, CAST(100 AS BIGINT), 12001.12, 10.0)
    ) AS t(service_name, average_response_time_95_ms, "count",
           max_response_time_95_ms, min_response_time_95_ms)
""")
def excel_scan(spark, sf_dir):
    """The reference's Excel source end to end (reference
    src/main.rs:49-85): header skipped, positional 5-column map,
    0.0/0 defaults, uniqueness check — against demo.xlsx golden cells."""
    return load_excel_table(spark, DEMO_XLSX)


@query("load_rowcount", oracle="SELECT CAST(2 AS BIGINT) AS n_rows")
def load_rowcount(spark, sf_dir):
    """Load-parity check: the insert-loop row count (reference
    src/main.rs:87-128) == DataFrame count."""
    return load_excel_table(spark, DEMO_XLSX).agg(F.count("*").alias("n_rows"))


@query("display_format", oracle="""
    SELECT * FROM (VALUES
        ('ent_XXX_V2',     '12,001.12', '100', '12,001.12', '11.0'),
        ('ent_XXX_YYY_V2', '12,001.12', '100', '12,001.12', '10.0')
    ) AS t(service_name, avg_fmt, count_fmt, max_fmt, min_fmt)
""")
def display_format(spark, sf_dir):
    """The pretty-table formatter (reference src/main.rs:238-261):
    thousands-separated numbers, NULL/BLOB literals. Formatting runs
    driver-side on a capped collect (the deliberate divergence: the
    reference materializes unbounded results, SURVEY.md §3.2); the
    formatted cells are re-wrapped as a DataFrame for the check."""
    df = load_excel_table(spark, DEMO_XLSX).orderBy("service_name")
    header, rows, _truncated = collect_formatted(df)
    out_schema = StructType([
        StructField(c, StringType()) for c in
        ("service_name", "avg_fmt", "count_fmt", "max_fmt", "min_fmt")])
    return spark.createDataFrame(rows, out_schema)


@query("csv_export", oracle="""
    SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), 'service_name,count'),
        (CAST(1 AS BIGINT), 'ent_XXX_V2,100'),
        (CAST(2 AS BIGINT), 'ent_XXX_YYY_V2,100')
    ) AS t(line_no, line)
""")
def csv_export(spark, sf_dir):
    """The CSV sink (reference src/main.rs:264-286) with INTENDED
    semantics (header row, raw values, proper quoting — not the
    reference's comma-stripping bug, which sinks/csv_sink.py offers
    only behind bug_compat=True): export, then read the file back
    line-by-line for a byte-level golden check."""
    df = (load_excel_table(spark, DEMO_XLSX)
          .orderBy("service_name")
          .select("service_name", "count"))
    path = os.path.join(scratch_dir("csv"), "out.csv")
    export_csv(df, path)
    with open(path) as fh:
        lines = [ln.rstrip("\n") for ln in fh]
    schema = StructType([StructField("line_no", LongType()),
                         StructField("line", StringType())])
    return spark.createDataFrame(list(enumerate(lines)), schema)


@query("excel_datasource", oracle="""
    SELECT * FROM (VALUES
        ('ent_XXX_V2',     12001.12, CAST(100 AS BIGINT), 12001.12, 11.0),
        ('ent_XXX_YYY_V2', 12001.12, CAST(100 AS BIGINT), 12001.12, 10.0)
    ) AS t(service_name, average_response_time_95_ms, "count",
           max_response_time_95_ms, min_response_time_95_ms)
""")
def excel_datasource(spark, sf_dir):
    """The scale path for Excel ingest: spark.read.format("xlsx") via the
    Python Data Source API (sources/datasource.py) — one input partition
    per (file, sheet), so a thousand workbooks parse on a thousand cores
    instead of the driver (the reference parses single-threaded on its
    one thread, src/main.rs:61-77). Same golden demo.xlsx values as
    `excel_scan`, proving the two ingest paths agree."""
    from ..sources.datasource import XlsxDataSource

    spark.dataSource.register(XlsxDataSource)
    return (spark.read.format("xlsx")
            .option("path", DEMO_XLSX).load())


@query("sink_parquet_partitioned", oracle=f"""
    SELECT event_type, count(*) AS n,
           {cents_sum_sql('value')}
             AS sum_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
""")
def sink_parquet_partitioned(spark, sf_dir):
    """Partitioned parquet sink + partition-pruned read-back: write
    events partitioned by event_type (the layout that turns a 100 TB
    scan-by-type into reading one directory), then aggregate two types
    from the round-tripped copy. The read-back filter prunes at the
    PartitionFilters level — no row of the other types is decoded
    (asserted in tests/test_repl_sinks.py::test_partitioned_sink_prunes)."""
    import shutil

    from ..tables import load_table

    out = scratch_dir("part")
    shutil.rmtree(out)
    (load_table(spark, sf_dir, "events")
     .write.mode("overwrite").partitionBy("event_type").parquet(out))
    back = spark.read.parquet(out)
    return (back.filter(F.col("event_type").isin("click", "purchase"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 cents_sum(F.col("value")).alias("sum_value")))
