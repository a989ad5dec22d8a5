"""Loaders for the driver-generated star-schema testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.

`events.ts` normalization: the driver-generated parquet stores `ts` as
timestamp[us] *without* a timezone, which Spark reads as TIMESTAMP_NTZ —
a type `withWatermark` rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
Under the pinned UTC session timezone the NTZ->TIMESTAMP cast is a pure
reinterpretation (no wall-clock shift), so `load_table` casts it to
TimestampType once, here, for every consumer (batch and streaming). A
legacy branch also handles TIMESTAMP(NANOS) parquet read as a nanosecond
long via spark.sql.legacy.parquet.nanosAsLong (truncating ns->us exactly
as DuckDB's cast does) in case the generator ever emits nanos again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType (LTZ) so that
    watermarks, window(), and epoch functions all work identically for
    batch and streaming consumers.

    - TIMESTAMP_NTZ (what timestamp[us]-no-tz parquet reads as): cast to
      TIMESTAMP. Requires spark.sql.session.timeZone=UTC (asserted in
      session.require_utc) so the reinterpretation is value-preserving
      against the DuckDB epoch_us oracle.
    - bigint (TIMESTAMP(NANOS) parquet under nanosAsLong): truncate
      ns -> µs with integer division, matching DuckDB's ns->us cast.
    - TimestampType already: no-op.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing types where parquet and Spark
    disagree. Plain `spark.read.parquet` keeps predicate pushdown, column
    pruning and partition-splitting intact."""
    if name == "events":
        # Runtime-settable; needed when the session was created without it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from .session import require_utc
        require_utc(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df
