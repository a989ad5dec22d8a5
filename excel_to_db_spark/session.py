"""SparkSession factory with scale-oriented defaults.

The reference runs a single-threaded in-memory SQLite (reference
src/main.rs:134); the rebuild targets a multi-executor cluster, so the
session is configured for adaptive execution, broadcast joins, and Arrow
transfer. Everything here is a plain public Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and desirable) at any scale. On a real cluster the
# resource confs (memory, instances) come from spark-submit; these are
# behavioral.
_BEHAVIOR_CONFS: dict[str, str] = {
    # Adaptive query execution: runtime shuffle-partition coalescing, skew
    # join splitting, and plan re-optimization — essential at 100 TB where
    # static partition counts are always wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / toPandas / createDataFrame batches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timezone for date/time functions (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # The testdata `events` table stores TIMESTAMP(NANOS) which Spark's
    # vectorized parquet reader rejects; read as long and convert
    # explicitly (see tables.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "excel_to_db_spark", *, master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count: at local scale
    a high static count only adds scheduling overhead, and AQE coalesces
    post-shuffle partitions anyway. On a cluster, set it high (or rely on
    AQE's initial partition num) — callers can override.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _BEHAVIOR_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable behavior confs to an externally-created
    session (the driver owns the session in the verify harness)."""
    import sys

    for k, v in _BEHAVIOR_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # Static confs (none currently in the list) can't be set after
            # session start; log loudly rather than silently diverge.
            print(f"tune_session: could not set {k}={v}: {exc}",
                  file=sys.stderr)
    require_utc(spark)
    return spark


def require_utc(spark: SparkSession) -> None:
    """Ensure the session timezone is UTC, failing loudly if it can't be.

    Event-time correctness (the NTZ->TIMESTAMP cast in
    tables.normalize_event_ts, and every unix_micros/epoch comparison
    against the DuckDB oracle) assumes UTC; a non-UTC session would shift
    epochs by the tz offset and silently diverge. The conf is
    runtime-settable, so externally-created sessions (driver harness,
    bench) are healed rather than rejected; the raise only fires if the
    set itself failed. The conf is read with no default: Spark validates
    a default as a time zone, so `get(key, "")` raises on a session that
    never set it, while `get(key)` returns the effective zone."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
        tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            f"spark.sql.session.timeZone must be UTC, got {tz!r}; "
            "event-time queries would silently shift epochs")
