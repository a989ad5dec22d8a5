"""Database sinks — the "to_db" of excel_to_db.

The reference's sink is an in-process SQLite database built with a
per-row prepared-INSERT loop (reference src/main.rs:87-128, one
autocommit per row — the classic slow path).

`write_sqlite` is single-node parity with the reference (its DB is
in-process anyway). It streams `toLocalIterator` partition batches into
executemany inside ONE transaction — the driver never materializes the
full table, and the transaction batching alone is orders of magnitude
faster than the reference's per-row autocommit. The cluster path is
Spark's own `df.write.jdbc(url, table, ...)`: executors write their
partitions in parallel, given the target's JDBC driver jar on the
classpath.
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame

_SQLITE_TYPES = {
    "string": "TEXT",
    "double": "REAL",
    "float": "REAL",
    "bigint": "INTEGER",
    "int": "INTEGER",
    "smallint": "INTEGER",
    "tinyint": "INTEGER",
    "boolean": "INTEGER",
    "binary": "BLOB",
}


def _sqlite_type(spark_type: str) -> str:
    if spark_type.startswith("decimal"):
        return "REAL"  # numeric affinity; values bind as float
    return _SQLITE_TYPES.get(spark_type, "TEXT")  # dates/timestamps -> TEXT


def _converter(spark_type: str):
    """A column's Python value -> the value SQLite binds, or None when the
    value binds as it is (strings, numbers, binary)."""
    if spark_type == "boolean":
        return int
    if spark_type.startswith("timestamp"):
        return lambda v: v.isoformat(sep=" ")
    if spark_type == "date" or spark_type.startswith("time"):
        return lambda v: v.isoformat()
    if spark_type.startswith("decimal"):
        # sqlite3 refuses to bind Decimal; REAL is its numeric storage
        # class, so the float image is what the column would hold anyway.
        return float
    if spark_type.startswith(("array", "map", "struct")):
        return str
    return None


def write_sqlite(df: DataFrame, path: str, table: str = "excel_rows", *,
                 mode: str = "overwrite", unique_key: str | None = None,
                 batch_size: int = 10_000) -> int:
    """Write a DataFrame into a SQLite database file; returns row count.

    `unique_key` re-creates the reference's intended unique index
    (reference src/main.rs:189-190 — which its own multi-statement
    execute likely never created; see SURVEY.md §1.1). SQLite enforces
    it during the load exactly as the reference intended."""
    dtypes = df.dtypes
    decls = ", ".join(f'"{c}" {_sqlite_type(t)}' for c, t in dtypes)
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        if mode == "overwrite":
            cur.execute(f'DROP TABLE IF EXISTS "{table}"')
        cur.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({decls})')
        if unique_key:
            cur.execute(f'CREATE UNIQUE INDEX IF NOT EXISTS '
                        f'"idx_{table}_{unique_key}" ON "{table}" ("{unique_key}")')
        placeholders = ", ".join("?" for _ in dtypes)
        ins = f'INSERT INTO "{table}" VALUES ({placeholders})'
        n = 0
        batch: list = []
        # toLocalIterator: one partition in driver memory at a time —
        # bounded memory however big the table is. A driver-built table
        # (ingest.arrow_frame) is one partition, so that is the whole
        # table, which the driver already holds.
        converters = [(i, f) for i, (_, t) in enumerate(dtypes)
                      if (f := _converter(t)) is not None]
        for row in df.toLocalIterator():
            if converters:
                row = list(row)
                for i, f in converters:
                    if row[i] is not None:
                        row[i] = f(row[i])
            batch.append(row)
            if len(batch) >= batch_size:
                cur.executemany(ins, batch)
                n += len(batch)
                batch.clear()
        if batch:
            cur.executemany(ins, batch)
            n += len(batch)
        con.commit()
        return n
    finally:
        con.close()
