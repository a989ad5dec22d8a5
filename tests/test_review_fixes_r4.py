"""Regression tests for the round-4 I/O + REPL review fixes: the
|out= marker is literal-aware, SQLite writes bind Decimal, UPDATE SET
resolves case-insensitively, DROP refuses to lie about permanent
tables, GLOB backslashes stay literal (verified against real sqlite3),
and xlsx sheet names survive double quotes."""

from __future__ import annotations

import os
import sqlite3
import tempfile

from pyspark.sql import functions as F


def test_out_suffix_ignores_literals():
    from excel_to_db_spark.repl import parse_out_suffix

    sql, out = parse_out_suffix("SELECT * FROM t WHERE note = 'a|out=b'")
    assert out is None and sql.endswith("'a|out=b'")
    sql, out = parse_out_suffix(
        "SELECT '|out=decoy' AS c FROM t |out=/tmp/x.csv")
    assert out == "/tmp/x.csv" and "'|out=decoy'" in sql
    sql, out = parse_out_suffix("SELECT 1 |out=/tmp/y.csv")
    assert out == "/tmp/y.csv" and sql == "SELECT 1"


def test_write_sqlite_binds_decimal(spark):
    from excel_to_db_spark.sinks.db import write_sqlite

    df = spark.sql(
        "SELECT CAST(12.34 AS DECIMAL(10,2)) AS d, 'x' AS s")
    path = os.path.join(tempfile.mkdtemp(prefix="e2db_dec_"), "t.db")
    assert write_sqlite(df, path, "t") == 1
    got = sqlite3.connect(path).execute("SELECT d, s FROM t").fetchall()
    assert got == [(12.34, "x")]


def test_update_set_case_insensitive(spark):
    from excel_to_db_spark.dml import try_dml

    spark.createDataFrame([(1, 10)], "id long, count long") \
        .createOrReplaceTempView("updci")
    msg = try_dml(spark, "UPDATE updci SET Count = 99 WHERE id = 1")
    assert msg is not None and "1 row" in msg
    assert spark.table("updci").collect()[0]["count"] == 99
    spark.catalog.dropTempView("updci")


def test_glob_backslash_literal(spark):
    """x GLOB 'a\\b' treats the backslash as a literal char in SQLite;
    the LIKE rewrite must match exactly the same rows."""
    from excel_to_db_spark.compat.sqlite_dialect import rewrite

    rows = [("a\\b",), ("ab",), ("axb",)]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (x TEXT)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    want = sorted(r[0] for r in con.execute(
        "SELECT x FROM t WHERE x GLOB 'a\\b'"))
    spark.createDataFrame(rows, "x string").createOrReplaceTempView("gbt")
    got = sorted(r["x"] for r in spark.sql(
        rewrite("SELECT x FROM gbt WHERE x GLOB 'a\\b'")).collect())
    assert got == want == ["a\\b"]
    spark.catalog.dropTempView("gbt")


def test_xlsx_sheet_name_with_quotes(spark):
    from excel_to_db_spark.sources.xlsx import sheet_names
    from excel_to_db_spark.sources.xlsx_writer import write_xlsx

    path = os.path.join(tempfile.mkdtemp(prefix="e2db_q_"), "q.xlsx")
    write_xlsx(path, [["a", 1]], sheet_name='My "Q1" Sheet')
    assert sheet_names(path) == ['My "Q1" Sheet']


def test_user_schema_with_default_names_is_honored(spark):
    """A user schema reusing the excel_rows names but different types
    must switch to the generic coercion path, not be silently
    dropped."""
    from excel_to_db_spark.sources.datasource import XlsxReader

    r = XlsxReader({"path": "/tmp/x.xlsx"},
                   spark.sql("SELECT '' AS service_name, "
                             "'' AS average_response_time_95_ms, "
                             "'' AS count, '' AS max_response_time_95_ms, "
                             "'' AS min_response_time_95_ms").schema)
    assert r.user_schema is not None
