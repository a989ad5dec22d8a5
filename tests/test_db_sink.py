"""SQLite sink: the to_db parity path."""

from __future__ import annotations

import sqlite3

import pytest

from excel_to_db_spark.ingest import load_excel_table
from excel_to_db_spark.sinks.db import write_sqlite


def test_write_sqlite_golden(spark, tmp_path, demo_xlsx):
    db = str(tmp_path / "demo.db")
    df = load_excel_table(spark, demo_xlsx)
    assert write_sqlite(df, db, unique_key="service_name") == 2
    con = sqlite3.connect(db)
    rows = con.execute(
        "SELECT service_name, average_response_time_95_ms, count "
        "FROM excel_rows ORDER BY service_name").fetchall()
    assert rows == [("ent_XXX_V2", 12001.12, 100),
                    ("ent_XXX_YYY_V2", 12001.12, 100)]
    # the unique index the reference intended (SURVEY §1.1) really exists
    idx = con.execute("PRAGMA index_list('excel_rows')").fetchall()
    assert any(i[2] == 1 for i in idx)   # unique flag
    # and enforces: duplicate key insert must fail
    with pytest.raises(sqlite3.IntegrityError):
        con.execute("INSERT INTO excel_rows VALUES ('ent_XXX_V2',1,1,1,1)")
    con.close()


def test_write_sqlite_types_and_append(spark, tmp_path):
    db = str(tmp_path / "t.db")
    df = spark.createDataFrame([("a", 1.5, 7, True), ("b", 2.5, 8, False)],
                               ["s", "d", "i", "bl"])
    write_sqlite(df, db, "t")
    write_sqlite(df, db, "t", mode="append")
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 4
    assert con.execute("SELECT bl FROM t WHERE s='a'").fetchone()[0] == 1
    cols = {r[1]: r[2] for r in con.execute("PRAGMA table_info('t')")}
    assert cols == {"s": "TEXT", "d": "REAL", "i": "INTEGER", "bl": "INTEGER"}
    con.close()


def test_write_sqlite_converts_by_column_type(spark, tmp_path):
    """Booleans bind as 0/1, dates and timestamps as ISO text, decimals as
    REAL, arrays, maps and structs as their Python text; NULL stays NULL
    in every column, and strings and numbers bind as they are."""
    df = spark.sql("""
        SELECT true AS b, DATE'2024-01-31' AS d,
               TIMESTAMP_NTZ'2024-01-31 12:34:56.5' AS ntz,
               TIMESTAMP'2024-02-01 00:00:01' AS ts,
               CAST(12.50 AS DECIMAL(10, 2)) AS dec, array(1, 2) AS arr,
               map('a', DATE'2024-01-01') AS m, 'x' AS s, 7L AS i, 1.5D AS f,
               X'0102' AS bin, named_struct('a', 1) AS st
        UNION ALL
        SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
               NULL
    """)
    ts = df.first().ts
    db = str(tmp_path / "types.db")
    assert write_sqlite(df, db, "t") == 2
    con = sqlite3.connect(db)
    rows = con.execute("SELECT * FROM t ORDER BY b IS NULL").fetchall()
    con.close()
    assert rows == [
        (1, "2024-01-31", "2024-01-31 12:34:56.500000",
         ts.isoformat(sep=" "), 12.5, "[1, 2]",
         "{'a': datetime.date(2024, 1, 1)}", "x", 7, 1.5, b"\x01\x02",
         "Row(a=1)"),
        (None,) * 12]
