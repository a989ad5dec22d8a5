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
