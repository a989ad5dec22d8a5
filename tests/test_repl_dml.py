"""REPL DML/DDL parity: the reference executes INSERT/UPDATE/DELETE/
CREATE/DROP through its SQLite passthrough (reference src/main.rs:220);
our REPL re-expresses them as temp-view re-registration (dml.py)."""

from __future__ import annotations

import time

import pytest

from excel_to_db_spark.dml import try_dml
from excel_to_db_spark.ingest import load_excel_table
from excel_to_db_spark.repl import run_line
from excel_to_db_spark.sources.xlsx_writer import write_xlsx

from conftest import plan_text


@pytest.fixture()
def excel_rows(spark):
    spark.createDataFrame(
        [("svc_a", 10.0, 100, 20.0, 5.0), ("svc_b", 11.0, 200, 22.0, 6.0)],
        "service_name string, average_response_time_95_ms double, "
        "count bigint, max_response_time_95_ms double, "
        "min_response_time_95_ms double",
    ).createOrReplaceTempView("excel_rows")
    yield "excel_rows"
    spark.catalog.dropTempView("excel_rows")


def test_insert_values_then_select(spark, excel_rows, capsys):
    run_line(spark, "INSERT INTO excel_rows VALUES "
                    "('svc_new', 1.5, 7, 2.5, 0.5)")
    out = capsys.readouterr().out
    assert "1 row(s) inserted" in out
    run_line(spark, "SELECT service_name, count FROM excel_rows "
                    "WHERE service_name = 'svc_new'")
    assert "svc_new" in capsys.readouterr().out
    assert spark.table("excel_rows").count() == 3


def test_insert_column_list_fills_null(spark, excel_rows):
    msg = try_dml(spark, "INSERT INTO excel_rows (service_name, count) "
                         "VALUES ('svc_partial', 9)")
    assert "1 row(s) inserted" in msg
    row = (spark.table("excel_rows")
           .where("service_name = 'svc_partial'").collect()[0])
    assert row["count"] == 9
    assert row["average_response_time_95_ms"] is None


def test_insert_select(spark, excel_rows):
    msg = try_dml(spark, "INSERT INTO excel_rows "
                         "SELECT concat(service_name, '_copy'), "
                         "average_response_time_95_ms, count, "
                         "max_response_time_95_ms, min_response_time_95_ms "
                         "FROM excel_rows")
    assert "2 row(s) inserted" in msg
    assert spark.table("excel_rows").count() == 4


def test_update_with_where(spark, excel_rows):
    msg = try_dml(spark, "UPDATE excel_rows SET count = count + 1 "
                         "WHERE service_name = 'svc_a'")
    assert "1 row(s) updated" in msg
    got = {r.service_name: r["count"]
           for r in spark.table("excel_rows").collect()}
    assert got == {"svc_a": 101, "svc_b": 200}


def test_update_all_rows_multiple_assignments(spark, excel_rows):
    msg = try_dml(spark, "UPDATE excel_rows SET count = 0, "
                         "min_response_time_95_ms = least(1.0, 2.0)")
    assert "2 row(s) updated" in msg
    for r in spark.table("excel_rows").collect():
        assert r["count"] == 0 and r["min_response_time_95_ms"] == 1.0


def test_delete_where_and_all(spark, excel_rows):
    msg = try_dml(spark, "DELETE FROM excel_rows "
                         "WHERE service_name = 'svc_b'")
    assert "1 row(s) deleted" in msg
    assert [r.service_name for r in spark.table("excel_rows").collect()] \
        == ["svc_a"]
    msg = try_dml(spark, "DELETE FROM excel_rows")
    assert "1 row(s) deleted" in msg
    assert spark.table("excel_rows").count() == 0


def test_create_table_as_and_drop(spark, excel_rows):
    msg = try_dml(spark, "CREATE TABLE fast_svcs AS "
                         "SELECT service_name FROM excel_rows "
                         "WHERE average_response_time_95_ms < 10.5")
    assert "created" in msg
    assert spark.table("fast_svcs").count() == 1
    msg = try_dml(spark, "CREATE TABLE IF NOT EXISTS fast_svcs AS SELECT 1 AS x")
    assert "already exists" in msg
    assert try_dml(spark, "DROP TABLE fast_svcs") == "-- table fast_svcs dropped"
    assert not spark.catalog.tableExists("fast_svcs")
    assert "skipped" in try_dml(spark, "DROP TABLE IF EXISTS fast_svcs")
    with pytest.raises(ValueError):
        try_dml(spark, "DROP TABLE fast_svcs")


def test_create_table_columns_sqlite_types(spark):
    # the reference's own DDL shape (src/main.rs:182-188)
    msg = try_dml(spark, "CREATE TABLE t_ddl ("
                         "service_name TEXT NOT NULL, "
                         "avg_ms REAL NOT NULL, "
                         "count INTEGER NOT NULL, "
                         "PRIMARY KEY (service_name))")
    assert "3 columns" in msg
    assert dict(spark.table("t_ddl").dtypes) == {
        "service_name": "string", "avg_ms": "double", "count": "bigint"}
    # an empty Arrow table: its scan runs in the JVM, no Python worker
    plan = spark.table("t_ddl")._jdf.queryExecution().executedPlan()
    assert "LocalTableScan" in plan.toString()
    try_dml(spark, "INSERT INTO t_ddl VALUES ('a', 1.0, 2)")
    assert spark.table("t_ddl").count() == 1
    try_dml(spark, "DROP TABLE t_ddl")


def test_update_literal_containing_where(spark, excel_rows):
    # 'where' inside a string literal must not split the SET clause
    msg = try_dml(spark, "UPDATE excel_rows "
                         "SET service_name = 'a where b' "
                         "WHERE count = 100")
    assert "1 row(s) updated" in msg
    vals = {r[0] for r in
            spark.table("excel_rows").select("service_name").collect()}
    assert vals == {"a where b", "svc_b"}


def test_update_literal_where_no_real_where(spark, excel_rows):
    msg = try_dml(spark,
                  "UPDATE excel_rows SET service_name = 'x where y'")
    assert "2 row(s) updated" in msg
    vals = {r[0] for r in
            spark.table("excel_rows").select("service_name").collect()}
    assert vals == {"x where y"}


def test_delete_literal_containing_where(spark, excel_rows):
    msg = try_dml(spark, "DELETE FROM excel_rows "
                         "WHERE service_name = 'no where match'")
    assert "0 row(s) deleted" in msg
    assert spark.table("excel_rows").count() == 2


def test_insert_unknown_column_errors(spark, excel_rows):
    # SQLite errors on unknown INSERT columns; so do we (no silent NULLs)
    with pytest.raises(ValueError, match="no column"):
        try_dml(spark, "INSERT INTO excel_rows (nosuchcol) VALUES (1)")
    assert spark.table("excel_rows").count() == 2


def test_non_dml_falls_through(spark):
    assert try_dml(spark, "SELECT 1 AS x") is None
    assert try_dml(spark, "WITH c AS (SELECT 1) SELECT * FROM c") is None
    # Spark-native temp-view DDL is NOT intercepted (spark.sql handles it)
    assert try_dml(
        spark, "CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1 AS x") is None


def test_update_where_inside_double_quoted_token(spark):
    """SQLite's double-quote string fallback: a WHERE inside "..." must
    not split the UPDATE (mirrors the single-quote guarantee)."""
    import sqlite3

    from excel_to_db_spark.compat.sqlite_dialect import (
        find_top_level, rewrite, split_top_level)
    from excel_to_db_spark.dml import _WHERE_RE

    stmt = 'note = "a where b", k = 2'
    assert split_top_level(stmt) == ['note = "a where b"', "k = 2"]
    # a backslash-escaped quote does not close the literal (Spark's rule)
    assert split_top_level(r"note = 'it\'s, fine', k = 2") == [
        r"note = 'it\'s, fine'", "k = 2"]
    s = 'SET note = "x where y" WHERE k = 1'
    idx = find_top_level(s, _WHERE_RE)
    assert s[idx:idx + 5].lower() == "where" and idx > s.index('"x')
    # pin against real sqlite3: the statement is legal and targeted
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (k INTEGER, note TEXT)")
    con.execute("INSERT INTO t VALUES (1, 'old'), (2, 'old')")
    con.execute('UPDATE t SET note = "x where y" WHERE k = 1')
    assert sorted(con.execute("SELECT k, note FROM t").fetchall()) == [
        (1, "x where y"), (2, "old")]
    # the same statement through the REPL's compat path: the dialect
    # rewrite must not touch the text inside "..." (LIKE -> ILIKE)
    stmt = 'UPDATE t_dq SET note = "I like cats" WHERE k = 1'
    con.execute(stmt.replace("t_dq", "t"))
    spark.createDataFrame([(1, "old"), (2, "old")], "k bigint, note string") \
         .createOrReplaceTempView("t_dq")
    try:
        assert "1 row(s) updated" in try_dml(spark, rewrite(stmt))
        got = sorted(map(tuple, spark.table("t_dq").collect()))
        assert got == sorted(con.execute("SELECT k, note FROM t").fetchall())
        assert got == [(1, "I like cats"), (2, "old")]
        # a backslash-escaped quote before a comma: one assignment, not two
        assert "1 row(s) updated" in try_dml(
            spark, r"UPDATE t_dq SET note = 'it\'s, fine' WHERE k = 2")
        assert spark.table("t_dq").filter("k = 2").first().note == \
            "it's, fine"
    finally:
        spark.catalog.dropTempView("t_dq")


# --- Job budget: a REPL statement over the driver-built excel_rows ------
# (one partition, so no Exchange, so one Spark job per statement)

@pytest.fixture()
def loaded_rows(spark, tmp_path):
    """excel_rows loaded from a 60-row sheet, its cache filled."""
    book = str(tmp_path / "book.xlsx")
    write_xlsx(book, [["name", "avg", "count", "max", "min"]] + [
        [f"svc_{i:02d}", 10.0 + i, i % 7, 20.0 + i, float(i)]
        for i in range(60)])
    df = load_excel_table(spark, book)
    df.count()
    yield df
    spark.catalog.dropTempView("excel_rows")


def _partitions(spark, name="excel_rows"):
    return spark.table(name).rdd.getNumPartitions()


def test_excel_rows_stays_one_partition(spark, loaded_rows):
    assert _partitions(spark) == 1
    try_dml(spark, "INSERT INTO excel_rows VALUES ('svc_new', 1.0, 2, 3.0, 0.5)")
    assert _partitions(spark) == 1
    try_dml(spark, "UPDATE excel_rows SET count = count + 1 WHERE count > 3")
    assert _partitions(spark) == 1
    try_dml(spark, "DELETE FROM excel_rows WHERE count = 1")
    assert _partitions(spark) == 1
    assert spark.table("excel_rows").count() == 61 - 9


def test_statements_over_excel_rows_plan_no_exchange(spark, loaded_rows):
    for sql in ("SELECT count, avg(max_response_time_95_ms) FROM excel_rows "
                "GROUP BY count",
                "SELECT service_name, rank() OVER (PARTITION BY count "
                "ORDER BY min_response_time_95_ms DESC) AS r FROM excel_rows",
                "SELECT count, sum(count) OVER (ORDER BY service_name) AS s "
                "FROM excel_rows ORDER BY s DESC"):
        assert "Exchange" not in plan_text(spark.sql(sql)), sql


def test_repl_statement_runs_one_job(spark, loaded_rows, jobs_of, capsys):
    for sql in ("SELECT * FROM excel_rows WHERE service_name = 'svc_07'",
                "SELECT count, count(*) AS n FROM excel_rows GROUP BY count",
                "SELECT service_name, row_number() OVER "
                "(ORDER BY average_response_time_95_ms DESC) AS r "
                "FROM excel_rows"):
        _, jobs = jobs_of(lambda: run_line(spark, sql))
        assert jobs == 1, sql
    out = capsys.readouterr().out
    assert "svc_07" in out and "ERROR" not in out


def test_ddl_looks_the_name_up_without_a_job(spark, loaded_rows, jobs_of):
    msg, jobs = jobs_of(lambda: try_dml(
        spark, "CREATE TABLE IF NOT EXISTS excel_rows (x INTEGER)"))
    assert "already exists" in msg and jobs == 0
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("scratch_v")
    msg, jobs = jobs_of(lambda: try_dml(spark, "DROP TABLE scratch_v"))
    assert msg == "-- table scratch_v dropped" and jobs == 0
    assert not spark.catalog.tableExists("scratch_v")


def test_drop_permanent_table_raises_named_error(spark):
    spark.sql("CREATE TABLE perm_t (x INT) USING parquet")
    try:
        with pytest.raises(ValueError, match="permanent catalog table"):
            try_dml(spark, "DROP TABLE perm_t")
        assert spark.catalog.tableExists("perm_t")
    finally:
        spark.sql("DROP TABLE perm_t")


def test_insert_stores_what_it_inserted(spark):
    """SQLite evaluates an INSERT's values once and stores them; a later
    read must not re-evaluate current_timestamp()."""
    try_dml(spark, "CREATE TABLE t_stamp (k TEXT, stamp TEXT)")
    try:
        try_dml(spark, "INSERT INTO t_stamp VALUES "
                       "('a', CAST(current_timestamp() AS STRING))")
        try_dml(spark, "INSERT INTO t_stamp "
                       "SELECT 'b', CAST(current_timestamp() AS STRING)")
        first = sorted(spark.table("t_stamp").collect())
        time.sleep(0.2)
        assert sorted(spark.table("t_stamp").collect()) == first
        assert [r.k for r in first] == ["a", "b"]
        assert _partitions(spark, "t_stamp") == 1
    finally:
        spark.catalog.dropTempView("t_stamp")


def test_update_and_ctas_store_what_they_wrote(spark):
    """SQLite evaluates an UPDATE's SET and a CREATE TABLE ... AS query
    once; two later reads must see the same current_timestamp()."""
    try_dml(spark, "CREATE TABLE t_upd (k TEXT, stamp TEXT)")
    try:
        try_dml(spark, "INSERT INTO t_upd VALUES ('a', NULL), ('b', NULL)")
        try_dml(spark, "UPDATE t_upd "
                       "SET stamp = CAST(current_timestamp() AS STRING) "
                       "WHERE k = 'a'")
        try_dml(spark, "CREATE TABLE t_ctas AS "
                       "SELECT k, current_timestamp() AS stamp FROM t_upd")
        for name in ("t_upd", "t_ctas"):
            first = sorted(spark.table(name).collect())
            time.sleep(0.2)
            assert sorted(spark.table(name).collect()) == first, name
        assert [r.stamp is None for r in sorted(
            spark.table("t_upd").collect())] == [False, True]
    finally:
        spark.catalog.dropTempView("t_upd")
        spark.catalog.dropTempView("t_ctas")


_WRITES = (
    "INSERT INTO excel_rows VALUES ('svc_new', 1.0, 2, 3.0, 0.5)",
    "INSERT INTO excel_rows SELECT concat(service_name, '_c'), "
    "average_response_time_95_ms, count, max_response_time_95_ms, "
    "min_response_time_95_ms FROM excel_rows WHERE count = 3",
    "UPDATE excel_rows SET count = count + 1 WHERE count > 3",
    "UPDATE excel_rows SET min_response_time_95_ms = 0.0",
    "DELETE FROM excel_rows WHERE count = 1",
)


def test_each_write_runs_one_job(spark, loaded_rows, jobs_of):
    ctas = ("CREATE TABLE t_budget AS SELECT count, count(*) AS n "
            "FROM excel_rows GROUP BY count")
    try:
        for sql in _WRITES + (ctas,):
            msg, jobs = jobs_of(lambda: try_dml(spark, sql))
            assert jobs == 1, (sql, msg)
    finally:
        spark.catalog.dropTempView("t_budget")


def test_writes_do_not_grow_the_plan(spark, loaded_rows):
    """Each write stores its result, so the plan of excel_rows after
    any number of writes is the plan it had right after load."""
    def nodes():
        plan = spark.table("excel_rows")._jdf.queryExecution().optimizedPlan()
        return len(plan.treeString().splitlines())
    loaded = nodes()
    for sql in _WRITES * 2:
        try_dml(spark, sql)
    assert nodes() == loaded


_NESTED = ("SELECT named_struct('a', 1, 'b', array('x')) AS s, "
           "map('k', named_struct('a', 2, 'b', array('y', 'z'))) AS m")


def test_ctas_and_insert_keep_nested_values(spark):
    """Struct, array and map values survive being stored on the driver."""
    try:
        try_dml(spark, f"CREATE TABLE t_nest AS {_NESTED}")
        try_dml(spark, "INSERT INTO t_nest SELECT "
                       "named_struct('a', 3, 'b', array('w', NULL)), "
                       "map('j', named_struct('a', NULL, 'b', array()))")
        got = spark.table("t_nest").collect()
        assert got[0] == spark.sql(_NESTED).first()
        assert got[1].s.b == ["w", None]
        assert got[1].m["j"].a is None and got[1].m["j"].b == []
        # top-level nullability is kept: the literal columns stay NOT NULL
        assert [f.nullable for f in spark.table("t_nest").schema] == \
            [f.nullable for f in spark.sql(_NESTED).schema]
    finally:
        spark.catalog.dropTempView("t_nest")


def test_mixed_write_script_matches_sqlite(spark, capsys):
    """A write script run through the REPL leaves the tables SQLite
    leaves, and each status line reports SQLite's row count."""
    import re
    import sqlite3

    script = [
        "CREATE TABLE t (k TEXT, v INTEGER, w REAL)",
        "INSERT INTO t VALUES ('a', 1, 1.5), ('b', 2, NULL), ('c', NULL, 3.5)",
        "INSERT INTO t (k, v) VALUES ('d', 4)",
        "INSERT INTO t SELECT k || '2', v * 10, w FROM t WHERE v > 1",
        "UPDATE t SET w = coalesce(w, 0) + 1 WHERE v >= 2",
        "UPDATE t SET v = coalesce(v, 0)",
        "DELETE FROM t WHERE w > 3",
        "CREATE TABLE u AS SELECT k, v FROM t WHERE v > 1",
        "INSERT INTO u VALUES ('z', 99)",
        "UPDATE u SET v = v - 1 WHERE k = 'z'",
        "DELETE FROM u WHERE v < 20",
        "DROP TABLE t",
    ]
    con = sqlite3.connect(":memory:")
    try:
        for sql in script:
            n = con.execute(sql).rowcount
            capsys.readouterr()
            run_line(spark, sql)
            status = capsys.readouterr().out.splitlines()[0]
            m = re.match(r"-- (\d+) row\(s\)", status)
            assert (int(m.group(1)) if m else -1) == n, (sql, status)
        assert not spark.catalog.tableExists("t")
        want = sorted(con.execute("SELECT * FROM u").fetchall())
        assert sorted(map(tuple, spark.table("u").collect())) == want
        assert want == [("b2", 20), ("d2", 40), ("z", 98)]
    finally:
        con.close()
        spark.catalog.dropTempView("t")
        spark.catalog.dropTempView("u")


def test_update_with_random_where_reports_the_rows_it_changed(spark,
                                                             loaded_rows):
    msg = try_dml(spark, "UPDATE excel_rows SET count = -1 "
                         "WHERE rand() < 0.5")
    n = int(msg.split()[1])
    assert spark.table("excel_rows").filter("count = -1").count() == n
