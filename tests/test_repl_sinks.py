"""REPL parsing, display formatting, CSV sink, sqlite-compat dialect."""

from __future__ import annotations

import os

from excel_to_db_spark.compat.sqlite_dialect import rewrite
from excel_to_db_spark.ingest import EXCEL_ROWS_SCHEMA, arrow_frame
from excel_to_db_spark.repl import parse_out_suffix, run_line
from excel_to_db_spark.sinks.csv_sink import export_csv
from excel_to_db_spark.sinks.display import format_cell, show


def test_parse_out_suffix_intended_semantics():
    # export ONLY when |out= present (reference defect 1 fixed: its
    # split('|out=').last() made EVERY query take the export path)
    sql, out = parse_out_suffix("SELECT 1;")
    assert out is None and sql == "SELECT 1;"
    sql, out = parse_out_suffix("SELECT 1; |out=/tmp/x.csv")
    assert out == "/tmp/x.csv" and sql.strip() == "SELECT 1;"


def test_format_cell_reference_parity():
    assert format_cell(None) == "NULL"
    assert format_cell(b"\x01") == "BLOB"
    assert format_cell(1234567) == "1,234,567"       # thousands separators
    assert format_cell(12001.12) == "12,001.12"
    assert format_cell("text,with,commas") == "text,with,commas"


def test_csv_export_modes(spark, tmp_path):
    df = spark.createDataFrame([("a,b", 1234)], ["name", "n"])
    clean = str(tmp_path / "clean.csv")
    export_csv(df, clean)
    body = open(clean).read()
    assert "1234" in body and '"a,b"' in body       # proper quoting
    bug = str(tmp_path / "bug.csv")
    export_csv(df, bug, bug_compat=True)
    body = open(bug).read()
    # reference strips ALL commas from rendered cells (src/main.rs:275)
    assert "ab" in body and "1,234" not in body
    assert os.path.exists(clean) and os.path.exists(bug)


def test_sqlite_dialect_rewrite_preserves_literals():
    # LIKE -> ILIKE outside literals only (ADVICE r1 fix)
    out = rewrite("SELECT * FROM t WHERE a LIKE 'x%' AND note = 'I like cats'")
    assert "ILIKE 'x%'" in out
    assert "I like cats" in out
    out2 = rewrite("SELECT CAST(x AS INT), 'cast( not this' FROM t")
    assert "TRY_CAST" in out2.upper()
    assert "'cast( not this'" in out2
    # every quoted token is opaque: "...", `...` and backslash escapes
    for sql in ('UPDATE t SET note = "I like cats" WHERE k = 1',
                "SELECT note AS `like` FROM t",
                r"SELECT 'it\'s like x'",
                'SELECT "total(x)"'):
        assert rewrite(sql) == sql


def test_glob_rewrite(spark):
    out = rewrite("SELECT * FROM t WHERE name GLOB 'ent_*' AND x = 'keep glob'")
    assert "LIKE" in out and "GLOB" not in out.replace("'keep glob'", "")
    assert r"'ent\_%' ESCAPE '\\'" in out
    assert "'keep glob'" in out
    # semantic check through spark.sql: GLOB is case-sensitive * wildcard
    spark.createDataFrame([("ent_A",), ("ENT_A",), ("xent_A",)], ["name"]) \
         .createOrReplaceTempView("t_glob")
    got = {r.name for r in
           spark.sql(rewrite("SELECT name FROM t_glob WHERE name GLOB 'ent_*'"))
                .collect()}
    assert got == {"ent_A"}


def test_partitioned_sink_prunes(spark, tmp_path):
    """The event_type filter on the partitioned round-trip copy must be a
    PartitionFilter (directory pruning), not a row-level DataFilter."""
    from pyspark.sql import functions as F

    from excel_to_db_spark.tables import load_table

    out = str(tmp_path / "events_by_type")
    (load_table(spark, "/root/testdata/sf0.001", "events")
     .write.partitionBy("event_type").parquet(out))
    q = (spark.read.parquet(out)
         .filter(F.col("event_type") == "click")
         .groupBy("event_type").count())
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan \
        or "PartitionFilters: [(event_type" in plan, plan
    # the pruned scan must not carry the predicate as a post-scan filter
    assert "PushedFilters: [IsNotNull(event_type)" not in plan.split("PartitionFilters")[0]


def test_repl_ddl_dml_passthrough(spark, capsys):
    """DDL/DML typed at the REPL reaches the engine unchanged, like the
    reference's passthrough (its REPL forwards CREATE/INSERT to SQLite,
    reference src/main.rs:220). Temp views + CTAS-style SELECT INTO a
    view cover the catalog path without touching a warehouse dir."""
    from excel_to_db_spark.repl import run_line

    run_line(spark, "CREATE OR REPLACE TEMPORARY VIEW repl_tv AS "
                    "SELECT 41 + 1 AS answer")
    run_line(spark, "SELECT answer FROM repl_tv")
    out = capsys.readouterr().out
    assert "42" in out
    run_line(spark, "DROP VIEW repl_tv")
    assert not spark.catalog.tableExists("repl_tv")


def test_strftime_rewrite():
    out = rewrite("SELECT strftime('%Y-%m', d) AS ym, strftime('%s', d) AS e FROM t")
    # %s always TIMESTAMP-casts its argument (like unixepoch) so
    # date-only strings return the epoch instead of NULL; the dialect's
    # permissive-cast pass then turns the CAST into TRY_CAST
    assert "date_format(d, 'yyyy-MM')" in out
    assert "unix_timestamp(TRY_CAST(d AS TIMESTAMP))" in out
    # untranslatable directive -> untouched; literal containing the word -> untouched
    out2 = rewrite("SELECT strftime('%w', d), 'call strftime(''%Y'', d) later' FROM t")
    assert "strftime('%w', d)" in out2
    assert "strftime(''%Y'', d)" in out2


def test_parse_out_suffix_backslash_escaped_quote():
    """ADVICE r4: a backslash-escaped quote inside a literal must not
    close the literal — a trailing |out= after it is a real export."""
    sql, out = parse_out_suffix(
        r"SELECT * FROM t WHERE note = 'it\'s fine' |out=/tmp/q.csv")
    assert out == "/tmp/q.csv"
    assert sql == r"SELECT * FROM t WHERE note = 'it\'s fine'"
    # and a |out= INSIDE the re-opened literal region stays a literal
    sql, out = parse_out_suffix(r"SELECT 'a\'|out=b' AS x")
    assert out is None and sql == r"SELECT 'a\'|out=b' AS x"
    # trailing backslash at end-of-line must not crash the scanner
    sql, out = parse_out_suffix("SELECT '\\")
    assert out is None


def test_out_runs_the_query_once(spark, tmp_path, capsys, jobs_of):
    """An |out= statement runs one job; the display and the CSV it writes
    match what the query itself shows and exports, for decimal, date,
    timestamp and NULL values."""
    rows = [(f"svc_{i}", 12001.125 + i, i, 2.0, 0.5) for i in range(30)]
    arrow_frame(spark, rows, EXCEL_ROWS_SCHEMA).cache() \
        .createOrReplaceTempView("excel_rows")
    sql = ("SELECT service_name, "
           "CAST(average_response_time_95_ms AS DECIMAL(12, 2)) AS d, "
           "date_add(DATE'2024-01-02', CAST(count AS INT)) AS dt, "
           "TIMESTAMP'2024-01-02 03:04:05' + make_dt_interval(0, count) AS ts, "
           "CASE WHEN count % 3 = 0 THEN NULL ELSE count END AS n "
           "FROM excel_rows WHERE count < 12 ORDER BY service_name")
    try:
        spark.table("excel_rows").count()          # fill the cache
        direct = str(tmp_path / "direct.csv")
        export_csv(spark.sql(sql), direct)
        expected = show(spark.sql(sql))
        capsys.readouterr()
        out = str(tmp_path / "out.csv")
        _, jobs = jobs_of(lambda: run_line(spark, f"{sql} |out={out}"))
        assert jobs == 1
        assert capsys.readouterr().out.startswith(expected + "\n")
        body = open(out).read()
        assert body == open(direct).read()
        assert "svc_1,12002.13,2024-01-03,2024-01-02 04:04:05,1\n" in body
        assert "svc_0,12001.13,2024-01-02,2024-01-02 03:04:05,\n" in body
    finally:
        spark.catalog.dropTempView("excel_rows")


def test_out_exports_nested_values(spark, tmp_path, capsys):
    """A struct with an array field, and a map of such structs, survive
    the |out= Arrow round trip: display and file match the query's own."""
    sql = ("SELECT named_struct('a', 1, 'b', array('x')) AS s, "
           "map('k', named_struct('a', 2, 'b', array('y', 'z'))) AS m")
    direct = str(tmp_path / "direct.csv")
    export_csv(spark.sql(sql), direct)
    expected = show(spark.sql(sql))
    capsys.readouterr()
    out = str(tmp_path / "out.csv")
    run_line(spark, f"{sql} |out={out}")
    assert capsys.readouterr().out.startswith(expected + "\n")
    assert open(out).read() == open(direct).read()
