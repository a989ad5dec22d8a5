"""Excel ingest: reference-executed semantics (SURVEY.md §1) + golden
demo.xlsx values (SURVEY.md §5.1)."""

from __future__ import annotations

import os

import pytest

from excel_to_db_spark.ingest import (
    DuplicateKeyError,
    IngestOptions,
    coerce_row,
    load_excel_table,
    rows_to_dataframe,
)
from excel_to_db_spark.sources.xlsx import read_xlsx_rows, sheet_names
from excel_to_db_spark.sources.xlsx_writer import write_xlsx

from conftest import plan_text


def test_demo_sheet_names(demo_xlsx):
    assert sheet_names(demo_xlsx)  # at least one sheet


@pytest.mark.parametrize("fixture", ["demo", "demo_shared"])
def test_demo_golden_rows(spark, demo_xlsx, fixture):
    """The demo's golden rows, from the inline-string fixture and from
    the same rows in Excel's shared-strings layout."""
    path = demo_xlsx if fixture == "demo" else os.path.join(
        os.path.dirname(__file__), "fixtures", "demo_shared.xlsx")
    df = load_excel_table(spark, path)
    rows = {r.service_name: r for r in df.collect()}
    assert set(rows) == {"ent_XXX_V2", "ent_XXX_YYY_V2"}
    r1 = rows["ent_XXX_V2"]
    assert r1.average_response_time_95_ms == pytest.approx(12001.12)
    assert r1["count"] == 100
    assert r1.max_response_time_95_ms == pytest.approx(12001.12)
    assert r1.min_response_time_95_ms == pytest.approx(11.0)
    assert rows["ent_XXX_YYY_V2"].min_response_time_95_ms == pytest.approx(10.0)


def test_coerce_defaults_mode():
    # missing/non-numeric -> 0.0 / 0 (reference unwrap_or semantics)
    opts = IngestOptions()
    row = coerce_row(["svc", None, "x", None, None], opts)
    assert row == ("svc", 0.0, 0, 0.0, 0.0)
    # calamine as_i64 truncates floats: 2.7 -> 2 (ADVICE r1 fix)
    assert coerce_row(["svc", 1.5, 2.7, 3.0, 4.0], opts)[2] == 2
    # calamine get_float is strict for REAL columns (string -> default),
    # while as_i64 parses numeric strings for the count column
    assert coerce_row(["svc", "1.5", "7", "3", "4"], opts) == ("svc", 0.0, 7, 0.0, 0.0)


def test_coerce_null_preserving_mode():
    opts = IngestOptions(null_preserving=True)
    row = coerce_row(["svc", None, "x", None, None], opts)
    assert row == ("svc", None, None, None, None)


def test_short_row_permissive_vs_failfast():
    assert coerce_row(["svc"], IngestOptions()) == ("svc", 0.0, 0, 0.0, 0.0)
    with pytest.raises(Exception):
        coerce_row(["svc"], IngestOptions(mode="FAILFAST"))


def test_unique_key_enforced(spark, tmp_path):
    p = str(tmp_path / "dup.xlsx")
    write_xlsx(p, [["h1", "h2", "h3", "h4", "h5"],
                   ["a", 1, 2, 3, 4],
                   ["a", 5, 6, 7, 8]])
    with pytest.raises(DuplicateKeyError):
        load_excel_table(spark, p)
    # and non-duplicate loads fine with the check on
    p2 = str(tmp_path / "ok.xlsx")
    write_xlsx(p2, [["h", "h", "h", "h", "h"],
                    ["a", 1, 2, 3, 4],
                    ["b", 5, 6, 7, 8]])
    assert load_excel_table(spark, p2).count() == 2


def test_header_always_skipped(spark, tmp_path):
    p = str(tmp_path / "hdr.xlsx")
    write_xlsx(p, [["svc", 9, 9, 9, 9], ["a", 1, 2, 3, 4]])
    df = load_excel_table(spark, p)
    assert [r.service_name for r in df.collect()] == ["a"]


def test_roundtrip_own_writer(spark, tmp_path):
    rows = [["hdr"] * 5] + [[f"s{i}", i * 1.5, i, i * 2.0, i * 0.5]
                            for i in range(50)]
    p = str(tmp_path / "big.xlsx")
    write_xlsx(p, rows)
    assert len(read_xlsx_rows(p)) == 51
    df = load_excel_table(spark, p)
    assert df.count() == 50


def test_rows_to_dataframe_schema(spark):
    df = rows_to_dataframe(spark, [["h"] * 5, ["a", "1", "2", "3", "4"]],
                           IngestOptions())
    assert [f.dataType.simpleString() for f in df.schema.fields] == \
        ["string", "double", "bigint", "double", "double"]


def _job_ids(spark) -> set[int]:
    """Ids of every job outside a job group, once the listener bus has
    delivered all events so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_load_submits_no_job_and_plans_an_uncached_local_scan(spark, tmp_path):
    """The sheet reaches Spark as one Arrow table (a LocalRelation) and
    the key check runs on the driver: loading submits no job, and the
    view scans that JVM-only LocalTableScan directly, with no cache
    over it and no Python RDD under it."""
    p = str(tmp_path / "local.xlsx")
    write_xlsx(p, [["h"] * 5] + [[f"s{i}", i * 1.5, i, 2.0, 1.0]
                                 for i in range(200)])
    before = _job_ids(spark)
    df = load_excel_table(spark, p, view_name="local_rows")
    assert _job_ids(spark) == before
    plan = plan_text(spark.table("local_rows"))
    assert "LocalTableScan" in plan
    assert "InMemoryRelation" not in plan and "ExistingRDD" not in plan
    assert df.count() == 200
    spark.catalog.dropTempView("local_rows")


def test_duplicate_key_rejected_before_cache(spark, tmp_path):
    p = str(tmp_path / "dup_cache.xlsx")
    write_xlsx(p, [["h"] * 5, ["a", 1, 2, 3, 4], ["b", 1, 2, 3, 4],
                   ["a", 5, 6, 7, 8], ["b", 5, 6, 7, 8]])
    spark.catalog.clearCache()
    before = _job_ids(spark)
    with pytest.raises(DuplicateKeyError, match=r"\['a', 'b'\]"):
        load_excel_table(spark, p, view_name="dup_rows")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _job_ids(spark) == before
    assert not spark.catalog.tableExists("dup_rows")


def test_null_preserving_keeps_nullable_schema_and_nulls(spark, tmp_path):
    from excel_to_db_spark.ingest import EXCEL_ROWS_SCHEMA_NULLABLE

    p = str(tmp_path / "nulls.xlsx")
    write_xlsx(p, [["h"] * 5, ["a", 1.5, None, "x", 4.0], ["b", None, 7]])
    df = load_excel_table(spark, p, view_name="null_rows",
                          opts=IngestOptions(null_preserving=True))
    assert df.schema == EXCEL_ROWS_SCHEMA_NULLABLE
    assert sorted(tuple(r) for r in df.collect()) == [
        ("a", 1.5, None, None, 4.0), ("b", None, 7, None, None)]
    spark.catalog.dropTempView("null_rows")


@pytest.mark.parametrize("cell", ["99999999999999999999", 2 ** 63, -2 ** 63 - 1,
                                  1e20])
def test_count_out_of_range_is_a_named_error(spark, tmp_path, cell):
    """A count past the bigint range ends in a ValueError that names the
    column and the value, not an OverflowError from the Arrow build."""
    p = str(tmp_path / "overflow.xlsx")
    write_xlsx(p, [["h"] * 5, ["ok", 1, 2 ** 63 - 1, 3, 4],
                   ["big", 1, cell, 3, 4]])
    with pytest.raises(ValueError, match=r"count \(bigint\)") as err:
        load_excel_table(spark, p, view_name="overflow_rows")
    assert str(int(cell)) in str(err.value) and err.type is ValueError
    assert not spark.catalog.tableExists("overflow_rows")


# ---------------------------------------------------------------------------
# Optional schema inference (round 7; OFF by default — reference parity
# keeps the fixed positional 5-column schema)


def test_infer_schema_types_and_names(spark, tmp_path):
    from excel_to_db_spark.ingest import load_excel_table_inferred

    p = str(tmp_path / "inf.xlsx")
    write_xlsx(p, [
        ["Region Name", "count", "count", "ratio", "2flag", "", "blob"],
        ["east", 1, 10, 1.5, True, None, "x"],
        ["west", 2, 20, 2, False, None, 7],
    ])
    df = load_excel_table_inferred(spark, p, view_name="inf_rows")
    # names: sanitized, deduped, digit-led prefixed, blank -> col_N
    assert df.columns == ["Region_Name", "count", "count_2", "ratio",
                          "c_2flag", "col_5", "blob"]
    kinds = dict(df.dtypes)
    assert kinds["Region_Name"] == "string"
    assert kinds["count"] == "bigint"        # all ints
    assert kinds["ratio"] == "double"        # int+float promote
    assert kinds["c_2flag"] == "boolean"
    assert kinds["col_5"] == "string"        # all-NULL column
    assert kinds["blob"] == "string"         # str+int mix -> string
    rows = {tuple(r) for r in df.collect()}
    assert ("west", 2, 20, 2.0, False, None, "7") in rows
    assert spark.sql("SELECT sum(count) FROM inf_rows").first()[0] == 3
    spark.catalog.dropTempView("inf_rows")


def test_infer_schema_header_wider_than_body(spark, tmp_path):
    """Header columns beyond the widest data row must survive as
    all-null string columns (xlsx omits trailing empty cells, so a
    sheet whose last columns are sparse hits this constantly); a
    header-only sheet infers an all-string schema with zero rows; a
    sheet with neither raises explicitly (ADVICE r7)."""
    import pytest

    from excel_to_db_spark.ingest import (infer_excel_schema,
                                          load_excel_table_inferred)

    p = str(tmp_path / "wide_head.xlsx")
    write_xlsx(p, [["k", "v", "note", "extra"], ["a", 1], ["b", 2]])
    df = load_excel_table_inferred(spark, p, view_name="wh_rows")
    assert df.columns == ["k", "v", "note", "extra"]
    kinds = dict(df.dtypes)
    assert kinds["note"] == "string" and kinds["extra"] == "string"
    assert [tuple(r) for r in df.orderBy("k").collect()] == [
        ("a", 1, None, None), ("b", 2, None, None)]
    spark.catalog.dropTempView("wh_rows")

    ph = str(tmp_path / "head_only.xlsx")
    write_xlsx(ph, [["k", "v"]])
    df2 = load_excel_table_inferred(spark, ph, view_name="ho_rows")
    assert df2.columns == ["k", "v"]
    assert dict(df2.dtypes) == {"k": "string", "v": "string"}
    assert df2.count() == 0
    spark.catalog.dropTempView("ho_rows")

    with pytest.raises(ValueError, match="no data rows and no header"):
        infer_excel_schema([], None)


def test_infer_schema_permissive_vs_failfast(spark, tmp_path):
    import pytest

    from excel_to_db_spark.ingest import load_excel_table_inferred

    p = str(tmp_path / "strag.xlsx")
    # sample=2 votes bigint for v; row 3's float is a straggler
    write_xlsx(p, [["k", "v"], ["a", 1], ["b", 2], ["c", 3.5]])
    df = load_excel_table_inferred(spark, p, sample=2)
    assert dict(df.dtypes)["v"] == "bigint"
    assert [r.v for r in df.orderBy("k").collect()] == [1, 2, None]
    with pytest.raises(ValueError, match="inferred type"):
        load_excel_table_inferred(spark, p, sample=2, mode="FAILFAST")
    # full-scan inference (default) widens instead: no data loss
    assert dict(load_excel_table_inferred(spark, p).dtypes)["v"] == "double"


def test_ingest_100k_rows_under_baseline_target(spark, tmp_path):
    """BASELINE.md self-set target: 100k-row sheet ingest < 60 s through
    the pure-Python parser -> Arrow createDataFrame path. Timed on the
    reference-semantics loader (parse + coerce + uniqueness check +
    count), writer time excluded."""
    import time

    from excel_to_db_spark.ingest import load_excel_table

    p = str(tmp_path / "big100k.xlsx")
    header = ["service_name", "avg", "count", "max", "min"]
    rows = ([header]
            + [[f"svc_{i:06d}", i / 7.0, i, i + 0.5, i - 0.5]
               for i in range(100_000)])
    write_xlsx(p, rows)

    t0 = time.perf_counter()
    df = load_excel_table(spark, p, view_name="big_rows")
    n = df.count()
    dt = time.perf_counter() - t0
    assert n == 100_000
    assert dt < 60.0, f"100k-row ingest took {dt:.1f}s (target < 60s)"
    spark.catalog.dropTempView("big_rows")


def test_inferred_load_is_a_local_scan_with_named_overflow(spark, tmp_path):
    """The inferred loader shares the Arrow builder: no job to build
    the frame, a LocalTableScan plan, nullable inferred columns, and a
    named error for a bigint past 2^63."""
    from excel_to_db_spark.ingest import load_excel_table_inferred

    p = str(tmp_path / "inf_local.xlsx")
    write_xlsx(p, [["k", "n", "x", "b"], ["a", 1, 1.5, True],
                   ["b", None, 2, None]])
    before = _job_ids(spark)
    df = load_excel_table_inferred(spark, p, view_name="inf_local")
    assert _job_ids(spark) == before
    assert "LocalTableScan" in plan_text(df)
    assert [(f.dataType.simpleString(), f.nullable)
            for f in df.schema.fields] == [
        ("string", True), ("bigint", True), ("double", True),
        ("boolean", True)]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("a", 1, 1.5, True), ("b", None, 2.0, None)]
    spark.catalog.dropTempView("inf_local")

    big = str(tmp_path / "inf_big.xlsx")
    write_xlsx(big, [["k", "n"], ["a", 1], ["b", 2 ** 63]])
    with pytest.raises(ValueError, match=r"9223372036854775808 .*n \(bigint\)"):
        load_excel_table_inferred(spark, big, view_name="inf_big")
