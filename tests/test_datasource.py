"""Python Data Source API: spark.read.format('xlsx') partitioned reads."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module", autouse=True)
def register(spark):
    from excel_to_db_spark.sources.datasource import XlsxDataSource

    spark.dataSource.register(XlsxDataSource)


def test_reads_demo_like_driver_path(spark, demo_xlsx):
    from excel_to_db_spark.ingest import load_excel_table

    via_ds = spark.read.format("xlsx").option("path", demo_xlsx).load()
    via_driver = load_excel_table(spark, demo_xlsx)
    assert sorted(map(tuple, via_ds.collect())) == \
        sorted(map(tuple, via_driver.collect()))


def test_multi_file_glob_parallelism(spark, tmp_path):
    from excel_to_db_spark.sources.xlsx_writer import write_xlsx

    for i in range(3):
        write_xlsx(str(tmp_path / f"b{i}.xlsx"),
                   [["h"] * 5] + [[f"s{i}_{j}", j, j, j, j] for j in range(4)])
    df = (spark.read.format("xlsx")
          .option("path", str(tmp_path / "*.xlsx")).load())
    assert df.count() == 12
    # one partition per (file, sheet)
    assert df.rdd.getNumPartitions() == 3


def test_null_preserving_option(spark, tmp_path):
    from excel_to_db_spark.sources.xlsx_writer import write_xlsx

    p = str(tmp_path / "n.xlsx")
    write_xlsx(p, [["h"] * 5, ["a", None, None, 1.5, None]])
    df = (spark.read.format("xlsx").option("path", p)
          .option("null_preserving", "true").load())
    [r] = df.collect()
    assert (r[1], r[2], r[4]) == (None, None, None)
    assert r[3] == 1.5


def test_xlsx_writer_commit_manifest_hides_orphans(spark, tmp_path):
    """df.write.format('xlsx') commits a _SUCCESS manifest naming its
    parts; a stray .xlsx dropped in the directory (a retried task's
    orphan) must be invisible to manifest-honoring reads."""
    from excel_to_db_spark.sources.xlsx_writer import write_xlsx

    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(20)], ["k", "s", "v"])
    (df.repartition(3).write.format("xlsx")
     .mode("overwrite").option("path", out).save())
    back = (spark.read.format("xlsx")
            .schema("k bigint, s string, v double")
            .option("path", out).load())
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # drop an orphan: same shape, values that would corrupt the result
    write_xlsx(f"{out}/part-99999-orphan.xlsx",
               [["k", "s", "v"], [999, "orphan", 1e9]])
    again = (spark.read.format("xlsx")
             .schema("k bigint, s string, v double")
             .option("path", out).load())
    assert again.count() == 20
    assert again.filter("s = 'orphan'").count() == 0

    # overwrite drops old parts AND the stale manifest
    df2 = spark.createDataFrame([(1, "x", 1.0)], ["k", "s", "v"])
    (df2.write.format("xlsx").mode("overwrite").option("path", out).save())
    final = (spark.read.format("xlsx")
             .schema("k bigint, s string, v double")
             .option("path", out).load())
    assert [tuple(r) for r in final.collect()] == [(1, "x", 1.0)]


def test_xlsx_overwrite_is_atomic_and_append_merges(spark, tmp_path):
    """A FAILED overwrite must leave the previously committed output
    readable (old parts + manifest survive until the new commit), and
    append must keep prior commits in the manifest."""
    import glob
    import json

    from excel_to_db_spark.sources.datasource import (XlsxCommitMessage,
                                                      XlsxWriter)

    out = str(tmp_path / "sink")
    schema = "k bigint, s string, v double"
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)],
                               ["k", "s", "v"])
    df.write.format("xlsx").mode("overwrite").option("path", out).save()

    # simulate an overwrite job that dies between write() and commit():
    # constructing the writer (driver-side) and aborting must not touch
    # the committed output
    w = XlsxWriter({"path": out}, df.schema, overwrite=True)
    w.abort([XlsxCommitMessage(None, 0)])
    back = (spark.read.format("xlsx").schema(schema)
            .option("path", out).load())
    assert back.count() == 2  # old data fully readable after failed job

    # append merges with the existing manifest instead of replacing it
    df2 = spark.createDataFrame([(3, "c", 3.0)], ["k", "s", "v"])
    df2.write.format("xlsx").mode("append").option("path", out).save()
    merged = (spark.read.format("xlsx").schema(schema)
              .option("path", out).load())
    assert sorted(r.k for r in merged.collect()) == [1, 2, 3]
    doc = json.load(open(f"{out}/_SUCCESS"))
    assert len(doc["parts"]) == len(glob.glob(f"{out}/*.xlsx"))
    assert doc["rows"] == 3

    # a real overwrite swaps: only the new part remains afterwards
    df2.write.format("xlsx").mode("overwrite").option("path", out).save()
    final = (spark.read.format("xlsx").schema(schema)
             .option("path", out).load())
    assert [tuple(r) for r in final.collect()] == [(3, "c", 3.0)]
    doc = json.load(open(f"{out}/_SUCCESS"))
    assert sorted(doc["parts"]) == sorted(glob.glob(f"{out}/*.xlsx"))


def test_append_onto_premanifest_dir_counts_adopted_rows(spark, tmp_path):
    """Appending into a directory holding pre-manifest loose parts must
    adopt them with their REAL row counts in the _SUCCESS manifest."""
    import json
    import os

    from excel_to_db_spark.sources.xlsx_writer import write_xlsx

    d = str(tmp_path / "premanifest")
    os.makedirs(d)
    write_xlsx(os.path.join(d, "legacy.xlsx"),
               [["a", "b"], ["x", 1], ["y", 2], ["z", 3]])

    df = spark.createDataFrame([("w", 4.0)], "a string, b double")
    (df.selectExpr("a as service_name", "b as count",
                   "b as average_response_time_95_ms",
                   "b as max_response_time_95_ms",
                   "b as min_response_time_95_ms")
     .write.format("xlsx").mode("append").option("path", d).save())

    doc = json.load(open(os.path.join(d, "_SUCCESS")))
    assert doc["rows"] == 3 + 1
    assert any(p.endswith("legacy.xlsx") for p in doc["parts"])
