"""operators/physical.py: the one module that cuts lineage, probes table
sizes, applies the broadcast bound and picks fan-out widths."""

from __future__ import annotations

import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR, plan_text
from excel_to_db_spark.operators import physical

PKG = pathlib.Path(__file__).resolve().parent.parent / "excel_to_db_spark"

# Each of these outside physical.py is a second place that decides.
_OUTSIDE_PHYSICAL = {
    "lineage cut": re.compile(r"localCheckpoint"),
    "footer read": re.compile(r"read_metadata|ParquetFile\("),
    "broadcast bound": re.compile(r"BROADCAST_ROW_LIMIT"),
    "cache": re.compile(r"\.(persist|cache)\("),
    "shuffle width read with a default": re.compile(
        r"conf\.get\(\s*[\"']spark\.sql\.shuffle\.partitions[\"']\s*,"),
    # A bound name escapes the swap tests and tools rely on.
    "imported cut": re.compile(
        r"^\s*from\s+[\w.]+\s+import\s+(\([^)]*|[^\n]*)\bcut\b",
        re.M | re.S),
}


def test_physical_decisions_live_in_one_module():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "physical.py" and path.parent.name == "operators":
            continue
        text = path.read_text()
        for what, pat in _OUTSIDE_PHYSICAL.items():
            for m in pat.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                found.append(f"{path.relative_to(PKG)}:{line}: {what}")
    assert not found, "\n".join(found)


def test_footer_rows_file_directory_and_missing(tmp_path):
    parts = tmp_path / "many.parquet"
    parts.mkdir()
    for path, n in ((tmp_path / "one.parquet", 7),
                    (parts / "part-0.parquet", 3),
                    (parts / "part-1.parquet", 4)):
        pq.write_table(pa.table({"x": list(range(n))}), path)
    (parts / "_SUCCESS").write_text("")

    assert physical.footer_rows(str(tmp_path / "one.parquet")) == 7
    assert physical.footer_rows(str(parts)) == 7
    assert physical.footer_rows(str(tmp_path), ("one", "many")) == 14
    assert physical.footer_rows(str(tmp_path), ("one", "absent")) is None
    assert physical.footer_rows(str(tmp_path / "absent.parquet")) is None


def test_broadcast_bound_fails_safe():
    assert physical.broadcastable(physical.BROADCAST_ROW_LIMIT)
    assert not physical.broadcastable(physical.BROADCAST_ROW_LIMIT + 1)
    assert not physical.broadcastable(None)


def test_cut_swap_yields_the_unrolled_plan(spark, monkeypatch):
    from excel_to_db_spark.queries.curation2 import stats_theil_sen

    cut_plan = plan_text(stats_theil_sen(spark, SF_DIR))
    assert "ExistingRDD" in cut_plan
    monkeypatch.setattr(physical, "cut", lambda df: df)
    plan = plan_text(stats_theil_sen(spark, SF_DIR))
    assert "ExistingRDD" not in plan
    assert plan.count("orders.parquet") == 3, \
        "unrolled, each of the day series' three consumers scans orders"


@pytest.mark.parametrize("key", ["stats_theil_sen", "embedding_mrl_eval",
                                 "dedup_clusters", "dedup_cluster_eval",
                                 "bpe_tokenize_corpus"])
def test_key_leaves_no_cached_plan(spark, key):
    """A key that caches a subtree and never uncaches it serves a later
    matching plan in the session from that cache, so the later timing
    is not that key's own work."""
    from excel_to_db_spark.queries import REGISTRY

    physical.release(spark)
    REGISTRY[key].fn(spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_parse_bytes_spark_suffixes():
    """'128m' must be 128 MiB, not 128 bytes — a strip-non-digits
    parser silently disabled fan_out on narrow scans. Unparseable text
    is Spark's documented default, never a garbage value."""
    mib = 1024 ** 2
    cases = {"134217728": 128 * mib, "134217728b": 128 * mib,
             "128m": 128 * mib, "128MB": 128 * mib, "1g": 1024 * mib,
             "64k": 64 * 1024, "watermelon": 128 * mib, "": 128 * mib}
    assert {raw: physical._parse_bytes(raw) for raw in cases} == cases


def test_fan_out_no_op_on_memory_leaf(spark):
    """An in-memory leaf (inputFiles() == []) has unknown width;
    fan_out must bail out unchanged like the other can't-estimate
    paths, not unconditionally add an exchange."""
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    assert physical.fan_out(df) is df
    assert physical.fan_width(spark, ["s3a://bucket/t.parquet"]) is None


def test_fan_out_widens_narrow_file_scan(spark, tmp_path):
    """The positive case: a single-split local parquet scan feeding a
    compute-heavy pipeline gets repartitioned to shuffle parallelism,
    with ``maxPartitionBytes`` in the byte and the suffix form."""
    p = str(tmp_path / "narrow.parquet")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(p)
    n_parts = physical.parallelism(spark)
    assert n_parts == int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        for max_pb in ("134217728", "128m"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", max_pb)
            df = spark.read.parquet(p)
            out = physical.fan_out(df)
            assert out is not df
            assert out.rdd.getNumPartitions() == n_parts
            assert out.count() == 100
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, f"row{i}") for i in range(100)], ["k", "payload"])
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["sk", "tag"])
    plain = big.join(small, big.k == small.sk).select("k", "payload", "tag")
    salted = physical.salted_join(big, small, "k", "sk", n_salts=4).select(
        "k", "payload", "tag")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))
