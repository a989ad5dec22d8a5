"""Salted join equivalence + IVF assignment sanity + stream dedup."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, FloatType, LongType,
                               StructField, StructType)

from excel_to_db_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, f"row{i}") for i in range(100)], ["k", "payload"])
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["sk", "tag"])
    plain = big.join(small, big.k == small.sk).select("k", "payload", "tag")
    salted = salted_join(big, small, "k", "sk", n_salts=4).select(
        "k", "payload", "tag")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_ivf_assign_nearest_centroid(spark):
    from excel_to_db_spark.operators.similarity import ivf_assign

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        StructType([StructField("cid", LongType()),
                    StructField("cvec", ArrayType(DoubleType()))]))
    vecs = spark.createDataFrame(
        [(100, [1.0, 1.0]), (101, [9.0, 9.5])],
        StructType([StructField("vid", LongType()),
                    StructField("vec", ArrayType(DoubleType()))]))
    out = {r.vid: r.cell for r in
           ivf_assign(vecs, cents, "vid", "vec").collect()}
    assert out == {100: 0, 101: 1}


def test_stream_dedup_removes_replayed_duplicates(spark, sf_dir):
    from excel_to_db_spark.streaming import run_stream_dedup
    from excel_to_db_spark.tables import load_table

    out = run_stream_dedup(spark, sf_dir)
    n_batch = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert out.count() == n_batch                 # doubled input, deduped
    assert out.select("event_id").distinct().count() == n_batch


def test_asof_join_semantics(spark):
    from excel_to_db_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (2, 5, "e3")],
        ["k", "ts", "eid"])
    right = spark.createDataFrame(
        [(1, 10), (1, 15), (2, 9)], ["k", "ts"])
    out = {r.eid: r.asof_ts
           for r in asof_join(left, right, on="k", ts="ts").collect()}
    assert out["e1"] == 10    # exact tie matches (>= rule)
    assert out["e2"] == 15    # most recent prior
    assert out["e3"] is None  # no right row at or before ts=5


def test_ann_recall_floors(spark, sf_dir):
    """Approximation-quality gauge: both ANN paths must recover a
    meaningful fraction of the exact top-10 (conservative floors — the
    contract queries already pin exact algorithm equality; this guards
    against a silent quality collapse, e.g. a broken bucket function
    sending everything to one cell's complement)."""
    import __spark_entry__ as E

    qs = E.queries()
    exact = {(r.q_id, r.n_id) for r in qs["similarity_topk"](spark, sf_dir).collect()}
    ann = {(r.q_id, r.n_id) for r in qs["similarity_ann"](spark, sf_dir).collect()}
    ivf = {(r.q_id, r.n_id) for r in qs["similarity_ivf"](spark, sf_dir).collect()}
    assert len(ann & exact) / len(exact) >= 0.1
    assert len(ivf & exact) / len(exact) >= 0.1


def test_parse_bytes_spark_suffixes():
    """ADVICE r9: '128m' must be 128 MiB, not 128 bytes — the strip-
    non-digits parser silently disabled fan_out on narrow scans."""
    from excel_to_db_spark.operators.skew import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128m") == 128 * 1024 ** 2
    assert _parse_bytes("128MB") == 128 * 1024 ** 2
    assert _parse_bytes("1g") == 1024 ** 3
    assert _parse_bytes("64k") == 64 * 1024
    # Unparseable -> Spark's documented default, never a garbage value.
    assert _parse_bytes("watermelon") == 134217728
    assert _parse_bytes("") == 134217728


def test_fan_out_no_op_on_memory_leaf(spark):
    """ADVICE r9: an in-memory leaf (inputFiles() == []) has unknown
    width; fan_out must bail out unchanged like the other can't-estimate
    paths, not unconditionally add an exchange."""
    from excel_to_db_spark.operators.skew import fan_out

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    out = fan_out(df)
    assert out is df


def test_fan_out_widens_narrow_file_scan(spark, tmp_path):
    """The positive case: a single-split local parquet scan feeding a
    compute-heavy pipeline gets repartitioned to shuffle parallelism."""
    from excel_to_db_spark.operators.skew import fan_out

    p = str(tmp_path / "narrow.parquet")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = fan_out(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == n_parts
    assert out.count() == 100
