"""IVF assignment sanity, stream dedup, as-of join semantics and ANN
recall floors."""

from __future__ import annotations

from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)


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
