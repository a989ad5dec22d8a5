"""Plan-shape assertions for the round-4 operators: the physical plans
must keep the scale properties PLANS.md claims (partial aggregation,
broadcast-only joins, column pruning), not just produce right answers."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR as SF, plan_text


def test_simhash_votes_partial_aggregate_single_exchange(spark):
    """The 64 bit-vote sums must map-side combine: a partial/final
    HashAggregate pair around ONE did-keyed exchange, so shuffle volume
    is O(docs) x 64 ints, not O(doc x shingle)."""
    from excel_to_db_spark.operators import dedup as D

    df = spark.read.parquet(f"{SF}/documents.parquet")
    toks = df.select(F.col("doc_id").alias("did"),
                     F.explode_outer(D.shingles(F.col("text"))).alias("tok"))
    base = toks.select(
        "did",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
         .cast("bigint").alias("hi"))
    votes = base.groupBy("did").agg(
        F.sum(F.shiftright("hi", 1).bitwiseAND(F.lit(1))).alias("v"))
    plan = plan_text(votes)
    assert plan.count("HashAggregate") == 2  # partial + final
    assert plan.count("Exchange hashpartitioning(did") == 1


def test_minhash_est_joins_are_broadcast(spark):
    from excel_to_db_spark.queries import REGISTRY

    plan = plan_text(REGISTRY["dedup_minhash_est"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # df-prune + 2 sig joins


def test_binaryfile_metadata_read_prunes_content(spark, tmp_path):
    """A metadata-only projection over a binaryFile table must not read
    the content column (the 100 TB contract: listing/length queries
    never touch the image bytes)."""
    p = tmp_path / "b"
    p.mkdir()
    (p / "x.bin").write_bytes(b"abc")
    bf = (spark.read.format("binaryFile").load(str(p))
          .select("path", "length"))
    plan = plan_text(bf)
    assert "content" not in plan.split("ReadSchema")[-1]


def test_similarity_recall_no_cartesian(spark):
    from excel_to_db_spark.queries import REGISTRY

    plan = plan_text(REGISTRY["similarity_recall"].fn(spark, SF))
    # the only nested-loop is the broadcast query set (the intended
    # brute-force ground-truth scan); never a CartesianProduct
    assert "CartesianProduct" not in plan
