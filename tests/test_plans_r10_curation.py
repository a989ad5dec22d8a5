"""Round-5 curation-pack plan guards: the epoch shuffle and the
mixture interleave rank via bucket windows (never one unpartitioned
window over the corpus), shard packing reuses the two-phase prefix sum,
chunk dedup stays shuffle-free, and the Bloom-pruned join never
degenerates to a cartesian product."""

from __future__ import annotations

from excel_to_db_spark.queries.curation import (
    join_bloom_pruned,
    mixture_interleave,
    shard_pack,
    shuffle_epoch,
    text_chunk_dedup,
)

from conftest import plan_text


def test_shuffle_epoch_rank_is_bucket_partitioned(spark, sf_dir):
    """Every Window node must be hash-partitioned: the local rank
    partitions by the 256-way _bkt, the offset window runs over 256
    count rows (bounded by the bucket fan-out, not the corpus)."""
    plan = plan_text(shuffle_epoch(spark, sf_dir))
    # the local-rank Window sorts by (_bkt, k, doc_id): _bkt in the
    # sort spec is the evidence the corpus-sized window is partitioned
    assert "_bkt" in plan and "row_number" in plan
    assert "CartesianProduct" not in plan


def test_shard_pack_no_corpus_window(spark, sf_dir):
    """The prefix sum comes from the bucketed two-phase operator; the
    only unpartitioned window in the plan is the n_buckets-row offset
    table."""
    plan = plan_text(shard_pack(spark, sf_dir))
    assert "_bkt" in plan
    assert "BroadcastExchange" in plan  # offsets + total join back
    assert "CartesianProduct" not in plan


def test_mixture_interleave_rank_partitions_by_source(spark, sf_dir):
    plan = plan_text(mixture_interleave(spark, sf_dir))
    assert "lang" in plan and "_bkt" in plan
    assert "CartesianProduct" not in plan


def test_text_chunk_dedup_is_shuffle_free(spark, sf_dir):
    """Pure per-row array arithmetic: no Exchange in the plan at all."""
    plan = plan_text(text_chunk_dedup(spark, sf_dir))
    assert "Exchange" not in plan


def test_join_bloom_pruned_plan_shape(spark, sf_dir):
    """The selective predicate is pushed to the orders scan, and
    whether or not the runtime Bloom rewrite fires (size thresholds
    decide), there is never a cartesian product."""
    plan = plan_text(join_bloom_pruned(spark, sf_dir))
    assert "PushedFilters" in plan or "Filter" in plan
    assert "CartesianProduct" not in plan
