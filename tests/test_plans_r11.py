"""Round-5 batch-2/3 plan guards: the governance/PQ/graph keys keep
their promised physical shapes — winnowing and CDC chunking stay
shuffle-free until the fingerprint aggregation, the source matrix joins
on the signature (never cartesian), PQ encodes against a BROADCAST
codebook, and the split census prunes the text column from the scan."""

from __future__ import annotations

from excel_to_db_spark.queries.curation2 import (
    dedup_source_matrix,
    pipeline_train_val_split,
    text_cdc_chunks,
    text_winnowing,
)
from excel_to_db_spark.queries.similarity2 import similarity_pq

from conftest import plan_text


def test_split_census_prunes_text_column(spark, sf_dir):
    """The census never reads document text: ReadSchema must project
    only (doc_id, lang, n_chars)."""
    plan = plan_text(pipeline_train_val_split(spark, sf_dir))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and all("text" not in ln for ln in scan)
    assert "HashAggregate" in plan


def test_winnowing_is_shuffle_free(spark, sf_dir):
    """Per-row HOF arithmetic only — no HASH exchange (i.e. no keyed
    shuffle) anywhere, and no heavy expression below the one permitted
    exchange: the r11 fan_out adds a single gated ROUND-ROBIN widening
    exchange on narrow local scans (no-op on wide cluster scans), and
    the md5-transform must sit ABOVE it — a size(hs)-style filter
    pushed below would re-run the HOF at scan width (the jaccard_pairs
    trap, 17.4s -> 5.2s here at jittered sf1)."""
    plan = plan_text(text_winnowing(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan
    rr = [ln for ln in plan.splitlines()
          if "Exchange roundrobinpartitioning" in ln]
    assert len(rr) <= 1
    # nothing below the exchange computes md5: the scan-side stage
    # must project raw columns only
    if rr:
        below = plan.split("Exchange roundrobinpartitioning")[-1]
        assert "md5" not in below


def test_cdc_chunks_shuffle_only_fingerprints(spark, sf_dir):
    """Chunk splitting is executor-side; the only shuffles key on the
    (source, sig) fingerprint aggregate — chunk text appears in no
    Exchange expression."""
    plan = plan_text(text_cdc_chunks(spark, sf_dir))
    assert "CartesianProduct" not in plan
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all("sig" in ln or "source" in ln for ln in ex)


def test_feature_hashing_is_shuffle_free(spark, sf_dir):
    """The HOF-vector formulation must plan with no Exchange at all
    (the groupBy formulation it replaced had two)."""
    from excel_to_db_spark.queries.curation2 import text_feature_hashing

    plan = plan_text(text_feature_hashing(spark, sf_dir))
    assert "Exchange" not in plan


def test_source_matrix_is_sig_equi_join(spark, sf_dir):
    plan = plan_text(dedup_source_matrix(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "sig" in plan


def test_pq_codebook_joins_are_broadcast(spark, sf_dir):
    """Encode and ADC both join a 128-row broadcast side; the vector
    side must never shuffle for the join itself."""
    plan = plan_text(similarity_pq(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
