"""Physical-plan regression guards for the relational-corners and text
packs added after the round-2 audit (queries/relational3.py,
queries/pipeline.py additions).

Same contract as tests/test_plans_r2.py: each assertion pins the plan
property that makes the operator survive a 100x scale-up, so a future
edit that silently degrades it (nested-loop fallback, extra shuffle,
lost map-side prune) fails here before any benchmark notices.
"""

from __future__ import annotations

from conftest import plan_text

SF_DIR = "/root/testdata/sf0.001"


def test_null_safe_join_stays_hashable(spark, registry):
    plan = plan_text(registry["join_null_safe"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, \
        "eqNullSafe must hash-join (EqualNullSafe is a valid hash key)"
    assert "BroadcastNestedLoopJoin" not in plan, \
        "null-safe equality must not degrade to nested-loop"


def test_relational_division_broadcasts_universe(spark, registry):
    plan = plan_text(registry["relational_division"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_gaps_bucketed_window(spark, registry):
    plan = plan_text(registry["sequence_gaps"].fn(spark, SF_DIR))
    assert "hashpartitioning(bucket" in plan, \
        "full-sequence lead() must run inside hash-partitioned buckets"
    # exactly one single-partition exchange: the per-bucket min/max
    # aggregate (rows = keys/1024), never the raw key sequence
    assert plan.count("Exchange SinglePartition") == 1


def test_window_exclude_single_shuffle(spark, registry):
    plan = plan_text(registry["window_exclude"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, \
        "count guard and sum must share one window shuffle"


def test_window_groups_frame_single_shuffle(spark, registry):
    plan = plan_text(registry["window_groups_frame"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, \
        "dense_rank and RANGE frame share the partition key -> one shuffle"


def test_fuzzy_match_blocks_before_metric(spark, registry):
    """r9 cascade: the join condition must evaluate the precomputed
    length band and the 2-level char-count signature (two XOR +
    bit_count long ops) BEFORE the bounded levenshtein — codegen
    short-circuits conjunctions left-to-right, so the order IS the
    filter cascade."""
    plan = plan_text(registry["str_fuzzy_match"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan  # theta join by design
    cond = plan.split("BroadcastNestedLoopJoin")[1].split("\n")[0]
    assert "bit_count" in cond, "signature cascade must stay in the join"
    # r12: the DP verify is the batched Arrow kernel — levenshtein must
    # be OUT of the join condition (it was the measured ~45s floor) and
    # a MapInArrow node must sit above the candidate join, below the
    # rid->name join-backs.
    assert "levenshtein" not in cond, \
        "banded DP moved to the Arrow kernel; JVM lev in the cascade " \
        "is the pre-r12 shape"
    assert "MapInArrow" in plan


def test_agg_mode_broadcasts_max_counts(spark, registry):
    plan = plan_text(registry["agg_mode"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_is_pure_map(spark, registry):
    plan = plan_text(registry["text_pii_scrub"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, \
        "regex scrub is scan->project; any shuffle is a regression"


def test_entropy_two_shuffles_max(spark, registry):
    plan = plan_text(registry["text_entropy"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 2, \
        "(doc,token) freq + per-doc reduce; more means a lost combine"


def test_fuzzy_match_cascade_off_identical_pairs(spark, registry):
    """Forced-parameter equivalence (VERDICT r10 #6, the _lof_top3
    pattern): with the ENTIRE candidate cascade disabled — no length
    band, no rank dedup, no char-count or bigram signatures — the
    plain exhaustive formulation (lexicographic order + bounded
    levenshtein only) must yield the IDENTICAL (name_a, name_b, dist)
    tuple set. Every cascade member is provably necessary for
    lev <= 3, so equality is exact, not approximate. Uses sf0.01 for
    a non-trivial name pool."""
    from pyspark.sql import functions as F

    sf01 = "/root/testdata/sf0.01"
    fast = {(r.name_a, r.name_b, r.dist)
            for r in registry["str_fuzzy_match"].fn(spark, sf01).collect()}
    names = (spark.read.parquet(f"{sf01}/part.parquet")
             .select(F.col("p_name").alias("v")).distinct())
    a, b = names.alias("a"), names.alias("b")
    lev3 = F.levenshtein(F.col("a.v"), F.col("b.v"), 3)
    ref = {(r.name_a, r.name_b, r.dist)
           for r in (a.join(F.broadcast(b),
                            (F.col("a.v") < F.col("b.v")) & (lev3 >= 0))
                     .select(F.col("a.v").alias("name_a"),
                             F.col("b.v").alias("name_b"),
                             lev3.alias("dist"))).collect()}
    assert fast == ref and fast


def test_fuzzy_arrow_kernel_matches_jvm_levenshtein(spark):
    """r12 kernel harness: the batched NumPy banded DP must reproduce
    Spark's levenshtein(a, b, 3) EXACTLY — kept pairs identical, kept
    distances identical — on an adversarial vocabulary: empty/short
    strings, boundary pairs (true distance 3 vs 4), repeated chars,
    transposition shapes (which cost 2 under plain edit distance),
    non-ASCII code points incl. astral, and every length diff 0..4."""
    import itertools
    import pyarrow as pa
    from pyspark.sql import functions as F
    from excel_to_db_spark.queries.relational3 import (
        _fuzzy_encode, _fuzzy_verify_kernel)

    vocab = sorted({
        "", "a", "ab", "abc", "abcd", "abcde", "aaaaa", "aaaab",
        "banana", "bananas", "bnanaa", "nanaba", "abcdef", "abcfed",
        "abcdefg", "xbcdefg", "xycdefg", "xyzdefg", "xyzwefg",
        "almond antique", "almond antiqeu", "almond antiqu",
        "almond antiquex", "dlmond antique", "almnd antique",
        "café", "cafe", "cafés", "naïve", "naive",
        "\U0001F600ab", "ab\U0001F600", "\U0001F600\U0001F601ab",
        "sz12", "sz1", "sz123", "s z 1 2", "sz 12",
    })
    pairs = [(i + 1, j + 1) for i, j in
             itertools.combinations(range(len(vocab)), 2)]

    class _BC:
        value = _fuzzy_encode(vocab)

    kern = _fuzzy_verify_kernel(_BC())
    batch = pa.RecordBatch.from_arrays(
        [pa.array([p[0] for p in pairs], type=pa.int32()),
         pa.array([p[1] for p in pairs], type=pa.int32())],
        names=["ra", "rb"])
    got = {}
    for out in kern(iter([batch])):
        for ra, rb, d in zip(out.column(0).to_pylist(),
                             out.column(1).to_pylist(),
                             out.column(2).to_pylist()):
            got[(ra, rb)] = d

    ref_df = spark.createDataFrame(
        [(ra, rb, vocab[ra - 1], vocab[rb - 1]) for ra, rb in pairs],
        "ra int, rb int, va string, vb string")
    want = {(r.ra, r.rb): r.d for r in
            ref_df.select("ra", "rb",
                          F.levenshtein("va", "vb", 3).alias("d"))
            .where(F.col("d") >= 0).collect()}
    assert got == want and any(d == 3 for d in want.values())
