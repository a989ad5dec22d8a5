"""Dedup operators: crafted micro-corpora with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from excel_to_db_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog"),        # near dup of 0
        (3, "dog lazy the over jumps fox brown quick the"),          # reorder of 0
        (4, "completely different words about spark and parquet"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingles_basic(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    [row] = df.select(D.shingles(F.col("text")).alias("s")).collect()
    assert row.s == ["a b c", "b c d"]
    # short doc -> empty shingle set, not an error
    df2 = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    assert df2.select(D.shingles(F.col("text")).alias("s")).collect()[0].s == []


def test_exact_dedup_groups(docs):
    out = {r.doc_id: r.n_dups for r in D.exact_dedup(docs).collect()}
    # 0,1 identical; 3 is a reorder => same token SET fingerprint
    assert out[0] == 3
    assert out[2] == 1
    assert out[4] == 1


def test_jaccard_pairs_tokensets(docs):
    pairs = {(r.d1, r.d2): r.jaccard
             for r in D.jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 3)] == 1.0          # token-set view can't see order
    assert (0, 4) not in pairs
    # 0 vs 2: tokens {the,quick,brown,fox,jumps,over,lazy/sleepy,dog}
    assert pairs[(0, 2)] == pytest.approx(7 / 9)


def test_shingle_jaccard_sees_order(docs):
    pairs = {(r.d1, r.d2)
             for r in D.jaccard_pairs(docs, threshold=0.5,
                                      keyset=D.shingles).collect()}
    assert (0, 1) in pairs       # identical
    assert (0, 3) not in pairs   # reordered doc shares almost no shingles
    assert (0, 2) in pairs       # one-word substitution keeps most shingles


def test_minhash_equals_exact_jaccard(docs):
    exact = {(r.d1, r.d2, round(r.jaccard, 6))
             for r in D.jaccard_pairs(docs, threshold=0.5,
                                      keyset=D.shingles).collect()}
    mh = {(r.d1, r.d2, round(r.jaccard, 6))
          for r in D.minhash_dedup_pairs(docs, threshold=0.5, n_hashes=128,
                                         bands=32, keyset=D.shingles).collect()}
    assert mh == exact


def test_simhash_identical_docs_distance_zero(docs):
    out = {(r.d1, r.d2): r.hamming
           for r in D.simhash_pairs(docs, max_hamming=8,
                                    keyset=D.shingles).collect()}
    assert out[(0, 1)] == 0


def test_minhash_engines_agree(docs):
    """The Arrow-kernel signature path and the pure-DataFrame path must
    produce the same verified pairs (both equal exhaustive Jaccard; the
    base-hash difference never reaches the output contract)."""
    a = {(r.d1, r.d2, round(r.jaccard, 6))
         for r in D.minhash_dedup_pairs(docs, threshold=0.5, n_hashes=128,
                                        bands=32, keyset=D.shingles,
                                        engine="arrow").collect()}
    s = {(r.d1, r.d2, round(r.jaccard, 6))
         for r in D.minhash_dedup_pairs(docs, threshold=0.5, n_hashes=128,
                                        bands=32, keyset=D.shingles,
                                        engine="sql").collect()}
    assert a == s and a


def test_minhash_arrow_token_keyset(docs):
    """Token-set keyset routes through py_norm_tokens and still matches
    the exhaustive jaccard_pairs result."""
    exact = {(r.d1, r.d2, round(r.jaccard, 6))
             for r in D.jaccard_pairs(docs, threshold=0.5).collect()}
    mh = {(r.d1, r.d2, round(r.jaccard, 6))
          for r in D.minhash_dedup_pairs(docs, threshold=0.5, n_hashes=128,
                                         bands=32).collect()}
    assert mh == exact


def test_minhash_arrow_kernel_drops_null_text_like_sql(spark):
    """NULL-text documents must be dropped by BOTH engines, not crash
    the Arrow kernel (None.split AttributeError pre-fix)."""
    from excel_to_db_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, None),
         (3, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    pairs_arrow = D.minhash_dedup_pairs(df, 0.8, engine="arrow").collect()
    pairs_sql = D.minhash_dedup_pairs(df, 0.8, engine="sql").collect()
    assert {(r[0], r[1]) for r in pairs_arrow} == \
           {(r[0], r[1]) for r in pairs_sql} == {(1, 3)}


def test_minhash_banded_arrow_rejects_band_shape_mismatch(docs):
    """n_hashes must split into bands x rows; a mismatch is a named
    error at the call, not a reshape failure inside the Arrow kernel."""
    with pytest.raises(ValueError, match=r"n_hashes=64.*bands=16.*rows=5"):
        D.minhash_banded_arrow(docs, n_hashes=64, bands=16, rows=5)


def test_prefix_filter_equals_full_join(spark, sf_dir):
    """Forced-path equivalence (the r10 _lof_top3 pattern): the
    positional-prefix candidate path must produce BIT-IDENTICAL
    (d1, d2, jaccard) rows to the exhaustive inverted-index join —
    both count the same integer n_inter over the same distinct key
    sets and apply the same IEEE division, so exact tuple equality
    (not approx) is the contract. Run on the real documents fixture
    at several thresholds so the ceil()-boundary prefix lengths
    (t*n integral vs fractional) are all exercised."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for t in (0.5, 0.6, 0.8):
        fast = {(r.d1, r.d2, r.jaccard)
                for r in D.jaccard_pairs(docs, threshold=t,
                                         keyset=D.shingles).collect()}
        slow = {(r.d1, r.d2, r.jaccard)
                for r in D.jaccard_pairs(docs, threshold=t,
                                         keyset=D.shingles,
                                         prefix_filter=False).collect()}
        assert fast == slow and fast


def test_prefix_filter_integral_threshold_boundary(spark):
    """Docs engineered so t*n is EXACTLY integral (n=5, t=0.8 ->
    prefix length 2): a float-noise ceil(4.0)=5 would shrink the
    prefix to length 1 and could drop the planted near-dup pair.
    The 1e-9 guard keeps ceil at 4; the pair must survive."""
    rows = [(1, "a b c d e f g"),   # shingles: 5
            (2, "a b c d e f h")]   # shares 4 of 6.. sizes 5,5 j=4/6
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # j = |inter|/|union| = 4/6 = 0.667 -> use threshold 0.6
    out = {(r.d1, r.d2) for r in D.jaccard_pairs(
        df, threshold=0.6, keyset=D.shingles).collect()}
    ref = {(r.d1, r.d2) for r in D.jaccard_pairs(
        df, threshold=0.6, keyset=D.shingles,
        prefix_filter=False).collect()}
    assert out == ref == {(1, 2)}
