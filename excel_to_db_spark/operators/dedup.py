"""Deduplication operators for large text corpora.

The reference's only dedup surface is SQL ``SELECT DISTINCT`` through
its passthrough (reference src/main.rs:220); these extend it with the
standard LLM-training-corpus family. Everything is expressed with
built-in Spark SQL functions — token explosion, hash-partitioned joins,
aggregation — so Catalyst/AQE handle the physical plan, and nothing
collects to the driver.

Scale notes (100 TB):

- Exact/fingerprint dedup is one hash-partitioned aggregation on the
  fingerprint — the cheapest possible shuffle, and AQE coalesces the
  post-shuffle partitions.
- The inverted-index Jaccard join explodes one row per (doc, token). Its
  cost is dominated by hot tokens; production runs cap that with
  document-frequency pruning (drop tokens appearing in > X% of docs —
  they cannot discriminate) and prefix filtering (index only each doc's
  k rarest tokens). `jaccard_pairs(max_df=...)` implements the DF prune.
- MinHash-LSH replaces the all-pairs verification set with per-band
  bucket joins: candidates are only docs agreeing on one full band —
  at 100 TB this is the difference between O(n^2) and O(n·dups).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..numerics import h32, wide
from . import physical

def norm_tokens(text: Column) -> Column:
    """Distinct, sorted token set of a whitespace-tokenized document."""
    return F.array_sort(F.array_distinct(F.split(text, " ")))


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-gram shingle set over the token SEQUENCE (not the token
    set): shingle i = tokens[i..i+k-1] joined by spaces. Near-dup detection
    over a small vocabulary needs shingles — token-set Jaccard saturates
    (most docs share most of a 30-word vocabulary) while shingle Jaccard
    separates cleanly. Pure codegen'd array expressions, no shuffle."""
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(0), F.size(toks) - k)  # valid when size >= k
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    return F.when(F.size(toks) >= k,
                  F.array_sort(F.array_distinct(grams))
                  ).otherwise(F.array().cast("array<string>"))


def content_fingerprint(text: Column) -> Column:
    """Canonical content fingerprint: md5 over the sorted distinct token
    set. Two docs with the same bag-of-words (any order / multiplicity)
    collide — the usual "normalized exact dup" definition."""
    return F.md5(F.concat_ws(" ", norm_tokens(text)))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
                ) -> DataFrame:
    """Exact (fingerprint) dedup: one representative (min id) per
    fingerprint group, with the group size. Single shuffle on the md5."""
    return (df.select(F.col(id_col), content_fingerprint(F.col(text_col)).alias("fp"))
              .groupBy("fp")
              .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
              .select(id_col, "n_dups"))


def _token_index(df: DataFrame, text_col: str, id_col: str,
                 max_df: int | None = None,
                 keyset=norm_tokens) -> DataFrame:
    """Inverted index: one row per (doc, distinct key); `keyset` maps the
    text column to the key array (token set by default, `shingles` for
    sequence-sensitive near-dup). Optionally prune keys with document
    frequency > max_df (they can't discriminate near-dups but dominate
    the join cost)."""
    toks = df.select(F.col(id_col).alias("did"),
                     F.explode(keyset(F.col(text_col))).alias("tok"))
    if max_df is not None:
        keep = (toks.groupBy("tok").agg(F.count("*").alias("df_"))
                    .filter(F.col("df_") <= max_df).select("tok"))
        toks = toks.join(F.broadcast(keep), "tok")
    return toks


def jaccard_pairs(df: DataFrame, threshold: float, text_col: str = "text",
                  id_col: str = "doc_id", max_df: int | None = None,
                  keyset=norm_tokens, prefix_filter: bool = True) -> DataFrame:
    """Exact key-set Jaccard near-dup pairs, positional-prefix filtered
    (AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): under a global canonical key order (ascending document
    frequency, ties by key), any pair with J >= t must share a key in
    BOTH docs' prefixes of length |x| - ceil(t*|x|) + 1. Proof sketch:
    J(x,y) >= t implies overlap O >= t/(1+t)*(|x|+|y|) >= t*|x|, so
    O >= ceil(t*|x|) (integer O); if no shared key sits in x's prefix,
    all shared keys are among x's last ceil(t*|x|) - 1 keys — fewer
    than O. Candidates therefore come from a prefix-prefix equijoin
    (plus the t*|x| <= |y| <= |x|/t length band), and each candidate is
    verified EXACTLY on the full per-doc key arrays with
    size(array_intersect) — the same integer n_inter the full
    inverted-index join counts, so the output is bit-identical
    (tests/test_dedup.py::test_prefix_filter_equals_full_join).

    Why it matters at scale: prefix keys are the RAREST ~(1-t) fraction
    of each doc's keys, so the hot-key quadratic blowup sum(df^2) that
    dominates the full join collapses (measured at jittered sf1,
    t=0.8: 2.6M index rows -> 552k prefix rows, 16.8M join candidates
    -> 96k, wall 60.8s -> ~4s with identical 919 output pairs). The
    ceil is computed with a 1e-9 downward guard so float noise can only
    LENGTHEN a prefix (more candidates, never a missed pair). No cross
    join anywhere; joins are hash joins on the key plus candidate-sized
    joins to fetch the two key arrays. Returns (d1, d2, jaccard) with
    d1 < d2, jaccard >= threshold.

    ``max_df`` (optional) keeps the legacy DF-pruned contract — Jaccard
    over the sets MINUS hot keys — which is a different metric, so it
    routes through the unpruned inverted-index path unchanged."""
    if max_df is not None or not prefix_filter:
        inter = _intersection_counts(df, text_col, id_col, max_df, keyset)
        return (inter.select("d1", "d2",
                             (F.col("n_inter")
                              / (F.col("n1") + F.col("n2") - F.col("n_inter")))
                             .alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))
    # fan_out the RAW scan, not the projection: the keyset HOF compute
    # is the expensive part and must sit downstream of the widening
    # exchange, or it runs at the local fixture's 1-2 split width
    # (measured: 18.7s vs 1.5s per occurrence at jittered sf1). The
    # projected frame is then materialized ONCE (lazy local checkpoint)
    # because five plan branches read it (prefix a/b via toks and both
    # verify-side array fetches) — without it each action re-derives
    # the shingle arrays per branch. No size(ks)>=1 filter here, and
    # deliberately: Catalyst pushes such a filter (whose predicate
    # embeds the ENTIRE keyset expression) below the widening exchange
    # onto the narrow scan — measured 19.3s vs 1.1s for the identical
    # result — and empty-key docs are harmless anyway, since explode()
    # emits no index rows for them and candidates alone reach the
    # verify join.
    docs = (physical.fan_out(df)
            .select(F.col(id_col).alias("did"),
                    keyset(F.col(text_col)).alias("ks"))
            .transform(physical.cut))
    cand = _prefix_candidates(docs, threshold)
    k1 = docs.select(F.col("did").alias("d1"), F.col("ks").alias("ks1"))
    k2 = docs.select(F.col("did").alias("d2"), F.col("ks").alias("ks2"))
    n_inter = F.size(F.array_intersect("ks1", "ks2"))
    union = F.size("ks1") + F.size("ks2") - n_inter
    return (cand.join(k1, "d1").join(k2, "d2")
            .select("d1", "d2", (n_inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def _prefix_candidates(docs: DataFrame, threshold: float) -> DataFrame:
    """Distinct (d1, d2) candidate pairs from the positional-prefix
    equijoin over ``docs`` = (did, ks): explode the key arrays once to
    count global document frequency, rank each doc's keys ascending by
    (df, key) — rarest first, a deterministic total order — keep the
    length-(n - ceil(t*n) + 1) prefix, and self-join prefixes on the
    key under the d1 < d2 ordering and the Jaccard length band
    t*n1 <= n2 <= n1/t (both inequalities with the same 1e-9
    conservative slack as the prefix length). The df table joins back
    by hash join, not broadcast: at corpus scale the key vocabulary is
    data-sized even though it is small here."""
    toks = docs.select("did", F.size("ks").alias("n"),
                       F.explode("ks").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df_"))
    w = Window.partitionBy("did").orderBy("df_", "tok")
    p = (F.col("n")
         - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1)
    # Materialize the (small) prefix index once: the a/b self-join
    # otherwise re-runs the dfreq join + ranking window on both sides.
    pref = (toks.join(dfreq, "tok")
            .select("did", "n", "tok", F.row_number().over(w).alias("pos"))
            .filter(F.col("pos") <= p)
            .select("did", "n", "tok")
            .transform(physical.cut))
    a, b = pref.alias("a"), pref.alias("b")
    eps = F.lit(1e-9)
    return (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                   & (F.col("a.did") < F.col("b.did"))
                   & (F.col("a.n") >= F.lit(threshold) * F.col("b.n") - eps)
                   & (F.col("b.n") >= F.lit(threshold) * F.col("a.n") - eps))
            .select(F.col("a.did").alias("d1"), F.col("b.did").alias("d2"))
            .distinct())


def _intersection_counts(df: DataFrame, text_col: str, id_col: str,
                         max_df: int | None, keyset) -> DataFrame:
    """The shared inverted-index set-intersection machinery under
    jaccard_pairs and containment_pairs: one (d1, d2, n_inter, n1, n2)
    row per document pair sharing at least one key. Hash joins on the
    key only; the per-doc size table broadcasts onto the pair list.

    The scan is fanned out before the explode: this pipeline is
    compute-heavy and byte-light (the join fans each hot key into
    df^2 pair rows inside the stage), so on a narrow local fixture it
    otherwise inherits the scan's 1-2 parquet splits and runs the
    entire candidate generation on 2 cores (measured 56s -> ~6s at
    jittered sf1 for dedup_containment)."""
    toks = _token_index(physical.fan_out(df), text_col, id_col, max_df,
                        keyset)
    # Three consumers (sizes, join side a, join side b) read the index;
    # materialize it once instead of re-exploding the corpus per branch.
    toks = toks.transform(physical.cut)
    sizes = toks.groupBy("did").agg(F.count("*").alias("n_tok"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                    & (F.col("a.did") < F.col("b.did")))
              .groupBy(F.col("a.did").alias("d1"), F.col("b.did").alias("d2"))
              .agg(F.count("*").alias("n_inter")))
    s1 = sizes.select(F.col("did").alias("d1"), F.col("n_tok").alias("n1"))
    s2 = sizes.select(F.col("did").alias("d2"), F.col("n_tok").alias("n2"))
    return inter.join(F.broadcast(s1), "d1").join(F.broadcast(s2), "d2")


def uh_a(i: int) -> int:
    """Universal-hash multiplier i (Knuth multiplicative, forced odd,
    < 2^20 so products with 32-bit bases stay exact in long/DOUBLE-free
    arithmetic on every engine)."""
    return ((i * 2654435761) % (1 << 20)) | 1


def uh_c(i: int) -> int:
    """Universal-hash increment i (< 2^32)."""
    return (i * 40503 + 2531011) % (1 << 32)


def minhash_signatures(df: DataFrame, n_hashes: int = 64,
                       text_col: str = "text", id_col: str = "doc_id",
                       keyset=norm_tokens, base: str = "xxhash64"
                       ) -> DataFrame:
    """MinHash signature per doc: hash_i(doc) = min over keys of
    xxhash64(i || key), as explode + n_hashes parallel min-aggregations.

    Why not a single projection of nested array lambdas: Spark's
    common-subexpression elimination does not reach inside higher-order
    function lambdas, so an `array(array_min(transform(keyset, ...)) x n)`
    expression recomputes the keyset n times per row (measured 70x slower
    at sf0.1). A materialized-projection HOF variant (keyset and base
    hashes as intermediate columns, then n x array_min(transform)) avoids
    the recompute and wins on a signatures-only benchmark (0.8s vs 2.4s,
    64 hashes), but loses end-to-end at the real 128-hash shingle
    parameters (6.7s vs 5.5s at sf0.1 even with a repartition barrier for
    exchange reuse; 10.7s without) — the groupBy's shuffle is what lets
    the LSH self-join reuse one signature computation, so the explode
    form stays. The explode form computes the keyset once per row; the
    per-key hash columns are cheap JVM calls, and partial (map-side) min
    aggregation means the shuffle carries one n_hashes-wide row per doc
    per partition — the standard distributed MinHash shape at 100 TB.
    The scan is fanned out first: the keyset HOF + explode otherwise
    run at the local fixture's 1-2 split width (r11, same fix as
    jaccard_pairs)."""
    toks = physical.fan_out(df).select(
        F.col(id_col).alias("did"),
        F.explode(keyset(F.col(text_col))).alias("tok"))
    # Universal-hash family over ONE base hash per key: h_i = (a_i*b + c_i)
    # mod 2^32, with b < 2^32 and odd a_i < 2^20, so every product stays
    # under 2^52 — exact in long arithmetic, no ANSI overflow. 128 integer
    # ops per row beat 128 string-concat+xxhash64 calls ~4x wall-clock.
    # base="md5" derives the 32-bit base from md5's first 8 hex chars
    # instead — slower, but reproducible in ANY engine (the DuckDB
    # oracle of dedup_minhash_est recomputes identical signatures).
    if base == "md5":
        hb = h32(F.col("tok"))
    else:
        hb = F.xxhash64("tok").bitwiseAND(F.lit((1 << 32) - 1))
    base = toks.select("did", hb.alias("hb"))
    m = F.lit(1 << 32)

    mins = base.groupBy("did").agg(*[
        F.min((F.lit(uh_a(i)) * F.col("hb") + F.lit(uh_c(i))) % m)
        .alias(f"h{i}")
        for i in range(n_hashes)
    ])
    return mins.select("did", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))


def minhash_lsh_candidates(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """LSH banding: docs sharing ANY full band of the signature become a
    candidate pair. One explode (bands per doc), one shuffle on the
    band bucket key, pairs generated inside each bucket."""
    banded = sigs.select(
        "did",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(F.concat_ws(
                         ",", *[F.element_at("sig", b * rows + r + 1).cast("string")
                                for r in range(rows)])).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"))
    banded = banded.select("did", "bb.band", "bb.bucket")
    # Self-join: the signature pipeline feeds both sides, but its last
    # step is a shuffle (the groupBy), so Spark's ReusedExchange computes
    # it once. No persist — a cached DF per invocation would accumulate
    # in long-lived sessions (measured: cache churn made repeated runs
    # 3-6x slower). At cluster scale the production shape is an explicit
    # parquet checkpoint of signatures, not executor cache.
    x = banded.alias("x")
    y = banded.alias("y")
    return (x.join(y, (F.col("x.band") == F.col("y.band"))
                   & (F.col("x.bucket") == F.col("y.bucket"))
                   & (F.col("x.did") < F.col("y.did")))
             .select(F.col("x.did").alias("d1"), F.col("y.did").alias("d2"))
             .distinct())


def py_shingles(text: str, k: int = 3) -> set:
    """Python twin of :func:`shingles` (same split/k-gram/set rule),
    for the Arrow signature kernel."""
    toks = text.split(" ")
    if len(toks) < k:
        return set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def py_norm_tokens(text: str) -> set:
    """Python twin of :func:`norm_tokens` (distinct whitespace tokens)."""
    return set(text.split(" "))


def minhash_banded_arrow(df: DataFrame, n_hashes: int, bands: int,
                         rows: int, text_col: str = "text",
                         id_col: str = "doc_id",
                         py_keyset=py_shingles) -> DataFrame:
    """(did, band, bucket) banded MinHash rows straight from the Arrow
    kernel (r12, guide §4.2): the former pipeline shipped the full
    128-long signature array per doc across the Arrow boundary and then
    rebuilt band buckets with a nested interpreted HOF
    (transform/slice/array_join/xxhash64 per band per doc). The bucket
    is just SOME deterministic function of the band's signature slice —
    equal slices must collide, unequal slices may too, and downstream
    exact-Jaccard verification erases the difference — so the kernel
    folds each slice with a polynomial hash in NumPy and emits 4x fewer
    bytes with zero post-kernel HOF work."""
    if n_hashes != bands * rows:
        raise ValueError(
            f"minhash_banded_arrow: n_hashes={n_hashes} must equal "
            f"bands={bands} * rows={rows}")
    import numpy as np
    import pandas as pd
    import zlib

    A = np.array([uh_a(i) for i in range(n_hashes)], dtype=np.uint64)[:, None]
    C = np.array([uh_c(i) for i in range(n_hashes)], dtype=np.uint64)[:, None]
    M = np.uint64((1 << 32) - 1)
    K = np.uint64(1_000_003)

    def kernel(batches):
        for pdf in batches:
            dids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # NULL/NaN text drops the row, as split(NULL) does on
                # the SQL engine path
                if text is None or (isinstance(text, float)):
                    continue
                keys = py_keyset(text)
                if not keys:
                    continue
                # any 32-bit base hash works: the universal family on
                # top gives the n_hashes permutations, and candidates
                # are verified with exact Jaccard downstream
                hb = np.fromiter((zlib.crc32(s.encode()) for s in keys),
                                 dtype=np.uint64, count=len(keys))[None, :]
                dids.append(did)
                sigs.append(((A * hb + C) & M).min(axis=1))
            if not dids:
                yield pd.DataFrame({"did": pd.array([], dtype="Int64"),
                                    "band": pd.array([], dtype="Int32"),
                                    "bucket": pd.array([], dtype="Int64")})
                continue
            S = np.stack(sigs).reshape(len(dids), bands, rows)
            bucket = S[:, :, 0].copy()
            for r in range(1, rows):
                bucket *= K
                bucket += S[:, :, r]
            bucket = (bucket & np.uint64((1 << 63) - 1)).astype("int64")
            yield pd.DataFrame(
                {"did": np.repeat(np.asarray(dids, dtype="int64"), bands),
                 "band": np.tile(np.arange(bands, dtype="int32"),
                                 len(dids)),
                 "bucket": bucket.reshape(-1)})

    return (physical.fan_out(df.select(id_col, text_col))
            .mapInPandas(kernel, "did bigint, band int, bucket bigint"))


def minhash_dedup_pairs(df: DataFrame, threshold: float, n_hashes: int = 64,
                        bands: int = 16, text_col: str = "text",
                        id_col: str = "doc_id", keyset=norm_tokens,
                        engine: str = "arrow") -> DataFrame:
    """MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    EXACT Jaccard verification of candidates only (array_intersect on
    the small per-doc key arrays — no second explosion).

    With bands=32 x rows=4, P(miss | j=0.8) = (1-0.8^4)^32 ≈ 5e-8, so
    the verified output equals the exhaustive `jaccard_pairs` result
    with overwhelming probability while touching ~O(n·dups) pairs
    instead of O(n^2) — which is why its DuckDB oracle can simply BE the
    exhaustive-Jaccard SQL.

    engine="arrow" (default) computes signatures in the zero-shuffle
    Arrow kernel and candidates without a self-join; engine="sql" keeps
    the pure-DataFrame explode/groupBy formulation. Both produce the
    same verified output (property-tested equal to exhaustive Jaccard);
    arrow is ~2.5x faster end-to-end and strictly better at scale
    (one shuffle total vs three)."""
    rows = n_hashes // bands
    py = {shingles: py_shingles, norm_tokens: py_norm_tokens}.get(keyset)
    if engine == "arrow" and py is not None:
        # r12: band buckets come straight out of the kernel — see
        # minhash_banded_arrow (4x fewer Arrow bytes, no post-kernel
        # banding HOF). The grouped pair emission is unchanged.
        banded = minhash_banded_arrow(df, n_hashes, bands, rows,
                                      text_col, id_col, py)
        grp = (banded.groupBy("band", "bucket")
               .agg(F.sort_array(F.collect_list("did")).alias("dids"))
               .filter(F.size("dids") >= 2))
        cands = (grp.select(F.explode(F.expr(
            "flatten(transform(sequence(0, size(dids)-2), i -> "
            "transform(slice(dids, i+2, size(dids)-i-1), y -> "
            "struct(dids[i] AS d1, y AS d2))))")).alias("p"))
            .select("p.d1", "p.d2").distinct())
    else:
        sigs = minhash_signatures(df, n_hashes, text_col, id_col, keyset)
        cands = minhash_lsh_candidates(sigs, bands, rows)
    # fan_out (r11): the broadcast build below collects this whole
    # projection, and without the widening exchange the keyset HOF for
    # every doc runs at the local scan's 1-2 split width inside the
    # broadcast job (measured ~10s of dedup_minhash's 17s at sf1j).
    # (r12 note: a lineage cut here to fold the two broadcast
    # builds into one keyset pass measured SLOWER at jittered sf1 —
    # the token arrays are ~500 MB on disk, and writing them costs
    # more than the second in-memory HOF pass. Kept recomputed.)
    docs = physical.fan_out(df).select(F.col(id_col).alias("did"),
                                       keyset(F.col(text_col)).alias("toks"))
    d1 = docs.select(F.col("did").alias("d1"), F.col("toks").alias("t1"))
    d2 = docs.select(F.col("did").alias("d2"), F.col("toks").alias("t2"))
    inter = F.size(F.array_intersect("t1", "t2"))
    union = F.size("t1") + F.size("t2") - inter
    return (cands.join(F.broadcast(d1), "d1").join(F.broadcast(d2), "d2")
            .select("d1", "d2", (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def simhash_pairs(df: DataFrame, max_hamming: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  n_blocks: int = 4, keyset=norm_tokens) -> DataFrame:
    """SimHash near-dup candidates: block the 64-bit fingerprint into
    `n_blocks` chunks; by pigeonhole any pair within hamming distance
    < n_blocks shares at least one exact chunk — join on chunk equality,
    then filter by true hamming distance via bit_count(xor).

    Output is a candidate list (d1, d2, hamming). SimHash approximates
    COSINE similarity of the token vectors, so there is no exact-Jaccard
    oracle — but the md5-based hash makes the pipeline itself
    SQL-expressible, so the DuckDB twin recomputes the exact candidate
    set (queries/extensions.py dedup_simhash)."""
    bits_per = 64 // n_blocks
    # Explode + 64 partial-agg vote sums (the minhash shape): one shuffle
    # carrying a 64-wide row per doc per partition. A single-expression
    # higher-order-function form is semantically identical but its 64
    # nested array-aggregates cost ~15s of analysis/codegen alone — the
    # explode form plans in well under a second and map-side combines at
    # scale. explode_outer keeps empty-shingle docs (fingerprint 0),
    # matching both oracles. fan_out first (r11): the keyset
    # HOF + md5 explode otherwise run at the local fixture's 1-2 split
    # width — measured 15.1s for a 1-2s stage at jittered sf1.
    toks = physical.fan_out(df).select(
        F.col(id_col).alias("did"),
        F.explode_outer(keyset(F.col(text_col))).alias("tok"))
    # Two 32-bit halves of the md5-derived hash as bigints: integer
    # shiftright/AND per vote beats per-bit string substring ~2x.
    base = toks.select(
        "did",
        h32(F.col("tok")).alias("hi"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10)
         .cast("bigint").alias("lo"))

    def _vote(i: int):
        src = F.col("lo") if i < 32 else F.col("hi")
        return F.sum(F.when(src.isNull(), 0).otherwise(
            F.shiftright(src, i % 32).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{i}")

    votes = base.groupBy("did").agg(*[_vote(i) for i in range(64)])
    weight = [F.when(F.col(f"v{i}") > 0,
                     F.lit(1).cast("bigint") * (2 ** i if i < 63
                                                else -(2 ** 63)))
               .otherwise(F.lit(0)) for i in range(64)]
    sh = weight[0]
    for w in weight[1:]:
        sh = sh + w
    fp = votes.select("did", sh.alias("sh"))
    chunks = fp.select(
        "did", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("blk"),
                     F.shiftrightunsigned("sh", c * bits_per)
                      .bitwiseAND(F.lit((1 << bits_per) - 1)).alias("ck"))
            for c in range(n_blocks)
        ])).alias("bc"))
    chunks = chunks.select("did", "sh", "bc.blk", "bc.ck")
    x = chunks.alias("x")
    y = chunks.alias("y")
    ham = F.bit_count(F.col("x.sh").bitwiseXOR(F.col("y.sh")))
    return (x.join(y, (F.col("x.blk") == F.col("y.blk"))
                   & (F.col("x.ck") == F.col("y.ck"))
                   & (F.col("x.did") < F.col("y.did")))
             .select(F.col("x.did").alias("d1"), F.col("y.did").alias("d2"),
                     ham.alias("hamming"))
             .distinct()
             .filter(F.col("hamming") <= max_hamming))


def dedup_clusters(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc gets
    the MIN doc id reachable through near-dup edges as its cluster
    representative — the step that turns pairwise dedup output into
    "keep one per cluster" deletions.

    Iterative label propagation (the standard distributed CC): each
    round, every node adopts the minimum label among itself and its
    neighbors; converges in O(diameter) rounds. The loop is a driver-side
    while over DataFrame joins — each iteration is one shuffle, state
    stays distributed, and the convergence check is an aggregate, so the
    pattern runs unchanged on a cluster (GraphX/GraphFrames do the same
    under the hood). Near-dup cluster diameters are tiny (most are
    cliques), so 2-4 rounds suffice in practice.

    Convergence detection: labels only ever DECREASE (each round takes
    least(self, neighbors)), so the total label sum is monotonically
    non-increasing and stalls exactly at the fixpoint — one exact
    decimal aggregate per round replaces the join+count change scan
    (measured at sf0.1: ~25% of round cost; decimal(38,0) so 10^12-scale
    ids cannot overflow the sum at corpus cardinality)."""
    # Materialize the edge list ONCE: `pairs` is typically the full
    # inverted-index Jaccard/MinHash pair computation, and without a
    # checkpoint every propagation round re-executes that whole DAG
    # (r9 sf1j measurement: dedup_clusters 124.6 -> 79.7 s and
    # dedup_cluster_eval 164.7 -> 74.1 s from this line plus one `j`
    # checkpoint — the loop was recomputing the pair generation per
    # round while only the labels were persisted).
    edges = (pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
             .union(pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b")))
             .transform(physical.cut))
    labels = ids.select(F.col("did"), F.col("did").alias("lbl"))
    lblsum = F.sum(wide("lbl"))
    prev_sum = labels.agg(lblsum).collect()[0][0]
    while True:
        neighbor_min = (edges.join(labels, edges.b == labels.did)
                        .groupBy("a").agg(F.min("lbl").alias("nlbl")))
        labels = (labels.join(neighbor_min, labels.did == neighbor_min.a, "left")
                  .select("did", F.least("lbl", F.coalesce("nlbl", "lbl"))
                          .alias("lbl"))
                  .transform(physical.cut))
        cur_sum = labels.agg(lblsum).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("did").alias("doc_id"), F.col("lbl").alias("cluster"))


def containment_pairs(df: DataFrame, threshold: float,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_df: int | None = None) -> DataFrame:
    """Asymmetric containment pairs over the distinct shingle sets:

        cont(A in B) = |A ∩ B| / |A|

    Containment is the decontamination metric Jaccard misses: a short
    benchmark prompt quoted inside a long training document has high
    containment but low Jaccard (the union is dominated by the long
    doc). Same inverted-index shape as `jaccard_pairs` — the only joins
    are hash joins on the shingle key plus broadcasts of the per-doc
    size table; candidate volume is sum(df^2) over the (optionally
    max_df-pruned) shingle vocabulary, never |docs|^2. Returns
    (d1, d2, n_inter, cont_max) with d1 < d2 and
    max(cont(d1 in d2), cont(d2 in d1)) >= threshold; the ratio is one
    exact-integer division per surviving pair."""
    inter = _intersection_counts(df, text_col, id_col, max_df,
                                 keyset=shingles)
    cont = F.greatest(F.col("n_inter") / F.col("n1"),
                      F.col("n_inter") / F.col("n2"))
    return (inter.select("d1", "d2", "n_inter", cont.alias("cont_max"))
            .filter(F.col("cont_max") >= threshold))
