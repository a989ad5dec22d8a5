"""Tier C extension queries (SURVEY.md §2.C): the training-data-pipeline
operators — dedup, similarity search, text analysis, multimodal plumbing,
event-time windows (batch + Structured Streaming) — each registered with
a DuckDB oracle wherever the semantics are SQL-expressible.

The reference has none of these (its whole query surface is the SQLite
passthrough at reference src/main.rs:220); they are the north-star
extensions, built on the operator library in `excel_to_db_spark.operators`
and `excel_to_db_spark.streaming`.

Oracle discipline: identical arithmetic on both sides (integer-exact
where possible, rounded floats elsewhere), identical aliases, and for
randomized algorithms (MinHash-LSH) a threshold/parameter choice that
makes the approximate output provably equal to the exact one (miss
probability ~5e-8), so the exact SQL serves as the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import physical
from ..operators import similarity as S
from ..operators import text as X
from ..streaming import run_tumbling_stream, session_agg, tumbling_agg
from ..numerics import cents_sum, cents_sum_sql, h32_sql, wide_sql
from .registry import REGISTRY, query, scratch_dir
from .relational import T

EMB_DIM = 64  # embeddings.embedding is list<float>[64] (TESTDATA.md)


# ------------------------------------------------------------------ dedup

@query("dedup_exact", oracle="""
    WITH f AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        FROM documents
    )
    SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM f GROUP BY fp
""")
def dedup_exact(spark, sf_dir):
    """Exact (normalized) dedup: one representative per content
    fingerprint (md5 of the sorted distinct token set) + group size.
    One hash-partitioned aggregation — the cheapest dedup at 100 TB."""
    return D.exact_dedup(T(spark, sf_dir, "documents"))


_JACCARD_ORACLE = """
    WITH t AS (
        SELECT doc_id AS did, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
        SELECT did,
               unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                     for i in range(1, len(toks) - 1)])) AS s
        FROM t WHERE len(toks) >= 3
    ),
    sizes AS (SELECT did, count(*) AS n FROM sh GROUP BY did),
    inter AS (
        SELECT a.did AS d1, b.did AS d2, count(*) AS ni
        FROM sh a JOIN sh b ON a.s = b.s AND a.did < b.did
        GROUP BY 1, 2
    )
    SELECT d1, d2, round(ni / (s1.n + s2.n - ni), 6) AS jaccard
    FROM inter JOIN sizes s1 ON s1.did = d1 JOIN sizes s2 ON s2.did = d2
    WHERE ni / (s1.n + s2.n - ni) >= 0.8
"""


@query("dedup_jaccard", oracle=_JACCARD_ORACLE)
def dedup_jaccard(spark, sf_dir):
    """Exhaustive 3-gram-shingle Jaccard near-dup pairs (threshold 0.8)
    via the inverted shingle index — hash joins only, no cross join.
    Shingles, not token sets: with a ~30-word vocabulary token-set
    Jaccard saturates near 1.0 for unrelated docs, while shingle Jaccard
    cleanly separates the planted near-dups (~1.0) from noise (<=0.1)."""
    d = T(spark, sf_dir, "documents")
    j = D.jaccard_pairs(d, threshold=0.8, keyset=D.shingles)
    return j.select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))


@query("dedup_minhash", oracle=_JACCARD_ORACLE)
def dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup pairs over the same shingle sets. 32 bands x
    4 rows: P(missing a pair at j=0.8) = (1-0.8^4)^32 ~= 5e-8, and LSH
    candidates are verified with exact Jaccard — so the output EQUALS the
    exhaustive `dedup_jaccard` result (same oracle) while scaling as
    O(n·dups) instead of O(n^2): the 100 TB dedup path. Signatures come
    from the zero-shuffle Arrow kernel and candidates from the
    self-join-free bucket grouping (operators/dedup.py, VERDICT r4 #7:
    7.35s -> 3.6s at sf0.1 with identical output; engine="sql" keeps
    the pure-DataFrame formulation, property-tested equal)."""
    d = T(spark, sf_dir, "documents")
    m = D.minhash_dedup_pairs(d, threshold=0.8, n_hashes=128, bands=32,
                              keyset=D.shingles)
    return m.select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))


# The md5-based simhash is SQL-expressible: both engines parse the first
# 16 hex chars of md5(shingle) into a zero-padded 64-bit binary string
# and take majority votes per bit. The oracle rebuilds the fingerprint as
# that same binary STRING (bit i = char 64-i), blocks on 16-char chunks
# (chunk c = substr(f, 49-16c, 16) — the same bit subsets as Spark's
# shiftrightunsigned blocking), and filters by string hamming().
_SIMHASH_BITS = "||".join(
    "(CASE WHEN coalesce(list_sum(list_transform(hs, b -> "
    f"CASE WHEN substr(b, {64 - i}, 1) = '1' THEN 1 ELSE -1 END)), 0) > 0 "
    "THEN '1' ELSE '0' END)"
    for i in range(63, -1, -1)
)

@query("dedup_simhash", oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 3 THEN
                   list_distinct(list_transform(
                       generate_series(1, len(tk) - 2),
                       i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
               ELSE []::VARCHAR[] END AS s
        FROM toks
    ),
    hv AS (
        SELECT doc_id, list_transform(s, x ->
                   lpad(bin(('0x' || substr(md5(x), 1, 16))::UBIGINT),
                        64, '0')) AS hs
        FROM sh
    ),
    fp AS (SELECT doc_id, {_SIMHASH_BITS} AS f FROM hv),
    chunks AS (
        SELECT doc_id, f, c, substr(f, 49 - 16 * c, 16) AS ck
        FROM fp, (SELECT unnest([0, 1, 2, 3]) AS c)
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
               hamming(x.f, y.f) AS hamming
        FROM chunks x JOIN chunks y
          ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id
    )
    SELECT d1, d2, CAST(hamming AS INT) AS hamming
    FROM cand WHERE hamming <= 3
""")
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup candidates (hamming <= 3 over 64-bit fingerprints
    of the shingle set, pigeonhole-blocked into 4 chunks). The hash is
    the first 64 bits of md5 — available in Spark AND DuckDB — so the
    oracle recomputes the exact candidate set in SQL; a second,
    independent pure-Python witness (tools/simhash_oracle.py, hashlib)
    verifies the fingerprints bit-for-bit in tools/check.py and
    tests/test_simhash_oracle.py. Shingle keysets for the same reason as
    dedup_jaccard: token-set bits saturate on a 30-word vocabulary."""
    return D.simhash_pairs(T(spark, sf_dir, "documents"), max_hamming=3,
                           keyset=D.shingles)


# MinHash signature i in DuckDB: the same universal-hash family as
# operators/dedup.py minhash_signatures(base="md5") — base hash from
# md5's first 8 hex chars, h_i = (a_i*hb + c_i) mod 2^32, exact integer
# arithmetic in both engines.
_MINHASH_SIG_SQL = "[" + ", ".join(
    f"list_min(list_transform(hs, h -> ({D.uh_a(i)} * h + {D.uh_c(i)}) "
    f"% 4294967296))"
    for i in range(64)) + "]"


@query("dedup_minhash_est", oracle=f"""
    WITH t AS (
        SELECT doc_id AS did, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
        SELECT did,
               unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                     for i in range(1, len(toks) - 1)])) AS s
        FROM t WHERE len(toks) >= 3
    ),
    sizes AS (SELECT did, count(*) AS n FROM sh GROUP BY did),
    inter AS (
        SELECT a.did AS d1, b.did AS d2, count(*) AS ni
        FROM sh a JOIN sh b ON a.s = b.s AND a.did < b.did
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT d1, d2, ni / (s1.n + s2.n - ni) AS j
        FROM inter JOIN sizes s1 ON s1.did = d1 JOIN sizes s2 ON s2.did = d2
        WHERE ni / (s1.n + s2.n - ni) >= 0.8
    ),
    hv AS (
        SELECT did,
               list_transform(
                   list_distinct([array_to_string(toks[i:i+2], ' ')
                                  for i in range(1, len(toks) - 1)]),
                   x -> {h32_sql('x')}) AS hs
        FROM t WHERE len(toks) >= 3
    ),
    sig AS (SELECT did, {_MINHASH_SIG_SQL} AS sg FROM hv)
    SELECT p.d1, p.d2, round(p.j, 6) AS jaccard,
           round(list_sum(list_transform(range(1, 65),
                     i -> CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END))
                 / 64.0, 6) AS est_jaccard
    FROM pairs p JOIN sig sa ON sa.did = p.d1 JOIN sig sb ON sb.did = p.d2
""")
def dedup_minhash_est(spark, sf_dir):
    """MinHash as an ESTIMATOR, not just a blocker: for every verified
    near-dup pair, the estimated Jaccard = fraction of agreeing
    signature components (the unbiased MinHash estimate, E[est] = j)
    alongside the exact value. The md5-derived universal-hash family is
    reproducible in any engine, so the DuckDB oracle recomputes the
    IDENTICAL 64-component signatures — the contract covers the sketch
    itself, not just the verified output. At 100 TB this estimate is
    what lets dedup skip exact verification entirely (est >= t + margin
    => drop without touching the shingle sets again)."""
    d = T(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, threshold=0.8, keyset=D.shingles)
    sigs = D.minhash_signatures(d, n_hashes=64, keyset=D.shingles,
                                base="md5")
    s1 = sigs.select(F.col("did").alias("d1"), F.col("sig").alias("sg1"))
    s2 = sigs.select(F.col("did").alias("d2"), F.col("sig").alias("sg2"))
    agree = F.aggregate(
        F.zip_with("sg1", "sg2",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return (pairs.join(F.broadcast(s1), "d1").join(F.broadcast(s2), "d2")
            .select("d1", "d2", F.round("jaccard", 6).alias("jaccard"),
                    F.round(agree / 64.0, 6).alias("est_jaccard")))


def _plane_sql(j: int) -> str:
    vals = ", ".join(str(float(w)) for w in S._plane(j, EMB_DIM))
    return f"[{vals}]::DOUBLE[]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(%(v)s, {_plane_sql(j)}) > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(S.N_PLANES)
)

_COS_SQL = ("list_dot_product(%(a)s, %(b)s) / "
            "(sqrt(list_dot_product(%(a)s, %(a)s)) * sqrt(list_dot_product(%(b)s, %(b)s)))")


@query("dedup_embedding", oracle=f"""
    WITH v AS (
        SELECT vec_id AS vid, embedding::DOUBLE[] AS vec,
               {_BUCKET_SQL % {'v': 'embedding::DOUBLE[]'}} AS bucket
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vid AS id1, b.vid AS id2,
               {_COS_SQL % {'a': 'a.vec', 'b': 'b.vec'}} AS c
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vid < b.vid
    )
    SELECT id1, id2, round(c, 6) AS cos_sim FROM pairs WHERE c >= 0.4
""")
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos >= 0.4) with SRP blocking:
    candidates only within a signed-random-projection bucket, so the join
    is an equi-join on bucket id, never all-pairs. The hyperplanes are
    small exact integers, so DuckDB reproduces the identical buckets —
    the contract is the full algorithm, blocking included."""
    e = T(spark, sf_dir, "embeddings")
    return S.cosine_near_dup_pairs(e, threshold=0.4, dim=EMB_DIM)


# ------------------------------------------------------------- similarity

_TOPK_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_vec FROM embeddings),
    scored AS (
        SELECT q_id, n_id, {_COS_SQL % {'a': 'q_vec', 'b': 'n_vec'}} AS c
        FROM c JOIN q ON q_id <> n_id
    ),
    ranked AS (
        SELECT q_id, n_id, c,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id ASC)
                    AS BIGINT) AS rk
        FROM scored
    )
    SELECT q_id, n_id, round(c, 6) AS cos_sim, rk FROM ranked WHERE rk <= 10
"""


@query("similarity_topk", oracle=_TOPK_ORACLE)
def similarity_topk(spark, sf_dir):
    """Brute-force cosine top-10: broadcast the query set (every 100th
    vector) against the corpus, rank per query. The exact-ANN baseline:
    corpus streams through executors once, no shuffle until the
    per-query rank of the already-reduced scored pairs."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    return S.topk_bruteforce(e, q, k=10)


@query("similarity_ann", oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               {_BUCKET_SQL % {'v': 'embedding::DOUBLE[]'}} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, vec AS q_vec, bucket FROM v WHERE vec_id % 100 = 0),
    scored AS (
        SELECT q_id, c.vec_id AS n_id, {_COS_SQL % {'a': 'q_vec', 'b': 'c.vec'}} AS s
        FROM v c JOIN q USING (bucket) WHERE q_id <> c.vec_id
    ),
    ranked AS (
        SELECT q_id, n_id, s,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id ASC)
                    AS BIGINT) AS rk
        FROM scored
    )
    SELECT q_id, n_id, round(s, 6) AS cos_sim, rk FROM ranked WHERE rk <= 10
""")
def similarity_ann(spark, sf_dir):
    """Approximate top-10 via SRP-LSH bucketing: candidates share the
    query's sign-pattern bucket, turning the cross product into one
    equi-join — the 100 TB ANN path. Deterministic integer hyperplanes
    make the bucketing engine-independent, so the oracle runs the same
    algorithm (contract = algorithm, not just 'some neighbors')."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    return S.topk_srp_lsh(e, q, k=10, dim=EMB_DIM)


@query("similarity_recall", oracle=f"""
    WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec,
               {_BUCKET_SQL % {'v': 'embedding::DOUBLE[]'}} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, vec AS q_vec, bucket AS q_bucket
          FROM c WHERE vec_id % 100 = 0),
    bf AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, c.vec_id AS n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY
                       {_COS_SQL % {'a': 'q_vec', 'b': 'c.vec'}} DESC,
                       c.vec_id ASC) AS rk
            FROM c JOIN q ON q_id <> c.vec_id
        ) WHERE rk <= 10
    ),
    ann AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, c.vec_id AS n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY
                       {_COS_SQL % {'a': 'q_vec', 'b': 'c.vec'}} DESC,
                       c.vec_id ASC) AS rk
            FROM c JOIN q ON c.bucket = q_bucket AND q_id <> c.vec_id
        ) WHERE rk <= 10
    )
    SELECT bf.q_id,
           CAST(count(ann.n_id) AS BIGINT) AS n_hits,
           round(count(ann.n_id) * 1.0 / count(*), 6) AS recall
    FROM bf LEFT JOIN ann ON bf.q_id = ann.q_id AND bf.n_id = ann.n_id
    GROUP BY bf.q_id
""")
def similarity_recall(spark, sf_dir):
    """ANN quality evaluation as a first-class operator: recall@10 of
    the SRP-LSH index against the brute-force ground truth, per query —
    the metric that tunes every ANN deployment (more planes/probes =>
    higher recall, bigger candidate sets). One plan computes both
    rankings and left-joins them; at 100 TB the ground truth comes from
    a sampled query set, which is exactly what the %100 filter models.
    Deterministic ties (n_id ascending) make the metric engine-exact."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    bf = S.topk_bruteforce(e, q, k=10).select("q_id", "n_id")
    ann = (S.topk_srp_lsh(e, q, k=10, dim=EMB_DIM)
           .select(F.col("q_id").alias("a_qid"),
                   F.col("n_id").alias("a_nid")))
    hit = (bf.join(ann, (bf.q_id == ann.a_qid) & (bf.n_id == ann.a_nid),
                   "left"))
    return (hit.groupBy("q_id")
            .agg(F.count("a_nid").alias("n_hits"),
                 F.round(F.count("a_nid") / F.count("*"), 6)
                 .alias("recall")))


# ------------------------------------------------------------------- text

_SW = {k: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
       for k, ws in X.LANG_STOPWORDS.items()}


@query("text_tokens", oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
""")
def text_tokens(spark, sf_dir):
    """Corpus token-frequency table (the classic wordcount): explode +
    count with map-side partial aggregation — one shuffle on token."""
    return X.token_frequencies(T(spark, sf_dir, "documents"))


@query("text_quality", oracle=f"""
    WITH b AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_dis,
               length(text) AS n_ch,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains({_SW['en']}, t))) AS stop
        FROM documents
    )
    SELECT doc_id, n_tok,
           round(n_dis / n_tok, 6) AS type_token_ratio,
           round((n_ch - n_tok + 1) / n_tok, 6) AS mean_tok_len,
           round(stop / n_tok, 6) AS stop_ratio,
           round(least(n_tok / 20.0, 1.0)
                 * least(n_dis / n_tok * 2, 1.0)
                 * least(stop * 10.0 / n_tok, 1.0), 6) AS quality_score
    FROM b
""")
def text_quality(spark, sf_dir):
    """Per-document quality features + composite score: token count,
    type-token ratio, mean token length, stopword ratio. One projection,
    zero shuffles — scales linearly with corpus bytes."""
    return X.quality_features(T(spark, sf_dir, "documents"))


_LANGID_ORACLE = f"""
    WITH s AS (
        SELECT doc_id,
               {", ".join(
                   f"len(list_filter(string_split(text, ' '), "
                   f"t -> list_contains({_SW[lang]}, t))) AS s_{lang}"
                   for lang in sorted(X.LANG_STOPWORDS))}
        FROM documents
    )
    SELECT doc_id,
           CASE {" ".join(
               f"WHEN s_{lang} = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN '{lang}'"
               for lang in sorted(X.LANG_STOPWORDS))}
           END AS pred_lang,
           greatest(s_de, s_en, s_es, s_fr, s_zh) AS stop_hits
    FROM s
"""


@query("text_langid", oracle=_LANGID_ORACLE)
def text_langid(spark, sf_dir):
    """Stopword-vote language ID: argmax of per-language stopword hits,
    ties broken by language code ascending — the same strictly-greater
    fold rule the CASE ladder expresses, so both engines agree exactly.
    The scan is fanned out: five per-language stopword scans per row
    serialize on a narrow local scan (r9 skew audit flagged the
    downstream text_langid_eval with no stage over 3 tasks)."""
    return X.langid(physical.fan_out(T(spark, sf_dir, "documents")))


@query("text_fingerprint", oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fp_set,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(string_split(text, ' '),
                                           t -> {h32_sql('t')})),
               (acc, h) -> (acc * 131 + h) % 2147483647) AS fp_rolling
    FROM documents
""")
def text_fingerprint(spark, sf_dir):
    """Document fingerprints: order-insensitive (md5 of sorted distinct
    tokens) + order-SENSITIVE rolling polynomial hash (h = (h*131 + tok_h)
    mod 2^31-1, exact integer arithmetic in any engine)."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.fingerprint(F.col("text")).alias("fp_set"),
        X.rolling_fingerprint(F.col("text")).alias("fp_rolling"))


# ------------------------------------------------------------- multimodal

@query("multimodal_decode", oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN octet_length(encode(text)) = 0 THEN NULL
                ELSE 64 + octet_length(encode(text)) % 577 END AS INTEGER) AS width,
           CAST(CASE WHEN octet_length(encode(text)) = 0 THEN NULL
                ELSE 64 + (octet_length(encode(text)) * 31) % 389 END AS INTEGER) AS height,
           CAST(CASE WHEN octet_length(encode(text)) = 0 THEN NULL
                ELSE 3 END AS INTEGER) AS n_channels
    FROM documents
""")
def multimodal_decode(spark, sf_dir):
    """Binary-payload decode through mapInPandas (Arrow batches in/out):
    the Spark-side multimodal plumbing is real — schema, batch shape,
    permissive NULLs on undecodable payloads — while the codec itself is
    a deterministic stub (no image libs in this env; see
    operators/multimodal._decode_image_bytes), so the oracle can state
    the stub's arithmetic exactly."""
    d = M.with_payload(T(spark, sf_dir, "documents"))
    return M.decode_images(d)


@query("multimodal_frames", oracle="""
    WITH d AS (
        SELECT doc_id, text,
               CAST(floor(length(text) / 16.0) AS INT) AS nf
        FROM documents WHERE length(text) >= 16
    )
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           md5(substring(text, CAST(f * 16 + 1 AS INT), 16)) AS frame_checksum
    FROM (SELECT doc_id, text, unnest(range(0, nf, 10)) AS f FROM d)
""")
def multimodal_frames(spark, sf_dir):
    """Frame sampling over a fake fixed-frame-size video payload: the
    sample-index array is computed JVM-side and exploded, so only sampled
    frames ever reach the (stubbed) decode boundary — the pattern that
    keeps video pipelines tractable at 100 TB."""
    d = M.with_payload(T(spark, sf_dir, "documents"))
    return M.sample_frames(d, every_k=10, frame_bytes=16)


# ------------------------------------------- event-time windows / streaming

_TUMBLING_ORACLE = f"""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS win_end,
           count(*) AS n_events,
           {cents_sum_sql('value')} AS sum_value
    FROM events GROUP BY 1, 2
"""


@query("events_tumbling", oracle=_TUMBLING_ORACLE)
def events_tumbling(spark, sf_dir):
    """Tumbling 10-minute event-time windows (batch mode). The identical
    expression runs under Structured Streaming in `stream_tumbling` —
    one definition, two execution modes."""
    return tumbling_agg(T(spark, sf_dir, "events"))


_SESSION_ORACLE = f"""
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM o
    )
    SELECT user_id,
           min(ts) AS sess_start,
           max(ts) + INTERVAL '5 minutes' AS sess_end,
           count(*) AS n_events,
           {cents_sum_sql('value')} AS sum_value
    FROM s GROUP BY user_id, sid
"""


@query("events_session", oracle=_SESSION_ORACLE)
def events_session(spark, sf_dir):
    """Per-user session windows (5-minute gap): Spark session_window vs
    the classic gaps-and-islands SQL — same semantics, session end =
    last event + gap, new session when the gap is reached exactly."""
    return session_agg(T(spark, sf_dir, "events"))


@query("events_session_dynamic", oracle="""
    WITH x AS (
        SELECT user_id, ts,
               CASE WHEN event_type = 'click' THEN INTERVAL '10 minutes'
                    ELSE INTERVAL '5 minutes' END AS g
        FROM events
    ),
    y AS (
        SELECT user_id, ts, g,
               max(ts + g) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_end
        FROM x
    ),
    z AS (
        SELECT user_id, ts, g,
               sum(CASE WHEN prev_end IS NULL OR ts >= prev_end
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS sid
        FROM y
    )
    SELECT user_id, min(ts) AS sess_start, max(ts + g) AS sess_end,
           count(*) AS n_events
    FROM z GROUP BY user_id, sid
""")
def events_session_dynamic(spark, sf_dir):
    """Session windows with a DYNAMIC per-event gap (Spark's
    session_window(col, gap_expr), which plain SQL engines lack):
    clicks hold the session open 10 minutes, everything else 5. Session
    semantics become interval union — event i extends the session to
    ts_i + gap_i, a new session starts when ts >= the running max of
    previous interval ends. The oracle states exactly that as
    gaps-and-islands with a running-max window (verified equal to the
    native operator row-for-row). Same single user_id shuffle as the
    fixed-gap session; the dynamic gap is free — it's a projected
    column, not extra state."""
    e = T(spark, sf_dir, "events")
    gap = (F.when(F.col("event_type") == "click", "10 minutes")
           .otherwise("5 minutes"))
    return (e.groupBy("user_id", F.session_window("ts", gap).alias("sess"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("sess.start").alias("sess_start"),
                    F.col("sess.end").alias("sess_end"), "n_events"))


@query("stream_tumbling", oracle=_TUMBLING_ORACLE)
def stream_tumbling(spark, sf_dir):
    """The tumbling aggregation executed by the Structured Streaming
    engine: events replayed through a file-source stream (availableNow),
    aggregated with watermark + window state, materialized via a memory
    sink. On finite input the final state equals the batch result, so the
    SAME DuckDB oracle verifies the streaming path value-for-value."""
    return run_tumbling_stream(spark, sf_dir)


@query("stream_dedup_watermark", oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {cents_sum_sql('value')}
               AS sum_value
    FROM events GROUP BY event_type
""")
def stream_dedup_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark (bounded-state streaming dedup):
    every event replayed TWICE, the duplicate arriving one micro-batch
    later — dropped only because the first batch's dedup state
    survived; state itself is watermark-evicted (the API's reason to
    exist vs plain dropDuplicates). Output must equal the original
    event set. See streaming/windows.py:run_stream_dedup_watermark."""
    from ..streaming import run_stream_dedup_watermark

    return run_stream_dedup_watermark(spark, sf_dir)


@query("stream_tumbling_append", oracle=f"""
    WITH b AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
               time_bucket(INTERVAL '10 minutes', ts)
                   + INTERVAL '10 minutes' AS win_end,
               count(*) AS n_events,
               {cents_sum_sql('value')}
                   AS sum_value
        FROM events GROUP BY 1, 2
    ),
    m AS (SELECT max(ts) - INTERVAL '30 minutes' AS w FROM events)
    SELECT b.* FROM b, m WHERE b.win_end < m.w
""")
def stream_tumbling_append(spark, sf_dir):
    """Append-mode tumbling aggregation across FOUR micro-batches
    (maxFilesPerTrigger=1 over time-sliced files): a window is emitted
    exactly once, in the batch whose watermark first proves it complete,
    and its state is evicted at emission. The oracle is the batch
    tumbling aggregation restricted to windows the final watermark
    (max ts - 30 min) finalized — the emit-once incremental
    materialization contract. See
    streaming/windows.py:run_tumbling_stream_multibatch."""
    from ..streaming import run_tumbling_stream_multibatch

    return run_tumbling_stream_multibatch(spark, sf_dir)


@query("stream_session", oracle=_SESSION_ORACLE)
def stream_session(spark, sf_dir):
    """Per-user session windows executed by the Structured Streaming
    engine (stateful merging sessions in the state store), replayed from
    the file source and materialized via a memory sink; finite input +
    complete mode make the batch gaps-and-islands oracle exact. Same
    session_agg expression as `events_session` — one definition, two
    execution modes."""
    from ..streaming import run_session_stream

    return run_session_stream(spark, sf_dir)


@query("similarity_ivf", oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 16
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    assign AS (
        SELECT vec_id, vec, cell FROM (
            SELECT v.vec_id, v.vec, c.cid AS cell,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       (list_dot_product(v.vec, v.vec)
                        - 2 * list_dot_product(v.vec, c.cvec)
                        + list_dot_product(c.cvec, c.cvec)) ASC,
                       c.cid ASC) AS rk
            FROM v CROSS JOIN cent c)
        WHERE rk = 1
    ),
    q AS (
        SELECT vec_id AS q_id, vec AS q_vec, cell FROM (
            SELECT v.vec_id, v.vec, c.cid AS cell,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       (list_dot_product(v.vec, v.vec)
                        - 2 * list_dot_product(v.vec, c.cvec)
                        + list_dot_product(c.cvec, c.cvec)) ASC,
                       c.cid ASC) AS rk
            FROM v CROSS JOIN cent c WHERE v.vec_id % 100 = 0)
        WHERE rk <= 2
    ),
    scored AS (
        SELECT q_id, a.vec_id AS n_id,
               {_COS_SQL % {'a': 'q_vec', 'b': 'a.vec'}} AS s
        FROM assign a JOIN q USING (cell) WHERE q_id <> a.vec_id
    ),
    ranked AS (
        SELECT q_id, n_id, s,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id ASC)
                    AS BIGINT) AS rk
        FROM scored
    )
    SELECT q_id, n_id, round(s, 6) AS cos_sim, rk FROM ranked WHERE rk <= 10
""")
def similarity_ivf(spark, sf_dir):
    """IVF-partitioned ANN (nprobe=1): a fixed 16-centroid coarse
    quantizer (first 16 vectors — deterministic, so the oracle runs the
    identical algorithm) assigns every vector to a cell; search scores
    only the query's cell. The second ANN scale path next to SRP-LSH:
    at 100 TB the corpus is written partitioned by cell and a probe
    reads one partition."""
    e = T(spark, sf_dir, "embeddings")
    cents = (e.filter(F.col("vec_id") < 16)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").cast("array<double>").alias("cvec")))
    q = e.filter(F.col("vec_id") % 100 == 0)
    return S.topk_ivf(e, q, cents, k=10)


@query("join_salted", oracle="""
    SELECT s.s_nationkey, round(sum(l.l_quantity), 2) AS sum_qty,
           count(*) AS n_items
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
""")
def join_salted(spark, sf_dir):
    """Salted equi-join (operators/physical.py): hot fact keys split
    across n_salts shuffle partitions, dim side replicated n_salts x. The
    oracle is the PLAIN join — salting must be invisible in the result.
    (AQE skew-split handles most cases automatically; explicit salting
    is the tool when a single key overwhelms even a split task.)"""
    le = T(spark, sf_dir, "lineitem")
    su = T(spark, sf_dir, "supplier")
    j = physical.salted_join(le, su, "l_suppkey", "s_suppkey", n_salts=8)
    return (j.groupBy("s_nationkey")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count("*").alias("n_items")))


@query("stream_dedup", oracle="SELECT DISTINCT event_id FROM events")
def stream_dedup(spark, sf_dir):
    """Streaming deduplication under the Structured Streaming engine:
    every event replayed TWICE (two unioned file streams), deduplicated
    by (event_id, ts) with watermark-bounded state. Output == DISTINCT
    event ids of the batch table."""
    from ..streaming import run_stream_dedup

    return run_stream_dedup(spark, sf_dir)


@query("events_hopping", oracle=f"""
    SELECT ws AS win_start, ws + INTERVAL '10 minutes' AS win_end,
           count(*) AS n_events,
           {cents_sum_sql('value')} AS sum_value
    FROM (
        SELECT value,
               unnest([time_bucket(INTERVAL '5 minutes', ts),
                       time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws
        FROM events
    )
    GROUP BY ws
""")
def events_hopping(spark, sf_dir):
    """Hopping (sliding) windows: width 10 min, slide 5 min — every event
    lands in exactly two windows. Spark's window(ts, width, slide)
    replicates rows JVM-side; the oracle derives the same two window
    starts per event with time_bucket arithmetic."""
    ev = T(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
            .agg(F.count("*").alias("n_events"),
                 cents_sum(F.col("value")).alias("sum_value"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "n_events", "sum_value"))


@query("text_bpe_tokens", oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
               AS n_bpeish
    FROM documents
""")
def text_bpe_tokens(spark, sf_dir):
    """BPE-ish sub-word token count (RE2-safe regex shared with the
    oracle): the tokenizer-cost estimator every corpus pipeline runs."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id",
                    X.bpe_ish_token_count(F.col("text")).alias("n_bpeish"))


@query("dedup_clusters", oracle="""
    WITH RECURSIVE edges AS (
        SELECT d1 AS a, d2 AS b FROM ({jac}) UNION
        SELECT d2 AS a, d1 AS b FROM ({jac})
    ),
    reach(src, node) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT src AS doc_id, min(node) AS cluster FROM reach GROUP BY src
""".format(jac=_JACCARD_ORACLE))
def dedup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components over the shingle-Jaccard
    pair graph (threshold 0.8), label = min reachable doc id. Spark side
    is iterative label propagation (driver loop over joins — the
    'iterative algorithm' pattern); oracle side is a recursive CTE
    computing full reachability. Both yield the canonical
    min-id-per-component labeling."""
    d = T(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, threshold=0.8, keyset=D.shingles)
    ids = d.select(F.col("doc_id").alias("did"))
    return D.dedup_clusters(pairs, ids)


@query("stream_stateful", oracle=f"""
    SELECT user_id, count(*) AS n_events, {cents_sum_sql('value')} AS sum_value
    FROM events GROUP BY user_id
""")
def stream_stateful(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): per-
    user running totals held in the executor state store, updated by
    Arrow-batched Python per micro-batch. On the single-batch replay the
    final update per key equals the batch GROUP BY — the oracle."""
    from ..streaming.stateful import run_stateful_totals

    return run_stateful_totals(spark, sf_dir)


@query("multimodal_features", oracle="""
    SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
             AS n_spaces,
           CAST(length(text) - length(replace(replace(replace(replace(replace(
                text, 'a', ''), 'e', ''), 'i', ''), 'o', ''), 'u', ''))
                AS DOUBLE) AS n_vowels,
           round(list_sum(list_transform(string_split(text, ''),
                                         ch -> ascii(ch)))
                 / length(text) / 255.0, 9) AS ascii_density
    FROM documents
""")
def multimodal_features(spark, sf_dir):
    """Feature-extraction plumbing over binary payloads (mapInPandas,
    Arrow batches): fixed-width vector per payload. The deterministic
    byte-statistics featurizer keeps the whole pipeline value-checkable;
    a model featurizer is a drop-in with the same schema/batch shape.
    Output is flattened to four scalar DOUBLE columns (the array form
    stays internal — operators/multimodal.py:extract_features) so any
    row-hashing harness can canonicalize the result."""
    d = M.with_payload(T(spark, sf_dir, "documents"))
    out = M.extract_features(d)
    # round the mean-byte feature so both engines' division order can't
    # flip the hash; the first three features are exact integers
    return out.select(
        "doc_id",
        F.col("feat")[0].alias("n_chars"),
        F.col("feat")[1].alias("n_spaces"),
        F.col("feat")[2].alias("n_vowels"),
        F.round(F.col("feat")[3], 9).alias("ascii_density"))


@query("join_asof", oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = e.user_id AND c.event_type = 'click'
              AND c.ts <= e.ts) AS asof_ts
    FROM events e WHERE e.event_type = 'error'
""")
def join_asof(spark, sf_dir):
    """As-of join (operators/temporal.py): every error event matched to
    the user's most recent click at or before it. Spark side is the
    union+window composition (one shuffle on user_id); the oracle states
    the semantics as a correlated max — same answer, O(n^2) plan, which
    is exactly why the engine-side composition exists."""
    from ..operators.temporal import asof_join

    ev = T(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click")
    return (asof_join(errors, clicks, on="user_id", ts="ts")
            .select("event_id", "user_id", "ts", "asof_ts"))


@query("join_asof_forward", oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT min(c.ts) FROM events c
            WHERE c.user_id = e.user_id AND c.event_type = 'click'
              AND c.ts >= e.ts) AS asof_fwd_ts
    FROM events e WHERE e.event_type = 'error'
""")
def join_asof_forward(spark, sf_dir):
    """Forward as-of join: every error event matched to the user's NEXT
    click at or after it (the "time to next action" primitive). Same
    union+window composition as `join_asof`, looking forward; the oracle
    is the correlated-min statement of the semantics."""
    from ..operators.temporal import asof_join_forward

    ev = T(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click")
    return (asof_join_forward(errors, clicks, on="user_id", ts="ts")
            .select("event_id", "user_id", "ts", "asof_fwd_ts"))


@query("join_asof_tolerance", oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = e.user_id AND c.event_type = 'click'
              AND c.ts <= e.ts
              AND c.ts >= e.ts - INTERVAL 10 MINUTE) AS asof_ts
    FROM events e WHERE e.event_type = 'error'
""")
def join_asof_tolerance(spark, sf_dir):
    """Bounded-lookback as-of join (pandas merge_asof tolerance=...):
    the most recent click within 10 minutes, else NULL — the variant
    real enrichment needs (a session cookie from last week must not
    match). Same single-shuffle union+window plan; the tolerance is a
    post-window projection, so bounding the lookback costs nothing."""
    from ..operators.temporal import asof_join_tolerance

    ev = T(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click")
    return (asof_join_tolerance(errors, clicks, on="user_id", ts="ts",
                                tolerance_us=10 * 60 * 1_000_000)
            .select("event_id", "user_id", "ts", "asof_ts"))


@query("join_asof_nearest", oracle="""
    WITH e AS (
        SELECT event_id, user_id, ts,
               (SELECT max(c.ts) FROM events c
                WHERE c.user_id = e.user_id AND c.event_type = 'click'
                  AND c.ts <= e.ts) AS back_ts,
               (SELECT min(c.ts) FROM events c
                WHERE c.user_id = e.user_id AND c.event_type = 'click'
                  AND c.ts >= e.ts) AS fwd_ts
        FROM events e WHERE event_type = 'error'
    )
    SELECT event_id, user_id, ts, back_ts, fwd_ts,
           CASE WHEN back_ts IS NULL THEN fwd_ts
                WHEN fwd_ts IS NULL THEN back_ts
                WHEN epoch_us(ts) - epoch_us(back_ts)
                     <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
                ELSE fwd_ts END AS nearest_ts
    FROM e
""")
def join_asof_nearest(spark, sf_dir):
    """Nearest as-of join (pandas merge_asof direction='nearest'): each
    error matched to the temporally closest click either side, exact
    integer-microsecond distances, ties to the earlier click. One hash
    exchange carries both direction windows (operators/temporal.py)."""
    from ..operators.temporal import asof_join_nearest

    ev = T(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click")
    return (asof_join_nearest(errors, clicks, on="user_id", ts="ts")
            .select("event_id", "user_id", "ts",
                    "back_ts", "fwd_ts", "nearest_ts"))


@query("join_range", oracle="""
    SELECT o.o_orderkey, o.o_totalprice, b.band_id
    FROM orders o JOIN (
        SELECT band_id, band_id * 100000.0 AS lo, (band_id + 1) * 100000.0 AS hi
        FROM (SELECT unnest(range(0, 7)) AS band_id)
    ) b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
""")
def join_range(spark, sf_dir):
    """Range join into uniform price bands. The oracle is the BETWEEN
    theta-join; the Spark side maps each price to floor(price/width) and
    equi-joins — the O(rows x bands) -> O(rows) range-join rewrite
    (operators/temporal.py)."""
    from ..operators.temporal import range_join_binned

    o = T(spark, sf_dir, "orders")
    bands = spark.range(7).select(
        F.col("id").cast("bigint").alias("band_id"),
        (F.col("id") * 100000.0).alias("lo"),
        ((F.col("id") + 1) * 100000.0).alias("hi"))
    return (range_join_binned(o, "o_totalprice", bands, 100000.0)
            .select("o_orderkey", "o_totalprice", "band_id"))


@query("stream_join_static", oracle=f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)               AS n_events,
           {cents_sum_sql('value')}                   AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
""")
def stream_join_static(spark, sf_dir):
    """Stream-static enrichment join executed by the Structured
    Streaming engine: the replayed events stream joined per micro-batch
    against the static customer dimension (broadcast lookup, no join
    state), aggregated per market segment. Finite replay + complete mode
    == the batch join, so a plain DuckDB join verifies the streaming
    path value-for-value."""
    from ..streaming import run_stream_static_join

    return run_stream_static_join(spark, sf_dir)


@query("stream_stream_join", oracle="""
    SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
           epoch_us(v.ts) - epoch_us(c.ts) AS delay_us
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts > c.ts AND v.ts <= c.ts + INTERVAL '10 minutes'
""")
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join under the Structured Streaming
    engine: clicks and views replayed as TWO independent file-source
    streams, each with its own watermark, joined per user on an
    event-time interval (view within 10 min after the click) — the
    symmetric-hash-join operator with state on both sides, evicted by
    watermark + the interval bound. Inner join on finite replay emits
    exactly the batch self-join pairs, so the SQL oracle is exact."""
    from ..streaming import run_stream_stream_join

    return run_stream_stream_join(spark, sf_dir)


@query("stream_stream_left", oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
         j AS (SELECT c.user_id, c.click_id, v.view_id, c.click_ts
               FROM c LEFT JOIN v
                 ON c.user_id = v.user_id
                AND v.view_ts > c.click_ts
                AND v.view_ts <= c.click_ts + INTERVAL '10 minutes'),
         wm AS (SELECT least((SELECT max(click_ts) FROM c),
                             (SELECT max(view_ts) FROM v))
                       - INTERVAL '40 minutes' AS cut)
    SELECT user_id, click_id, view_id FROM j WHERE view_id IS NOT NULL
    UNION ALL
    SELECT user_id, click_id, CAST(NULL AS BIGINT) AS view_id
    FROM j, wm WHERE view_id IS NULL AND click_ts < cut
""")
def stream_stream_left(spark, sf_dir):
    """LEFT OUTER stream-stream interval join (state-expiry semantics):
    unmatched clicks NULL-emit only once the watermark proves no view
    can still match. The oracle replays the engine's emission rule
    exactly — batch left join, plus the final-watermark cutoff
    (min(max click, max view) - 30min watermark - 10min interval) that
    decides which unmatched rows the finite replay emits. See
    streaming/windows.py:run_stream_stream_left_join for the pinned
    contract."""
    from ..streaming import run_stream_stream_left_join

    return run_stream_stream_left_join(spark, sf_dir)


@query("stream_custom_sink", oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {cents_sum_sql('value')} AS sum_value
    FROM events WHERE value > 5.0 GROUP BY event_type
""")
def stream_custom_sink(spark, sf_dir):
    """Custom Python streaming SINK (DataSourceStreamWriter): the
    replayed events stream filtered and written through the exactly-once
    CSV commit-log protocol (executor-staged part files + per-batch
    driver commit logs), then read back via the commit logs only and
    aggregated. The round trip through the sink must equal DuckDB over
    the original parquet — proving the staged/committed output is
    complete and duplicate-free."""

    from ..sources.stream_sink import CsvCommitLogDataSource, read_committed
    from ..streaming import replay

    spark.dataSource.register(CsvCommitLogDataSource)
    out = scratch_dir("csvlog")
    ckpt = scratch_dir("csvlog_ckpt")
    writer = (replay.events_stream_reader(spark, sf_dir)
              .filter(F.col("value") > 5.0)
              .select("event_id", "event_type", "value")
              .writeStream.format("csv_commitlog")
              .option("path", out)
              .option("checkpointLocation", ckpt))
    replay.run_scoped(spark, writer)
    back = read_committed(spark, out,
                          "event_id bigint, event_type string, value double")
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 cents_sum(F.col("value")).alias("sum_value")))


@query("stream_python_source", oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {cents_sum_sql('value')} AS sum_value
    FROM events GROUP BY event_type
""")
def stream_python_source(spark, sf_dir):
    """Custom Python streaming Data Source (DataSourceStreamReader):
    the events parquet replayed as Kafka-style row-offset micro-batches
    planned on the driver and read on executors, aggregated per
    event_type under the streaming engine. Fully drained finite replay
    + complete mode == the batch GROUP BY (the oracle)."""
    from ..sources.replay_stream import run_replay_source_agg

    return run_replay_source_agg(spark, sf_dir)


@query("events_latest_state", oracle="""
    SELECT user_id, event_type AS last_type, value AS last_value,
           ts AS last_ts
    FROM (
        SELECT user_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE rn = 1
""")
def events_latest_state(spark, sf_dir):
    """CDC-style latest-state compaction / point-in-time snapshot: the
    most recent event per user at a cutoff timestamp (ties broken by
    event_id, so the snapshot is total and engine-independent). The
    row_number-over-desc-ts shape is what compacts a changelog into a
    current-state table; at 100 TB the cutoff filter pushes to the scan
    and WindowGroupLimit prunes each map task to one row per user
    before the shuffle — the snapshot never materializes the history."""
    from pyspark.sql.window import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    return (e.filter(F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("last_type"),
                    F.col("value").alias("last_value"),
                    F.col("ts").alias("last_ts")))


@query("events_funnel", oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT)                            AS n_users,
           CAST(count(t_view) AS BIGINT)                       AS viewed,
           CAST(count(CASE WHEN t_click > t_view
                           THEN 1 END) AS BIGINT)              AS then_clicked,
           CAST(count(CASE WHEN t_buy > t_click
                            AND t_click > t_view
                           THEN 1 END) AS BIGINT)              AS then_bought
    FROM firsts
""")
def events_funnel(spark, sf_dir):
    """Ordered funnel analysis (view -> click -> purchase): per user,
    the first occurrence of each step via conditional min aggregation,
    then one pass counting users whose step timestamps are strictly
    increasing. Two map-side-combinable aggregations, no self-join, no
    explode — the funnel over a 100 TB event log shuffles one 3-column
    row per user. (The conditional-min trick is the standard rewrite of
    the naive k-way self-join funnel.)"""
    e = T(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = (e.groupBy("user_id")
              .agg(first_ts("view").alias("t_view"),
                   first_ts("click").alias("t_click"),
                   first_ts("purchase").alias("t_buy")))
    clicked = F.col("t_click") > F.col("t_view")
    bought = (F.col("t_buy") > F.col("t_click")) & clicked
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("viewed"),
        F.count(F.when(clicked, 1)).alias("then_clicked"),
        F.count(F.when(bought, 1)).alias("then_bought"))


@query("stream_topk_trending", oracle="""
    WITH c AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
               event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT win_start, event_type, n_events,
               row_number() OVER (PARTITION BY win_start
                                  ORDER BY n_events DESC, event_type) AS rnk
        FROM c
    )
    SELECT win_start, event_type, n_events, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= 3
""")
def stream_topk_trending(spark, sf_dir):
    """Top-3 trending event types per 10-minute window, computed by the
    Structured Streaming engine (windowed counts held in watermarked
    state) with the per-window rank applied over the finalized
    aggregate — the "top queries per minute" composite. The rank input
    is windows x event-types (state-sized, not stream-sized), so the
    trending stage costs one tiny shuffle regardless of stream rate.
    On finite replay the final state equals the batch aggregation, so
    the batch oracle verifies the full composite value-for-value.
    See streaming/windows.py:run_stream_topk_trending."""
    from ..streaming import run_stream_topk_trending

    return run_stream_topk_trending(spark, sf_dir)


@query("dedup_containment", oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id,
               ts[i.gs] || ' ' || ts[i.gs + 1] || ' ' || ts[i.gs + 2] AS sh
        FROM tok
        CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, len(ts) - 2)) AS gs) i
        WHERE len(ts) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
        FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, CAST(n_inter AS BIGINT) AS n_inter,
           round(greatest(n_inter / CAST(s1.n AS DOUBLE),
                          n_inter / CAST(s2.n AS DOUBLE)), 4) AS cont_max
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE greatest(n_inter / CAST(s1.n AS DOUBLE),
                   n_inter / CAST(s2.n AS DOUBLE)) >= 0.5
""")
def dedup_containment(spark, sf_dir):
    """Asymmetric shingle containment |A∩B|/|A| — the decontamination
    metric Jaccard misses: a short doc quoted inside a long one scores
    high containment but low Jaccard (the union is dominated by the
    long doc). Pairs with max-direction containment >= 0.5.

    Inverted-index shape (operators/dedup.py:containment_pairs): hash
    joins on the shingle key only, candidate volume sum(df^2) over the
    shingle vocabulary — at 100 TB add max_df pruning exactly as
    dedup_jaccard does (here the full exact join IS the contract, so no
    prune). Counts and sizes are exact integers; the ratio is one IEEE
    division per surviving pair, identical on both engines."""
    return (D.containment_pairs(T(spark, sf_dir, "documents"), 0.5)
            .select("d1", "d2", "n_inter",
                    F.round(F.col("cont_max"), 4).alias("cont_max")))


@query("dedup_incremental", oracle="""
    WITH f AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents
    ),
    store AS (SELECT DISTINCT fp FROM f WHERE doc_id < 400),
    batch AS (SELECT * FROM f WHERE doc_id >= 400)
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_batch_dups
    FROM batch
    WHERE fp NOT IN (SELECT fp FROM store)
    GROUP BY fp
""")
def dedup_incremental(spark, sf_dir):
    """Incremental dedup: a new batch (doc_id >= 400) checked against
    the historical fingerprint store (doc_id < 400) WITHOUT rescanning
    the corpus — the shape a daily ingest actually runs (dedup_exact is
    the from-scratch global pass). A batch doc survives iff its
    content fingerprint is absent from the store, and one
    representative (min id) is kept per within-batch group.

    Shape: anti join on the md5 fingerprint (store side is a
    fingerprint projection, not documents), then one batch-sized
    groupBy. At 100 TB the store is a bucketed fingerprint table, so
    the anti join co-locates with zero store shuffle and cost scales
    with the BATCH, not the corpus."""
    docs = T(spark, sf_dir, "documents")
    f = docs.select("doc_id",
                    D.content_fingerprint(F.col("text")).alias("fp"))
    store = f.filter(F.col("doc_id") < 400).select("fp").distinct()
    batch = f.filter(F.col("doc_id") >= 400)
    return (batch.join(store, "fp", "anti")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count("*").alias("n_batch_dups"))
            .select("doc_id", "n_batch_dups"))


@query("stream_scd2_enrich", oracle=f"""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
               TIMESTAMP '1900-01-01' AS valid_from,
               TIMESTAMP '2024-01-15' AS valid_to, 1 AS ver
        FROM customer
        UNION ALL
        SELECT c_custkey, c_mktsegment, round(c_acctbal + 50.0, 2),
               TIMESTAMP '2024-01-15', TIMESTAMP '9999-01-01', 2
        FROM customer
    )
    SELECT c_mktsegment AS segment, CAST(ver AS INTEGER) AS ver,
           CAST(count(*) AS BIGINT) AS n_events,
           {cents_sum_sql('value')}
               AS sum_value
    FROM events JOIN dim
      ON user_id = c_custkey AND ts >= valid_from AND ts < valid_to
    GROUP BY 1, 2
""")
def stream_scd2_enrich(spark, sf_dir):
    """Streaming enrichment against a type-2 SCD dimension: the event
    stream joins the customer version valid AT EVENT TIME (validity
    range as a residual predicate on a broadcast hash join), then
    aggregates per (segment, version) — the as-was enrichment every
    streaming metrics pipeline needs when dimensions change under it.
    See streaming/windows.py:run_stream_scd2_enrich for the plan
    notes; the batch oracle is the identical range join."""
    from ..streaming import run_stream_scd2_enrich

    return run_stream_scd2_enrich(spark, sf_dir)


_PCA_SQ_STEPS = "\n".join(f"""
    p{k} AS MATERIALIZED (
        SELECT a.i AS i, b.j AS j,
               {wide_sql(f'sum({wide_sql("a.v")} * b.v)')} AS p
        FROM m{k - 1} a JOIN m{k - 1} b ON a.j = b.i GROUP BY 1, 2
    ),
    n{k} AS (SELECT max(abs(p)) AS m FROM p{k}),
    m{k} AS MATERIALIZED (
        SELECT i, j, CAST(CASE WHEN p < 0 THEN -((-p * 1000000) // m)
                               ELSE (p * 1000000) // m END AS BIGINT) AS v
        FROM p{k}, n{k}
    ),""" for k in range(1, 12))


@query("embedding_pca_power", oracle=f"""
    WITH
    q AS MATERIALIZED (
        SELECT vec_id, k.k AS k,
               CAST(floor(CAST(embedding[k.k + 1] AS DOUBLE) * 1000000
                          + 0.5) AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS k) k
    ),
    g AS MATERIALIZED (
        -- exact int64 Gramian, same fixed-point rule as mapInArrow
        SELECT a.k AS i, b.k AS j, CAST(sum(a.q * b.q) AS BIGINT) AS gv
        FROM q a JOIN q b USING (vec_id)
        GROUP BY 1, 2
    ),
    n0 AS (SELECT max(abs({wide_sql('gv')})) AS m FROM g),
    m0 AS MATERIALIZED (
        SELECT i, j,
               CAST(CASE WHEN gv < 0
                         THEN -((-{wide_sql('gv')} * 1000000) // m)
                         ELSE ({wide_sql('gv')} * 1000000) // m
                    END AS BIGINT) AS v
        FROM g, n0
    ),{_PCA_SQ_STEPS}
    dstar AS (SELECT i AS dj FROM m11 WHERE i = j
              ORDER BY v DESC, i LIMIT 1),
    vcol AS (SELECT m11.i AS d, m11.v AS v
             FROM m11, dstar WHERE m11.j = dstar.dj),
    sgn AS (SELECT CASE WHEN (SELECT v FROM vcol
                              ORDER BY abs(v) DESC, d LIMIT 1) < 0
                        THEN -1.0 ELSE 1.0 END AS s),
    nrm AS (SELECT sum({wide_sql('v')} * v) AS n2 FROM vcol),
    num AS (SELECT sum({wide_sql('g.gv')} * a.v * b.v) AS nm
            FROM g JOIN vcol a ON g.i = a.d JOIN vcol b ON g.j = b.d),
    tr AS (SELECT sum({wide_sql('gv')}) AS t FROM g WHERE i = j)
    SELECT vcol.d AS dim,
           round(sgn.s * vcol.v / sqrt(CAST(nrm.n2 AS DOUBLE)), 6)
               AS loading,
           round(CAST(num.nm AS DOUBLE)
                 / (CAST(nrm.n2 AS DOUBLE) * CAST(tr.t AS DOUBLE)), 6)
               AS eigval_share
    FROM vcol, sgn, nrm, num, tr
""")
def embedding_pca_power(spark, sf_dir):
    """First principal direction of the embedding corpus on an exact
    integer Gramian (operators/similarity.py:pca_power_squared) — the
    dimensionality-reduction / drift-monitoring primitive next to
    kmeans_lloyd. Cluster computes one d^2 sufficient statistic in a
    single mapInArrow pass; the driver iterates on 64x64 state only.

    Cross-engine contract (reworked late r5 after review): REPEATED
    MATRIX SQUARING in fixed-point integers — 11 squarings = 2^11
    effective power steps, which converges through this corpus's 0.984
    eigengap (0.984^2048 ~ 4e-15) where the previous 64-step recursion
    retained ~0.36 of the second eigenvector. Every squaring is exact
    integer arithmetic on both engines (HUGEINT / Python int, shared
    truncate-toward-zero rescale), so the oracle's 11 chained CTEs
    reproduce the iterate bit-for-bit; only the final normalization
    and the Rayleigh share divide exact integers as doubles. The
    iterate's direction keeps an independent numpy.linalg.eigh witness
    in tests/test_pca_power.py."""
    from ..operators.similarity import pca_power_squared

    return pca_power_squared(T(spark, sf_dir, "embeddings"))


@query("multimodal_phash", oracle="""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n
        FROM documents WHERE length(text) >= 64
    ),
    pos AS (
        SELECT doc_id, n, unicode(substr(text, i.g, 1)) AS v,
               (i.g * 64 - 1) // n AS k
        FROM d CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, n)) AS g) i
    ),
    cs AS (
        SELECT doc_id, n, k, CAST(sum(v) AS BIGINT) AS sk,
               CAST(count(*) AS BIGINT) AS lk
        FROM pos GROUP BY 1, 2, 3
    ),
    tot AS (SELECT doc_id, CAST(sum(sk) AS BIGINT) AS s FROM cs GROUP BY 1),
    bits AS (
        SELECT cs.doc_id, cs.n, k,
               CASE WHEN sk * cs.n > tot.s * lk THEN '1' ELSE '0' END AS b
        FROM cs JOIN tot ON cs.doc_id = tot.doc_id
    ),
    ph AS (
        SELECT doc_id, string_agg(b, '' ORDER BY k) AS sig
        FROM bits GROUP BY 1
    ),
    chunks AS (
        SELECT doc_id, sig, c.c, substr(sig, c.c * 16 + 1, 16) AS ck
        FROM ph, (SELECT unnest([0, 1, 2, 3]) AS c) c
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
               hamming(x.sig, y.sig) AS hamming
        FROM chunks x JOIN chunks y
          ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id
    )
    SELECT d1, d2, CAST(hamming AS INT) AS hamming
    FROM cand WHERE hamming <= 16
""")
def multimodal_phash(spark, sf_dir):
    """Perceptual-hash near-dup pairs over the binary payload column —
    the image-dedup operator (block-mean pHash) completing the
    multimodal family past decode/frames/features: a mapInPandas numpy
    kernel computes the 64-chunk mean-threshold hash from the raw
    bytes, then the SAME pigeonhole block join as dedup_simhash buckets
    candidates and exact hamming filters at <= 16.

    Recall contract (same class as dedup_minhash's banding): the
    4-block pigeonhole GUARANTEES candidacy only for hamming < 4; the
    4-16 band is best-effort shared-block recall (the byte-level
    stand-in payload is noisier than a real decoded luminance grid, so
    interesting pairs sit above the classic <= 6 and full-recall
    blocking at 16 would need 17 blocks of ~4 bits — bucket values so
    coarse the join degenerates). The oracle mirrors the identical
    candidate generation, verifying the algorithm as specified.

    The kernel's mean tests are exact integer cross-multiplications,
    and the corpus is ASCII (byte == code point), so the DuckDB twin
    recomputes identical bits from character codes — a full value
    oracle for a binary-column Python kernel. At 100 TB: column
    pruning keeps metadata queries off the payload bytes, Arrow batch
    size bounds decode memory, and the candidate join is bucket-keyed
    (never all-pairs). See operators/multimodal.py:phash64_bits."""
    docs = M.with_payload(T(spark, sf_dir, "documents"))
    return M.phash_pairs(docs, max_hamming=16)


@query("stream_rocksdb_state", oracle=_TUMBLING_ORACLE)
def stream_rocksdb_state(spark, sf_dir):
    """The tumbling streaming aggregation under the RocksDB state store
    provider — Spark's production state backend (off-heap, spillable,
    changelog-checkpointed), proving backend choice changes operations,
    not answers: the oracle and result are identical to
    stream_tumbling's. See streaming/windows.py:
    run_tumbling_stream_rocksdb."""
    from ..streaming import run_tumbling_stream_rocksdb

    return run_tumbling_stream_rocksdb(spark, sf_dir)


@query("dedup_cluster_eval", oracle="""
    WITH RECURSIVE edges AS (
        SELECT d1 AS a, d2 AS b FROM ({jac}) UNION
        SELECT d2 AS a, d1 AS b FROM ({jac})
    ),
    reach(src, node) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    ca AS (SELECT src AS doc_id, min(node) AS ca FROM reach GROUP BY src),
    cb AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS cb FROM (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(text, ' '))), ' ')) AS fp
            FROM documents)
    ),
    j AS (SELECT ca.ca, cb.cb FROM ca JOIN cb USING (doc_id)),
    cell AS (SELECT ca, cb, CAST(count(*) AS BIGINT) AS nij
             FROM j GROUP BY 1, 2),
    s AS (
        SELECT CAST(sum(nij) AS BIGINT) AS n,
               CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS tp
        FROM cell
    ),
    sa AS (SELECT CAST(sum((na * (na - 1)) // 2) AS BIGINT) AS pa
           FROM (SELECT CAST(count(*) AS BIGINT) AS na
                 FROM j GROUP BY ca)),
    sb AS (SELECT CAST(sum((nb * (nb - 1)) // 2) AS BIGINT) AS pb
           FROM (SELECT CAST(count(*) AS BIGINT) AS nb
                 FROM j GROUP BY cb))
    SELECT n AS n_docs, tp AS tp_pairs,
           round((tp + ((n * (n - 1)) // 2 - pa - pb + tp))
                 / CAST((n * (n - 1)) // 2 AS DOUBLE), 6) AS rand_index,
           round((tp - CAST(pa AS DOUBLE) * pb / ((n * (n - 1)) // 2))
                 / ((CAST(pa AS DOUBLE) + pb) / 2
                    - CAST(pa AS DOUBLE) * pb / ((n * (n - 1)) // 2)), 6)
               AS adjusted_rand
    FROM s, sa, sb
""".format(jac=_JACCARD_ORACLE))
def dedup_cluster_eval(spark, sf_dir):
    """Dedup-quality evaluation: Rand index and adjusted Rand between
    the shingle-Jaccard near-dup clustering (dedup_clusters, threshold
    0.8) and the exact-fingerprint grouping as reference — the
    measurement step a production dedup pipeline runs before changing
    thresholds ("did the cheaper clustering agree with truth on pair
    decisions?").

    Pair-counting WITHOUT materializing pairs: every term (TP, per-side
    pair counts, total C(n,2)) folds out of the contingency-cell counts
    via k(k-1)/2 — exact bigint combinatorics over cluster-cardinality
    tables, so a trillion-pair corpus costs the same as its cluster
    count. ARI's expected-index correction is one fixed float
    expression over those exact integers, rounded at 6 dp."""
    d = T(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    ca = (D.dedup_clusters(D.jaccard_pairs(d, threshold=0.8,
                                           keyset=D.shingles),
                           d.select(F.col("doc_id").alias("did")))
          .select("doc_id", F.col("cluster").alias("ca")))
    wfp = Window.partitionBy("fp")
    cb = (d.select("doc_id",
                   D.content_fingerprint(F.col("text")).alias("fp"))
          .select("doc_id", F.min("doc_id").over(wfp).alias("cb")))
    # Three consumers (cell/sa/sb) read j; materialize it once.
    j = ca.join(cb, "doc_id").select("ca", "cb").transform(physical.cut)
    cell = j.groupBy("ca", "cb").agg(F.count("*").alias("nij"))
    s = cell.agg(F.sum("nij").alias("n"),
                 F.sum(F.expr("(nij * (nij - 1)) DIV 2")).alias("tp"))
    sa = (j.groupBy("ca").agg(F.count("*").alias("na"))
          .agg(F.sum(F.expr("(na * (na - 1)) DIV 2")).alias("pa")))
    sb = (j.groupBy("cb").agg(F.count("*").alias("nb"))
          .agg(F.sum(F.expr("(nb * (nb - 1)) DIV 2")).alias("pb")))
    allp = F.expr("(n * (n - 1)) DIV 2")
    exp_idx = F.col("pa").cast("double") * F.col("pb") / allp
    return (s.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
            .select(F.col("n").alias("n_docs"),
                    F.col("tp").alias("tp_pairs"),
                    F.round((F.col("tp")
                             + (allp - F.col("pa") - F.col("pb")
                                + F.col("tp")))
                            / allp.cast("double"), 6).alias("rand_index"),
                    F.round((F.col("tp") - exp_idx)
                            / ((F.col("pa").cast("double")
                                + F.col("pb")) / 2 - exp_idx), 6)
                    .alias("adjusted_rand")))


@query("text_langid_eval", oracle="""
    WITH p AS ({langid})
    SELECT d.lang AS true_lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) / CAST(sum(count(*))
                 OVER (PARTITION BY d.lang) AS DOUBLE), 4) AS share_of_true
    FROM p JOIN documents d USING (doc_id)
    GROUP BY 1, 2
""".format(langid="\n".join(_LANGID_ORACLE.splitlines())))
def text_langid_eval(spark, sf_dir):
    """Classifier evaluation for the language-ID heuristic: the
    confusion matrix of predicted vs labeled language (the corpus
    carries ground-truth `lang`), with each cell's share of its true
    class — diagonal shares are per-language recall. The measurement
    loop every curation heuristic needs (cf. dedup_cluster_eval for
    the dedup side).

    Shape: predictions come from the SAME stopword-score expressions
    as text_langid (shared oracle constant — the eval can never
    measure a different classifier than the one deployed), the label
    join is by doc_id, and the matrix is a |langs|^2 aggregate with a
    tiny window for the class totals. Counts exact; shares are one
    division each, rounded at 4 dp."""
    from pyspark.sql.window import Window

    pred = REGISTRY["text_langid"].fn(spark, sf_dir) \
        .select("doc_id", "pred_lang")
    labels = T(spark, sf_dir, "documents").select("doc_id", "lang")
    j = pred.join(labels, "doc_id")
    cm = (j.groupBy(F.col("lang").alias("true_lang"), "pred_lang")
          .agg(F.count("*").alias("n")))
    tot = Window.partitionBy("true_lang")
    return cm.select("true_lang", "pred_lang", "n",
                     F.round(F.col("n")
                             / F.sum("n").over(tot).cast("double"), 4)
                     .alias("share_of_true"))


@query("stream_update_mode", oracle=_TUMBLING_ORACLE)
def stream_update_mode(spark, sf_dir):
    """Tumbling aggregation in UPDATE output mode over a four-batch
    time-ordered replay — completes the output-mode matrix (complete:
    stream_tumbling; append emit-once: stream_tumbling_append). Update
    mode re-emits only changed windows per batch (the upsert feed);
    the latest emission per window equals the batch aggregation on
    finite replay, which is exactly what the shared tumbling oracle
    checks. See streaming/windows.py:run_stream_update_mode."""
    from ..streaming import run_stream_update_mode

    return run_stream_update_mode(spark, sf_dir)
