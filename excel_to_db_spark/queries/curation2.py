"""Corpus-governance operators (round 5, batch 2): the bookkeeping a
training-data pipeline runs around the curation steps — leakage-free
train/val/test splitting, a cross-source duplication matrix, and
winnowing document fingerprints (the MOSS/plagiarism-detection scheme,
the shift-robust cousin of the fixed-stride chunk dedup in
curation.py:text_chunk_dedup). The reference engine (294 LoC of Rust
delegating to SQLite, reference src/main.rs) has none of this surface;
these extend the Tier-C mission set.

Determinism contract (SURVEY §4.3): every derived key is integer-exact —
md5 hex is byte-identical on Spark and DuckDB, the first 8 hex chars
parse to the same 32-bit integer (`numerics.h32` and its `h32_sql`
twin), and all downstream arithmetic stays in BIGINT. No floats
anywhere, so no rounding contract is needed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..numerics import (
    cents_sum_sql, h32, h32_sql, u01, u01_sql, units_sum, units_sum_sql,
    wide, wide_quot, wide_quot_sql, wide_sql)
from ..operators import physical
from .registry import query
from .relational import T


# --------------------------------------------- leakage-free corpus split

@query("pipeline_train_val_split", oracle=f"""
    WITH h AS (
        SELECT lang, n_chars,
               {h32_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b
        FROM documents
    )
    SELECT CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM h GROUP BY 1
""")
def pipeline_train_val_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test split by hashed document id:
    bucket = md5('split:' || doc_id) mod 100 — every worker (and every
    engine) assigns the same document to the same split with no stored
    assignment table, no RNG state, and no coordination; re-runs and
    incremental corpus additions never move an existing document across
    the split boundary (the property that keeps eval sets uncontaminated
    as the corpus grows). Output is the per-split census a data card
    needs: document count, byte budget, language coverage.

    Scale shape: one map-side-combinable aggregation over a projected
    scan (doc_id, lang, n_chars — the text column is pruned); the only
    shuffle is 3 groups wide. Salting is unnecessary: md5 buckets are
    uniform by construction."""
    d = T(spark, sf_dir, "documents")
    b = F.pmod(h32(F.concat(F.lit("split:"),
                             F.col("doc_id").cast("string"))), F.lit(100))
    split = (F.when(b < 90, "train").when(b < 95, "val")
             .otherwise("test"))
    return (d.select(split.alias("split"), "lang", "n_chars")
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"),
                 F.countDistinct("lang").alias("n_langs")))


# ------------------------------------------ cross-source duplication map

@query("dedup_source_matrix", oracle="""
    WITH s AS (
        SELECT DISTINCT
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS sig,
               source
        FROM documents
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM s a JOIN s b ON a.sig = b.sig AND a.source < b.source
    GROUP BY 1, 2
""")
def dedup_source_matrix(spark, sf_dir):
    """Cross-source duplication matrix: for every pair of corpus
    sources, how many distinct documents (keyed by the sorted-word-set
    fingerprint, the same signature pipeline_training_data dedups on)
    appear in BOTH — the diagnostic that tells a curation team which
    crawls/mirrors overlap before they pick a precedence order. Source
    pairs are canonicalized src_a < src_b so each overlap counts once.

    Scale shape: the signature collapses each document to one md5
    string executor-side (text never shuffles); DISTINCT (sig, source)
    is one hash shuffle on the signature; the self-join is an equi-join
    on sig whose per-key fan-out is bounded by the source count (7
    here), so the output is at most C(n_sources, 2) rows — no
    quadratic blow-up even when one document appears in every
    source."""
    d = T(spark, sf_dir, "documents")
    sig = F.md5(F.array_join(F.array_sort(F.array_distinct(
        F.split(F.col("text"), " "))), " "))
    s = d.select(sig.alias("sig"), "source").distinct()
    a, b = s.alias("a"), s.alias("b")
    return (a.join(b, (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("src_a"),
                     F.col("b.source").alias("src_b"))
            .agg(F.count("*").alias("n_shared")))


# ---------------------------------------------- winnowing fingerprints

@query("text_winnowing", oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    g AS (
        SELECT doc_id,
               [{h32_sql("array_to_string(words[i : i + 4], ' ')")}
                for i in range(1, len(words) - 3)] AS hs
        FROM w WHERE len(words) >= 5
    ),
    m AS (
        SELECT doc_id,
               list_distinct([list_min(hs[j : j + 3])
                              for j in range(1, len(hs) - 2)]) AS fps
        FROM g WHERE len(hs) >= 4
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_min(fps) AS BIGINT) AS fp_min,
           CAST(list_sum(fps) AS BIGINT) AS fp_sum
    FROM m
""")
def text_winnowing(spark, sf_dir):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    scheme): hash every 5-word shingle, slide a window of 4 consecutive
    shingle hashes, keep each window's minimum, and the distinct minima
    are the document's fingerprints. Winnowing guarantees every shared
    run of >= 8 words between two documents shares at least one
    fingerprint — position-robust where text_chunk_dedup's fixed-stride
    chunks break on a one-word insertion. Emitted as the per-doc
    fingerprint census (count / min / sum, all exact integers); the
    fingerprint-join dedup reuses the inverted-index machinery of
    dedup_containment.

    Scale shape: pure per-row higher-order-function arithmetic inside
    whole-stage codegen — zero shuffles, zero Python; cost is linear in
    corpus bytes and embarrassingly parallel. The window minimum is
    O(w) per position here (w=4); the production O(1) monotone-deque
    form is a mapInPandas drop-in with the same output contract."""
    # (r9's fan_out A/B here measured FLAT — but that predates the r10
    # _parse_bytes fix, when the gate silently never fired, and it
    # could not have helped anyway: the size(hs) >= 4 filter embedded
    # the ENTIRE md5-transform in a predicate Catalyst pushes below
    # any widening exchange, re-running the heavy HOF at the 1-2 split
    # scan width — the same trap measured at 19.3s-vs-1.1s in
    # jaccard_pairs. Both filters are now cheap word-count predicates:
    # size(hs) = size(words) - 4 whenever words >= 5, so hs >= 4 is
    # exactly words >= 8, and the md5 HOF appears only in the fanned-
    # out projection. sf1j: 17.4s -> ~3s, identical rows.)
    d = physical.fan_out(T(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    base = d.select("doc_id", words.alias("words")).filter(
        F.size("words") >= 8)
    # shingle hashes: h(i) = first 32 md5 bits of words[i..i+4] joined
    hs = F.transform(F.sequence(F.lit(1), F.size("words") - 4),
                     lambda i: h32(F.array_join(F.slice("words", i, 5), " ")))
    g = base.select("doc_id", hs.alias("hs"))
    mins = F.expr(
        "array_distinct(transform(sequence(1, size(hs) - 3), j -> "
        "array_min(slice(hs, j, 4))))")
    m = g.select("doc_id", mins.alias("fps"))
    return m.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fp"),
        F.array_min("fps").cast("bigint").alias("fp_min"),
        F.expr("aggregate(fps, 0L, (acc, x) -> acc + x)").alias("fp_sum"))


# --------------------------------------- content-defined chunking dedup

@query("text_cdc_chunks", oracle=f"""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS words
        FROM documents
    ),
    e AS (
        SELECT doc_id, source, words,
               [0] || [i for i in range(1, len(words))
                       if {h32_sql('words[i]')} % 8 = 0]
                   || [len(words)] AS edges
        FROM w
    ),
    ch AS (
        SELECT doc_id, source,
               unnest([array_to_string(words[edges[j] + 1 : edges[j + 1]],
                                       ' ')
                       for j in range(1, len(edges))]) AS chunk
        FROM e
    ),
    sig AS (
        SELECT source, md5(chunk) AS sig,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(len(string_split(min(chunk), ' ')) AS BIGINT) AS wlen
        FROM ch GROUP BY source, md5(chunk)
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(cnt - 1) AS BIGINT) AS n_dup,
           CAST(sum((cnt - 1) * wlen) AS BIGINT) AS words_savable
    FROM sig GROUP BY source
""")
def text_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup census: chunk boundaries fall
    AFTER any word whose 32-bit md5 is 0 mod 8 (expected chunk ~8
    words), so boundaries depend only on local content — insert one
    word at the top of a page and every chunk after it still aligns,
    where fixed-stride chunking (text_chunk_dedup's 5-word grid) shifts
    every downstream chunk. This is the rsync/LBFS/data-deduplication
    trick applied to corpus text; the census reports, per source, how
    many chunk occurrences are redundant and how many words chunk-level
    dedup would reclaim.

    Scale shape: boundary detection and chunk splitting are per-row
    HOF arithmetic (zero shuffles, linear in corpus bytes); only chunk
    FINGERPRINTS shuffle — one hash aggregation keyed (source, sig),
    map-side combinable, then a source-sized rollup. The chunk text
    itself never crosses the wire (md5 computed executor-side)."""
    d = T(spark, sf_dir, "documents")
    w = d.select("doc_id", "source",
                 F.split(F.col("text"), " ").alias("words"))
    # sequence(1, size) then i < size — NOT sequence(1, size-1): for a
    # single-word document Spark evaluates sequence(1, 0) as the
    # DESCENDING [1, 0] and the lambda would hit element_at(words, 0)
    # (INVALID_INDEX_OF_ZERO crash); DuckDB's range(1, 1) is just empty.
    n = F.size("words")
    edges = F.concat(
        F.array(F.lit(0)),
        F.filter(F.sequence(F.lit(1), n),
                 lambda i: (i < n)
                 & (h32(F.element_at("words", i)) % 8 == 0)),
        F.array(n))
    e = w.select("doc_id", "source", "words", edges.alias("edges"))
    chunks = F.expr(
        "transform(sequence(1, size(edges) - 1), j -> "
        "array_join(slice(words, element_at(edges, j) + 1, "
        "element_at(edges, j + 1) - element_at(edges, j)), ' '))")
    ch = (e.select("source", F.explode(chunks).alias("chunk")))
    sig = (ch.groupBy("source", F.md5("chunk").alias("sig"))
           .agg(F.count("*").alias("cnt"),
                F.size(F.split(F.min("chunk"), " ")).cast("bigint")
                .alias("wlen")))
    return (sig.groupBy("source")
            .agg(F.sum("cnt").alias("n_chunks"),
                 F.count("*").alias("n_distinct"),
                 F.sum(F.col("cnt") - 1).alias("n_dup"),
                 F.sum((F.col("cnt") - 1) * F.col("wlen"))
                 .alias("words_savable")))


# ------------------------------------------- deterministic bootstrap CI

@query("stats_bootstrap_ci", oracle=f"""
    WITH w AS (
        SELECT b.b,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               {h32_sql("'boot' || CAST(b.b AS VARCHAR) || ':'"
                        " || CAST(o_orderkey AS VARCHAR)")} % 1000 AS h
        FROM orders, (SELECT unnest(range(0, 32)) AS b) b
    ),
    r AS (
        SELECT b,
               sum(CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1
                        WHEN h < 920 THEN 2 WHEN h < 981 THEN 3
                        ELSE 4 END * cents) AS swx,
               sum(CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1
                        WHEN h < 920 THEN 2 WHEN h < 981 THEN 3
                        ELSE 4 END) AS sw
        FROM w GROUP BY b
    ),
    m AS (
        SELECT b, {wide_quot_sql(f'{wide_sql("swx")} * 1000000', 'sw')}
                      AS mean_q6
        FROM r
    ),
    s AS (SELECT list_sort(array_agg(mean_q6)) AS ms FROM m)
    SELECT CAST(len(ms) AS BIGINT) AS n_resamples,
           CAST(list_sum(ms) // 32 AS BIGINT) AS mean_of_means_q6,
           ms[2] AS ci_lo_q6,
           ms[31] AS ci_hi_q6
    FROM s
""")
def stats_bootstrap_ci(spark, sf_dir):
    """Deterministic Poisson bootstrap of the mean order value: 32
    resamples materialize as WEIGHTS (w ~ Poisson(1) via fixed md5
    thresholds: P(0)=.368, P(1)=.368, P(2)=.184, P(3)=.061, P(4)=.019),
    never as copied rows — the classic trick that lets a 100 TB table
    be resampled B times in ONE pass with no data movement beyond a
    B-row aggregate. The 93.75% percentile CI is the 2nd/31st order
    statistic of the 32 resample means. Every emitted number is an
    exact integer (means in 1e-6 cents via DECIMAL cross-multiplied
    floor division), so no float/rounding contract is needed.

    Scale shape: explode x32 happens executor-side feeding one
    map-side-combinable (b)-keyed aggregation; the driver-side order
    statistics touch a 32-row relation. At 1000 executors the per-
    resample sufficient statistics (swx, sw) merge associatively —
    bootstrap cost is B x scan, independent of n."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    w = o.select(
        "o_orderkey", "cents",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"))
    h = F.pmod(h32(F.concat(F.lit("boot"), F.col("b").cast("string"),
                             F.lit(":"), F.col("o_orderkey").cast("string"))),
               F.lit(1000))
    wt = (F.when(h < 368, 0).when(h < 736, 1).when(h < 920, 2)
          .when(h < 981, 3).otherwise(4))
    r = (w.select("b", "cents", wt.alias("w"))
         .groupBy("b")
         .agg(F.sum(F.col("w") * F.col("cents")).alias("swx"),
              F.sum("w").alias("sw")))
    m = r.select(wide_quot(wide("swx") * 1000000, "sw").alias("mean_q6"))
    return (m.agg(F.sort_array(F.collect_list("mean_q6")).alias("ms"))
            .select(F.size("ms").cast("bigint").alias("n_resamples"),
                    wide_quot(F.aggregate("ms", wide(F.lit(0)),
                                          lambda a, x: a + x), F.lit(32))
                    .alias("mean_of_means_q6"),
                    F.element_at("ms", 2).alias("ci_lo_q6"),
                    F.element_at("ms", 31).alias("ci_hi_q6")))


# ----------------------------------------------- hashing-trick features

@query("text_feature_hashing", oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               {h32_sql("'fh:' || t")} % 32 AS idx,
               CASE WHEN {h32_sql("'sg:' || t")} % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM tok
    ),
    cell AS (
        SELECT doc_id, idx, CAST(sum(s) AS BIGINT) AS v
        FROM h GROUP BY doc_id, idx
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE v <> 0) AS BIGINT) AS nnz,
           CAST(sum(abs(v)) AS BIGINT) AS l1,
           CAST(sum(v * v) AS BIGINT) AS sq_norm
    FROM cell GROUP BY doc_id
""")
def text_feature_hashing(spark, sf_dir):
    """Hashing-trick vectorization (Weinberger et al.): every token
    occurrence lands in dimension md5('fh:'||tok) mod 32 with sign
    md5('sg:'||tok) mod 2 — a fixed-width feature vector with NO
    vocabulary pass, no fitted state, and no OOV problem, which is why
    it is the vectorizer that still works when the corpus is 100 TB and
    the token universe is unbounded. The signed hash keeps collision
    noise zero-mean. Emitted as the per-document sparse-vector census
    (nnz / L1 / squared L2), all exact integers.

    Scale shape: ZERO shuffles — each document's 32-dim vector is
    assembled per-row with higher-order functions (tokens hash to
    (idx, sign) pairs ONCE, then one fold per dimension accumulates
    the signed sum) and the census reduces over that local vector, all
    inside whole-stage codegen. (An earlier explode + groupBy(doc_id,
    idx) formulation cost TWO corpus-wide Exchanges: Spark does not
    treat HashPartitioning(doc_id, idx) as satisfying a doc_id-only
    distribution, so the rollup re-shuffled — plan-verified.)"""
    d = T(spark, sf_dir, "documents")
    pairs = F.transform(F.split("text", " "), lambda t: F.struct(
        (h32(F.concat(F.lit("fh:"), t)) % 32).alias("idx"),
        F.when(h32(F.concat(F.lit("sg:"), t)) % 2 == 0,
               F.lit(1).cast("bigint"))
        .otherwise(F.lit(-1).cast("bigint")).alias("s")))
    vec = F.expr(
        "transform(sequence(0, 31), k -> aggregate(pairs, 0L, "
        "(acc, p) -> acc + CASE WHEN p.idx = k THEN p.s ELSE 0L END))")
    v = (d.select("doc_id", pairs.alias("pairs"))
         .select("doc_id", vec.alias("vec")))
    return v.select(
        "doc_id",
        F.expr("size(filter(vec, x -> x != 0L))").cast("bigint")
        .alias("nnz"),
        F.expr("aggregate(vec, 0L, (a, x) -> a + abs(x))").alias("l1"),
        F.expr("aggregate(vec, 0L, (a, x) -> a + x * x)")
        .alias("sq_norm"))


# ------------------------------------- full-outer stream-stream join

@query("stream_stream_full", oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
         wm AS (SELECT least((SELECT max(click_ts) FROM c),
                             (SELECT max(view_ts) FROM v))
                       - INTERVAL '30 minutes' AS cut),
         j AS (SELECT c.user_id, c.click_id, v.view_id, c.click_ts
               FROM c LEFT JOIN v
                 ON c.user_id = v.user_id
                AND v.view_ts > c.click_ts
                AND v.view_ts <= c.click_ts + INTERVAL '10 minutes')
    SELECT user_id, click_id, view_id FROM j WHERE view_id IS NOT NULL
    UNION ALL
    SELECT user_id, click_id, CAST(NULL AS BIGINT) AS view_id
    FROM j, wm
    WHERE view_id IS NULL AND click_ts < cut - INTERVAL '10 minutes'
    UNION ALL
    SELECT v.user_id, CAST(NULL AS BIGINT) AS click_id, v.view_id
    FROM v, wm
    WHERE v.view_ts < cut
      AND NOT EXISTS (SELECT 1 FROM c
                      WHERE c.user_id = v.user_id
                        AND v.view_ts > c.click_ts
                        AND v.view_ts <= c.click_ts + INTERVAL '10 minutes')
""")
def stream_stream_full(spark, sf_dir):
    """FULL OUTER stream-stream interval join — completes the
    stream-stream join-mode matrix (inner/left/full). Both sides carry
    watermark-driven state expiry: unmatched clicks NULL-emit once
    wm > click_ts + interval, unmatched views once wm > view_ts (their
    candidate clicks are strictly older, so final by then). The oracle
    replays the engine's emission rule exactly: matched pairs, plus
    each side's unmatched rows older than its expiry cutoff under the
    finite-replay final watermark min(max click, max view) - 30min.
    Contract pinned empirically (Spark 4.1.2) in
    streaming/windows.py:run_stream_stream_full_join; full outer costs
    the SAME state budget as the inner join — only the emission rules
    differ."""
    from ..streaming.windows import run_stream_stream_full_join

    return run_stream_stream_full_join(spark, sf_dir)


# ------------------------------------------------ late-data audit replay

@query("stream_late_audit", oracle="""
    WITH late AS (
        SELECT ts FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    ),
    wm AS (SELECT max(ts) - INTERVAL 2 days AS cut FROM late)
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS n_events
    FROM late, wm
    GROUP BY day, cut
    HAVING day + INTERVAL 1 day <= cut
""")
def stream_late_audit(spark, sf_dir):
    """Streaming late-data audit: the events log replayed NEWEST-FIRST
    (three staged files, late half then early half), so the early half
    arrives beyond the watermark and is excluded from the emitted daily
    counts entirely — the deterministic worst case of out-of-order
    delivery, and the replay a pipeline runs to audit what late data
    would cost it. The surviving output is exactly the late-half days
    whose window closed under the final watermark (append-mode
    emission), which is what the oracle computes; the engine's
    numRowsDroppedByWatermark observability metric is surfaced by the
    runner and smoke-checked in tests (its exact value is
    engine-internal). Contract pinned empirically on Spark 4.1.2 in
    streaming/windows.py:run_stream_late_audit."""
    from ..streaming.windows import run_stream_late_audit

    df, _dropped = run_stream_late_audit(spark, sf_dir)
    return df


# ------------------------------------------------ k-anonymity audit

@query("privacy_k_anonymity", oracle="""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                          / 100000.0) AS BIGINT) AS bal_bucket
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, c_mktsegment, bal_bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_groups,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS n_risky_rows,
           CAST(min(n) AS BIGINT) AS k_anonymity
    FROM g
""")
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers: customers grouped by
    (nation, market segment, account-balance bucket of 1000); any group
    smaller than k=5 re-identifies its members by those columns alone.
    Reports the equivalence-class census and the dataset's actual k
    (the smallest class) — the number a privacy review asks for before
    a table with quasi-identifiers ships to training. Complements
    text_pii_scrub (value-level redaction) with table-level disclosure
    risk. Balance buckets are exact integer cents floor-divided, so the
    grouping is engine-identical.

    Scale shape: one map-side-combinable aggregation on the QI tuple,
    then a scalar rollup — the same two-phase census plan at any
    corpus size; no row leaves the executors."""
    c = T(spark, sf_dir, "customer")
    # floor, not DIV: truncating division would fold every negative
    # balance into bucket 0 alongside [0, 1000) — a double-width bucket
    # exactly where the audit should separate groups (corpus balances
    # reach -999.85)
    qi = c.select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")
                / 100000.0).alias("bal_bucket"))
    g = (qi.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
         .agg(F.count("*").alias("n")))
    return g.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0)).cast("bigint")
        .alias("n_risky_groups"),
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
        .cast("bigint").alias("n_risky_rows"),
        F.min("n").alias("k_anonymity"))


# ------------------------------------------------ l-diversity audit

@query("privacy_l_diversity", oracle="""
    WITH qi AS (
        SELECT c_nationkey,
               CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                          / 100000.0) AS BIGINT) AS bal_bucket,
               c_mktsegment
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, bal_bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
        FROM qi GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(l) AS BIGINT) AS l_diversity,
           CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_homogeneous_groups,
           CAST(sum(CASE WHEN l = 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_exposed_rows,
           CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below_l3
    FROM g
""")
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit — the attribute-disclosure companion to
    `privacy_k_anonymity`: a QI group can be large (k-anonymous) yet
    still leak if every member shares the same SENSITIVE value, so
    here each (nation, balance-bucket) equivalence class is scored by
    how many distinct market segments it contains. Reports the
    dataset's l (smallest class diversity), fully homogeneous classes
    (l=1 — anyone matching the QIs learns the sensitive value with
    certainty), the rows so exposed, and classes below the common l=3
    policy bar. Buckets reuse the k-anonymity key's exact integer
    cents flooring, so classes are engine-identical.

    Scale shape: one aggregation on the QI tuple with a distinct-count
    (Spark plans this as the standard two-phase partial-distinct
    expand; the sensitive column has 5 values, so the expansion factor
    is bounded), then a scalar rollup — no row leaves the executors."""
    c = T(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        F.floor(F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")
                / 100000.0).alias("bal_bucket"),
        "c_mktsegment")
    g = (qi.groupBy("c_nationkey", "bal_bucket")
         .agg(F.count("*").alias("n"),
              F.countDistinct("c_mktsegment").alias("l")))
    return g.agg(
        F.count("*").alias("n_groups"),
        F.min("l").alias("l_diversity"),
        F.sum(F.when(F.col("l") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_homogeneous_groups"),
        F.sum(F.when(F.col("l") == 1, F.col("n")).otherwise(0))
        .cast("bigint").alias("n_exposed_rows"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0)).cast("bigint")
        .alias("n_below_l3"))


# --------------------------------------- DP contribution-bounding census

@query("privacy_sensitivity_census", oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(abs(CAST(round(value * 100) AS BIGINT)))
                    AS BIGINT) AS mass
        FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(max(n_events) AS BIGINT) AS max_contribution,
           CAST(sum(CASE WHEN n_events > 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_over_clip,
           CAST(sum(CASE WHEN n_events > 100 THEN n_events - 100
                         ELSE 0 END) AS BIGINT) AS clipped_events,
           CAST(sum(mass) AS BIGINT) AS total_mass,
           CAST(sum(CASE WHEN n_events > 100
                         THEN (mass * (n_events - 100)) // n_events
                         ELSE 0 END) AS BIGINT) AS clipped_mass_est
    FROM u
""")
def privacy_sensitivity_census(spark, sf_dir):
    """Differential-privacy preparation census: before adding calibrated
    noise to any user-level aggregate, a DP pipeline must BOUND each
    user's contribution (clip), and the clip bound is chosen from
    exactly this census — per-user event counts and absolute value
    mass, how many users exceed a candidate bound (C=100 events), how
    many events clipping would drop, and a proportional estimate of the
    value mass lost (integer floor-division, engine-exact). The
    max_contribution column IS the unclipped L0/L1 sensitivity the
    noise scale would otherwise have to cover.

    Scale shape: one map-side-combinable per-user aggregation (the same
    shuffle any per-user feature job already pays) followed by a scalar
    rollup; value mass in exact integer cents throughout."""
    ev = T(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.count("*").alias("n_events"),
              F.sum(F.abs(F.expr("CAST(round(value * 100) AS BIGINT)")))
              .alias("mass")))
    over = F.col("n_events") > 100
    return u.agg(
        F.count("*").alias("n_users"),
        F.max("n_events").alias("max_contribution"),
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint")
        .alias("n_over_clip"),
        F.sum(F.when(over, F.col("n_events") - 100).otherwise(0))
        .cast("bigint").alias("clipped_events"),
        F.sum("mass").alias("total_mass"),
        F.sum(F.when(over, F.expr(
            "CAST((mass * (n_events - 100)) DIV n_events AS BIGINT)"))
              .otherwise(0)).cast("bigint").alias("clipped_mass_est"))


# ------------------------------------------------ timezone conversion

@query("tz_funcs", oracle="""
    WITH z AS (
        SELECT u.zone, u.off_h, ts FROM events,
               (VALUES ('UTC', 0), ('America/New_York', -5),
                       ('Asia/Tokyo', 9)) AS u(zone, off_h)
    )
    SELECT zone,
           CAST(hour(ts + to_hours(off_h)) AS INTEGER) AS local_hour,
           CAST(count(*) AS BIGINT) AS n
    FROM z GROUP BY 1, 2
""")
def tz_funcs(spark, sf_dir):
    """Timezone conversion pack (from_utc_timestamp against the real
    IANA tz database): the events log's UTC timestamps rendered as
    local wall-clock hours in three zones — the 'when are our users
    active' histogram every dashboard starts with. Spark resolves the
    zone rules from tzdb; the oracle applies the fixed January offsets
    (UTC+0 / NY -5 / Tokyo +9 — the corpus spans January only, so no
    DST transition falls inside it and the fixed offsets are exactly
    what tzdb resolves; a DST-spanning corpus would need the oracle to
    carry the transition rule).

    Per-row conversion in codegen; one (zone, hour)-keyed aggregation,
    72 output rows regardless of scale."""
    e = T(spark, sf_dir, "events").select("ts")
    zones = F.explode(F.array(
        F.lit("UTC"), F.lit("America/New_York"), F.lit("Asia/Tokyo")))
    z = e.select("ts", zones.alias("zone"))
    return (z.select(
        "zone",
        F.hour(F.from_utc_timestamp(F.col("ts"), F.col("zone")))
        .alias("local_hour"))
        .groupBy("zone", "local_hour")
        .agg(F.count("*").alias("n")))


# -------------------------------------------- Theil-Sen robust trend

@query("stats_theil_sen", oracle=f"""
    WITH d AS (
        SELECT date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
               {units_sum_sql('o_totalprice', 100)} AS y
        FROM orders
        WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
        GROUP BY 1
    ),
    p AS (
        SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
        FROM d a JOIN d b ON b.x > a.x
    )
    SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 4) AS slope_med
    FROM p
""")
def stats_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend of daily revenue (1995): the median of
    all pairwise slopes — a 29%-breakdown-point trend estimator that a
    handful of promotion-day spikes cannot drag, where OLS
    (agg_regression / stats_ols_multi) follows every outlier. Slopes
    are exact-integer differences divided once (IEEE-identical on both
    engines); the median interpolates identically (Spark percentile ==
    DuckDB quantile_cont), rounded to 4dp.

    Scale shape: the fact table collapses to a DAY-SIZED series first
    (one map-side-combinable aggregation; 365 rows whatever the corpus
    size), so the O(n^2) pair enumeration is 66k tiny rows from a
    broadcast theta self-join of the day series — the documented
    pattern for superlinear statistics: aggregate to a bounded series,
    THEN go quadratic. At 100 TB nothing changes but the first
    aggregation's width."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01"))
    # cut: the day series feeds THREE subtrees (join left, join right,
    # n_days) — without it each re-scans and re-aggregates the fact
    # table
    d = (o.groupBy(F.datediff(F.col("o_orderdate").cast("date"),
                              F.lit("1995-01-01").cast("date")).alias("x"))
         .agg(units_sum(F.col("o_totalprice"), 100)
              .alias("y"))
         .transform(physical.cut))
    a = d.select(F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = d.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    p = (a.join(F.broadcast(b), F.col("bx") > F.col("ax"))
         .select(((F.col("by") - F.col("ay"))
                  / (F.col("bx") - F.col("ax")).cast("double"))
                 .alias("slope")))
    nd = d.agg(F.count("*").alias("n_days"))
    return (nd.crossJoin(
        p.agg(F.count("*").alias("n_pairs"),
              F.round(F.percentile("slope", F.lit(0.5)), 4)
              .alias("slope_med"))))


# --------------------------------- event-time-timeout stateful sessions

@query("stream_stateful_timeout", oracle="""
    WITH l AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ),
    g AS (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL OR ts - prev > INTERVAL 5 minutes
                    THEN 1 ELSE 0 END AS brk
        FROM l
    ),
    sid AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM g
    ),
    sess AS (
        SELECT user_id, sid, min(ts) AS sess_start, max(ts) AS sess_last,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sid GROUP BY 1, 2
    ),
    mx AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY 1),
    wm AS (SELECT max(ts) - INTERVAL 10 minutes AS cut FROM events)
    SELECT s.user_id, s.sess_start, s.sess_last, s.n_events,
           CASE WHEN s.sid < m.last_sid THEN 'gap' ELSE 'timeout' END
               AS closed_by
    FROM sess s JOIN mx m USING (user_id), wm
    WHERE s.sid < m.last_sid
       OR s.sess_last + INTERVAL 5 minutes < wm.cut
""")
def stream_stateful_timeout(spark, sf_dir):
    """Event-time-timeout sessionization: a session closes either
    because a later event of the same user opens a new one ('gap') or
    because the watermark proved the user idle past the gap
    ('timeout'). Completes the stateful family: stream_stateful
    (NoTimeout running totals), stream_rocksdb_state (backend), and
    timer-driven closure.

    Emission contract (pinned empirically on the streaming execution,
    Spark 4.1.2): over the time-ordered 4-slice replay, availableNow
    runs a final timeout pass under the fully-advanced watermark, so
    emitted = every non-final session per user ('gap') + final
    sessions with last_ts + gap < max(ts) - watermark ('timeout').
    The 10-minute watermark exceeds the 5-minute gap, so a session
    that continues across a micro-batch boundary can never time out
    prematurely — the invariant that makes the emitted set
    slicing-independent, and therefore computable in ONE batch window
    pass.

    r12 (guide §4/§2.4): served by `sessionize_events_batch` — the
    applyInPandasWithState replay paid ~15k per-group Arrow protocol
    calls x 4 micro-batches plus a 4-slice staging WRITE of the whole
    events table per run (41-53 s at jittered sf1, the catalog's #2
    key); the batch form is one user_id exchange + a scalar watermark
    aggregate with zero Python evaluation. The streaming execution is
    KEPT (`run_stateful_sessions`) and
    tests/test_curation2.py::test_stateful_timeout_sessions_match_batch_rule
    pins the two row-identical; the segmentation kernel keeps its own
    10-case equivalence suite (tests/test_stateful_kernel.py)."""
    from ..streaming.stateful import sessionize_events_batch

    return sessionize_events_batch(spark, sf_dir)


# ------------------------------------------------ checkpoint resume

@query("stream_checkpoint_resume", oracle=f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           {cents_sum_sql('value')}
               AS sum_value
    FROM events GROUP BY event_type
""")
def stream_checkpoint_resume(spark, sf_dir):
    """Exactly-once checkpoint restart: two separate availableNow runs
    share one checkpoint — the second sees only the newly-arrived half
    (offset log) and restores the aggregation state from the state
    store, so the final complete-mode emission equals the one-shot
    batch GROUP BY over the whole log. Double-counting the first half
    or losing restored state both break the oracle equality; this is
    the deploy/crash restart path every production streaming job
    depends on (checkpoint internals unit-tested in
    tests/test_checkpoint_recovery.py; this key makes the semantics
    oracle-checked surface)."""
    from ..streaming.windows import run_stream_checkpoint_resume

    return run_stream_checkpoint_resume(spark, sf_dir)


# --------------------------------------------- session PMI co-occurrence

@query("events_session_pmi", oracle="""
    WITH l AS (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev
        FROM events
    ),
    sid AS (
        SELECT user_id, event_type,
               sum(CASE WHEN prev IS NULL
                             OR ts - prev > INTERVAL 5 minutes
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM l
    ),
    st AS (SELECT DISTINCT user_id, sid, event_type FROM sid),
    n AS (SELECT CAST(count(DISTINCT (user_id, sid)) AS BIGINT) AS n
          FROM st),
    cx AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
           FROM st GROUP BY 1),
    cxy AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS c_xy
        FROM st a JOIN st b
          ON a.user_id = b.user_id AND a.sid = b.sid
         AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, c_xy,
           round(ln(CAST(n.n AS DOUBLE) * c_xy / (ca.c * CAST(cb.c AS DOUBLE))), 4)
               AS pmi
    FROM cxy
    JOIN cx ca ON ca.event_type = type_a
    JOIN cx cb ON cb.event_type = type_b, n
""")
def events_session_pmi(spark, sf_dir):
    """Pointwise mutual information of event-type pairs within 5-minute
    sessions: PMI = ln(P(x,y)/(P(x)P(y))) over session co-occurrence —
    the association measure that separates 'these events travel
    together' from 'both are just frequent', complementing
    basket_affinity's order-basket lift with behavioral sessions as the
    co-occurrence unit. Counts are exact integers; the single ln of an
    exact rational rounds to 4dp (the text_idf log-parity contract).

    Scale shape: sessionization is one user-partitioned window; the
    DISTINCT (user, session, type) relation is bounded by sessions x
    |event types| (5 here), so the within-session pair self-join fans
    out at most C(5,2) per session — never quadratic in events. Two
    tiny broadcast joins attach the marginals."""
    from pyspark.sql.window import Window as W

    e = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    l = e.select("user_id", "ts", "event_id", "event_type",
                 F.lag("ts").over(w).alias("prev"))
    # microsecond-exact gap test, matching both the oracle's
    # `ts - prev > INTERVAL 5 minutes` and the streaming sessionizer's
    # pinned _GAP_US contract — a seconds-truncated cast would keep a
    # 300.4s gap in one session while the oracle splits it
    brk = F.when(F.col("prev").isNull()
                 | (F.unix_micros(F.col("ts"))
                    - F.unix_micros(F.col("prev")) > 300 * 1_000_000),
                 1).otherwise(0)
    sid = l.select("user_id", "event_type",
                   F.sum(brk).over(
                       w.rowsBetween(W.unboundedPreceding, 0)).alias("sid"))
    st = sid.select("user_id", "sid", "event_type").distinct()
    # lazy 1-row session count broadcast onto the result (the repo's
    # scalar-attach shape) — a driver-side .count() here would both run
    # an eager job at plan-build time and recompute the sessionization
    # pipeline once more than needed
    n = (st.select("user_id", "sid").distinct()
         .agg(F.count("*").alias("n")))
    cx = st.groupBy("event_type").agg(F.count("*").alias("c"))
    a, b = st.alias("a"), st.alias("b")
    cxy = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                  & (F.col("a.sid") == F.col("b.sid"))
                  & (F.col("a.event_type") < F.col("b.event_type")))
           .groupBy(F.col("a.event_type").alias("type_a"),
                    F.col("b.event_type").alias("type_b"))
           .agg(F.count("*").alias("c_xy")))
    ca = cx.select(F.col("event_type").alias("type_a"),
                   F.col("c").alias("ca"))
    cb = cx.select(F.col("event_type").alias("type_b"),
                   F.col("c").alias("cb"))
    return (cxy.join(F.broadcast(ca), "type_a")
            .join(F.broadcast(cb), "type_b")
            .crossJoin(F.broadcast(n))
            .select("type_a", "type_b", "c_xy",
                    F.round(F.log(F.col("n").cast("double") * F.col("c_xy")
                                  / (F.col("ca")
                                     * F.col("cb").cast("double"))), 4)
                    .alias("pmi")))


# ------------------------------------------------ Wilson binomial CI

@query("stats_wilson_ci", oracle="""
    WITH b AS (
        SELECT strftime(CAST(l_shipdate AS DATE), '%Y') AS ship_year,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM lineitem GROUP BY 1
    )
    SELECT ship_year, n, k,
           round((k / CAST(n AS DOUBLE) + 1.9208 / n
                  - 1.96 * sqrt((k / CAST(n AS DOUBLE))
                                * (1 - k / CAST(n AS DOUBLE)) / n
                                + 0.9604 / (CAST(n AS DOUBLE) * n)))
                 / (1 + 3.8416 / n), 6) AS ci_lo,
           round((k / CAST(n AS DOUBLE) + 1.9208 / n
                  + 1.96 * sqrt((k / CAST(n AS DOUBLE))
                                * (1 - k / CAST(n AS DOUBLE)) / n
                                + 0.9604 / (CAST(n AS DOUBLE) * n)))
                 / (1 + 3.8416 / n), 6) AS ci_hi
    FROM b
""")
def stats_wilson_ci(spark, sf_dir):
    """Wilson 95% confidence interval for the per-ship-year return
    rate: the binomial CI that behaves at the boundaries (never leaves
    [0,1], sane at small n) where the naive Wald interval fails — the
    interval every rate dashboard should draw. Counts are one exact
    map-side-combinable aggregation; the interval is a fixed closed-
    form float expression over (k, n), written with the IDENTICAL
    operation tree on both engines (z=1.96 constants pre-folded:
    z^2=3.8416, z^2/2=1.9208, z^2/4=0.9604) so IEEE evaluation agrees
    bit-for-bit before the 6-dp round."""
    le = T(spark, sf_dir, "lineitem")
    b = (le.groupBy(F.date_format(F.col("l_shipdate").cast("date"), "yyyy")
                    .alias("ship_year"))
         .agg(F.count("*").alias("n"),
              F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
              .cast("bigint").alias("k")))
    p = F.col("k") / F.col("n").cast("double")
    nd = F.col("n").cast("double")
    half = F.lit(1.96) * F.sqrt(p * (1 - p) / F.col("n")
                                + 0.9604 / (nd * F.col("n")))
    base = p + 1.9208 / F.col("n")
    den = 1 + 3.8416 / F.col("n")
    return b.select(
        "ship_year", "n", "k",
        F.round((base - half) / den, 6).alias("ci_lo"),
        F.round((base + half) / den, 6).alias("ci_hi"))


# ------------------------------------------- URL canonicalization dedup

@query("dedup_url_canonical", oracle="""
    WITH u AS (
        SELECT replace(lower(o_orderpriority), ' ', '-') AS pri,
               o_custkey AS ck, o_orderkey % 3 AS variant
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(DISTINCT (pri, ck, variant)) AS BIGINT)
               AS n_raw_distinct,
           CAST(count(DISTINCT (pri, ck)) AS BIGINT) AS n_canonical
    FROM u
""")
def dedup_url_canonical(spark, sf_dir):
    """URL canonicalization dedup census: crawl frontiers drown in
    variants of the same page (mixed-case hosts, explicit default
    ports, utm_* tracking params, param order), so dedup-by-URL only
    works AFTER canonicalization — lowercase the host, drop the :443,
    strip utm_* params, sort the survivors. The key synthesizes three
    deterministic variants per order (query-param order + tracking
    params keyed by o_orderkey mod 3, page identity = (priority,
    custkey)), round-trips them through the REAL parser
    (parse_url HOST/PATH/QUERY) plus HOF param surgery, and reports
    how many raw-distinct URLs collapse to canonical pages. The oracle
    recomputes all three counts from the source columns (lossless
    synthesis, as in url_funcs) — agreement proves the parse +
    canonicalize pipeline loses and invents nothing.

    Per-row codegen + one aggregation; distinct counts shuffle hashed
    keys only."""
    o = T(spark, sf_dir, "orders")
    pri = F.translate(F.lower("o_orderpriority"), " ", "-")
    ck = F.col("o_custkey").cast("string")
    variant = F.col("o_orderkey") % 3
    qs = (F.when(variant == 0, F.concat(F.lit("id="), ck,
                                        F.lit("&utm_source=mail")))
          .when(variant == 1, F.concat(F.lit("utm_campaign=x&id="), ck))
          .otherwise(F.concat(F.lit("id="), ck)))
    url = F.concat(F.lit("https://Shop.Example.COM:443/"), pri,
                   F.lit("/item?"), qs)
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    path = F.parse_url(url, F.lit("PATH"))
    query = F.parse_url(url, F.lit("QUERY"))
    raw = o.select(url.alias("url"), host.alias("h"), path.alias("p"),
                   query.alias("q"))
    keep = F.expr("array_join(array_sort(filter(split(q, '&'), "
                  "x -> x NOT LIKE 'utm\\\\_%')), '&')")
    canon = F.concat(F.lit("https://"), F.col("h"), F.col("p"),
                     F.lit("?"), keep)
    return (raw.select("url", canon.alias("canon"))
            .agg(F.count("*").alias("n_raw"),
                 F.countDistinct("url").alias("n_raw_distinct"),
                 F.countDistinct("canon").alias("n_canonical")))


# --------------------------------------- DP noisy-histogram mechanism

@query("privacy_dp_histogram", oracle=f"""
    WITH c AS (
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY c_nationkey
    ),
    u AS (
        SELECT c_nationkey, n,
               {u01_sql("'dp:' || CAST(c_nationkey AS VARCHAR)")} - 0.5 AS uu
        FROM c
    )
    SELECT c_nationkey, n,
           n * 1000000
           + CAST(round(-sign(uu) * ln(1 - 2 * abs(uu)) * 1000000)
                  AS BIGINT) AS noisy_micro
    FROM u
""")
def privacy_dp_histogram(spark, sf_dir):
    """Laplace-mechanism noisy histogram (epsilon = 1, sensitivity 1:
    each customer contributes one row to one nation bucket): count per
    nation plus Laplace(1) noise drawn by inverse-CDF
    noise = -b*sign(u)*ln(1-2|u|), u ~ Uniform(-1/2, 1/2) — the
    release step a DP pipeline performs after
    `privacy_sensitivity_census` has bounded contributions. This key
    is the MECHANISM HARNESS: u comes from the md5 hash of the bucket
    id ((h32+0.5)/2^32 - 1/2, never exactly +-1/2 so the log is
    finite) so both engines draw the identical deviate and the release
    is cross-engine verifiable; a production release swaps the hash
    for a real CSPRNG draw — one line — and drops the true-count
    column this test surface keeps for verification.

    Exactness: counts exact; one ln per bucket computed from the same
    exact rational on both engines, snapped to micro-units, and added
    to the count in integer micro-space.

    Scale shape: one map-side-combined count aggregate over the
    grouping key; the noise is a per-bucket scalar expression — the
    mechanism costs nothing at any scale."""
    c = (T(spark, sf_dir, "customer")
         .groupBy("c_nationkey").agg(F.count("*").alias("n")))
    uu = u01(F.concat(F.lit("dp:"), F.col("c_nationkey").cast("string"))) - 0.5
    noise = F.round(-F.signum(uu) * F.log(1 - 2 * F.abs(uu)) * 1000000) \
        .cast("bigint")
    return c.select("c_nationkey", "n",
                    (F.col("n") * 1000000 + noise).alias("noisy_micro"))
