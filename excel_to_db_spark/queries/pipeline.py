"""Training-data pipeline composites (Tier C, SURVEY.md §2.C).

Single text operators live in queries/extensions.py; this module holds
the corpus-level compositions an LLM-data pipeline actually runs over
the `documents` table: cross-document span overlap (decontamination),
inverse document frequency, and the end-to-end filter→dedup→measure
pipeline. The reference has no analogue (its surface ends at SQLite
passthrough, reference src/main.rs:220); these are the north-star
extensions the 100 TB design exists for.

Scale posture: every query here is explode-shuffle-aggregate over
corpus-cardinality keys (grams/tokens), the shape Spark's map-side
partial aggregation + AQE handle natively. The exact n-gram overlap is
the precise-but-heavy path (gram-space ~ corpus bytes); MinHash-LSH
(`dedup_minhash`) is its approximate cousin when even one gram shuffle
is too much.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import physical
from ..operators import text as X
from ..numerics import (
    fixed_sum, fixed_sum_sql, h32, h32_sql, units_sum, units_sum_sql)
from .registry import query
from .relational import T

_SW_EN = "[" + ", ".join(f"'{w}'" for w in X.LANG_STOPWORDS["en"]) + "]"


@query("text_ngram_overlap", oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest([array_to_string(t[i:i+7], ' ')
                           for i in range(1, greatest(len(t) - 6, 1))]) AS gram
            FROM toks)
    ),
    shared AS (
        SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
    ),
    per AS (
        SELECT g.doc_id, count(*) AS n_shared
        FROM g JOIN shared USING (gram) GROUP BY g.doc_id
    ),
    totals AS (
        SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(t.n_grams, 0) AS n_grams,
           coalesce(p.n_shared, 0) AS n_shared,
           round(coalesce(p.n_shared, 0) * 1.0
                 / greatest(coalesce(t.n_grams, 0), 1), 6) AS dup_ratio
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN per    p ON d.doc_id = p.doc_id
""")
def text_ngram_overlap(spark, sf_dir):
    """Cross-document 8-gram overlap (exact-substring dedup /
    decontamination): for each document, how many of its distinct word
    8-grams also appear in at least one other document.

    Plan: explode distinct (doc, gram) pairs once, aggregate the gram's
    document-frequency, join the shared grams back, re-aggregate per doc
    — two gram-keyed shuffles and one doc-keyed one, all with partial
    aggregation. At 100 TB, gram-space is ~corpus-size: this is the
    exact path; `dedup_minhash` is the constant-space approximation."""
    d = T(spark, sf_dir, "documents")
    per_doc = (d.select("doc_id",
                        F.explode(X.word_ngrams(F.col("text"), 8)).alias("gram"))
               .distinct())
    shared = (per_doc.groupBy("gram").agg(F.count("*").alias("nd"))
              .filter(F.col("nd") >= 2).select("gram"))
    n_shared = (per_doc.join(shared, "gram")
                .groupBy("doc_id").agg(F.count("*").alias("n_shared")))
    totals = per_doc.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return (d.select("doc_id")
            .join(totals, "doc_id", "left")
            .join(n_shared, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
                F.round(F.coalesce("n_shared", F.lit(0))
                        / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                        6).alias("dup_ratio")))


@query("text_idf", oracle="""
    WITH dt AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    )
    SELECT tok, count(*) AS df,
           round(ln((SELECT count(*) FROM documents) * 1.0 / count(*)), 6)
               AS idf
    FROM dt GROUP BY tok
""")
def text_idf(spark, sf_dir):
    """Inverse document frequency table (the scoring half of TF-IDF):
    document frequency per token over distinct (doc, token) pairs,
    idf = ln(N / df). N rides in as a broadcast scalar, so the fact-side
    explode+aggregate stays a single token-keyed shuffle."""
    d = T(spark, sf_dir, "documents")
    n_docs = d.agg(F.count("*").alias("n_docs"))
    dt = (d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
          .distinct())
    return (dt.groupBy("tok").agg(F.count("*").alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .select("tok", "df",
                    F.round(F.log(F.col("n_docs") / F.col("df")), 6)
                    .alias("idf")))


@query("pipeline_training_data", oracle=f"""
    WITH feat AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tok,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains({_SW_EN}, t))) AS stop,
               len(list_distinct(string_split(text, ' '))) AS n_dis,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS fp
        FROM documents
    ),
    scored AS (
        SELECT *, round(least(n_tok / 20.0, 1.0)
                        * least(n_dis * 2.0 / n_tok, 1.0)
                        * least(stop * 10.0 / n_tok, 1.0), 6) AS q
        FROM feat
    ),
    kept0 AS (
        SELECT * FROM scored WHERE q >= 0.5 AND stop > 0
    ),
    kept AS (
        SELECT * FROM kept0
        WHERE doc_id = (SELECT min(doc_id) FROM kept0 k2 WHERE k2.fp = kept0.fp)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(q), 4) AS avg_quality
    FROM kept GROUP BY source
""")
def pipeline_training_data(spark, sf_dir):
    """End-to-end corpus curation pipeline: quality-score every document
    (composite of length / lexical diversity / stopword fluency), keep
    fluent docs scoring >= 0.5, drop normalized-exact duplicates (keep
    the lowest doc_id per content fingerprint), report kept-document and
    token counts per source.

    The whole pipeline is one narrow projection chain plus two shuffles
    (fingerprint window for dedup, source aggregate) — the shape that
    curates a 100 TB crawl without ever materializing an intermediate
    corpus. The dedup uses min(doc_id)-over-fingerprint, the same
    keep-first rule as `dedup_exact`."""
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents")
    t = F.col("text")
    n_tok = X.token_count(t)
    stop = X.stopword_hits(t, X.LANG_STOPWORDS["en"])
    q = F.round(X.quality_score(t), 6)
    scored = d.select("doc_id", "source",
                      n_tok.alias("n_tok"), stop.alias("stop"),
                      q.alias("q"), X.fingerprint(t).alias("fp"))
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    kept = (scored
            .filter((F.col("q") >= 0.5) & (F.col("stop") > 0))
            .withColumn("keep_id", keeper)
            .filter(F.col("doc_id") == F.col("keep_id")))
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 F.round(F.avg("q"), 4).alias("avg_quality")))


@query("embedding_centroids", oracle="""
    SELECT label, i AS pos,
           round(avg((embedding::DOUBLE[])[i]), 6) AS centroid_val,
           count(*) AS n
    FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
    GROUP BY label, i
""")
def embedding_centroids(spark, sf_dir):
    """Per-label centroid of the embedding column, element-wise (the
    K-means/IVF training step, and the class-prototype primitive):
    posexplode to (label, dim, value), aggregate mean per (label, dim).
    One shuffle keyed on label x 64 dims — tiny state regardless of
    corpus size, the canonical 100 TB reduce."""
    e = T(spark, sf_dir, "embeddings")
    return (e.select("label", F.posexplode("embedding").alias("pos0", "v"))
            .select("label", (F.col("pos0") + 1).alias("pos"),
                    F.col("v").cast("double").alias("v"))
            .groupBy("label", "pos")
            .agg(F.round(F.avg("v"), 6).alias("centroid_val"),
                 F.count("*").alias("n")))


@query("embedding_quantize", oracle=f"""
    WITH e AS (
        SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
               unnest(range(1, 65)) AS pos
        FROM embeddings
    ),
    m AS (SELECT pos, max(abs(v)) AS maxabs FROM e GROUP BY pos),
    q AS (
        SELECT vec_id,
               CAST(floor(v / maxabs * 127 + 0.5) AS INT) AS qv,
               abs(CAST(floor(v / maxabs * 127 + 0.5) AS INT) * maxabs / 127 - v) AS err
        FROM e JOIN m USING (pos)
    )
    SELECT vec_id, CAST(sum(qv) AS BIGINT) AS q_sum,
           min(qv) AS q_min, max(qv) AS q_max,
           {fixed_sum_sql('err', 1e9, 6)} AS abs_err
    FROM q GROUP BY vec_id
""")
def embedding_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding column (the 4x storage/
    bandwidth cut that makes 100 TB of vectors shippable): per-dimension
    max-abs calibration over the corpus, symmetric quantize
    q = floor(v/maxabs*127 + 0.5), plus per-vector reconstruction error.
    The calibration table (64 rows) broadcasts back onto the exploded
    fact — the same two-pass calibrate-then-apply shape as tpch_q17.
    floor(x+0.5) is identical IEEE arithmetic in both engines (the
    round()-free discipline of project_expr)."""
    e = T(spark, sf_dir, "embeddings")
    ex = (e.select("vec_id", F.posexplode("embedding").alias("pos0", "vf"))
          .select("vec_id", (F.col("pos0") + 1).alias("pos"),
                  F.col("vf").cast("double").alias("v")))
    m = ex.groupBy("pos").agg(F.max(F.abs(F.col("v"))).alias("maxabs"))
    qv = F.floor(F.col("v") / F.col("maxabs") * 127 + 0.5).cast("int")
    return (ex.join(F.broadcast(m), "pos")
            .select("vec_id", qv.alias("qv"),
                    F.abs(qv.cast("double") * F.col("maxabs") / 127
                          - F.col("v")).alias("err"))
            .groupBy("vec_id")
            .agg(F.sum("qv").cast("bigint").alias("q_sum"),
                 F.min("qv").alias("q_min"), F.max("qv").alias("q_max"),
                 fixed_sum(F.col("err"), 1e9, 6).alias("abs_err")))


@query("text_repetition", oracle="""
    WITH g AS (
        SELECT doc_id,
               [array_to_string(t[i:i+2], ' ')
                for i in range(1, greatest(len(t) - 1, 1))] AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
    SELECT doc_id,
           len(grams) AS n_grams,
           len(list_distinct(grams)) AS n_distinct,
           round(1.0 - len(list_distinct(grams)) * 1.0
                 / greatest(len(grams), 1), 6) AS rep_ratio
    FROM g
""")
def text_repetition(spark, sf_dir):
    """Within-document repetition ratio over word 3-grams (the
    Gopher-style repetition quality filter: high ratio = boilerplate or
    degenerate text). Pure per-row array arithmetic — zero shuffles,
    scales with corpus bytes like text_quality."""
    d = T(spark, sf_dir, "documents")
    grams = X.word_ngrams(F.col("text"), 3)
    return d.select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
        F.round(1.0 - F.size(F.array_distinct(grams))
                / F.greatest(F.size(grams), F.lit(1)), 6).alias("rep_ratio"))


@query("sample_stratified", oracle=f"""
    SELECT source, count(*) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS chars_sampled
    FROM documents
    WHERE {h32_sql("CAST(doc_id AS VARCHAR)")} % 10 < 3
    GROUP BY source
""")
def sample_stratified(spark, sf_dir):
    """Deterministic hash-based sampling (30% by md5 of the key), the
    reproducible alternative to RNG TABLESAMPLE: the same rows are
    sampled on any engine, any partitioning, any run — which is what a
    training-data pipeline needs for resumable, auditable subsampling.
    Per-source counts make it a stratification report."""
    d = T(spark, sf_dir, "documents")
    bucket = h32(F.col("doc_id").cast("string")) % 10
    return (d.filter(bucket < 3)
            .groupBy("source")
            .agg(F.count("*").alias("n_sampled"),
                 F.sum("n_chars").cast("bigint").alias("chars_sampled")))


@query("pipeline_pack_sequences", oracle="""
    WITH toks AS (
        SELECT source, doc_id,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    placed AS (
        SELECT source, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n_tok AS start_off
        FROM toks
    )
    SELECT source,
           CAST(start_off // 512 AS BIGINT)  AS block,
           CAST(count(*) AS BIGINT)          AS n_docs,
           CAST(sum(n_tok) AS BIGINT)        AS n_tokens
    FROM placed
    GROUP BY source, block
""")
def pipeline_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing — the LLM-pretraining step that
    turns a document stream into fixed-budget training blocks: docs are
    laid end to end in deterministic (source, doc_id) order; each doc's
    block = floor(start_offset / 512). One window cumsum per source
    partition + one aggregation; at 100 TB the window is per-source (the
    natural shard key), so no single-task global sort — and packing
    stays reproducible because the order is data-defined, not
    partition-defined."""
    d = T(spark, sf_dir, "documents")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    toks = d.select("source", "doc_id",
                    F.size(F.split("text", " ")).alias("n_tok"))
    placed = toks.withColumn(
        "start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (placed
            .groupBy("source",
                     (F.col("start_off").cast("bigint") / 512)
                     .cast("bigint").alias("block"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("n_tokens")))


@query("text_vocab_mask", oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '\\b(customer|spark|vector)\\b')) AS INT)       AS n_masked,
           md5(regexp_replace(text, '\\b(customer|spark|vector)\\b',
                '[MASK]', 'g'))                                  AS masked_md5
    FROM documents
""")
def text_vocab_mask(spark, sf_dir):
    """Vocabulary masking / term redaction — the shape of PII scrubbing
    and benchmark-term filtering: global regexp_replace of a term list
    with a deterministic digest of the result, plus a per-doc hit count.
    Pure codegen'd regexps (Java ∩ RE2 subset), no UDF; the md5 keeps
    the full masked text out of the hashed comparison while still
    pinning every byte of it."""
    d = T(spark, sf_dir, "documents")
    pat = r"\b(customer|spark|vector)\b"
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(pat)).cast("int").alias("n_masked"),
        F.md5(F.regexp_replace("text", pat, "[MASK]")).alias("masked_md5"))


@query("sample_rebalance", oracle=f"""
    WITH rated AS (
        SELECT lang, n_chars,
               CASE lang WHEN 'en' THEN 3 WHEN 'zh' THEN 10 ELSE 8 END AS rate10,
               {h32_sql("CAST(doc_id AS VARCHAR)")} % 10 AS bucket
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)          AS n_kept,
           CAST(sum(n_chars) AS BIGINT)      AS chars_kept
    FROM rated WHERE bucket < rate10
    GROUP BY lang
""")
def sample_rebalance(spark, sf_dir):
    """Language rebalancing: per-group deterministic downsampling to
    target rates (en 30%, zh 100%, others 80%) via the same md5-bucket
    device as `sample_stratified` — the mixture-reweighting step of a
    pretraining data recipe. Hash sampling keeps the choice stable
    across engines, partitionings and reruns; the rate table is a CASE
    expression, so the whole thing is one filtered aggregation with the
    filter evaluated scan-side."""
    d = T(spark, sf_dir, "documents")
    rate10 = (F.when(F.col("lang") == "en", 3)
               .when(F.col("lang") == "zh", 10).otherwise(8))
    bucket = h32(F.col("doc_id").cast("string")) % 10
    return (d.filter(bucket < rate10)
            .groupBy("lang")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("n_chars").cast("bigint").alias("chars_kept")))


@query("docs_length_quantile", oracle="""
    WITH q AS (
        SELECT doc_id, source, n_chars,
               quantile_cont(n_chars, 0.1) OVER (PARTITION BY source) AS p10,
               quantile_cont(n_chars, 0.9) OVER (PARTITION BY source) AS p90
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)              AS n_kept,
           round(avg(n_chars), 6)                AS avg_chars
    FROM q WHERE n_chars >= p10 AND n_chars <= p90
    GROUP BY source
""")
def docs_length_quantile(spark, sf_dir):
    """Per-source length-quantile trimming (drop the shortest and
    longest 10% per source) — the outlier-filtering stage of corpus
    curation, done with an EXACT windowed percentile so both engines
    agree bit-for-bit. At 100 TB the exact per-source window is
    affordable because it partitions by the shard key; the approx
    sketch (`approx_percentile`) is the two-pass alternative when even
    that sort is too much."""
    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("source")
    q = d.select(
        "doc_id", "source", "n_chars",
        F.percentile("n_chars", F.lit(0.1)).over(w).alias("p10"),
        F.percentile("n_chars", F.lit(0.9)).over(w).alias("p90"))
    return (q.filter((F.col("n_chars") >= F.col("p10"))
                     & (F.col("n_chars") <= F.col("p90")))
            .groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars")))


@query("group_zscore_pandas", oracle="""
    SELECT doc_id,
           round(CASE WHEN cnt < 2 OR sd = 0 OR sd IS NULL THEN 0.0
                      ELSE (n_chars - mu) / sd END, 6) AS z
    FROM (SELECT doc_id, n_chars,
                 count(*) OVER w          AS cnt,
                 avg(n_chars) OVER w      AS mu,
                 stddev_samp(n_chars) OVER w AS sd
          FROM documents WINDOW w AS (PARTITION BY source))
""")
def group_zscore_pandas(spark, sf_dir):
    """Per-source z-score normalization via applyInPandas (Arrow grouped
    map) — the custom-python-per-group escape hatch for semantics the
    built-ins can't express (here they could: the window oracle IS the
    built-in form — which is exactly what makes the pandas path
    hash-checkable). Each source group arrives as one pandas DataFrame
    in the Python worker; degenerate groups (n<2 or zero spread) emit
    z=0 so the contract is total. groupBy key = the shard key, so the
    shuffle is the one the pipeline already needs."""
    import pandas as pd

    d = T(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf.n_chars.mean()
        sd = pdf.n_chars.std(ddof=1)
        z = ((pdf.n_chars - mu) / sd if len(pdf) >= 2 and sd and sd == sd
             else pdf.n_chars * 0.0)
        return pd.DataFrame({"doc_id": pdf.doc_id, "z": z.round(6)})

    return d.groupBy("source").applyInPandas(zscore, "doc_id long, z double")


@query("text_keywords", oracle="""
    WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
    ),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln((SELECT count(*) FROM documents) * 1.0
                                / df.df), 6) AS score
        FROM tf JOIN df USING (tok)
    ),
    ranked AS (
        SELECT doc_id, tok, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, tok) AS rn
        FROM scored
    )
    SELECT doc_id, tok AS keyword, score, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3
""")
def text_keywords(spark, sf_dir):
    """TF-IDF keyword extraction: top-3 terms per document by
    tf * ln(N/df), ties broken lexically. The document-frequency table
    is token-cardinality (vocabulary-sized), so it broadcasts; the
    per-doc rank is a WindowGroupLimit-pruned window over the tf pairs.
    Keyword extraction at 100 TB = one token-keyed aggregation + one
    doc-keyed pruned window; ln() stays in the hashed output only
    because both engines call the same libm on the same doubles —
    score ties are broken BEFORE the transcendental (by raw tf*idf
    ordering being identical on both sides)."""
    d = T(spark, sf_dir, "documents")
    n_docs = d.count()
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    df = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    scored = (tf.join(F.broadcast(df), "tok")
              .select("doc_id", "tok",
                      F.round(F.col("tf") * F.log(F.lit(float(n_docs))
                                                  / F.col("df")), 6)
                      .alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("doc_id", F.col("tok").alias("keyword"), "score",
                    F.col("rn").cast("int").alias("rank")))


@query("text_pii_scrub", oracle="""
    WITH inj AS (
        SELECT doc_id,
               'Contact user' || CAST(doc_id AS VARCHAR) ||
               '@example.com or call 555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '. ' || text
                 AS s
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(s,
                '[A-Za-z0-9._]+@[A-Za-z0-9.]+')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(s, '555-[0-9]{4}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(s,
                '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '[EMAIL]', 'g'),
                '555-[0-9]{4}', '[PHONE]', 'g')) AS digest
    FROM inj
""")
def text_pii_scrub(spark, sf_dir):
    """PII detection + redaction over the corpus: count and replace
    email / phone patterns, returning a digest of the scrubbed text so
    the oracle proves byte-identical redaction, not just equal counts.
    The PII is injected deterministically from doc_id (the synthetic
    corpus has none) so the detector has known ground truth at every
    scale. All regexp work is JVM codegen (Spark regexp_replace is
    global by default; DuckDB needs the 'g' flag — a dialect delta the
    compat layer documents). At 100 TB this is the embarrassingly
    parallel map stage: no shuffle at all — the plan is scan -> project."""
    email_pat = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
    phone_pat = "555-[0-9]{4}"
    d = T(spark, sf_dir, "documents")
    s = F.concat(F.lit("Contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com or call 555-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                 F.lit(". "), F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(s, email_pat, "[EMAIL]"), phone_pat, "[PHONE]")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(s, F.lit(email_pat), 0))
         .cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(s, F.lit(phone_pat), 0))
         .cast("bigint").alias("n_phones"),
        F.md5(scrubbed).alias("digest"))


@query("text_entropy", oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents
    ),
    f AS (
        SELECT doc_id, w, count(*) AS c
        FROM toks WHERE w <> '' GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy
    FROM f GROUP BY doc_id
""")
def text_entropy(spark, sf_dir):
    """Token-level Shannon entropy per document — the information-density
    quality signal (near-zero entropy = boilerplate/repetition, the
    Gopher-style filter's statistical cousin). Computed as
    log2(n) - sum(c*log2 c)/n over the (doc, token) frequency table, so
    the only shuffle is the frequency groupBy; the per-doc reduce is
    map-side combinable. Rounded to 4dp: the term order of the float
    sum differs between engines and 1e-14 drift must not flip the hash."""
    d = T(spark, sf_dir, "documents")
    toks = (d.select("doc_id",
                     F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
            .filter(F.col("w") != ""))
    f = toks.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    n = F.sum("c")
    return (f.groupBy("doc_id")
            .agg(n.alias("n_tokens"),
                 F.count("*").alias("n_distinct"),
                 F.round(F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 4)
                 .alias("entropy")))


@query("text_bigram_lm", oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bge AS (
        SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest([{'w1': t[i], 'w2': t[i+1]}
                           for i in range(1, len(t))]) AS b
            FROM toks)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bge GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bge GROUP BY w1)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(log2(c2 * 1.0 / c1)), 4) AS avg_logp
    FROM bge JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY doc_id
""")
def text_bigram_lm(spark, sf_dir):
    """Corpus bigram language-model scoring — the classic cheap fluency /
    perplexity signal for data curation: train bigram + left-unigram
    counts over the whole corpus, then score each document by its mean
    log2 conditional probability. Bigrams come straight out of the token
    array with transform() (no posexplode+window hop); the two count
    tables are vocabulary-sized, so they broadcast back onto the bigram
    stream — at 100 TB the only big shuffle is the bigram groupBy, and
    scoring is broadcast-join + one doc-keyed reduce. Normalizing by the
    LEFT-unigram count (sum over w2 of c2 = c1) keeps p(.|w1) a proper
    distribution with no end-of-doc off-by-one. The scan is
    fanned out: the bigram explode is the compute-heavy map side
    and otherwise inherits the narrow local scan's 1-2 splits (r9
    skew audit class)."""
    d = physical.fan_out(T(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bg = (toks.select("doc_id", F.explode(F.expr(
              "transform(slice(t, 1, size(t)-1),"
              " (x, i) -> struct(x AS w1, t[i+1] AS w2))")).alias("b"))
          .select("doc_id", "b.w1", "b.w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    return (bg.join(F.broadcast(c2), ["w1", "w2"])
            .join(F.broadcast(c1), ["w1"])
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.avg(F.log2(F.col("c2") * 1.0 / F.col("c1"))), 4)
                 .alias("avg_logp")))


@query("embedding_outliers", oracle="""
    WITH ex AS (
        SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS v,
               unnest(range(1, 65)) AS pos
        FROM embeddings
    ),
    cent AS (
        SELECT label, pos, round(avg(v), 6) AS c FROM ex GROUP BY label, pos
    ),
    per AS (
        SELECT vec_id, ex.label AS label,
               round(1 - sum(v * c) / (sqrt(sum(v * v)) * sqrt(sum(c * c))),
                     6) AS dist
        FROM ex JOIN cent ON cent.label = ex.label AND cent.pos = ex.pos
        GROUP BY vec_id, ex.label
    )
    SELECT label, vec_id, dist, rnk FROM (
        SELECT label, vec_id, dist,
               CAST(row_number() OVER (PARTITION BY label
                    ORDER BY dist DESC, vec_id) AS INT) AS rnk
        FROM per)
    WHERE rnk <= 3
""")
def embedding_outliers(spark, sf_dir):
    """Centroid-distance outlier mining: cosine distance of every vector
    to its own label's centroid, top-3 per label — the mislabeled-sample
    / contamination sweep over an embedded corpus. Centroid values are
    rounded to 6dp BEFORE the cosine so both engines rank from identical
    inputs, and the rank key is the ROUNDED distance with vec_id
    tie-break — float summation order can never flip the top-k. Shape at
    100 TB: one (label,dim)-keyed reduce (tiny state), centroids
    broadcast back, one vec-keyed reduce, WindowGroupLimit top-k."""
    e = T(spark, sf_dir, "embeddings")
    ex = (e.select("vec_id", "label",
                   F.posexplode("embedding").alias("pos0", "vf"))
          .select("vec_id", "label", (F.col("pos0") + 1).alias("pos"),
                  F.col("vf").cast("double").alias("v")))
    cent = (ex.groupBy("label", "pos")
            .agg(F.round(F.avg("v"), 6).alias("c")))
    per = (ex.join(F.broadcast(cent), ["label", "pos"])
           .groupBy("vec_id", "label")
           .agg(F.round(
               1 - F.sum(F.col("v") * F.col("c"))
               / (F.sqrt(F.sum(F.col("v") * F.col("v")))
                  * F.sqrt(F.sum(F.col("c") * F.col("c")))), 6)
               .alias("dist")))
    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return (per.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= 3)
            .select("label", "vec_id", "dist", "rnk"))


def _km_assign(src_v: str, src_c: str) -> str:
    """DuckDB CTE: nearest-centroid assignment (min L2^2, cid tie-break)."""
    d2 = (f"list_dot_product(v.vec, v.vec) "
          f"- 2 * list_dot_product(v.vec, c.cvec) "
          f"+ list_dot_product(c.cvec, c.cvec)")
    return f"""SELECT vec_id, vec, cell, d2 FROM (
        SELECT v.vec_id, v.vec, c.cid AS cell, {d2} AS d2,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d2} ASC, c.cid ASC) AS rk
        FROM {src_v} v CROSS JOIN {src_c} c) WHERE rk = 1"""


def _km_mean(src_a: str) -> str:
    """DuckDB CTE: element-wise centroid mean, rounded 6dp (the
    cross-engine determinism contract of operators.similarity
    .lloyd_kmeans)."""
    return f"""SELECT cell AS cid, list(m ORDER BY pos) AS cvec FROM (
        SELECT cell, pos, round(avg(val), 6) AS m FROM (
            SELECT cell, unnest(vec) AS val, unnest(range(1, 65)) AS pos
            FROM {src_a})
        GROUP BY cell, pos) GROUP BY cell"""


@query("kmeans_lloyd", oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
           FROM embeddings WHERE vec_id < 8),
    a1 AS ({_km_assign('v', 'c0')}),
    c1 AS ({_km_mean('a1')}),
    a2 AS ({_km_assign('v', 'c1')}),
    c2 AS ({_km_mean('a2')}),
    af AS ({_km_assign('v', 'c2')})
    SELECT cell AS cluster, count(*) AS n,
           {fixed_sum_sql('d2', 1e6, 3)} AS inertia
    FROM af GROUP BY cell
""")
def kmeans_lloyd(spark, sf_dir):
    """Unrolled Lloyd's k-means (2 iterations, k=8, deterministic first-k
    init) over the embedding corpus — the IVF-training/clustering step as
    a first-class iterative operator: per round one broadcast assignment
    pass + one (cluster, dim)-keyed mean shuffle whose state is k x 64
    regardless of corpus size. Centroid means round to 6dp each round so
    DuckDB replays the identical trajectory (see lloyd_kmeans docstring);
    output is per-cluster size + inertia under the final centroids."""
    from ..operators import similarity as S

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", S.as_double(F.col("embedding")).alias("vec"))
    init = (e.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")))
    final, _cents = S.lloyd_kmeans(e, init, iters=2)
    return (final.groupBy(F.col("cell").alias("cluster"))
            .agg(F.count("*").alias("n"),
                 fixed_sum(F.col("d2"), 1e6, 3).alias("inertia")))


# ----------------------------------------------- sparse cosine top pairs

@query("text_sparse_cosine", oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    g AS (
        SELECT doc_id,
               ts[i.gs] || ' ' || ts[i.gs + 1] || ' ' || ts[i.gs + 2] AS gram
        FROM tok
        CROSS JOIN LATERAL
            (SELECT unnest(generate_series(1, len(ts) - 2)) AS gs) i
        WHERE len(ts) >= 3
    ),
    tf AS (SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY 1, 2),
    kept AS (SELECT gram FROM tf GROUP BY gram HAVING count(*) <= 10),
    ktf AS (SELECT tf.* FROM tf JOIN kept USING (gram)),
    norms AS (
        SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
        FROM ktf GROUP BY 1
    ),
    dots AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        FROM ktf a JOIN ktf b
          ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, dot,
           round(dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2), 6) AS cos_sim
    FROM dots
    JOIN norms na ON na.doc_id = d1
    JOIN norms nb ON nb.doc_id = d2
    ORDER BY dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2) DESC, d1, d2
    LIMIT 20
""")
def text_sparse_cosine(spark, sf_dir):
    """Top-20 most similar document pairs by sparse TF-vector cosine
    over word trigrams — the bag-of-ngrams similarity join
    (`dedup_jaccard` is its set-semantics cousin; `similarity_topk` the
    dense-embedding one). Frequency weighting ranks partial template
    reuse that set Jaccard collapses.

    Scale shape: an inverted index on the gram key replaces the n^2
    all-pairs — candidate volume is sum(df^2) over the KEPT vocabulary,
    and grams with df > 10 are pruned on BOTH sides first (the
    prefix-filtering rule every similarity-join system applies: a gram
    shared by everything identifies nothing). The dot products are one
    gram-keyed shuffle with map-side combine; norms are doc-sized.
    Determinism: tf, dot, and the squared norms are exact integers, so
    cos = dot/sqrt(n1*n2) is a single IEEE op on exact inputs —
    identical doubles on both engines; ordering uses the unrounded
    value with (d1, d2) tie-breaks."""
    # fan_out + materialize once (r11): tf feeds the df prune AND the
    # kept join, and ktf feeds norms plus BOTH self-join sides — five
    # plan branches that otherwise each re-run the trigram explode +
    # groupBy from the fixture's 1-2 parquet splits (trap classes A/B,
    # PLANS.md round-11; measured 30.2s -> ~8s at jittered sf1).
    tf = (physical.fan_out(T(spark, sf_dir, "documents"))
          .select("doc_id",
                  F.explode(X.word_ngrams(F.col("text"), 3)).alias("gram"))
          .groupBy("doc_id", "gram").agg(F.count("*").alias("tf"))
          .transform(physical.cut))
    kept = (tf.groupBy("gram").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= 10).select("gram"))
    ktf = tf.join(kept, "gram").transform(physical.cut)
    norms = ktf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a, b = ktf.alias("a"), ktf.alias("b")
    dots = (a.join(b, (F.col("a.gram") == F.col("b.gram"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("d1"),
                     F.col("b.doc_id").alias("d2"))
            .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot")))
    na, nb = norms.alias("na"), norms.alias("nb")
    cos = (F.col("dot")
           / F.sqrt(F.col("na.n2").cast("double") * F.col("nb.n2")))
    return (dots.join(na, F.col("na.doc_id") == F.col("d1"))
            .join(nb, F.col("nb.doc_id") == F.col("d2"))
            .select("d1", "d2", "dot", cos.alias("cos_raw"))
            .orderBy(F.col("cos_raw").desc(), "d1", "d2")
            .limit(20)
            .select("d1", "d2", "dot",
                    F.round(F.col("cos_raw"), 6).alias("cos_sim")))


@query("text_keyword_search", oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    hits AS (
        SELECT doc_id, count(DISTINCT w) AS nt,
               CAST(count(*) AS BIGINT) AS score
        FROM tok WHERE w IN ('spark', 'query', 'vector')
        GROUP BY doc_id
    )
    SELECT doc_id, score
    FROM hits WHERE nt = 3
    ORDER BY score DESC, doc_id
    LIMIT 20
""")
def text_keyword_search(spark, sf_dir):
    """Conjunctive (AND) keyword search: top-20 documents containing
    ALL of {spark, query, vector}, ranked by total term frequency —
    the posting-list-intersection primitive under every corpus search
    UI.

    Shape: the term filter lands BEFORE the explode's aggregation, so
    the shuffle carries only rows for the 3 query terms (at 100 TB the
    same query runs against a materialized (term, doc, tf) posting
    table, term-bucketed so the intersection is a co-located
    three-list merge; this composes the list on the fly). AND
    semantics = HAVING count(distinct term) == |terms|; score and
    ranking are exact integers with doc_id tie-break."""
    terms = ("spark", "query", "vector")
    tok = (T(spark, sf_dir, "documents")
           .select("doc_id",
                   F.explode(F.split(F.col("text"), " ")).alias("w"))
           .filter(F.col("w").isin(*terms)))
    return (tok.groupBy("doc_id")
            .agg(F.count_distinct("w").alias("nt"),
                 F.count("*").alias("score"))
            .filter(F.col("nt") == len(terms))
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(20)
            .select("doc_id", "score"))


@query("sample_pps_systematic", oracle="""
    WITH t AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    c AS (
        SELECT o_orderkey, cents,
               CAST(sum(cents) OVER (ORDER BY o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS BIGINT)
                   AS cum
        FROM t
    ),
    s AS (SELECT CAST(sum(cents) AS BIGINT) // 100 AS step FROM t)
    SELECT o_orderkey, round(cents / 100.0, 2) AS price
    FROM c, s
    WHERE (cum - cents) // step < cum // step
""")
def sample_pps_systematic(spark, sf_dir):
    """Systematic probability-proportional-to-size sampling: lay every
    order's value on a cumulative line, then take one row at each
    step = total/100 crossing — the classic PPS design (heavy rows are
    near-certain picks, light rows proportional), fully deterministic
    with zero random state. The corpus-curation use: value-weighted
    example selection with exact, reproducible output.

    Scale shape: the global running sum is a DISTRIBUTED prefix sum,
    not a single-partition window — exact decile boundaries of the
    order key (one percentile aggregate) range-bucket the data, the
    running sum runs per-bucket in parallel, and the 10 per-bucket
    totals produce broadcastable prefix offsets (the textbook
    scan-then-offset pattern; same boundary machinery as
    range_partition_histogram). Everything is exact integer cents —
    crossing tests are pure bigint division, so engines can't disagree
    at any scale."""
    t = (T(spark, sf_dir, "orders")
         .select("o_orderkey",
                 F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents")))
    qs = [i / 10.0 for i in range(1, 10)]
    b = t.agg(F.percentile("o_orderkey", qs).alias("bs"))
    bucketed = (t.crossJoin(F.broadcast(b))
                .withColumn(
                    "bucket",
                    F.aggregate("bs", F.lit(0),
                                lambda acc, x:
                                acc + (F.col("o_orderkey") > x).cast("int")))
                .drop("bs"))
    wloc = (Window.partitionBy("bucket").orderBy("o_orderkey")
            .rowsBetween(Window.unboundedPreceding, 0))
    loc = bucketed.withColumn("lcum", F.sum("cents").over(wloc))
    btot = (bucketed.groupBy("bucket").agg(F.sum("cents").alias("btot")))
    woff = (Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = btot.select("bucket",
                       F.coalesce(F.sum("btot").over(woff), F.lit(0))
                       .alias("off"))
    # The grand total folds out of the 10-row bucket totals — never a
    # second scan of the fact.
    total = btot.agg(F.sum("btot").alias("tot"))
    cum = (loc.join(F.broadcast(offs), "bucket")
           .crossJoin(F.broadcast(total))
           .select("o_orderkey", "cents",
                   (F.col("off") + F.col("lcum")).alias("cum"),
                   F.expr("tot DIV 100").alias("step")))
    return (cum.filter(F.expr("(cum - cents) DIV step") < F.expr("cum DIV step"))
            .select("o_orderkey",
                    F.round(F.col("cents") / 100.0, 2).alias("price")))


@query("pipeline_data_card", oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents
    ),
    langs AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(count(*)) OVER () AS BIGINT) AS tot
        FROM base GROUP BY lang
    ),
    ent AS (
        SELECT {fixed_sum_sql(
                   '-(c / CAST(tot AS DOUBLE)) * log2(c / CAST(tot AS DOUBLE))', 1e8, 4)} AS h
        FROM langs
    ),
    dups AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_unique
        FROM base
    )
    SELECT d.n_docs,
           CAST((SELECT sum(n_tokens) FROM base) AS BIGINT) AS total_tokens,
           CAST((SELECT sum(n_chars) FROM base) AS BIGINT) AS total_chars,
           round((d.n_docs - d.n_unique) / CAST(d.n_docs AS DOUBLE), 4)
               AS exact_dup_rate,
           CAST((SELECT count(*) FROM langs) AS BIGINT) AS n_langs,
           e.h AS lang_entropy_bits
    FROM dups d, ent e
""")
def pipeline_data_card(spark, sf_dir):
    """The corpus data card: one row of dataset documentation — doc and
    token totals, exact-duplicate rate, language count, and the
    language-mix entropy in bits (the diversity number a pretraining
    recipe reports). The capstone composite over the curation
    primitives (dedup_exact's fingerprint, text_tokens' counts,
    sample_rebalance's mix).

    Shape: ONE scan computes per-doc tokens and fingerprints; the card
    is three tiny aggregates over it (language histogram, distinct
    fingerprints, grand totals) merged into a single row. Entropy
    terms are per-language floats from exact counts snapped to 1e-8
    units before summation (SURVEY 4.3); everything else is exact
    integer arithmetic."""
    base = (T(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars",
                    F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
                    F.md5(F.concat_ws(
                        " ", F.array_sort(F.array_distinct(
                            F.split(F.col("text"), " "))))).alias("fp")))
    langs = base.groupBy("lang").agg(F.count("*").alias("c"))
    tot = langs.agg(F.sum("c").alias("tot"))
    p = F.col("c") / F.col("tot").cast("double")
    ent = (langs.crossJoin(F.broadcast(tot))
           .agg(fixed_sum(-p * F.log2(p), 1e8, 4).alias("h"),
                F.count("*").alias("n_langs")))
    dups = base.agg(F.count("*").alias("n_docs"),
                    F.countDistinct("fp").alias("n_unique"),
                    F.sum("n_tokens").alias("total_tokens"),
                    F.sum("n_chars").alias("total_chars"))
    return (dups.crossJoin(F.broadcast(ent))
            .select("n_docs", "total_tokens", "total_chars",
                    F.round((F.col("n_docs") - F.col("n_unique"))
                            / F.col("n_docs").cast("double"), 4)
                    .alias("exact_dup_rate"),
                    "n_langs",
                    F.col("h").alias("lang_entropy_bits")))


# ------------------------------------------------------ BM25 ranking

_BM25_TERMS = ("spark", "vector", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75


_BM25_SQL_CORE = f"""
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        FROM tok GROUP BY doc_id
    ),
    corp AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE w IN ('spark', 'vector', 'hash')
        GROUP BY doc_id, w
    ),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    ts AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * ({_BM25_K1} + 1.0))
                   / (tf + {_BM25_K1}
                      * (1.0 - {_BM25_B}
                         + {_BM25_B} * dl.dl * corp.n_docs
                           / corp.sum_dl))
                   * 1000000) AS BIGINT) AS term_score_micro
        FROM tf
        JOIN df USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN corp
    ),
    sc AS (
        SELECT doc_id, CAST(sum(term_score_micro) AS BIGINT)
                   AS score_micro
        FROM ts GROUP BY doc_id
    )"""


@query("text_bm25_search", oracle=f"""
    WITH {_BM25_SQL_CORE}
    SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, score_micro
    FROM sc ORDER BY score_micro DESC, doc_id LIMIT 10
""")
def text_bm25_search(spark, sf_dir):
    """BM25-ranked keyword search (Robertson-Sparck Jones; k1=1.2,
    b=0.75, the Lucene-default parametrization with the +1 smoothed
    idf) for the 3-term query {{spark, vector, hash}}, top-10 — the
    ranking upgrade over `text_keyword_search`'s boolean conjunctive
    match and the lexical baseline every hybrid (BM25 + vector)
    retrieval stack needs.

    Exactness: tf, df, doc length, and corpus totals are exact
    integers; each (doc, term) partial score is ONE double expression
    with identical operation order on both engines (dl/avgdl is
    spelled dl*N/sum_dl so no intermediate rational rounds twice) and
    is snapped to micro-units BEFORE the per-doc sum (SURVEY §4.3 —
    the sum over query terms is then exact BIGINT addition). Top-10 by
    (score, doc_id) is a TakeOrderedAndProject. Distributed shape:
    the posting lists for the query terms are filtered AT THE TOKEN
    SCAN (predicate pushdown on the exploded stream), so the scored
    join touches only matching docs; df/corpus stats are tiny
    broadcasts. One token histogram + one doc-length aggregate — both
    shuffles the text family already pays."""
    from pyspark.sql import Window

    return (bm25_scores(T(spark, sf_dir, "documents"))
            .orderBy(F.col("score_micro").desc(), "doc_id").limit(10)
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.col("score_micro").desc(), "doc_id"))
                .cast("bigint"))
            .select("rank", "doc_id", "score_micro"))


def bm25_scores(d):
    """BM25 per-document scores (micro-int) for the fixed 3-term query
    — THE one scoring definition shared by `text_bm25_search` and the
    hybrid-fusion key (`search_hybrid_rrf`)."""
    tok = d.select("doc_id",
                   F.explode(F.split(F.col("text"), " ")).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corp = dl.agg(F.count("*").alias("n_docs"),
                  F.sum("dl").alias("sum_dl"))
    tf = (tok.filter(F.col("w").isin(*_BM25_TERMS))
          .groupBy("doc_id", F.col("w").alias("term"))
          .agg(F.count("*").alias("tf")))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    denom = (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                 * F.col("n_docs") / F.col("sum_dl")))
    ts = (tf.join(F.broadcast(df), "term")
          .join(dl, "doc_id")
          .crossJoin(F.broadcast(corp))
          .select("doc_id",
                  F.round(idf * (F.col("tf") * (k1 + 1.0)) / denom
                          * 1000000).cast("bigint")
                  .alias("term_score_micro")))
    return ts.groupBy("doc_id").agg(F.sum("term_score_micro")
                                    .alias("score_micro"))


# ------------------------------------- CCNet-style perplexity buckets

@query("text_perplexity_buckets", oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    bge AS (
        SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT doc_id, lang,
                   unnest([{{'w1': t[i], 'w2': t[i+1]}}
                           for i in range(1, len(t))]) AS b
            FROM toks)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bge GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bge GROUP BY w1),
    ds AS (
        SELECT doc_id, any_value(lang) AS lang,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               {units_sum_sql('log2(c2 * 1.0 / c1)', 1000000)} AS s_micro
        FROM bge JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY doc_id
    ),
    val AS (
        SELECT doc_id, lang, n_bigrams,
               (s_micro * 1000) // n_bigrams AS v
        FROM ds
    ),
    rnk AS (
        SELECT lang, n_bigrams, v,
               row_number() OVER (ORDER BY v, doc_id) AS rr,
               count(*) OVER () AS nd
        FROM val
    ),
    bkt AS (
        SELECT lang, n_bigrams, v,
               CASE ((rr - 1) * 3) // nd
                    WHEN 0 THEN 'tail' WHEN 1 THEN 'middle'
                    ELSE 'head' END AS bucket
        FROM rnk
    )
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           CAST(sum(v) // count(*) AS BIGINT) AS mean_logp_nano
    FROM bkt GROUP BY lang, bucket
""")
def text_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus bigram LM (the SAME c2/c1
    normalization as `text_bigram_lm`), split the corpus into global
    head/middle/tail TERCILES of mean log-probability, and report the
    per-(lang, bucket) census — the partition CCNet feeds downstream
    so training can oversample the 'head' (fluent) slice.

    Exactness upgrade over the scorer key: each bigram's log2(c2/c1)
    is snapped to micro-units BEFORE the per-doc sum (exact BIGINT),
    and the per-doc ranking value is the integer DIV by bigram count
    (nano-log units) — so tercile membership is decided by pure
    integer comparison on both engines, with doc_id tie-breaks.
    Terciles use operators/ranking.distributed_rank (no corpus-wide
    single-partition window); docs with < 2 tokens have no bigrams
    and drop out of scoring on both engines identically. The big
    shuffle is the bigram groupBy the LM already pays; the count
    tables broadcast back onto the stream."""
    from ..operators.ranking import distributed_rank

    d = physical.fan_out(T(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("t"))
    bg = (toks.select("doc_id", "lang", F.explode(F.expr(
              "transform(slice(t, 1, size(t)-1),"
              " (x, i) -> struct(x AS w1, t[i+1] AS w2))")).alias("b"))
          .select("doc_id", "lang", "b.w1", "b.w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    ds = (bg.join(F.broadcast(c2), ["w1", "w2"])
          .join(F.broadcast(c1), ["w1"])
          .groupBy("doc_id", "lang")
          .agg(F.count("*").alias("n_bigrams"),
               units_sum(F.log2(F.col("c2") * 1.0 / F.col("c1")), 1000000)
               .alias("s_micro")))
    val = ds.select("doc_id", "lang", "n_bigrams",
                    F.expr("(s_micro * 1000) DIV n_bigrams").alias("v"))
    rnk = distributed_rank(val, "v", "doc_id", "rr")
    nd = val.agg(F.count("*").alias("nd"))
    bkt = (rnk.crossJoin(F.broadcast(nd))
           .select("lang", "n_bigrams", "v",
                   F.expr("CASE ((rr - 1) * 3) DIV nd WHEN 0 THEN 'tail'"
                          " WHEN 1 THEN 'middle' ELSE 'head' END")
                   .alias("bucket")))
    return (bkt.groupBy("lang", "bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_bigrams").alias("n_bigrams"),
                 F.expr("CAST(sum(v) DIV count(*) AS BIGINT)")
                 .alias("mean_logp_nano")))
