"""Search-extras pack (round 6, batch 82). The reference engine (294
LoC of Rust delegating to SQLite, reference src/main.rs) has no search
surface; three Tier-C mission operators extending the retrieval stack
(`text_bm25_search`, `search_hybrid_rrf`, `text_keyword_search`) with
the query-side machinery a search service layers on top:

- search_rocchio_prf: pseudo-relevance feedback (Rocchio) — retrieve
  top-5 docs for the query by exact term-frequency score (ties
  pinned by doc id), fold their term centroid into expansion
  weights alpha*q + beta*centroid (integer micro), report the top-10
  expansion terms (ties alphabetical). The log-free tf first stage
  keeps the whole loop integer-exact (the idf-weighted ranker is
  `text_bm25_search`).
- search_phrase_minspan: positional proximity — for the two-term
  query, each doc's minimal window containing both terms (min |i-j|
  + 1 over the per-doc position lists), histogrammed; docs with only
  one term counted separately. The positional-index operator behind
  phrase and NEAR queries.
- search_spell_suggest: did-you-mean — five deterministically
  corrupted vocabulary probes (the `linkage` corruption op), each
  suggested back against the corpus vocabulary by (edit distance <=
  2, frequency desc, word) — native levenshtein on both engines.

Scale shapes: the tf stage and position lists are per-doc bounded
explodes over the inverted-index shape; the spell probe table is 5
rows broadcast against the bounded vocabulary."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import physical
from .registry import query
from .relational import T

_QT = ("spark", "join")        # the two-term query
_ALPHA, _BETA = 1_000_000, 750_000      # Rocchio weights (micro)

_TOKENS_SQL = """
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
"""


@query("search_rocchio_prf", oracle=f"""
    WITH {_TOKENS_SQL},
    tf AS MATERIALIZED (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2
    ),
    scored AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
        FROM tf WHERE tok IN ('{_QT[0]}', '{_QT[1]}')
        GROUP BY doc_id
    ),
    top5 AS MATERIALIZED (
        SELECT doc_id FROM scored
        ORDER BY score DESC, doc_id LIMIT 5
    ),
    centroid AS (
        SELECT t.tok, CAST(sum(t.tf) * 1000000 // 5 AS BIGINT)
                   AS c_micro
        FROM tf t JOIN top5 USING (doc_id)
        GROUP BY t.tok
    ),
    expanded AS (
        SELECT tok,
               CAST(CASE WHEN tok IN ('{_QT[0]}', '{_QT[1]}')
                    THEN {_ALPHA} ELSE 0 END
                    + {_BETA} * c_micro // 1000000 AS BIGINT)
                   AS weight_micro
        FROM centroid
    )
    SELECT tok, weight_micro,
           CAST(row_number() OVER (ORDER BY weight_micro DESC, tok)
                AS BIGINT) AS rnk
    FROM expanded
    ORDER BY weight_micro DESC, tok LIMIT 10
""")
def search_rocchio_prf(spark, sf_dir):
    """Rocchio pseudo-relevance feedback: top-5 docs by exact query
    term frequency (ties pinned), their term centroid (mean tf in
    micros) folded into alpha*query + beta*centroid expansion
    weights, top-10 expansion terms out. Everything is one inverted
    tf table reused by the first stage and the centroid (MATERIALIZED
    / checkpointed); the query loop never rescans text."""
    d = T(spark, sf_dir, "documents")
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
          .transform(physical.cut))
    scored = (tf.where(F.col("tok").isin(*_QT))
              .groupBy("doc_id").agg(F.sum("tf").alias("score")))
    top5 = (scored.orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(5).select("doc_id"))
    centroid = (tf.join(F.broadcast(top5), "doc_id")
                .groupBy("tok")
                .agg(F.expr("sum(tf) * 1000000 div 5").cast("bigint")
                     .alias("c_micro")))
    expanded = centroid.select(
        "tok",
        (F.when(F.col("tok").isin(*_QT), _ALPHA).otherwise(0)
         + F.expr(f"{_BETA} * c_micro div 1000000")).cast("bigint")
        .alias("weight_micro"))
    w = Window.orderBy(F.col("weight_micro").desc(), F.col("tok"))
    return (expanded
            .withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rnk") <= 10)
            .select("tok", "weight_micro", "rnk"))


@query("search_phrase_minspan", oracle=f"""
    WITH pos AS (
        SELECT doc_id, unnest(lst, recursive := true)
        FROM (
            SELECT doc_id,
                   [{{'tok': t[i], 'pos': i}}
                    for i in range(1, len(t) + 1)] AS lst
            FROM (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents)
        )
    ),
    pa AS MATERIALIZED (
        SELECT doc_id, pos FROM pos WHERE tok = '{_QT[0]}'
    ),
    pb AS MATERIALIZED (
        SELECT doc_id, pos FROM pos WHERE tok = '{_QT[1]}'
    ),
    spans AS (
        SELECT a.doc_id,
               CAST(min(abs(a.pos - b.pos) + 1) AS BIGINT) AS minspan
        FROM pa a JOIN pb b ON a.doc_id = b.doc_id
        GROUP BY a.doc_id
    ),
    only_one AS (
        SELECT CAST((SELECT count(DISTINCT doc_id) FROM pa)
                  + (SELECT count(DISTINCT doc_id) FROM pb)
                  - 2 * (SELECT count(*) FROM spans) AS BIGINT)
                   AS n_single
    )
    SELECT least(minspan, 20) AS span_bucket,
           count(*) AS n_docs,
           (SELECT n_single FROM only_one) AS n_single_term_docs
    FROM spans GROUP BY 1
""")
def search_phrase_minspan(spark, sf_dir):
    """Phrase-proximity operator: per doc, the minimal token window
    containing both query terms (min |i - j| + 1 over the two
    position lists — the positional-index computation behind NEAR/
    phrase queries), histogrammed with a 20+ cap; docs holding only
    one of the terms are counted alongside. Position lists explode
    per doc (bounded by doc length); the pair scan is per-doc
    cross of two short lists."""
    d = T(spark, sf_dir, "documents")
    pos = (d.select("doc_id",
                    F.posexplode(F.split("text", " "))
                    .alias("pos0", "tok"))
           .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok"))
    pa = (pos.where(F.col("tok") == _QT[0])
          .select("doc_id", F.col("pos").alias("pos_a"))
          .transform(physical.cut))
    pb = (pos.where(F.col("tok") == _QT[1])
          .select(F.col("doc_id").alias("doc_b"),
                  F.col("pos").alias("pos_b"))
          .transform(physical.cut))
    spans = (pa.join(pb, pa["doc_id"] == F.col("doc_b"))
             .groupBy("doc_id")
             .agg(F.min(F.abs(F.col("pos_a") - F.col("pos_b")) + 1)
                  .cast("bigint").alias("minspan")))
    n_a = pa.select("doc_id").distinct().count()
    n_b = pb.select("doc_b").distinct().count()
    n_both = spans.count()
    n_single = n_a + n_b - 2 * n_both
    return (spans.groupBy(F.least(F.col("minspan"), F.lit(20))
                          .cast("bigint").alias("span_bucket"))
            .agg(F.count("*").alias("n_docs"))
            .select("span_bucket", "n_docs",
                    F.lit(n_single).cast("bigint")
                    .alias("n_single_term_docs")))


_PROBES = ("jion", "hassh", "batchh", "colmn", "sprak")


@query("search_spell_suggest", oracle=f"""
    WITH {_TOKENS_SQL},
    vocab AS MATERIALIZED (
        SELECT tok, CAST(count(*) AS BIGINT) AS freq
        FROM tok GROUP BY tok
    ),
    probes AS (
        SELECT unnest(['{_PROBES[0]}', '{_PROBES[1]}', '{_PROBES[2]}',
                       '{_PROBES[3]}', '{_PROBES[4]}']) AS probe
    ),
    cand AS (
        SELECT p.probe, v.tok, CAST(levenshtein(p.probe, v.tok)
                                    AS BIGINT) AS lev, v.freq
        FROM probes p CROSS JOIN vocab v
        WHERE levenshtein(p.probe, v.tok) <= 2
    )
    SELECT probe, tok AS suggestion, lev, freq,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT probe, tok, lev, freq,
               row_number() OVER (PARTITION BY probe
                                  ORDER BY lev, freq DESC, tok) AS rnk
        FROM cand
    ) WHERE rnk <= 3
""")
def search_spell_suggest(spark, sf_dir):
    """Did-you-mean suggestions: five pinned misspelled probes matched
    against the corpus vocabulary by native levenshtein (<= 2 edits),
    ranked by (distance, frequency desc, word) — the standard
    spell-correction ordering. The probe table broadcasts against
    the bounded vocabulary; at web scale the vocabulary side is
    blocked by length/first-letter exactly like the `linkage`
    blocking pass."""
    d = T(spark, sf_dir, "documents")
    vocab = (d.select(F.explode(F.split("text", " ")).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("freq"))
             .transform(physical.cut))
    probes = spark.createDataFrame([(p,) for p in _PROBES], ["probe"])
    cand = (vocab.crossJoin(F.broadcast(probes))
            .select("probe", "tok",
                    F.levenshtein("probe", "tok").cast("bigint")
                    .alias("lev"), "freq")
            .where(F.col("lev") <= 2))
    w = Window.partitionBy("probe").orderBy(
        "lev", F.col("freq").desc(), F.col("tok"))
    return (cand.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rnk") <= 3)
            .select("probe", F.col("tok").alias("suggestion"),
                    "lev", "freq", "rnk"))
