"""Text-analysis operators for a training-data pipeline (SURVEY.md §2.C).

The reference's only text surface is SQLite's scalar string functions
through the passthrough (reference src/main.rs:220). These extend it with
the corpus-preparation family: token statistics, quality scoring,
language identification, and document fingerprinting — all as pure
column expressions (split / explode / aggregate / regexp), JVM-side and
shuffle-minimal, so they run unchanged over 100 TB of documents.

Determinism discipline: every function here is expressible in ANSI-ish
SQL (the DuckDB oracle runs the same arithmetic), so each gets a real
value-hash check rather than a rows-only one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..numerics import h32

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and oracle-expressible; real corpora would use
# fastText-style models (not available in this env — the heuristic IS the
# operator, the model would be a drop-in column swap).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "es": ("el", "la", "de", "que", "y", "un", "es"),
    "fr": ("le", "la", "les", "et", "un", "est", "que"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the corpus is single-spaced)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text))).cast("bigint")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish sub-word proxy: count of [a-z]+ / digit-runs / other-symbol
    matches. A stand-in for a real tokenizer's token count — the regex is
    deliberately RE2-safe so DuckDB's regexp_extract_all agrees."""
    return F.size(F.regexp_extract_all(text, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)) \
            .cast("bigint")


def stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in `words` (with multiplicity)."""
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text),
                           lambda t: F.array_contains(wordset, t))).cast("bigint")


def quality_score(t: Column) -> Column:
    """Composite document quality score in [0,1] — THE one definition
    (product of clamped length / lexical-diversity / stopword-fluency
    sub-scores) shared by quality_features, pipeline_training_data, and
    dedup_quality_keep_best; a threshold tuned here moves every
    consumer together. Unrounded: call sites round per their contract.
    Note (n_dis/n)*2 and (2*n_dis)/n are IEEE-identical (scaling by 2
    is exact), so either spelling matches the SQL oracles."""
    n_tok = token_count(t)
    n_dis = distinct_token_count(t)
    stop = stopword_hits(t, LANG_STOPWORDS["en"])
    return (F.least(n_tok / 20.0, F.lit(1.0))
            * F.least(n_dis * 2.0 / n_tok, F.lit(1.0))
            * F.least(stop * 10.0 / n_tok, F.lit(1.0)))


def quality_features(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features + a composite score in [0,1]:

    - n_tok: token count; type_token_ratio: lexical diversity;
    - mean_tok_len: average token length;
    - stop_ratio: fraction of English stopwords (fluency proxy);
    - score: product of clamped sub-scores (each in [0,1]).

    One projection, zero shuffles."""
    t = F.col(text_col)
    n_tok = token_count(t)
    n_dis = distinct_token_count(t)
    mean_len = ((F.length(t) - n_tok + 1) / n_tok)  # single-spaced text
    stop = stopword_hits(t, LANG_STOPWORDS["en"])
    ttr = n_dis / n_tok
    score = quality_score(t)
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tok"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(mean_len, 6).alias("mean_tok_len"),
        F.round(stop / n_tok, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality_score"))


def langid(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
           ) -> DataFrame:
    """Stopword-vote language ID: predicted lang = argmax over languages
    of stopword hits, ties broken by language code ascending (so the
    result is deterministic and the SQL twin can state the same rule)."""
    t = F.col(text_col)
    scores = [(lang, stopword_hits(t, words))
              for lang, words in sorted(LANG_STOPWORDS.items())]
    # argmax with lexicographic tie-break: fold over (score, lang) pairs.
    best_lang, best_score = F.lit(scores[0][0]), scores[0][1]
    for lang, s in scores[1:]:
        better = s > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, s).otherwise(best_score)
    return df.select(F.col(id_col), best_lang.alias("pred_lang"),
                     best_score.alias("stop_hits"))


def fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 hex of the sorted
    distinct token set (the canonical normalized-exact-dup key)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def rolling_fingerprint(text: Column) -> Column:
    """Order-SENSITIVE rolling fingerprint: polynomial hash over token
    md5-prefixes, h = (h*131 + tok_h) mod 2^31-1. The modulus keeps every
    intermediate < 2^40, far from int64 overflow, so the arithmetic is
    exact in any engine and the DuckDB twin states the same fold.
    Distinguishes reordered docs that `fingerprint` collides."""
    tok_h = F.transform(tokens(text), h32)
    m = F.lit((1 << 31) - 1)
    return F.aggregate(tok_h, F.lit(0).cast("bigint"),
                       lambda acc, h: (acc * 131 + h) % m)


def word_ngrams(text: Column, n: int) -> Column:
    """All word n-grams of a document as space-joined strings (the unit
    of exact-substring overlap detection / decontamination). Documents
    shorter than n tokens yield an empty array, not an error — guarded
    because Spark's sequence(1, k) with k <= 0 would count DOWNWARD."""
    toks = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams) \
            .otherwise(F.array().cast("array<string>"))


def token_frequencies(df: DataFrame, text_col: str = "text",
                      min_count: int = 1) -> DataFrame:
    """Corpus-level token frequency table: explode + count. The classic
    wordcount — one shuffle on token, map-side partial aggregation."""
    return (df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_count))
