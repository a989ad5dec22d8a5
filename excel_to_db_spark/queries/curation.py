"""Corpus-curation operators (round 5): the ordering/packaging steps a
training-data pipeline runs AFTER cleaning and dedup — deterministic
epoch shuffling, byte-balanced shard packing, temperature-weighted
source interleaving, within-document chunk dedup, and the runtime
Bloom-pruned join. The reference engine (294 LoC, SQLite passthrough)
has none of this surface; these are the Tier-C extensions the 100 TB
mission statement asks for.

Every key is integer-exact or hash-exact cross-engine: permutation keys
are md5 strings (same bytes on Spark and DuckDB), pacing keys and shard
boundaries are integer arithmetic, so the DuckDB oracles reproduce the
results bit-for-bit with no float-rounding contract needed.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import query
from .relational import T
from ..numerics import units_sum, units_sum_sql


# ------------------------------------------------ deterministic shuffle

@query("shuffle_epoch", oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5('epoch7:' || CAST(doc_id AS VARCHAR)), doc_id)
             AS BIGINT) AS pos
    FROM documents
""")
def shuffle_epoch(spark, sf_dir):
    """Deterministic global epoch shuffle: every training epoch needs a
    reproducible permutation of the corpus; seeding by (epoch, doc_id)
    through md5 gives one that any worker (or engine) can recompute
    independently — no stored permutation table, no RNG state.

    Scale shape: an unpartitioned row_number() would single-task the
    corpus, so the rank is two-phase — md5 keys are uniform by
    construction, so the FIRST HEX BYTE is a perfect 256-way range
    partitioner (no percentile sampling pass needed, unlike
    operators/ranking.py:distributed_rank which handles arbitrary
    skew): rank locally within each bucket, then add broadcast prefix
    offsets of the 256 bucket counts."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    key = F.md5(F.concat(F.lit("epoch7:"), F.col("doc_id").cast("string")))
    b = d.select("doc_id", key.alias("k"),
                 F.conv(F.substring(key, 1, 2), 16, 10)
                 .cast("int").alias("_bkt"))
    wloc = W.partitionBy("_bkt").orderBy("k", "doc_id")
    loc = b.withColumn("_lr", F.row_number().over(wloc).cast("bigint"))
    cnts = b.groupBy("_bkt").agg(F.count("*").alias("_c"))
    woff = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = cnts.select("_bkt", F.coalesce(F.sum("_c").over(woff), F.lit(0))
                       .alias("_off"))
    return (loc.join(F.broadcast(offs), "_bkt")
            .select("doc_id", (F.col("_off") + F.col("_lr")).alias("pos")))


# ------------------------------------------------- balanced shard packing

@query("shard_pack", oracle="""
    WITH c AS (
        SELECT doc_id, n_chars,
               coalesce(sum(n_chars) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cum_before,
               sum(n_chars) OVER () AS total
        FROM documents
    )
    SELECT doc_id, CAST(cum_before AS BIGINT) AS cum_before,
           CAST((cum_before * 16) // total AS BIGINT) AS shard
    FROM c
""")
def shard_pack(spark, sf_dir):
    """Byte-balanced shard assignment: cut the doc_id-ordered corpus
    into 16 output shards of near-equal byte budget (each shard within
    one max-document of total/16) — the "write N equal tfrecord/parquet
    shards" step of every corpus export. shard = (bytes_before * 16)
    div total_bytes, all integer-exact.

    Scale shape: the exclusive byte prefix sum uses the two-phase
    bucket pattern (operators/ranking.py:distributed_prefix_sum — no
    single-partition window over the corpus); total is one scalar
    broadcast."""
    from ..operators.ranking import distributed_prefix_sum

    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pre = distributed_prefix_sum(d, "doc_id", "n_chars", "cum_before")
    tot = d.agg(F.sum("n_chars").alias("_tot"))
    return (pre.crossJoin(F.broadcast(tot))
            .select("doc_id", F.col("cum_before").cast("bigint")
                    .alias("cum_before"),
                    F.expr("CAST((cum_before * 16) DIV _tot AS BIGINT)")
                    .alias("shard")))


# ------------------------------------- temperature-weighted interleaving

@query("mixture_interleave", oracle="""
    WITH r AS (
        SELECT doc_id, lang,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                 AS BIGINT) AS rank_in_lang,
               CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
        FROM documents
    ),
    k AS (
        SELECT doc_id, lang, rank_in_lang,
               CAST((rank_in_lang * rank_in_lang * 1000000) // n_lang
                 AS BIGINT) AS mix_key
        FROM r
    )
    SELECT doc_id, lang, rank_in_lang, mix_key,
           CAST(row_number() OVER (ORDER BY mix_key, doc_id) AS BIGINT)
               AS pos
    FROM k
""")
def mixture_interleave(spark, sf_dir):
    """Temperature-weighted corpus interleaving (tau = 0.5): order the
    mixed corpus so that source (language) s emits its k-th document at
    pace k^2 / n_s — at stream time t each source's instantaneous share
    is proportional to sqrt(n_s), the classic temperature-sampling
    compromise between proportional mixing (drowns rare languages) and
    uniform mixing (over-samples them). The pacing key is pure integer
    arithmetic ((k^2 * 1e6) div n_s, k <= n_s <= 1e6 stays < 2^63), so
    the interleave order is engine-exact, reproducible, and needs no
    RNG.

    Scale shape: rank-within-source is a per-source window (the natural
    partitioning — each source shuffles once); the global position over
    the integer pacing key uses the percentile-bucketed
    distributed_rank, not a single-partition window."""
    from ..operators.ranking import distributed_rank

    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    wl = W.partitionBy("lang").orderBy("doc_id")
    r = d.select(
        "doc_id", "lang",
        F.row_number().over(wl).cast("bigint").alias("rank_in_lang"),
        F.count("*").over(W.partitionBy("lang")).cast("bigint")
        .alias("n_lang"))
    k = r.select(
        "doc_id", "lang", "rank_in_lang",
        F.expr("CAST((rank_in_lang * rank_in_lang * 1000000) DIV n_lang "
               "AS BIGINT)").alias("mix_key"))
    ranked = distributed_rank(k, "mix_key", "doc_id", "pos")
    return ranked.select("doc_id", "lang", "rank_in_lang", "mix_key",
                         F.col("pos").cast("bigint").alias("pos"))


# --------------------------------------- within-document chunk dedup

@query("text_chunk_dedup", oracle="""
    WITH c AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    ch AS (
        SELECT doc_id,
               [array_to_string(t[i * 5 + 1 : i * 5 + 5], ' ')
                for i in range(0, CAST(ceil(len(t) / 5.0) AS BIGINT))]
                   AS chunks
        FROM c
    ),
    kept AS (
        SELECT doc_id, chunks,
               [chunks[i] for i in range(1, len(chunks) + 1)
                if list_position(chunks, chunks[i]) = i] AS kc
        FROM ch
    )
    SELECT doc_id,
           CAST(len(chunks) AS BIGINT) AS n_chunks,
           CAST(len(kc) AS BIGINT) AS n_kept,
           md5(array_to_string(kc, ' ')) AS clean_md5
    FROM kept
""")
def text_chunk_dedup(spark, sf_dir):
    """Within-document boilerplate removal: split each document into
    non-overlapping 5-word chunks, drop every repeat of a chunk already
    seen earlier in the SAME document (first occurrence wins, order
    preserved), and fingerprint the cleaned text — the intra-doc
    companion to the cross-doc dedup family (copy-pasted headers,
    repeated navigation strata). First-occurrence-keep is expressed as
    array_position(chunks, chunk) == index, identical in both engines.

    Pure per-row array arithmetic — zero shuffles, scales with corpus
    bytes; the cleaned text never leaves the executor (only its md5
    does)."""
    d = T(spark, sf_dir, "documents")
    chunks = F.expr(
        "transform(sequence(0, cast(ceil(size(split(text, ' ')) / 5.0) "
        "as int) - 1), i -> array_join(slice(split(text, ' '), i*5 + 1, 5), "
        "' '))")
    c = d.select("doc_id", chunks.alias("chunks"))
    kept = F.expr(
        "transform(filter(transform(sequence(1, size(chunks)), i -> "
        "struct(i AS i, element_at(chunks, i) AS ck)), s -> "
        "array_position(chunks, s.ck) = s.i), s -> s.ck)")
    return c.select(
        "doc_id",
        F.size("chunks").cast("bigint").alias("n_chunks"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("clean_md5"))


# --------------------------------------------- runtime Bloom-pruned join

@query("join_bloom_pruned", oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           {units_sum_sql('l_extendedprice', 100)}
               AS cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 450000.0 AND o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
""")
def join_bloom_pruned(spark, sf_dir):
    """Selective fact-dim join under Spark's runtime Bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled, default on in
    Spark 4): the selective predicate lives on orders, and the optimizer
    may inject a bloom_filter_might_contain() probe into the lineitem
    scan so non-matching fact rows die before the shuffle — the runtime
    cousin of static partition pruning, and THE join shape for a 100 TB
    fact table joined to a filtered dimension. (At local[32] test scale
    the 10 MiB creation-side threshold usually keeps the rewrite off;
    tests/test_curation.py asserts the conf surface and that results
    are invariant either way — the semantics must never depend on
    whether the probe fired.)"""
    le = T(spark, sf_dir, "lineitem")
    o = (T(spark, sf_dir, "orders")
         .filter((F.col("o_totalprice") > 450000.0)
                 & (F.col("o_orderpriority") == "1-URGENT")))
    return (le.join(o, le.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_lines"),
                 units_sum(F.col("l_extendedprice"), 100).alias("cents")))
