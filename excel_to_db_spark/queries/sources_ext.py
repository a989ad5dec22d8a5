"""Additional source/sink round trips: built-in XML, binaryFile
ingestion, the text line source, and the foreachBatch streaming sink.

The reference's I/O surface is xlsx/CSV/SQLite (reference
src/main.rs:49-128, 264-286) — covered in queries/parity.py,
queries/roundtrip.py and queries/storage.py. This module completes the
format matrix with the remaining built-in Spark sources a pipeline at
scale actually uses:

- `xml_roundtrip` — Spark 4's built-in XML source/sink (per-file
  streaming StAX parse on executors; rowTag splits records).
- `multimodal_binary_ingest` — `binaryFile`: THE ingest path for 100 TB
  of images/audio (one row per file: path/length/content), here driven
  over deterministic .bin payloads so DuckDB can verify checksums.
- `text_source_lines` — `text` source (one row per line), the raw-corpus
  entry point; explicit split instead of schema inference.
- `stream_foreachbatch` — the escape-hatch streaming sink: per-micro-
  batch parquet writes into epoch-keyed directories, idempotent under
  retry because the epoch id names the output (re-running a batch
  overwrites its own directory, never duplicates).

Every round trip returns data the DuckDB oracle recomputes from the
ORIGINAL parquet, proving the hop lossless — not just that it ran.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from ..numerics import cents_sum, cents_sum_sql, units_sum, units_sum_sql
from .registry import query, scratch_dir
from .relational import T


@query("xml_roundtrip", oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
           o_orderpriority
    FROM orders WHERE o_orderkey % 250 = 0
""")
def xml_roundtrip(spark, sf_dir):
    """XML sink + source round trip with Spark 4's built-in XML data
    source: write a filtered projection (executor-parallel part files,
    rowTag=order), read back with an EXPLICIT schema — never inference,
    which would re-scan and guess types. XML parsing is per-file
    streaming StAX on executors, so a directory of feeds scales like any
    other splittable-by-file source. Doubles are pre-rounded to 2dp so
    the text hop carries short exact decimals."""
    out = scratch_dir("xmlrt")
    (T(spark, sf_dir, "orders")
     .filter(F.col("o_orderkey") % 250 == 0)
     .select("o_orderkey", "o_orderstatus",
             F.round("o_totalprice", 2).alias("price"), "o_orderpriority")
     .write.mode("overwrite").format("xml")
     .option("rowTag", "order").option("rootTag", "orders").save(out))
    schema = Ty.StructType([
        Ty.StructField("o_orderkey", Ty.LongType()),
        Ty.StructField("o_orderstatus", Ty.StringType()),
        Ty.StructField("price", Ty.DoubleType()),
        Ty.StructField("o_orderpriority", Ty.StringType()),
    ])
    return (spark.read.format("xml").schema(schema)
            .option("rowTag", "order").load(out))


@query("multimodal_binary_ingest", oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum
    FROM documents
""")
def multimodal_binary_ingest(spark, sf_dir):
    """The binaryFile ingest path — how 100 TB of images/audio actually
    enters Spark: one row per file with (path, length, content binary).
    Here each document's utf-8 bytes are materialized as a .bin file by
    an executor-side foreachPartition (distributed write, no driver
    loop), re-ingested via binaryFile, and reduced to
    (doc_id, n_bytes, md5) so DuckDB verifies the bytes crossed the
    filesystem hop intact. Metadata-only reads of a binaryFile table
    prune the content column entirely (same column-pruning contract as
    operators/multimodal.py)."""
    out = scratch_dir("bin")

    def write_part(rows):
        for r in rows:
            path = os.path.join(out, f"doc-{r['doc_id']}.bin")
            with open(path, "wb") as fh:
                fh.write(r["text"].encode("utf-8"))

    T(spark, sf_dir, "documents").select("doc_id", "text") \
        .foreachPartition(write_part)
    bf = (spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin").load(out))
    return bf.select(
        F.regexp_extract(F.col("path"), r"doc-(\d+)\.bin$", 1)
         .cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("checksum"))


@query("text_source_lines", oracle="""
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(text) AS checksum
    FROM documents
""")
def text_source_lines(spark, sf_dir):
    """The text line source — the raw-corpus entry point (one row per
    line, a single `value` string column): documents exported as
    tab-separated lines (executor-parallel), re-read with spark.read.text,
    split explicitly (limit=2 so tabs in the payload would stay intact),
    and reduced to token counts + checksum the oracle recomputes from
    the original parquet. No schema inference anywhere on the hop."""
    out = scratch_dir("txt")
    (T(spark, sf_dir, "documents")
     .select(F.concat_ws("\t", F.col("doc_id"), F.col("text"))
             .alias("value"))
     .write.mode("overwrite").text(out))
    back = spark.read.text(out)
    parsed = (back.select(F.split("value", "\t", 2).alias("p"))
              .select(F.col("p")[0].cast("bigint").alias("doc_id"),
                      F.col("p")[1].alias("text")))
    return parsed.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("checksum"))


@query("variant_json", oracle="""
    SELECT event_type,
           count(*) FILTER (WHERE CAST(props ->> 'k' AS BIGINT) IS NOT NULL)
               AS n_with_k,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
""")
def variant_json(spark, sf_dir):
    """The VARIANT type (Spark 4): semi-structured props parsed ONCE
    into the binary-encoded variant form, then typed extractions with
    the `v:path` / variant_get surface. At 100 TB this is the
    shred-once-read-many contract for semi-structured columns — parquet
    stores the encoded variant, and every downstream extraction skips
    re-parsing the JSON text (unlike get_json_object, which re-parses
    per call). The oracle states the same extraction over the raw JSON."""
    ev = T(spark, sf_dir, "events")
    v = ev.select("event_type",
                  F.parse_json(F.col("props")).alias("v"))
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (v.groupBy("event_type")
            .agg(F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
                 F.sum(k).alias("sum_k"),
                 F.max(k).alias("max_k")))


@query("stream_state_inspect", oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {cents_sum_sql('value')}
             AS sum_value
    FROM events GROUP BY event_type
""")
def stream_state_inspect(spark, sf_dir):
    """The state-store data source (Spark 4 operational tooling): run a
    checkpointed streaming aggregation, then read its STATE back with
    spark.read.format('statestore') — the way production debugs "what
    is this query holding per key" without stopping the stream. On the
    drained finite replay, the flattened state rows ARE the batch
    aggregation, so the batch GROUP BY is an exact oracle for the
    state contents themselves."""
    from ..streaming import replay

    ckpt = scratch_dir("state")
    counts = (replay.events_stream_reader(spark, sf_dir)
              .groupBy("event_type")
              .agg(F.count("*").alias("n_events"),
                   units_sum(F.col("value"), 100)
                   .alias("cents")))
    replay.drain(spark, counts, "complete", checkpoint=ckpt)
    # State rows carry the AGGREGATION BUFFER per key (internal field
    # names `count`/`sum`): the exact integer-cents accumulator, not the
    # formatted output — finish the division here, as the operator's
    # emit step would.
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        F.round(F.col("value.sum") / 100.0, 2).alias("sum_value"))


@query("json_malformed_handling", oracle=f"""
    SELECT count(*) FILTER (WHERE event_id % 10 <> 0) AS n_good,
           count(*) FILTER (WHERE event_id % 10 = 0)  AS n_corrupt,
           {cents_sum_sql('value', where='event_id % 10 <> 0')}
             AS sum_value_good
    FROM events
""")
def json_malformed_handling(spark, sf_dir):
    """Malformed-record handling — the source feature every real corpus
    ingest needs: events serialized to JSONL with every 10th record
    deterministically corrupted (a '#' prefix breaks the JSON), read
    back under PERMISSIVE mode with an explicit _corrupt_record column.
    Corrupt rows surface as (NULL fields + raw line) instead of failing
    the job or silently vanishing; the oracle recomputes good/corrupt
    counts and the cents-exact good-rows sum from the original parquet.
    (DROPMALFORMED/FAILFAST are the same scan with a different policy
    knob.)"""
    out = scratch_dir("badjson")
    ev = (T(spark, sf_dir, "events")
          .select("event_id",
                  F.to_json(F.struct("event_id", "event_type", "value"))
                  .alias("j")))
    (ev.select(F.when(F.col("event_id") % 10 == 0,
                      F.concat(F.lit("#"), F.col("j")))
               .otherwise(F.col("j")).alias("value"))
     .write.mode("overwrite").text(out))
    schema = ("event_id bigint, event_type string, value double, "
              "_corrupt_record string")
    back = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(out))
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
         .alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
         .alias("n_corrupt"),
        cents_sum(F.col("value")).alias("sum_value_good"))


@query("stream_foreachbatch", oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {cents_sum_sql('value')}
             AS sum_value
    FROM events WHERE value > 2.0 GROUP BY event_type
""")
def stream_foreachbatch(spark, sf_dir):
    """foreachBatch — the streaming sink escape hatch (arbitrary batch
    logic per micro-batch). Idempotence contract: the epoch id names the
    output directory and the write is mode('overwrite'), so a retried
    micro-batch replaces its own directory instead of appending
    duplicates — the standard exactly-once recipe for non-transactional
    targets. The replayed events stream is filtered and written per
    batch; the read-back union over all epochs must equal the batch
    query on the original parquet (the oracle)."""
    from ..streaming import replay

    out = scratch_dir("feb")
    ckpt = scratch_dir("feb_ckpt")

    def write_batch(df, epoch_id: int) -> None:
        (df.filter(F.col("value") > 2.0)
           .select("event_id", "event_type", "value")
           .write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}"))

    writer = (replay.events_stream_reader(spark, sf_dir)
              .writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", ckpt))
    replay.run_scoped(spark, writer)
    back = spark.read.parquet(out)  # partition discovery over epoch=N
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 cents_sum(F.col("value")).alias("sum_value")))


@query("csv_malformed_handling", oracle=f"""
    SELECT count(*) FILTER (WHERE event_id % 10 <> 0) AS n_good,
           count(*) FILTER (WHERE event_id % 10 = 0)  AS n_corrupt,
           {cents_sum_sql('value', where='event_id % 10 <> 0')}
             AS sum_value_good
    FROM events
""")
def csv_malformed_handling(spark, sf_dir):
    """CSV counterpart of json_malformed_handling — the other ingest
    format real pipelines get dirty files in. Every 10th record's
    numeric field is deterministically corrupted (a non-numeric token),
    then read back under PERMISSIVE with _corrupt_record: a type
    mismatch yields NULL fields + the raw line, never a failed job or
    a silently dropped row. The oracle recomputes good/corrupt counts
    and the cents-exact good sum from the original parquet.

    Scale note: malformed handling is a per-row codepath inside the
    same vectorized scan — no extra pass, no driver involvement, and
    the corrupt-rows side can be routed to a quarantine sink with one
    filter."""
    out = scratch_dir("badcsv")
    ev = (T(spark, sf_dir, "events")
          .select("event_id", "event_type",
                  F.when(F.col("event_id") % 10 == 0, F.lit("oops"))
                  .otherwise(F.col("value").cast("string"))
                  .alias("value")))
    ev.write.mode("overwrite").option("header", "true").csv(out)
    schema = ("event_id bigint, event_type string, value double, "
              "_corrupt_record string")
    back = (spark.read.schema(schema)
            .option("header", "true")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(out))
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
         .alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
         .alias("n_corrupt"),
        cents_sum(F.col("value")).alias("sum_value_good"))


@query("xml_function_parse", oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           {units_sum_sql('o_totalprice', 100)}
               AS cents
    FROM orders WHERE o_orderkey % 50 = 0
    GROUP BY o_orderpriority
""")
def xml_function_parse(spark, sf_dir):
    """The from_xml EXPRESSION surface (Spark 4) — the other half of
    the XML story next to the xml_roundtrip SOURCE: event feeds often
    arrive as an XML payload COLUMN inside another table (queue
    envelope, CDC blob), where a file-level XML source never applies.
    Each order row is serialized to an XML fragment with codegen'd
    string concat, parsed back by from_xml with an explicit schema
    (never schema inference on a hot path), and aggregated; the oracle
    recomputes from the original columns, proving the serialize->parse
    hop lossless. Money crosses the text hop as integer cents so no
    float formatting is involved. All JVM-side: from_xml is a catalyst
    expression, so pushdown/codegen survive (unlike a Python XML UDF)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    xml = F.concat(
        F.lit("<o><k>"), F.col("o_orderkey"),
        F.lit("</k><p>"), F.col("o_orderpriority"),
        F.lit("</p><c>"),
        F.round(F.col("o_totalprice") * 100).cast("bigint"),
        F.lit("</c></o>"))
    parsed = o.select(F.from_xml(
        xml, "k BIGINT, p STRING, c BIGINT").alias("x"))
    return (parsed.groupBy(F.col("x.p").alias("o_orderpriority"))
            .agg(F.count("*").alias("n"),
                 F.sum("x.c").alias("cents")))
