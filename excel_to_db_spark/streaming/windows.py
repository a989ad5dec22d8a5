"""Event-time window aggregations, batch + streaming from one definition.

`tumbling_agg` / `session_agg` are plain DataFrame transforms: applied to
a batch DataFrame they are ordinary window aggregations (DuckDB-oracle
checkable); applied to a streaming DataFrame they become stateful
streaming aggregates. `run_tumbling_stream` replays the events parquet
through a real file-source stream and returns the materialized result —
proving the operator runs under the streaming engine, not just batch.

Scale notes (streaming at production rates):

- Tumbling windows with a watermark bound state: expired windows are
  evicted once the watermark passes window.end + no late data can arrive.
- `availableNow` trigger = incremental backfill of a parquet directory
  with streaming semantics (the standard replay/bootstrap path).
- The memory sink is test-only; production uses kafka/delta/parquet
  sinks through the same writeStream call.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import physical

# Exact money sum in integer cents, batch or micro-batch (single
# definition: numerics.py).
from ..numerics import cents_sum as _cents_sum  # noqa: E402


def run_scoped(spark: SparkSession, writer, state_partitions: int = 8):
    """Start a (finite-replay) streaming query with a state-sized
    shuffle-partition scope and block until it drains.

    The number of state-store instances a streaming query creates is
    `spark.sql.shuffle.partitions` AT QUERY START (it is pinned in the
    checkpoint afterwards), and every instance pays a fixed per-commit
    cost (delta file + CRC + snapshot bookkeeping) regardless of how
    little state it holds. State partitioning should therefore track
    STATE SIZE, not CPU count: at the test corpus's ~1e5-row state, 32
    partitions spend 4x longer committing empty stores than joining
    (measured on stream_stream_join at sf0.1: 10.6s at 32 partitions,
    2.8s at 4). Results are identical — only parallelism of the state
    backend changes. At production rates, size this to
    rate x (watermark + interval) / target-partition-bytes instead.
    The session's conf is restored afterwards either way."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.start()
        q.awaitTermination()
        return q                    # drained; callers may read progress
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def tumbling_agg(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Tumbling event-time windows: count + sum(value) per window.
    Batch and streaming share this exact plan fragment."""
    return (events
            .groupBy(F.window("ts", width).alias("win"))
            .agg(F.count("*").alias("n_events"),
                 _cents_sum(F.col("value")).alias("sum_value"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "n_events", "sum_value"))


def hopping_agg(events: DataFrame, width: str = "10 minutes",
                slide: str = "5 minutes") -> DataFrame:
    """Hopping (sliding) event-time windows: width/slide overlap means
    each event lands in width/slide windows. Same fragment runs batch
    (events_hopping) and streaming (stream_hopping)."""
    return (events
            .groupBy(F.window("ts", width, slide).alias("win"))
            .agg(F.count("*").alias("n_events"),
                 _cents_sum(F.col("value")).alias("sum_value"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "n_events", "sum_value"))


def session_agg(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Session windows per user: a session extends while consecutive
    events arrive within `gap`; end = last event + gap (Spark
    session_window semantics, matched by the gaps-and-islands oracle)."""
    return (events
            .groupBy("user_id", F.session_window("ts", gap).alias("sess"))
            .agg(F.count("*").alias("n_events"),
                 _cents_sum(F.col("value")).alias("sum_value"))
            .select("user_id",
                    F.col("sess.start").alias("sess_start"),
                    F.col("sess.end").alias("sess_end"),
                    "n_events", "sum_value"))


def table_stream_reader(spark: SparkSession, sf_dir: str, table: str,
                        max_files_per_trigger: int | None = None
                        ) -> DataFrame:
    """readStream over one testdata table's parquet file. The file
    source needs an explicit schema (taken from a batch read) and a
    directory basePath — the sf dir holds every table, so the single
    table file is selected with a glob filter. One definition for every
    table-replay streaming key (events_stream_reader layers the events
    ts normalization on top)."""
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    reader = spark.readStream.schema(schema).format("parquet") \
        .option("pathGlobFilter", f"{table}.parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.load(sf_dir)


def events_stream_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (table_stream_reader plus the
    events ts normalization).

    The raw `ts` arrives as TIMESTAMP_NTZ (timestamp[us]-no-tz parquet)
    or, under nanosAsLong, as a nanosecond long — neither is accepted by
    `withWatermark` (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE for NTZ), so the
    shared `tables.normalize_event_ts` converts to TimestampType exactly
    as the batch loader does; batch and stream share one normalization."""
    from ..session import require_utc
    from ..tables import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    require_utc(spark)
    return normalize_event_ts(table_stream_reader(spark, sf_dir, "events"))


def run_tumbling_stream(spark: SparkSession, sf_dir: str,
                        width: str = "10 minutes",
                        watermark: str = "30 minutes") -> DataFrame:
    """Replay events through Structured Streaming, aggregate with
    `tumbling_agg`, materialize via a memory sink, return the result.

    Complete output mode: on finite replayed input the final state equals
    the batch aggregation exactly, so the batch DuckDB oracle verifies the
    streaming path value-for-value. (Append mode + watermark is the
    production configuration; complete mode keeps the contract exact —
    append would hold back windows newer than max(ts) - watermark.)"""
    name = f"tumbling_{uuid.uuid4().hex[:8]}"
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    q = (tumbling_agg(stream, width)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_hopping_stream(spark: SparkSession, sf_dir: str,
                       width: str = "10 minutes",
                       slide: str = "5 minutes",
                       watermark: str = "30 minutes") -> DataFrame:
    """Replay events through Structured Streaming with hopping windows;
    complete mode on finite input == the batch aggregation (see
    run_tumbling_stream for the reasoning). State per overlapping window
    is still watermark-bounded: width/slide live windows per key."""
    name = f"hopping_{uuid.uuid4().hex[:8]}"
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    q = (hopping_agg(stream, width, slide)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_session_stream(spark: SparkSession, sf_dir: str,
                       gap: str = "5 minutes",
                       watermark: str = "30 minutes") -> DataFrame:
    """Session-window aggregation executed by the Structured Streaming
    engine (the stateful merging-session operator): events replayed via
    the file source, sessions per user merged in the state store as
    events arrive, materialized through a memory sink.

    Complete output mode on finite replayed input => final state equals
    the batch `session_agg`, so the batch gaps-and-islands oracle
    verifies the streaming operator value-for-value (append mode would
    withhold sessions newer than max(ts) - watermark; see
    run_tumbling_stream for the same reasoning)."""
    name = f"session_{uuid.uuid4().hex[:8]}"
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    q = (session_agg(stream, gap)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_stream_dedup(spark: SparkSession, sf_dir: str,
                     watermark: str = "1 hour") -> DataFrame:
    """Streaming deduplication: the events file replayed through TWO
    stream sources unioned (every event arrives twice), deduplicated by
    (event_id, ts) under a watermark — the state-store dedup pattern.
    The watermark bounds state: ids older than max(ts) - watermark are
    evicted, which is what makes dedup feasible on an unbounded stream.
    Finite replay => output equals DISTINCT event_id of the batch table."""
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    a = events_stream_reader(spark, sf_dir)
    b = events_stream_reader(spark, sf_dir)
    q = (a.union(b)
         .withWatermark("ts", watermark)
         .dropDuplicates(["event_id", "ts"])
         .select("event_id")
         .writeStream.outputMode("append")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_stream_stream_join(spark: SparkSession, sf_dir: str,
                           within: str = "10 minutes",
                           watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream interval join: click events joined to the view
    events that follow them within `within`, per user — both sides are
    real file-source streams with their own watermarks, so this runs the
    symmetric-hash-join operator with watermark-bounded state on BOTH
    sides (the missing-piece operator beyond stream-static enrichment).

    State story at production rates: each side buffers only rows newer
    than its watermark minus the join's time bound — the interval
    condition lets the engine evict a click once watermark >
    click_ts + within (no view can match it anymore), so state is
    O(rate x (watermark + within)), not O(stream).

    Inner join + finite replay => every matched pair is emitted exactly
    once regardless of watermark timing, so the batch self-join SQL is
    an exact oracle (append is the only supported mode here)."""
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    clicks = (events_stream_reader(spark, sf_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    views = (events_stream_reader(spark, sf_dir)
             .filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    joined = (clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") > F.col("click_ts"))
        & (F.col("view_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "inner")
        .select(F.col("c_user").alias("user_id"), "click_id", "view_id",
                (F.unix_micros(F.col("view_ts"))
                 - F.unix_micros(F.col("click_ts"))).alias("delay_us")))
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_stream_stream_left_join(spark: SparkSession, sf_dir: str,
                                within: str = "10 minutes",
                                watermark: str = "30 minutes") -> DataFrame:
    """LEFT OUTER stream-stream interval join — the state-EXPIRY
    operator: matched (click, view) pairs emit like the inner join, but
    an unmatched click emits its NULL row only once the global watermark
    proves no matching view can still arrive (watermark > click_ts +
    within). That deferred emission is what distinguishes outer
    streaming joins from batch: correctness depends on the engine's
    watermark bookkeeping, not just the join predicate.

    Emission contract (pinned empirically on this engine, Spark 4.1.2,
    and encoded in the oracle): with finite availableNow replay the
    final global watermark is min(max click_ts, max view_ts) -
    `watermark`, so exactly the unmatched clicks with click_ts <
    final_watermark - `within` are NULL-emitted; clicks younger than
    that remain in (discarded) state — the same rows a production
    pipeline would see emitted by the NEXT micro-batch. State on each
    side stays O(rate x (watermark + within)), identical to the inner
    join."""
    name = f"lsj_{uuid.uuid4().hex[:8]}"
    clicks = (events_stream_reader(spark, sf_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    views = (events_stream_reader(spark, sf_dir)
             .filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    joined = (clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") > F.col("click_ts"))
        & (F.col("view_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "left_outer")
        .select(F.col("c_user").alias("user_id"), "click_id", "view_id"))
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_stream_dedup_watermark(spark: SparkSession, sf_dir: str,
                               watermark: str = "45 days") -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark (Spark 3.5+,
    the BOUNDED-state dedup API): duplicates are dropped as long as
    they arrive within the watermark delay of the first copy, and the
    dedup state itself is evicted once the watermark passes — unlike
    plain dropDuplicates, whose keyed state without an event-time key
    grows forever.

    The replay forces the cross-micro-batch path: the events file is
    staged TWICE with ascending mtimes and maxFilesPerTrigger=1, so the
    duplicate of every row arrives one micro-batch later and can only
    be dropped if the first batch's state survived. The watermark spans
    the corpus (45 days vs the 30-day event range), so no duplicate is
    late-dropped instead of dedup-dropped — the output is exactly the
    original event set, which is what the DuckDB oracle checks."""
    import os
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="e2db_ddw_")
    src = os.path.join(sf_dir, "events.parquet")
    for i in (0, 1):
        dest = os.path.join(out, f"copy_{i}.parquet")
        shutil.copyfile(src, dest)
        os.utime(dest, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    schema = spark.read.parquet(src).schema
    from ..tables import normalize_event_ts

    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", "1")
              .option("latestFirst", "false")
              .load(out))
    name = f"ddw_{uuid.uuid4().hex[:8]}"
    q = (normalize_event_ts(stream)
         .withWatermark("ts", watermark)
         .dropDuplicatesWithinWatermark(["event_id"])
         .groupBy("event_type")
         .agg(F.count("*").alias("n_events"),
              _cents_sum(F.col("value")).alias("sum_value"))
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def _slice_events_for_replay(spark: SparkSession, sf_dir: str) -> str:
    """Re-slice the events log into four time-ordered parquet files
    (ascending names + mtimes, so the file source replays them in event
    order) for multi-micro-batch replays. Fixed calendar slice points
    (the corpus spans January): slices are time-ordered, so no
    cross-batch late data is dropped and the final emitted set depends
    only on the data, not the slicing.

    r11 (guide §6): ONE scan writes all four slices — a slice-id
    column from the cut points, hash-repartitioned so each slice lands
    in exactly one task, written with partitionBy and renamed into the
    flat ascending replay names. The previous shape ran four separate
    filtered scans + coalesce(1) writes (4 jobs over the full log per
    staging, x3 streaming keys). Slice membership is unchanged: the
    when-chain reproduces the [lo, hi) filters, and the explicit
    isNotNull guard reproduces their null-dropping. A slice with no
    rows (never on this corpus's January span, but contractually four
    files) falls back to an empty single-file write."""
    import os
    import tempfile

    from ..tables import load_table

    out = tempfile.mkdtemp(prefix="e2db_mbatch_")
    batch = load_table(spark, sf_dir, "events")
    cuts = ["2024-01-09", "2024-01-17", "2024-01-25"]
    ts = F.col("ts")
    sl = (F.when(ts < F.lit(cuts[0]), 0)
          .when(ts < F.lit(cuts[1]), 1)
          .when(ts < F.lit(cuts[2]), 2).otherwise(3))
    stage = os.path.join(out, "stage")
    (batch.where(ts.isNotNull()).withColumn("sl", sl)
     .repartition(4, F.col("sl"))
     .write.partitionBy("sl").mode("overwrite").parquet(stage))
    for i in range(4):
        pdir = os.path.join(stage, f"sl={i}")
        dest = os.path.join(out, f"slice_{i}.parquet")
        if os.path.isdir(pdir):
            fname = [f for f in os.listdir(pdir)
                     if f.endswith(".parquet")][0]
            os.rename(os.path.join(pdir, fname), dest)
        else:  # empty slice: keep the 4-file replay contract
            pd0 = os.path.join(out, f"empty_{i}.dir")
            batch.limit(0).coalesce(1).write.mode("overwrite").parquet(pd0)
            fname = [f for f in os.listdir(pd0)
                     if f.endswith(".parquet")][0]
            os.rename(os.path.join(pd0, fname), dest)
        os.utime(dest, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    return out


def run_tumbling_stream_multibatch(spark: SparkSession, sf_dir: str,
                                   width: str = "10 minutes",
                                   watermark: str = "30 minutes"
                                   ) -> DataFrame:
    """Tumbling aggregation in APPEND mode across MULTIPLE micro-batches
    — the watermark-progression path the single-file replays never
    exercise. The events log is re-sliced into four time-ordered files
    (ascending names + mtimes, so the file source replays them in event
    order); maxFilesPerTrigger=1 forces one micro-batch per slice, and
    append mode only emits a window once the watermark PROVES it
    complete (watermark > window end), i.e. windows finalize
    incrementally as the replay advances.

    Emission contract (pinned empirically, encoded in the oracle):
    finite replay emits exactly the windows with win_end < max(ts) -
    `watermark`; each is emitted once, in the batch whose watermark
    first passes it, with values equal to the batch aggregation —
    append-mode state is evicted at emission, so memory holds only the
    open tail. This is the production shape for late-data-tolerant
    incremental materialization (emit-once, no updates downstream)."""
    out = _slice_events_for_replay(spark, sf_dir)

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    from ..tables import normalize_event_ts

    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", "1")
              .option("latestFirst", "false")
              .option("pathGlobFilter", "*.parquet")
              .load(out))
    agg = tumbling_agg(
        normalize_event_ts(stream).withWatermark("ts", watermark), width)
    name = f"mbt_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("append")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_stream_static_join(spark: SparkSession, sf_dir: str,
                           watermark: str = "30 minutes") -> DataFrame:
    """Stream-static join: the replayed events stream enriched against
    the static customer dimension (micro-batch side lookup), then a
    windowless grouped aggregation per market segment.

    The static side is re-read per micro-batch and broadcast by Catalyst
    (it's dim-sized) — the standard streaming-enrichment shape; no state
    is kept for the join itself, only for the aggregation. Complete mode
    on finite replay == the batch join+agg, so a plain DuckDB join SQL
    verifies the streaming execution value-for-value."""
    from ..tables import load_table

    name = f"sjoin_{uuid.uuid4().hex[:8]}"
    customers = load_table(spark, sf_dir, "customer")
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    joined = stream.join(customers,
                         stream.user_id == customers.c_custkey, "inner")
    agg = (joined.groupBy("c_mktsegment")
           .agg(F.count("*").alias("n_events"),
                _cents_sum(F.col("value")).alias("sum_value")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_stream_topk_trending(spark: SparkSession, sf_dir: str,
                             width: str = "10 minutes",
                             watermark: str = "30 minutes",
                             k: int = 3) -> DataFrame:
    """Trending detection: tumbling (window x event_type) counts kept by
    the streaming engine, then a per-window top-k rank over the final
    state — the composite every metrics pipeline runs ("top queries per
    minute"). The rank runs on the materialized aggregate (windows x
    types, already tiny), never on the raw stream; in production the
    same rank sits in a foreachBatch on the append-mode output so each
    finalized window is ranked exactly once. Deterministic tie-break:
    count DESC, event_type ASC."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    name = f"topk_{uuid.uuid4().hex[:8]}"
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    agg = (stream
           .groupBy(F.window("ts", width).alias("win"), "event_type")
           .agg(F.count("*").alias("n_events")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    state = spark.table(name)
    rnk = F.row_number().over(
        W.partitionBy("win").orderBy(F.col("n_events").desc(), "event_type"))
    return (state.withColumn("rnk", rnk).filter(F.col("rnk") <= k)
            .select(F.col("win.start").alias("win_start"),
                    "event_type", "n_events", "rnk"))


def run_stream_scd2_enrich(spark: SparkSession, sf_dir: str,
                           watermark: str = "30 minutes") -> DataFrame:
    """Stream-static join against a type-2 slowly-changing dimension:
    each streamed event matches the customer VERSION valid at event
    time (version 2 raises every balance by 50 as of 2024-01-15), so
    in-flight enrichment reports as-was attributes exactly like the
    batch SCD2 join (`join_scd2`). The join stays a hash equi-join on
    the key with the validity range as a residual predicate — the
    non-equi part never changes the join strategy, and the versioned
    dim is still dim-sized so it broadcasts per micro-batch with no
    join state. Complete mode on finite replay == the batch
    equivalent, so a plain DuckDB range-join SQL verifies the
    streaming execution value-for-value."""
    from pyspark.sql import functions as F

    from ..numerics import cents_sum
    from ..tables import load_table

    from ..operators.temporal import scd2_customer_versions

    name = f"scd2e_{uuid.uuid4().hex[:8]}"
    dim = scd2_customer_versions(load_table(spark, sf_dir, "customer"),
                                 F.lit("2024-01-15").cast("timestamp"))
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    joined = stream.join(
        F.broadcast(dim),
        (stream.user_id == dim.c_custkey)
        & (stream.ts >= dim.valid_from) & (stream.ts < dim.valid_to),
        "inner")
    agg = (joined.groupBy("c_mktsegment", "ver")
           .agg(F.count("*").alias("n_events"),
                cents_sum(F.col("value")).alias("sum_value")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return (spark.table(name)
            .select(F.col("c_mktsegment").alias("segment"),
                    F.col("ver").cast("int").alias("ver"),
                    "n_events", "sum_value"))


def run_tumbling_stream_rocksdb(spark: SparkSession, sf_dir: str,
                                width: str = "10 minutes",
                                watermark: str = "30 minutes") -> DataFrame:
    """The tumbling aggregation executed against the RocksDB state store
    provider — the production state backend (bounded heap, changelog
    checkpointing, state larger than memory) vs the default
    HDFS-backed in-memory map. Same plan fragment, same result; only
    the provider conf differs, which is exactly the point: state
    backend choice is an OPERATIONAL knob, not a semantics change.

    The provider conf is read at query START, so it is set just for
    this stream and restored after (runtime-settable; scoped here the
    way a production job would set it cluster-wide)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        # Same aggregation, reader, trigger, and sink as the default-
        # provider stream — delegated so the two paths cannot drift.
        return run_tumbling_stream(spark, sf_dir, width, watermark)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def run_stream_update_mode(spark: SparkSession, sf_dir: str,
                           width: str = "10 minutes",
                           watermark: str = "30 minutes") -> DataFrame:
    """UPDATE output mode across multiple micro-batches — the third
    output-mode corner (complete: run_tumbling_stream; append:
    run_tumbling_stream_multibatch): each batch re-emits only the
    windows it CHANGED, the upsert feed a key-value sink consumes.
    The memory sink accumulates every emission, so the final value per
    window is recovered by taking the emission with the highest count
    — re-emission implies added rows, so per-window counts strictly
    increase, making "latest" well-defined without a batch id. On
    finite time-ordered replay that final value equals the batch
    aggregation exactly (the oracle)."""
    from pyspark.sql.window import Window as _W

    out = _slice_events_for_replay(spark, sf_dir)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    from ..tables import normalize_event_ts

    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", "1")
              .option("latestFirst", "false")
              .option("pathGlobFilter", "*.parquet")
              .load(out))
    agg = tumbling_agg(
        normalize_event_ts(stream).withWatermark("ts", watermark), width)
    name = f"upd_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("update")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    emitted = spark.table(name)
    rk = F.row_number().over(
        _W.partitionBy("win_start").orderBy(F.col("n_events").desc()))
    return (emitted.withColumn("rk", rk).filter(F.col("rk") == 1)
            .select("win_start", "win_end", "n_events", "sum_value"))


def run_stream_stream_full_join(spark: SparkSession, sf_dir: str,
                                within: str = "10 minutes",
                                watermark: str = "30 minutes") -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the
    stream-stream join-mode matrix (inner: run_stream_stream_join,
    left: run_stream_stream_left_join). Both sides carry state-expiry
    NULL emission: an unmatched click emits once the watermark proves
    no view can still match (wm > click_ts + within, as in the left
    join); an unmatched view emits once the watermark passes the end of
    its candidate-click window (wm > view_ts — any matching click has
    click_ts < view_ts, already final by then).

    Emission contract (pinned empirically on Spark 4.1.2, encoded in
    the stream_stream_full oracle): finite availableNow replay ends
    with global watermark min(max click_ts, max view_ts) - `watermark`;
    NULL-click rows appear for unmatched views with view_ts < wm_final,
    NULL-view rows for unmatched clicks with click_ts < wm_final -
    `within`. State stays O(rate x (watermark + within)) per side —
    the same budget as the inner join, which is the whole point: full
    outer costs no extra state, only the two expiry emission rules."""
    name = f"fsj_{uuid.uuid4().hex[:8]}"
    clicks = (events_stream_reader(spark, sf_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    views = (events_stream_reader(spark, sf_dir)
             .filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    joined = (clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") > F.col("click_ts"))
        & (F.col("view_ts") <= F.col("click_ts")
           + F.expr(f"INTERVAL {within}")),
        "full_outer")
        .select(F.coalesce(F.col("c_user"), F.col("v_user"))
                .alias("user_id"), "click_id", "view_id"))
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_stream_late_audit(spark: SparkSession, sf_dir: str,
                          split: str = "2024-01-16",
                          watermark: str = "2 days"):
    """Late-data audit replay: the events log is staged as three files
    arriving newest-first (late half split in two, then the early half;
    ascending mtimes pin the order), so by the time the early half
    arrives the watermark — which PROPAGATES WITH ONE BATCH OF LAG
    (batch N filters with the watermark committed after batch N-1, an
    empirically pinned engine behavior this staging is sized around) —
    has advanced past every early row. The early half is late beyond
    the watermark: none of its windows ever emit, and the engine's
    numRowsDroppedByWatermark metric surfaces (exposed via the second
    return value; its exact value depends on engine-internal
    state-eviction details, so the CONTRACT is only that the emitted
    result excludes the early half entirely).

    Emitted set (the oracle): late-half daily windows whose end has
    closed under the final watermark max(late ts) - `watermark` — the
    append-mode emission rule. This is the operator a pipeline uses to
    audit what out-of-order upstream delivery would cost it.

    Returns (result_df, dropped_rows_metric)."""
    import os
    import tempfile

    from ..tables import load_table

    out = tempfile.mkdtemp(prefix="e2db_late_")
    batch = load_table(spark, sf_dir, "events")
    mid = "2024-01-24"
    parts = [batch.filter(F.col("ts") >= F.lit(mid)),       # newest first
             batch.filter((F.col("ts") >= F.lit(split))
                          & (F.col("ts") < F.lit(mid))),
             batch.filter(F.col("ts") < F.lit(split))]      # arrives LAST
    for i, part in enumerate(parts):
        pdir = os.path.join(out, f"half_{i}.dir")
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        fname = [f for f in os.listdir(pdir) if f.endswith(".parquet")][0]
        dest = os.path.join(out, f"half_{i}.parquet")
        os.rename(os.path.join(pdir, fname), dest)
        os.utime(dest, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    schema = spark.read.parquet(os.path.join(out, "half_0.parquet")).schema
    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", "1")
              .option("latestFirst", "false")
              .option("pathGlobFilter", "*.parquet")
              .load(out))
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (stream
         .withWatermark("ts", watermark)
         .groupBy(F.window("ts", "1 day").alias("win"))
         .agg(F.count("*").alias("n_events"))
         .select(F.col("win.start").alias("day"), "n_events")
         .writeStream.outputMode("append")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    handle = run_scoped(spark, q)
    dropped = 0
    prog = handle.recentProgress or []
    for p in prog:
        for op in (p.get("stateOperators") or []):
            dropped += int(op.get("numRowsDroppedByWatermark", 0))
    return spark.table(name), dropped


def staged_checkpoint_replay(spark: SparkSession, sf_dir: str, agg_fn,
                             prefix: str = "ckptr"):
    """Shared two-arrival checkpoint-restart choreography: stage the
    events log as two dated halves, run one availableNow query per
    arrival against a SHARED checkpoint (complete output mode), and
    return both StreamingQuery handles plus the final memory-table name
    and the staged halves — so the production key
    (`run_stream_checkpoint_resume`) and the offset-log test
    (tests/test_curation2.py) exercise the IDENTICAL file-move
    protocol instead of two drift-prone copies.

    `agg_fn` maps the raw streaming DataFrame to its aggregation (the
    part that differs per caller)."""
    import os
    import shutil
    import tempfile

    from ..tables import load_table

    staged = tempfile.mkdtemp(prefix=f"e2db_{prefix}_src_")
    ckpt = tempfile.mkdtemp(prefix=f"e2db_{prefix}_ck_")
    batch = load_table(spark, sf_dir, "events")
    halves = [batch.filter(F.col("ts") < F.lit("2024-01-16")),
              batch.filter(F.col("ts") >= F.lit("2024-01-16"))]
    paths = []
    for i, part in enumerate(halves):
        pdir = os.path.join(staged, f"h{i}.dir")
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        fname = [f for f in os.listdir(pdir) if f.endswith(".parquet")][0]
        paths.append((os.path.join(pdir, fname),
                      os.path.join(staged, f"h{i}.parquet")))
    schema = spark.read.parquet(paths[0][0]).schema

    def one_run(qname: str):
        stream = (spark.readStream.schema(schema).format("parquet")
                  .option("pathGlobFilter", "*.parquet").load(staged))
        q = (agg_fn(stream)
             .writeStream.outputMode("complete")
             .format("memory").queryName(qname)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             )
        return run_scoped(spark, q)

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    shutil.move(*paths[0])                 # only the first half exists
    q1 = one_run(name + "_a")
    shutil.move(*paths[1])                 # second half "arrives" later
    q2 = one_run(name + "_b")              # same checkpoint: resume
    return q1, q2, name + "_b", halves


def run_stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume replay: the first availableNow run drains the
    initially-staged half of the events log and commits offsets + agg
    state to the checkpoint; a SECOND run against the same checkpoint
    sees the newly-arrived second half, processes ONLY it (offset log),
    and restores the running aggregation from the state store — the
    exactly-once restart path a production job takes after every
    deploy/crash. Complete output mode re-emits the full restored
    state, so the final table must equal the one-shot batch aggregation
    over the whole log (the oracle): double-counting the first half OR
    losing restored state both break the equality."""

    def agg(stream: DataFrame) -> DataFrame:
        return (stream.groupBy("event_type")
                .agg(F.count("*").alias("n_events"),
                     _cents_sum(F.col("value")).alias("sum_value")))

    _q1, _q2, table, _halves = staged_checkpoint_replay(
        spark, sf_dir, agg, prefix="ckptr")
    return spark.table(table)


def run_stream_quality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality census executed by the Structured Streaming
    engine: the documents table replayed through the parquet file
    source and aggregated with the IDENTICAL stateless-predicate +
    5-group census the batch key uses
    (queries/curation3.py:gopher_census) — the shape of a curation
    gate that scores every incoming crawl batch as it lands instead of
    in a nightly sweep. Complete output mode on finite replayed input
    => final emission equals the batch census, so the batch oracle
    verifies the streaming operator value-for-value.

    State is just 5 language groups x 7 counters — a streaming
    aggregation whose state CANNOT grow with the corpus, the best-case
    profile for an unbounded quality monitor."""
    from ..queries.curation3 import gopher_census

    name = f"qcensus_{uuid.uuid4().hex[:8]}"
    stream = table_stream_reader(spark, sf_dir, "documents",
                                 max_files_per_trigger=1)
    # r12: the gopher predicates are the census' entire cost (HOF
    # regex/intersect/max-run per token) and a micro-batch scans whole
    # files — on the single-file local fixture that ran the whole
    # census on 1-2 cores (29 s at jittered sf1). Hash repartition
    # (doc_id — deterministic, no round-robin pre-sort).
    width = physical.fan_width(spark, [f"{sf_dir}/documents.parquet"])
    if width is not None:
        stream = stream.repartition(width, F.col("doc_id"))
    q = (gopher_census(stream)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return spark.table(name)


def run_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift counters maintained by the Structured Streaming engine:
    the orders table replayed through the parquet file source and
    aggregated with the IDENTICAL stateless bucket/period flags +
    <= 10-group conditional-count census the batch key uses
    (queries/estimation.py:psi_bucket_counts) — the shape of a drift
    monitor that updates its bucket counters on every incoming batch
    instead of rescanning history. The PSI arithmetic itself
    (densify, Jeffreys smooth, nano-snapped terms) runs batch-side on
    the final complete-mode emission, which for a finite replay equals
    the batch census — so the batch SQL oracle verifies the streaming
    counters value-for-value.

    State is <= 10 buckets x 2 counters — like the quality census, a
    monitor whose state CANNOT grow with the order history."""
    from ..queries.estimation import psi_bucket_counts, psi_from_counts

    name = f"psicensus_{uuid.uuid4().hex[:8]}"
    stream = table_stream_reader(spark, sf_dir, "orders",
                                 max_files_per_trigger=1)
    q = (psi_bucket_counts(stream)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return psi_from_counts(spark, spark.table(name))


def ohlc_hourly_agg(df: DataFrame) -> DataFrame:
    """Hourly OHLC candle aggregate, batch or streaming (one
    definition): open/close via min_by/max_by over the deterministic
    (ts, event_id) total order — declarative ORDER-AWARE aggregates
    that the streaming engine can maintain incrementally per group (a
    row_number window, the batch formulation in ts_ohlc_candles,
    cannot run under streaming). Values are exact integer cents."""
    h = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    cents = F.round(F.col("value") * 100).cast("bigint")
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return (df.select(h.alias("hour_epoch"), cents.alias("cents"),
                      "ts", "event_id")
            .groupBy("hour_epoch")
            .agg(F.count("*").alias("n_trades"),
                 F.min_by("cents", ord_).alias("open_cents"),
                 F.max("cents").alias("high_cents"),
                 F.min("cents").alias("low_cents"),
                 F.max_by("cents", ord_).alias("close_cents")))


def run_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candles maintained by the Structured Streaming engine over
    a file-source replay of the events table: every micro-batch folds
    its rows into the per-hour (open, high, low, close, n) state via
    min_by/max_by — 5 scalars per hour, never the rows themselves.
    For a finite replay the complete-mode emission equals the batch
    candles, so the batch ts_ohlc_candles SQL oracle verifies the
    streaming state value-for-value. Production shape: add a watermark
    on the hour column so closed candles finalize and their state is
    evicted (the events replay here is finite, so complete mode is the
    verifiable choice)."""
    name = f"ohlc_{uuid.uuid4().hex[:8]}"
    stream = events_stream_reader(spark, sf_dir)
    q = (ohlc_hourly_agg(stream)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return (spark.table(name)
            .select("hour_epoch", "n_trades", "open_cents",
                    "high_cents", "low_cents", "close_cents")
            .orderBy("hour_epoch"))


def apdex_service_agg(df: DataFrame) -> DataFrame:
    """Per-service Apdex ingredient counts (satisfied <= 5000 cents,
    tolerating <= 20000), batch or streaming (one definition): three
    conditional counters per service — state the engine maintains
    incrementally as 3 scalars per group, never rows. The Apdex ratio
    itself is computed on emission (exact rational (2*sat+tol)/(2n))."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (df.select(F.col("event_type").alias("service"),
                      cents.alias("c"))
            .groupBy("service")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("c") <= 5000, 1).otherwise(0))
                 .alias("satisfied"),
                 F.sum(F.when((F.col("c") > 5000)
                              & (F.col("c") <= 20000), 1).otherwise(0))
                 .alias("tolerating")))


def run_stream_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex maintained by the Structured Streaming engine over a
    file-source replay of the events table: each micro-batch folds its
    rows into the per-service (n, satisfied, tolerating) counters — 3
    scalars per service. For a finite replay the complete-mode emission
    equals the batch key, so ops_apdex's SQL oracle verifies the
    streaming state value-for-value (the stream_ohlc_candles protocol).
    Production shape: window the counters per hour + watermark so old
    windows finalize; the finite replay makes complete mode the
    verifiable choice here."""
    name = f"apdex_{uuid.uuid4().hex[:8]}"
    stream = events_stream_reader(spark, sf_dir)
    q = (apdex_service_agg(stream)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         )
    run_scoped(spark, q)
    return (spark.table(name)
            .select("service", "n", "satisfied", "tolerating",
                    F.round((2 * F.col("satisfied")
                             + F.col("tolerating")).cast("double")
                            / (2.0 * F.col("n")), 4).alias("apdex")))


def run_stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers maintained by the Structured Streaming
    engine over a file-source replay of the orders table: each
    micro-batch folds its keys into the per-bucket max-rank state via
    the grouped max in queries/flagships2.py:hll_register_agg — and a
    grouped MAX is exactly the HLL union merge, so the engine is
    performing a live sketch union per trigger. State is <= 64
    registers REGARDLESS of key cardinality (the whole point of the
    sketch); for a finite replay the complete-mode emission equals the
    batch registers, so the batch `sketch_hll_manual` oracle verifies
    the streaming state register-for-register. The estimate/report
    arithmetic runs batch-side on the final emission."""
    from ..queries.flagships2 import hll_register_agg, hll_report

    name = f"hllregs_{uuid.uuid4().hex[:8]}"
    stream = table_stream_reader(spark, sf_dir, "orders",
                                 max_files_per_trigger=1)
    q = (hll_register_agg(stream)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True))
    run_scoped(spark, q)
    n_true = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .select("o_custkey").distinct().count())
    return hll_report(spark, spark.table(name), n_true)


def run_stream_skew_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew counters maintained by the Structured Streaming
    engine over an orders replay: the (month x priority) census from
    queries/dataops.py:skew_parts updates incrementally per
    micro-batch — the shape of a monitor that watches a landing
    table's key distribution as it grows instead of rescanning it.
    State = #distinct partition keys (bounded by the calendar x 5
    priorities). The rank/median/p99 skew arithmetic runs batch-side
    on the final complete-mode emission, which for a finite replay
    equals the batch census — the `ops_partition_skew` oracle checks
    it value-for-value."""
    from ..queries.dataops import skew_parts, skew_report

    name = f"skewmon_{uuid.uuid4().hex[:8]}"
    stream = table_stream_reader(spark, sf_dir, "orders",
                                 max_files_per_trigger=1)
    q = (skew_parts(stream)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True))
    run_scoped(spark, q)
    return skew_report(spark.table(name))


def run_stream_spc_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-chart census maintained by the Structured Streaming engine
    over a lineitem replay: the per-day (n_items, n_defect) counts
    from queries/spc.py:p_chart_daily update incrementally per
    micro-batch — a landing-table quality monitor that tracks defect
    shares as the table grows instead of rescanning it. State = one
    counter pair per ship-day (bounded by the 2,405-day calendar at
    ANY scale). The 3-sigma binomial limit arithmetic runs batch-side
    on the final complete-mode emission, which for a drained finite
    replay equals the batch census — the `spc_p_chart` oracle checks
    every day value-for-value."""
    from ..queries.spc import p_chart_daily, p_chart_report

    name = f"spcmon_{uuid.uuid4().hex[:8]}"
    stream = table_stream_reader(spark, sf_dir, "lineitem",
                                 max_files_per_trigger=1)
    q = (p_chart_daily(stream)
         .writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True))
    run_scoped(spark, q)
    return p_chart_report(spark.table(name))
