"""Event-time window aggregations, batch + streaming from one definition.

`tumbling_agg` / `session_agg` are plain DataFrame transforms: applied to
a batch DataFrame they are ordinary window aggregations (DuckDB-oracle
checkable); applied to a streaming DataFrame they become stateful
streaming aggregates. `run_tumbling_stream` replays the events parquet
through a real file-source stream and returns the drained result —
proving the operator runs under the streaming engine, not just batch.
Each runner here says what it aggregates; `replay.py` decides how the
replay is staged, started and drained.

Scale note: tumbling windows with a watermark bound state — expired
windows are evicted once the watermark passes window.end, when no late
data can arrive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import physical
from . import replay
from .replay import events_stream_reader, table_stream_reader

# Exact money sum in integer cents, batch or micro-batch (single
# definition: numerics.py).
from ..numerics import cents_sum  # noqa: E402


def tumbling_agg(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Tumbling event-time windows: count + sum(value) per window.
    Batch and streaming share this exact plan fragment."""
    return (events
            .groupBy(F.window("ts", width).alias("win"))
            .agg(F.count("*").alias("n_events"),
                 cents_sum(F.col("value")).alias("sum_value"))
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
                 cents_sum(F.col("value")).alias("sum_value"))
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
                 cents_sum(F.col("value")).alias("sum_value"))
            .select("user_id",
                    F.col("sess.start").alias("sess_start"),
                    F.col("sess.end").alias("sess_end"),
                    "n_events", "sum_value"))


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
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    return replay.drain(spark, tumbling_agg(stream, width), "complete")[0]


def run_hopping_stream(spark: SparkSession, sf_dir: str,
                       width: str = "10 minutes",
                       slide: str = "5 minutes",
                       watermark: str = "30 minutes") -> DataFrame:
    """Replay events through Structured Streaming with hopping windows;
    complete mode on finite input == the batch aggregation (see
    run_tumbling_stream for the reasoning). State per overlapping window
    is still watermark-bounded: width/slide live windows per key."""
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    return replay.drain(spark, hopping_agg(stream, width, slide),
                        "complete")[0]


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
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    return replay.drain(spark, session_agg(stream, gap), "complete")[0]


def run_stream_dedup(spark: SparkSession, sf_dir: str,
                     watermark: str = "1 hour") -> DataFrame:
    """Streaming deduplication: the events file replayed through TWO
    stream sources unioned (every event arrives twice), deduplicated by
    (event_id, ts) under a watermark — the state-store dedup pattern.
    The watermark bounds state: ids older than max(ts) - watermark are
    evicted, which is what makes dedup feasible on an unbounded stream.
    Finite replay => output equals DISTINCT event_id of the batch table."""
    a = events_stream_reader(spark, sf_dir)
    b = events_stream_reader(spark, sf_dir)
    deduped = (a.union(b)
               .withWatermark("ts", watermark)
               .dropDuplicates(["event_id", "ts"])
               .select("event_id"))
    return replay.drain(spark, deduped, "append")[0]


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
    return replay.drain(spark, joined, "append")[0]


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
    return replay.drain(spark, joined, "append")[0]


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
    from ..tables import normalize_event_ts

    src = f"{sf_dir}/events.parquet"
    with replay.scratch("ddw") as staged:
        replay.stage_copies(src, 2, staged)
        stream = replay.staged_reader(
            spark, staged, spark.read.parquet(src).schema)
        counts = (normalize_event_ts(stream)
                  .withWatermark("ts", watermark)
                  .dropDuplicatesWithinWatermark(["event_id"])
                  .groupBy("event_type")
                  .agg(F.count("*").alias("n_events"),
                       cents_sum(F.col("value")).alias("sum_value")))
        return replay.drain(spark, counts, "complete")[0]


def january_stream(spark: SparkSession, sf_dir: str, staged: str
                   ) -> DataFrame:
    """The events log staged in ``staged`` as four time-ordered slices
    and read back one slice per micro-batch, for multi-micro-batch
    replays. Fixed calendar slice points (the corpus spans January):
    slices are time-ordered, so no cross-batch late data is dropped and
    the final emitted set depends only on the data, not the slicing."""
    from ..tables import load_table, normalize_event_ts

    ts = F.col("ts")
    slice_id = (F.when(ts < F.lit("2024-01-09"), 0)
                .when(ts < F.lit("2024-01-17"), 1)
                .when(ts < F.lit("2024-01-25"), 2)
                .when(ts.isNotNull(), 3))
    replay.stage_slices(load_table(spark, sf_dir, "events"), slice_id, 4,
                        staged)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return normalize_event_ts(replay.staged_reader(spark, staged, schema))


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
    with replay.scratch("mbatch") as staged:
        stream = january_stream(spark, sf_dir, staged)
        agg = tumbling_agg(stream.withWatermark("ts", watermark), width)
        return replay.drain(spark, agg, "append")[0]


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

    customers = load_table(spark, sf_dir, "customer")
    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    joined = stream.join(customers,
                         stream.user_id == customers.c_custkey, "inner")
    agg = (joined.groupBy("c_mktsegment")
           .agg(F.count("*").alias("n_events"),
                cents_sum(F.col("value")).alias("sum_value")))
    return replay.drain(spark, agg, "complete")[0]


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

    stream = events_stream_reader(spark, sf_dir).withWatermark("ts", watermark)
    agg = (stream
           .groupBy(F.window("ts", width).alias("win"), "event_type")
           .agg(F.count("*").alias("n_events")))
    state, _ = replay.drain(spark, agg, "complete")
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

    from ..tables import load_table

    from ..operators.temporal import scd2_customer_versions

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
    return (replay.drain(spark, agg, "complete")[0]
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

    with replay.scratch("mbatch") as staged:
        stream = january_stream(spark, sf_dir, staged)
        agg = tumbling_agg(stream.withWatermark("ts", watermark), width)
        emitted, _ = replay.drain(spark, agg, "update")
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
    return replay.drain(spark, joined, "append")[0]


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
    from ..tables import load_table

    batch = load_table(spark, sf_dir, "events")
    ts, mid, split = F.col("ts"), F.lit("2024-01-24"), F.lit(split)
    newest_first = (F.when(ts >= mid, 0)
                    .when(ts >= split, 1)
                    .when(ts < split, 2))               # arrives LAST
    with replay.scratch("late") as staged:
        replay.stage_slices(batch, newest_first, 3, staged)
        days = (replay.staged_reader(spark, staged, batch.schema)
                .withWatermark("ts", watermark)
                .groupBy(F.window("ts", "1 day").alias("win"))
                .agg(F.count("*").alias("n_events"))
                .select(F.col("win.start").alias("day"), "n_events"))
        out, progress = replay.drain(spark, days, "append")
    dropped = sum(int(op.get("numRowsDroppedByWatermark", 0))
                  for p in progress
                  for op in (p.get("stateOperators") or []))
    return out, dropped


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
                     cents_sum(F.col("value")).alias("sum_value")))

    return replay.staged_checkpoint_replay(spark, sf_dir, agg)[0]


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
    return replay.drain(spark, gopher_census(stream), "complete")[0]


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

    stream = table_stream_reader(spark, sf_dir, "orders",
                                 max_files_per_trigger=1)
    counts, _ = replay.drain(spark, psi_bucket_counts(stream), "complete")
    return psi_from_counts(spark, counts)


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
    stream = events_stream_reader(spark, sf_dir)
    return (replay.drain(spark, ohlc_hourly_agg(stream), "complete")[0]
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
    stream = events_stream_reader(spark, sf_dir)
    return (replay.drain(spark, apdex_service_agg(stream), "complete")[0]
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

    stream = table_stream_reader(spark, sf_dir, "orders",
                                 max_files_per_trigger=1)
    registers, _ = replay.drain(spark, hll_register_agg(stream), "complete")
    n_true = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .select("o_custkey").distinct().count())
    return hll_report(spark, registers, n_true)


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

    stream = table_stream_reader(spark, sf_dir, "orders",
                                 max_files_per_trigger=1)
    return skew_report(replay.drain(spark, skew_parts(stream), "complete")[0])


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

    stream = table_stream_reader(spark, sf_dir, "lineitem",
                                 max_files_per_trigger=1)
    return p_chart_report(
        replay.drain(spark, p_chart_daily(stream), "complete")[0])
