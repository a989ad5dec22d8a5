"""Finite stream replay: the one module that starts, stages and drains a
stream.

A streaming key says what it aggregates; this module decides how the
replay runs. Each rule is stated once, here:

- **Sink.** A drained result lives in a memory sink (`drain`). On a
  finite replay the sink holds the query's final output, so a batch
  oracle checks it value for value. Production would swap in a
  kafka/delta/parquet sink through the same `writeStream` call.
- **Trigger.** Every stream runs `trigger(availableNow=True)`
  (`run_scoped`): it processes every file present at start, honoring
  `maxFilesPerTrigger`, and then stops. No caller writes a trigger.
- **Naming.** A drain writes under a fresh unique query name, resolves
  the sink's table and drops that temp view before it returns. The
  returned frame reads the sink itself (its optimized leaf is
  `MemoryPlan MemorySink`, with no view name), so a drain leaves the
  session's view list as it found it.
- **State partitions.** `run_scoped` sizes the state store to the
  state, not to the cores (its docstring has the measurement), and
  restores the session's shuffle width afterwards.
- **Scratch lifetime.** A staging or checkpoint directory created here
  (`scratch`) is removed once the last drain over it returns: the
  memory sink already holds the result. A key whose returned frame
  reads a directory lazily after its stream (the `statestore` reader,
  `foreachBatch` output, a commit log) owns that directory and keeps
  it.
- **The one exception.** `sources/replay_stream.run_replay_source_agg`
  reads a Python streaming source, which has no availableNow; it polls
  a processing-time trigger to EOF and reads its own memory sink.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_scoped(spark: SparkSession, writer, state_partitions: int = 8):
    """Start ``writer`` with the availableNow trigger under a
    state-sized shuffle-partition scope, block until it drains, and
    return the terminated query.

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
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain(spark: SparkSession, df: DataFrame, mode: str, *,
          state_partitions: int = 8, checkpoint: str | None = None):
    """Run the streaming frame ``df`` to completion into a memory sink
    in output ``mode``; return ``(frame, recentProgress)``.

    ``frame`` reads the sink's rows and outlives the temp view the sink
    registered (dropped here). ``checkpoint`` pins the query's
    checkpoint directory, for a replay that resumes from it."""
    name = f"replay_{uuid.uuid4().hex}"
    writer = (df.writeStream.outputMode(mode)
              .format("memory").queryName(name))
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = run_scoped(spark, writer, state_partitions)
    frame = spark.table(name)
    spark.catalog.dropTempView(name)
    return frame, q.recentProgress


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


def staged_reader(spark: SparkSession, staged: str, schema) -> DataFrame:
    """readStream over the parquet files staged in ``staged``, one file
    per micro-batch, oldest modification time first."""
    return (spark.readStream.schema(schema).format("parquet")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .option("pathGlobFilter", "*.parquet")
            .load(staged))


@contextlib.contextmanager
def scratch(prefix: str):
    """A fresh staging/checkpoint directory, removed on exit."""
    path = tempfile.mkdtemp(prefix=f"e2db_{prefix}_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _arrive(path: str, i: int) -> None:
    """Stamp the ``i``-th staged file's mtime so the file source, which
    orders by modification time, replays it ``i``-th."""
    os.utime(path, (1_000_000 + i * 1000, 1_000_000 + i * 1000))


def stage_slices(batch: DataFrame, slice_id, n: int, dest: str
                 ) -> list[str]:
    """Stage ``batch`` as ``n`` parquet files ``dest/slice_{i}.parquet``,
    one per value 0..n-1 of the ``slice_id`` column expression, stamped
    to arrive in slice order; return their paths. Rows whose slice id is
    NULL are not staged.

    One scan writes every slice: rows are hash-partitioned on their
    slice id, so each slice lands in exactly one task and one file,
    written with partitionBy and renamed into the flat names. A slice
    with no rows still gets a file (an empty write with the batch's
    schema), so a replay always sees ``n`` files."""
    stage = os.path.join(dest, "_stage")
    (batch.withColumn("_slice", slice_id)
     .where(F.col("_slice").isNotNull())
     .repartition(n, F.col("_slice"))
     .write.partitionBy("_slice").mode("overwrite").parquet(stage))
    paths = []
    for i in range(n):
        part = os.path.join(stage, f"_slice={i}")
        if not os.path.isdir(part):
            part = os.path.join(stage, f"_empty_{i}")
            batch.limit(0).coalesce(1).write.parquet(part)
        fname = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        path = os.path.join(dest, f"slice_{i}.parquet")
        os.rename(os.path.join(part, fname), path)
        _arrive(path, i)
        paths.append(path)
    shutil.rmtree(stage)
    return paths


def stage_copies(src: str, n: int, dest: str) -> None:
    """Stage ``n`` byte copies of the parquet file ``src`` in ``dest``,
    stamped to arrive one after another."""
    for i in range(n):
        path = os.path.join(dest, f"copy_{i}.parquet")
        shutil.copyfile(src, path)
        _arrive(path, i)


def staged_checkpoint_replay(spark: SparkSession, sf_dir: str, agg_fn):
    """Two-arrival checkpoint restart: stage the events log as two dated
    halves, move the first into the watched directory and drain, then
    move the second in and drain again against the SAME checkpoint
    (complete output mode). The production key
    (`run_stream_checkpoint_resume`) and the offset-log test
    (tests/test_curation2.py) run this one file-move protocol.

    `agg_fn` maps the raw streaming DataFrame to its aggregation.
    Returns the second drain's frame, each drain's progress, and the two
    halves as batch frames."""
    from ..tables import load_table

    batch = load_table(spark, sf_dir, "events")
    ts, split = F.col("ts"), F.lit("2024-01-16")
    halves = [batch.filter(ts < split), batch.filter(ts >= split)]
    with scratch("ckptr") as root:
        staged, watched, ckpt = (os.path.join(root, d)
                                 for d in ("staged", "in", "ckpt"))
        os.makedirs(staged)
        os.makedirs(watched)
        slices = stage_slices(
            batch, F.when(ts < split, 0).when(ts >= split, 1), 2, staged)
        progress = []
        for path in slices:             # the second half arrives later
            shutil.move(path, watched)
            frame, prog = drain(
                spark, agg_fn(staged_reader(spark, watched, batch.schema)),
                "complete", checkpoint=ckpt)
            progress.append(prog)
    return frame, progress[0], progress[1], halves
