"""`spark.readStream.format("events_replay")` — a Python streaming
Data Source (Spark >= 4.0 DataSourceStreamReader) that replays a parquet
file as a rate-limited stream of row-range micro-batches.

The reference has no streaming surface at all (single-shot batch REPL,
reference src/main.rs:130-177); the file-stream source used by the other
streaming queries replays whole FILES per micro-batch. This source
completes the picture at the other granularity: deterministic ROW-RANGE
offsets over one file, which is how a replay/backfill source against an
append-only log (or a queue with numeric offsets) actually behaves —
`{"row": N}` offsets are exactly Kafka-style sequence numbers.

Scale/exactly-once story:
- Offsets are pure row positions: planning (`latestOffset`/`partitions`)
  is driver-side arithmetic over parquet footer metadata (no data read);
  re-planning a failed batch yields byte-identical ranges, so recovery
  from the checkpoint offset log is exactly-once.
- Each micro-batch splits into fixed-size range partitions read on
  EXECUTORS. The test-scale reader slices with pyarrow per partition; at
  production scale the ranges would align to row groups (parquet's unit
  of independent decode) — same offsets, same plan, different slicing.
"""

from __future__ import annotations

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)

from ..numerics import cents_sum
from ..operators import physical

EVENTS_DDL = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
              "event_type string, value double, props string")


class RangePartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class EventsReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("events_replay requires .option('path', ...)")
        self.batch_rows = int(options.get("batch_rows", 8192))
        # default partition size tracks the batch: the test-scale reader
        # decodes the whole (single-row-group) file per partition, so
        # partitions-per-batch is the multiplier to keep bounded
        self.part_rows = int(options.get("part_rows",
                                         max(4096, self.batch_rows // 4)))
        # footer metadata only — no row data touched on the driver
        self.total = physical.footer_rows(self.path)
        if self.total is None:
            raise ValueError(f"events_replay: no parquet at {self.path}")
        self._pos = 0

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        # advance at most batch_rows per micro-batch (rate limiting);
        # stops advancing at EOF, which drains isDataAvailable
        self._pos = min(self._pos + self.batch_rows, self.total)
        return {"row": self._pos}

    def partitions(self, start: dict, end: dict) -> list[RangePartition]:
        lo, hi = start["row"], end["row"]
        # Restart-from-checkpoint: a re-created reader starts with
        # _pos = 0, but the engine replans from the COMMITTED offset log —
        # adopt the engine's view so latestOffset() never runs behind the
        # committed start again (which would invert ranges below).
        self._pos = max(self._pos, lo, hi)
        if hi <= lo:
            return []  # empty batch (e.g. replanned no-op after restart)
        return [RangePartition(self.path, a, min(a + self.part_rows, hi))
                for a in range(lo, hi, self.part_rows)]

    def read(self, partition: RangePartition):
        # Executor-side: materialize one row range and hand it to Spark
        # as Arrow RecordBatches — zero per-row Python (the row-tuple
        # protocol pickles every row; Arrow stays columnar end to end).
        # Testdata files are single-row-group, so the full-file read IS
        # the row-group read; production ranges align to row groups and
        # decode only theirs.
        import pyarrow.parquet as pq

        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        table = pq.read_table(partition.path, columns=cols)
        chunk = table.select(cols).slice(partition.start,
                                         partition.end - partition.start)
        yield from chunk.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets are positional; nothing to acknowledge upstream


class EventsReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return EVENTS_DDL

    def streamReader(self, schema) -> EventsReplayStreamReader:
        return EventsReplayStreamReader(self.options)


def run_replay_source_agg(spark, sf_dir: str, batch_rows: int | None = None,
                          timeout_s: float = 120.0):
    """Aggregate the replayed events stream per event_type and return
    the drained result: register the source, run with a fast
    processing-time trigger until the offset reaches EOF (the Python
    stream API has no availableNow), stop, and hand back the memory
    table. Complete mode on the fully-drained finite replay equals the
    batch GROUP BY — the oracle. Like `streaming/replay.drain`, the
    returned frame reads the sink and its temp view is dropped."""
    import time as _t
    import uuid

    from pyspark.sql import functions as F

    total = physical.footer_rows(f"{sf_dir}/events.parquet")
    if batch_rows is None:
        # scale the micro-batch so replay stays ~4 batches at any SF:
        # still exercises incrementality, but the per-partition slice
        # cost doesn't multiply with input size
        batch_rows = max(8192, -(-total // 4))
    spark.dataSource.register(EventsReplayDataSource)
    name = f"pysrc_{uuid.uuid4().hex[:8]}"
    stream = (spark.readStream.format("events_replay")
              .option("path", f"{sf_dir}/events.parquet")
              .option("batch_rows", str(batch_rows))
              .load())
    agg = (stream.groupBy("event_type")
           .agg(F.count("*").alias("n_events"),
                cents_sum(F.col("value")).alias("sum_value")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(processingTime="0 seconds")
         .start())
    t0 = _t.time()
    try:
        while _t.time() - t0 < timeout_s:
            # drained = a committed batch whose end offset reached EOF
            # (status flags alone flap between micro-batches)
            p = q.lastProgress
            if p and p["sources"]:
                end = p["sources"][0].get("endOffset") or {}
                if isinstance(end, str):
                    # the engine reports the offset as its repr — for a
                    # dict offset that's single-quoted, so literal_eval
                    import ast as _ast

                    end = _ast.literal_eval(end)
                if end.get("row", 0) >= total:
                    break
            _t.sleep(0.2)
        else:
            raise TimeoutError("events_replay stream did not drain")
    finally:
        q.stop()
        q.awaitTermination()
    frame = spark.table(name)
    spark.catalog.dropTempView(name)
    return frame
