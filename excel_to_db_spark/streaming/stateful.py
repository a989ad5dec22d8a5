"""Custom stateful streaming operators via applyInPandasWithState.

Window/session aggregation and dedup are built-in stateful operators
(windows.py); this is the escape hatch for semantics Spark doesn't ship:
arbitrary per-key state updated batch-by-batch with Arrow-batched Python
(`applyInPandasWithState`), the Structured Streaming analogue of
`applyInPandas`.

Scale notes: state lives in the executor state store (RocksDB-backed in
production), partitioned by key — the Python function only ever sees one
key's rows + state, so state size per task is bounded by the hottest
key, not the stream. Timeouts (processing/event time) are how real
pipelines flush idle keys; the replay harness here uses NoTimeout and
emits on every update.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import physical
from . import replay
from .replay import events_stream_reader

OUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
STATE_SCHEMA = "n bigint, s bigint"


def _update_user_totals(key: tuple, pdfs: Iterator[pd.DataFrame],
                        state: GroupState) -> Iterable[pd.DataFrame]:
    """Per-user running totals: state = (event count, value sum in
    integer CENTS — SURVEY §4.3: exact accumulation means the emitted
    2dp total never depends on batch/arrival order); emits the updated
    totals once per micro-batch the key appears in."""
    (user_id,) = key
    n, s = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        s += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [user_id],
                        "n_events": [n],
                        "sum_value": [round(s / 100.0, 2)]})


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """The streaming transform itself (composable / testable)."""
    return (events.groupBy("user_id")
            .applyInPandasWithState(_update_user_totals,
                                    outputStructType=OUT_SCHEMA,
                                    stateStructType=STATE_SCHEMA,
                                    outputMode="update",
                                    timeoutConf=GroupStateTimeout.NoTimeout))


def run_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the stateful operator. The single-file
    parquet source is one availableNow batch, so each key updates exactly
    once and the emitted totals equal the batch GROUP BY — which is the
    DuckDB oracle for the `stream_stateful` query key."""
    totals = stateful_user_totals(events_stream_reader(spark, sf_dir))
    return replay.drain(spark, totals, "update")[0]


# ---------------------------------------- event-time-timeout sessions

SESS_OUT_SCHEMA = ("user_id bigint, sess_start timestamp, "
                   "sess_last timestamp, n_events bigint, closed_by string")
SESS_STATE_SCHEMA = "start long, last long, n bigint"

_GAP_US = 5 * 60 * 1_000_000          # 5-minute session gap


def _update_sessions(key: tuple, pdfs: Iterator[pd.DataFrame],
                     state: GroupState) -> Iterable[pd.DataFrame]:
    """Gap-based sessionizer with EVENT-TIME TIMEOUT closure: rows
    extend the open session while they arrive within the gap; a gap in
    the DATA closes the previous session immediately ('gap'); the
    user's final open session closes only when the WATERMARK passes
    last_ts + gap ('timeout') — the mechanism that flushes idle keys in
    a production pipeline. State per key is three scalars.

    r11 (guide §4): the per-row Python fold over sorted timestamps is
    now a NumPy segmentation — the former loop cost ~1M interpreted
    iterations per sf1j replay inside the narrowest stage. Exactness:
    the fold's running `last` before any emission is max(state_last,
    ts[j-1]) on the sorted array, so a session break at j happens iff
    ts[j]-ts[j-1] > gap AND ts[j]-state_last > gap (once one break
    fires, every later ts exceeds state_last+gap, so the second
    conjunct is vacuous after the first — making it safe to apply
    everywhere); segment mins/maxes/counts reproduce the fold's
    min/max/n+1 updates on each closed run. Emission frames are built
    from int64 arrays (pd.to_datetime vectorized), not per-row
    pd.Timestamp objects."""
    import numpy as np

    (user_id,) = key

    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": np.array([user_id], dtype="int64"),
             "sess_start": pd.to_datetime([start], unit="us"),
             "sess_last": pd.to_datetime([last], unit="us"),
             "n_events": np.array([n], dtype="int64"),
             "closed_by": "timeout"},
            columns=["user_id", "sess_start", "sess_last", "n_events",
                     "closed_by"])
        return

    start, last, n0 = state.get if state.exists else (None, None, 0)
    arrs = []
    for pdf in pdfs:
        col = pdf["ts"]
        a = (col.astype("int64") // 1000 if col.dtype.kind == "M"
             else col.astype("int64"))
        arrs.append(a.to_numpy())
    if not arrs:
        return
    ts = np.sort(np.concatenate(arrs)) if len(arrs) > 1 else np.sort(arrs[0])
    if not ts.size:
        return

    brk = np.diff(ts) > _GAP_US
    if last is not None:
        brk &= ts[1:] > last + _GAP_US
    bounds = np.flatnonzero(brk) + 1          # segment start indices
    seg_lo = np.concatenate(([0], bounds))
    seg_hi = np.concatenate((bounds, [ts.size]))  # exclusive ends
    starts = ts[seg_lo]
    lasts = ts[seg_hi - 1]
    ns = (seg_hi - seg_lo).astype("int64")

    out_s, out_l, out_n = [], [], []
    if last is not None and ts[0] - last > _GAP_US:
        # the carried session closes before the batch's first row
        out_s.append(start)
        out_l.append(last)
        out_n.append(n0)
    elif last is not None:
        # carried session merges into segment 0 (late rows may be older
        # than state: boundaries extend monotonically, as in the fold)
        starts[0] = min(start, starts[0])
        lasts[0] = max(last, lasts[0])
        ns[0] += n0
    if len(starts) > 1:
        out_s.extend(starts[:-1].tolist())
        out_l.extend(lasts[:-1].tolist())
        out_n.extend(ns[:-1].tolist())

    start, last, n = int(starts[-1]), int(lasts[-1]), int(ns[-1])
    state.update((start, last, n))
    state.setTimeoutTimestamp(last // 1000 + _GAP_US // 1000)
    if out_s:
        yield pd.DataFrame(
            {"user_id": np.full(len(out_s), user_id, dtype="int64"),
             "sess_start": pd.to_datetime(out_s, unit="us"),
             "sess_last": pd.to_datetime(out_l, unit="us"),
             "n_events": np.array(out_n, dtype="int64"),
             "closed_by": "gap"},
            columns=["user_id", "sess_start", "sess_last", "n_events",
                     "closed_by"])


def _sessionizer_state_partitions(sf_dir: str, cores: int) -> int:
    """State partitions for the sessionizer, derived from INPUT SIZE
    (guide §2: scale-adaptive partitioning, not a constant tuned to
    one SF). Unlike the built-in stateful operators (whose per-commit
    store overhead dominates at test scale — replay.run_scoped's measured
    8-partition default), the sessionizer's cost is per-key PYTHON
    work: every (user, micro-batch) pays an applyInPandasWithState
    group call, so parallelism should track event volume. Target
    ~32k events per partition: the sf0.1 fixture (100k rows) keeps
    the 8-partition default (bench comparability), a 10x corpus gets
    the full core count, production sizes to rate x watermark /
    target as the run_scoped docstring prescribes. Row counts come
    from parquet footers — no job, no scan."""
    rows = physical.footer_rows(sf_dir, ("events",))
    if rows is None:
        return 8
    return max(8, min(cores, rows // 32_000))


def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch emulation of :func:`run_stateful_sessions` — the SAME
    emitted set, computed as one window pass instead of the per-group
    applyInPandasWithState protocol (r12, guide §4: the fastest Python
    boundary is no boundary; §2.4: one exchange serves every step).

    Why the emitted sets coincide (the slicing-independence argument
    already pinned in `stream_stateful_timeout`'s docstring): the
    replay slices are time-ranges processed in order and the 10-minute
    watermark exceeds the 5-minute gap, so (a) a session that will be
    extended by a later event can never time out before that event
    arrives, and (b) once all slices are processed the final watermark
    is max(ts) - 10min. Hence emitted = every non-final session per
    user ('gap') + final sessions with last_ts + gap < max(ts) -
    watermark ('timeout') — exactly the gap-segmentation of the full
    sorted per-user event sequence, which is what this computes.
    `tests/test_curation2.py::test_stateful_timeout_sessions_match_batch_rule`
    holds the two implementations row-identical.

    Plan shape: ONE hash exchange on user_id serves the lag window,
    the running-sum window, the (user_id, sid) session aggregate and
    the per-user last-sid window (subset partitioning satisfies all
    four); the watermark is a 1-row scalar aggregate cross-joined in.
    All comparisons are exact integer microseconds (unix_micros), the
    same arithmetic the DuckDB oracle's INTERVAL algebra performs."""
    from pyspark.sql import Window as W

    from ..tables import load_table

    gap_us = _GAP_US
    wm_us = 10 * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.unix_micros("ts").alias("us"))
    w = W.partitionBy("user_id").orderBy("ts")
    brk = F.when(
        F.lag("us").over(w).isNull()
        | (F.col("us") - F.lag("us").over(w) > gap_us), 1).otherwise(0)
    sid = (e.withColumn("sid", F.sum(brk).over(
        w.rowsBetween(W.unboundedPreceding, 0))))
    sess = (sid.groupBy("user_id", "sid")
            .agg(F.min("ts").alias("sess_start"),
                 F.max("ts").alias("sess_last"),
                 F.count("*").alias("n_events"),
                 F.max("us").alias("last_us")))
    last_sid = F.max("sid").over(W.partitionBy("user_id"))
    cut = (load_table(spark, sf_dir, "events")
           .agg((F.max(F.unix_micros("ts")) - wm_us).alias("cut_us")))
    return (sess.withColumn("last_sid", last_sid)
            .crossJoin(F.broadcast(cut))
            .where((F.col("sid") < F.col("last_sid"))
                   | (F.col("last_us") + gap_us < F.col("cut_us")))
            .select("user_id", "sess_start", "sess_last", "n_events",
                    F.when(F.col("sid") < F.col("last_sid"), "gap")
                    .otherwise("timeout").alias("closed_by")))


def run_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the time-ordered 4-slice staging (windows.py:
    january_stream) through the event-time-timeout
    sessionizer. Deterministic emitted set (pinned empirically, same
    method as the outer-join contracts): every session closed by a
    LATER event of the same user ('gap'), plus open sessions whose
    last_ts + gap fell below the final processed watermark ('timeout');
    younger open sessions stay in (discarded) state.

    This is the real streaming execution (kept as the equivalence
    witness for :func:`sessionize_events_batch`, which the
    `stream_stateful_timeout` query key now serves — r12, guide §4)."""
    from .windows import january_stream

    cores = spark.sparkContext.defaultParallelism
    with replay.scratch("mbatch") as staged:
        sessions = (january_stream(spark, sf_dir, staged)
                    .withWatermark("ts", "10 minutes")
                    .groupBy("user_id")
                    .applyInPandasWithState(
                        _update_sessions,
                        outputStructType=SESS_OUT_SCHEMA,
                        stateStructType=SESS_STATE_SCHEMA,
                        outputMode="append",
                        timeoutConf=GroupStateTimeout.EventTimeTimeout))
        return replay.drain(
            spark, sessions, "append",
            state_partitions=_sessionizer_state_partitions(sf_dir, cores))[0]
