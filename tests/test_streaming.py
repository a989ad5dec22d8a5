"""Structured Streaming: the streaming result equals the batch result,
and `streaming/replay.py` is the one place a finite stream is staged,
started and drained — a drained stream leaves no query, view or staged
file behind."""

from __future__ import annotations

import glob
import os
import pathlib
import re
import tempfile

from conftest import SF_DIR, plan_text
from excel_to_db_spark.streaming import run_tumbling_stream, tumbling_agg
from excel_to_db_spark.tables import load_table

PKG = pathlib.Path(__file__).resolve().parent.parent / "excel_to_db_spark"


def _as_set(df):
    return {(r.win_start, r.win_end, r.n_events, r.sum_value)
            for r in df.collect()}


def test_stream_equals_batch(spark, sf_dir):
    batch = tumbling_agg(load_table(spark, sf_dir, "events"))
    stream = run_tumbling_stream(spark, sf_dir)
    assert _as_set(stream) == _as_set(batch)
    assert stream.count() > 0


def test_stream_stream_left_join_contract(spark, sf_dir):
    """Left-outer stream-stream join: matched rows equal the batch
    interval join exactly; NULL-emitted unmatched rows are precisely
    the batch-unmatched clicks older than the final-watermark cutoff
    (min(max click, max view) - watermark - interval)."""
    import datetime

    from pyspark.sql import functions as F

    from excel_to_db_spark.streaming import run_stream_stream_left_join

    out = run_stream_stream_left_join(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    b = c.join(v, (F.col("c_user") == F.col("v_user"))
               & (F.col("view_ts") > F.col("click_ts"))
               & (F.col("view_ts") <= F.col("click_ts")
                  + F.expr("INTERVAL 10 minutes")), "left_outer")

    got_matched = sorted(map(tuple, out.filter(F.col("view_id").isNotNull())
                             .select("user_id", "click_id", "view_id").collect()))
    want_matched = sorted(map(tuple, b.filter(F.col("view_id").isNotNull())
                              .select("c_user", "click_id", "view_id").collect()))
    assert got_matched == want_matched

    maxc = c.agg(F.max("click_ts")).first()[0]
    maxv = v.agg(F.max("view_ts")).first()[0]
    cut = min(maxc, maxv) - datetime.timedelta(minutes=40)
    got_null = sorted(r.click_id for r in out.filter(F.col("view_id").isNull())
                      .collect())
    want_null = sorted(r.click_id for r in
                       b.filter(F.col("view_id").isNull()
                                & (F.col("click_ts") < F.lit(cut))).collect())
    assert got_null == want_null


def test_multibatch_append_emits_each_window_once(spark, sf_dir):
    """Append-mode multi-batch replay: every finalized window appears
    exactly once (emit-once contract), and no window after the final
    watermark leaks out."""
    import datetime

    from pyspark.sql import functions as F

    from excel_to_db_spark.streaming import run_tumbling_stream_multibatch

    out = run_tumbling_stream_multibatch(spark, sf_dir)
    rows = out.collect()
    starts = [r.win_start for r in rows]
    assert len(starts) == len(set(starts))
    maxts = (load_table(spark, sf_dir, "events")
             .agg(F.max("ts")).first()[0])
    w = maxts - datetime.timedelta(minutes=30)
    assert all(r.win_end < w for r in rows)


def _package_files_matching(pattern: str, under: pathlib.Path = PKG):
    rx = re.compile(pattern)
    return {str(p.relative_to(PKG)) for p in under.rglob("*.py")
            if rx.search(p.read_text())}


def test_only_replay_starts_stages_and_drains():
    """A trigger, a staging directory or a memory sink written outside
    replay.py is a second place that decides how a replay runs. The
    Python streaming source has no availableNow, so its poll loop reads
    its own memory sink."""
    assert _package_files_matching(r"trigger\(availableNow") \
        == {"streaming/replay.py"}
    assert _package_files_matching(r"mkdtemp", PKG / "streaming") \
        == {"streaming/replay.py"}
    assert _package_files_matching(r"format\([\"']memory[\"']\)") \
        == {"streaming/replay.py", "sources/replay_stream.py"}


def test_drained_streams_leave_nothing_behind(spark):
    """After each key is built and collected: no active query, the same
    temp views as before, no new staging directory — and every returned
    frame still reads its rows from the memory sink."""
    from excel_to_db_spark.queries import REGISTRY

    def temp_views():
        return {t.name for t in spark.catalog.listTables()
                if t.isTemporary}

    def staged():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "e2db_*")))

    views, dirs = temp_views(), staged()
    frames = {}
    for key in ("stream_tumbling", "stream_late_audit",
                "stream_checkpoint_resume", "stream_dedup_watermark",
                "stream_tumbling_append"):
        frames[key] = REGISTRY[key].fn(spark, SF_DIR)
        frames[key].collect()
    assert spark.streams.active == []
    assert temp_views() == views
    assert staged() == dirs
    for key, df in frames.items():
        assert df.count() > 0, key


def test_require_utc_heals_a_session_that_never_set_the_zone(spark):
    """Spark validates a conf read's default as a time zone, so reading
    with an empty default raised on a session without the conf instead
    of healing it (events_stream_reader and load_table call this)."""
    from excel_to_db_spark.session import require_utc

    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        require_utc(spark)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, old)


def test_stateful_timeout_is_one_pass_batch_window(spark):
    from excel_to_db_spark.queries.curation2 import stream_stateful_timeout

    plan = plan_text(stream_stateful_timeout(spark, SF_DIR))
    assert "FlatMapGroups" not in plan and "EvalPython" not in plan \
        and "MapInArrow" not in plan, "no Python boundary in the plan"
    assert plan.count("Exchange hashpartitioning") == 1, \
        "one user_id exchange serves lag, running-sum, session agg " \
        "and last-sid window"
    assert plan.count("Window") >= 2


def test_foreachbatch_readback_partition_discovery(spark):
    from excel_to_db_spark.queries import REGISTRY

    df = REGISTRY["stream_foreachbatch"].fn(spark, SF_DIR)
    assert set(df.columns) == {"event_type", "n_events", "sum_value"}
    assert df.count() > 0


def test_read_committed_skips_torn_tmp(spark, tmp_path):
    from excel_to_db_spark.sources.stream_sink import read_committed

    out = str(tmp_path / "sink")
    os.makedirs(os.path.join(out, "_commits"))
    os.makedirs(os.path.join(out, "_data"))
    data = os.path.join(out, "_data", "f.csv")
    with open(data, "w") as fh:
        fh.write("1,x\n")
    with open(os.path.join(out, "_commits", "0"), "w") as fh:
        fh.write('{"files": ["%s"], "rows": 1}' % data)
    # A crashed commit leaves a torn tmp: must be ignored, not parsed.
    with open(os.path.join(out, "_commits", "1.tmp-dead"), "w") as fh:
        fh.write('{"files": [')
    df = read_committed(spark, out, "id long, s string")
    assert df.count() == 1
