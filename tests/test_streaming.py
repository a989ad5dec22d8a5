"""Structured Streaming: the streaming result equals the batch result."""

from __future__ import annotations

from excel_to_db_spark.streaming import run_tumbling_stream, tumbling_agg
from excel_to_db_spark.tables import load_table


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
