"""Streaming-twin guards: the engine-maintained HLL registers and
skew counters must equal their batch twins row-for-row (the
mergeability law, checked end to end through a real streaming query),
and the HLL registers must equal a pure-Python register build."""

from __future__ import annotations

import pandas as pd

from conftest import h32

W_BITS = 26


def test_stream_hll_equals_batch(spark, sf_dir):
    from excel_to_db_spark.queries.flagships2 import sketch_hll_manual
    from excel_to_db_spark.queries.streamops import stream_hll_registers
    b = sketch_hll_manual(spark, sf_dir).collect()[0]
    s = stream_hll_registers(spark, sf_dir).collect()[0]
    assert s.asDict() == b.asDict()
    # independent register build
    keys = pd.read_parquet(f"{sf_dir}/orders.parquet",
                           columns=["o_custkey"]).o_custkey.tolist()
    regs = {}
    for k in keys:
        h = h32(f"hll:{k}")
        b_, w = h >> W_BITS, h % (1 << W_BITS)
        r = (W_BITS + 1) if w == 0 else (W_BITS + 1 - w.bit_length())
        regs[b_] = max(regs.get(b_, 0), r)
    assert s.n_buckets_hit == len(regs)
    assert s.max_register == max(regs.values())


def test_stream_skew_equals_batch(spark, sf_dir):
    from excel_to_db_spark.queries.dataops import ops_partition_skew
    from excel_to_db_spark.queries.streamops import stream_skew_monitor
    b = ops_partition_skew(spark, sf_dir).collect()[0]
    s = stream_skew_monitor(spark, sf_dir).collect()[0]
    assert s.asDict() == b.asDict()
    assert s.max_rows >= s.p99_rows >= s.median_rows > 0
    assert s.skew_ratio_micro >= 1_000_000


def test_stream_spc_equals_batch(spark, sf_dir):
    from excel_to_db_spark.queries.spc import spc_p_chart
    from excel_to_db_spark.queries.streamops import stream_spc_monitor
    b = {r.day: tuple(r)[1:] for r in spc_p_chart(spark, sf_dir).collect()}
    s = {r.day: tuple(r)[1:]
         for r in stream_spc_monitor(spark, sf_dir).collect()}
    assert s == b
    assert any(v[-1] == 1 for v in s.values()) or len(s) > 0
