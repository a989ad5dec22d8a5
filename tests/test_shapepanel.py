"""Semantic guards for the concentration/shape/sketch batch: Lorenz
deciles vs sorted cumsums, b-bit minhash vs a hashlib replay,
long-tail share vs sorted popularity, and Bowley-Moors vs numpy
order statistics."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def test_lorenz_deciles_sorted_cumsum(spark, sf_dir):
    from excel_to_db_spark.queries.shapepanel import stats_lorenz_deciles
    rows = {r.decile: r.cum_share
            for r in stats_lorenz_deciles(spark, sf_dir).collect()}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    cents = np.floor(o["o_totalprice"] * 100 + 0.5).astype("int64")
    x = np.sort(pd.DataFrame({"k": o["o_custkey"], "c": cents})
                .groupby("k")["c"].sum().to_numpy())
    cum = np.cumsum(x)
    n, total = len(x), int(x.sum())
    assert set(rows) == set(range(1, 10))
    for d in range(1, 10):
        rk = (d * n + 9) // 10
        assert rows[d] == _r(int(cum[rk - 1]) / total, 6)
    # Lorenz curves are convex: shares increase and lie under y=x
    vals = [rows[d] for d in range(1, 10)]
    assert all(a < b for a, b in zip(vals, vals[1:]))
    assert all(rows[d] <= d / 10 + 1e-9 for d in range(1, 10))


def test_bbit_minhash_hashlib_replay(spark, sf_dir):
    from excel_to_db_spark.queries.shapepanel import sketch_bbit_minhash
    row = sketch_bbit_minhash(spark, sf_dir).collect()[0]
    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["doc_id", "text"])
    a, b = set(), set()
    for _, rec in d.iterrows():
        w = rec["text"].split(" ")
        tgt = a if rec["doc_id"] % 2 == 0 else b
        for i in range(len(w) - 2):
            tgt.add(f"{w[i]} {w[i+1]} {w[i+2]}")
    eq = 0
    for seed in range(64):
        ba = min(h32(f"{seed}#{w}") for w in a) % 2
        bb = min(h32(f"{seed}#{w}") for w in b) % 2
        eq += int(ba == bb)
    assert (row.k, row.eq) == (64, eq)
    assert row.jaccard_est_1bit == _r(2.0 * (eq / 64 - 0.5), 6)
    jex = len(a & b) / len(a | b)
    assert row.jaccard_exact == _r(jex, 6)
    # within ~4 RMSEs of truth (RMSE ~ 2*sqrt(p(1-p)/k))
    assert abs(row.jaccard_est_1bit - jex) < 4 * 2 * math.sqrt(
        0.25 / 64) + 1e-9


def test_long_tail_sorted_popularity(spark, sf_dir):
    from excel_to_db_spark.queries.shapepanel import (
        recsys_long_tail_share)
    row = recsys_long_tail_share(spark, sf_dir).collect()[0]
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_partkey"])
    pop = np.sort(li.groupby("l_partkey").size().to_numpy())[::-1]
    n = len(pop)
    head = n // 10
    total = int(pop.sum())
    assert (row.n_items, row.n_head) == (n, head)
    assert row.head_share == _r(int(pop[:head].sum()) / total, 6)
    assert row.tail_share == _r(int(pop[head:].sum()) / total, 6)
    assert abs(row.head_share + row.tail_share - 1.0) < 1e-6


def test_bowley_moors_numpy_order_stats(spark, sf_dir):
    from excel_to_db_spark.queries.shapepanel import stats_bowley_moors
    row = stats_bowley_moors(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["value"])
    c = np.sort(np.floor(ev["value"] * 100 + 0.5).astype("int64"))
    n = len(c)
    e = {j: int(c[(j * n + 7) // 8 - 1]) for j in range(1, 8)}
    bow = (e[2] + e[6] - 2.0 * e[4]) / (e[6] - e[2])
    moors = ((e[7] - e[5]) + (e[3] - e[1])) / (e[6] - e[2])
    assert row.n == n
    assert row.bowley_skewness == _r(bow, 6)
    assert row.moors_kurtosis == _r(moors, 6)
    assert -1.0 <= row.bowley_skewness <= 1.0   # B is bounded
    assert row.moors_kurtosis > 0
