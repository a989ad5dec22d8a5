"""Semantic guards for the paired/blocked nonparametrics batch: sign
test vs direct counting, Wilcoxon W+ vs pandas average-method ranks,
Cochran's Q vs a crosstab replay, and Fleiss' kappa vs a hashlib-based
rater replay."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def _paired_daily(sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_type", "value"])
    ev = ev[ev["event_type"].isin(["click", "view"])].copy()
    ev["c"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    ev["d"] = ev["ts"].dt.floor("D")
    piv = (ev.pivot_table(index="d", columns="event_type", values="c",
                          aggfunc="sum"))
    piv = piv.dropna()
    return piv["click"].astype("int64"), piv["view"].astype("int64")


def test_sign_test_counts(spark, sf_dir):
    from excel_to_db_spark.queries.pairedstats import stats_sign_test
    row = stats_sign_test(spark, sf_dir).collect()[0]
    a, b = _paired_daily(sf_dir)
    npos, nneg = int((a > b).sum()), int((a < b).sum())
    assert (row.n_pairs, row.n_pos, row.n_neg) == (len(a), npos, nneg)
    z = max(abs(npos - nneg) - 1.0, 0.0) / math.sqrt(npos + nneg)
    assert row.z == _r(z, 5)
    assert 0.0 <= row.p_value <= 1.0


def test_sign_test_tie_reads_p_one(spark, monkeypatch):
    """15 days ahead, 15 behind and 2 level: the continuity correction
    stops at 0, so z = 0 and p = 1 on both engines (not p > 1)."""
    import datetime

    import duckdb

    from excel_to_db_spark.queries import REGISTRY
    from excel_to_db_spark.queries import pairedstats as P

    days = [datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i)
            for i in range(32)]
    rows = [(d, 2 if i < 15 else 1, 1 if i < 15 else 2 if i < 30 else 1)
            for i, d in enumerate(days)]
    monkeypatch.setattr(P, "_pairs", lambda spark, sf_dir: (
        spark.createDataFrame(rows, "day timestamp, a bigint, b bigint")))
    values = ", ".join(f"(TIMESTAMP '{d}', {a}, {b})" for d, a, b in rows)
    oracle = REGISTRY["stats_sign_test"].oracle
    assert P._PAIRS_SQL in oracle
    duck = duckdb.sql(oracle.replace(
        P._PAIRS_SQL, f"SELECT * FROM (VALUES {values}) v(day, a, b)"))
    for row in (P.stats_sign_test(spark, "unused").collect()[0].asDict(),
                dict(zip(duck.columns, duck.fetchone()))):
        assert (row["n_pairs"], row["n_pos"], row["n_neg"]) == (32, 15, 15)
        assert row["z"] == 0.0 and row["p_value"] == 1.0, row


def test_wilcoxon_signed_rank_vs_pandas_ranks(spark, sf_dir):
    from excel_to_db_spark.queries.pairedstats import (
        stats_wilcoxon_signed_rank)
    row = stats_wilcoxon_signed_rank(spark, sf_dir).collect()[0]
    a, b = _paired_daily(sf_dir)
    d = (a - b)[(a - b) != 0]
    ranks = d.abs().rank(method="average")
    w_plus = float(ranks[d > 0].sum())
    n = len(d)
    assert row.n == n
    assert row.w_plus == w_plus
    ties = d.abs().value_counts()
    tsum = int((ties ** 3 - ties).sum())
    z = (2 * w_plus - n * (n + 1) / 2.0) / math.sqrt(
        (2.0 * (n * (n + 1.0) * (2 * n + 1)) - tsum) / 12.0)
    assert abs(row.z - z) < 2e-5
    assert 0.0 <= row.p_value <= 1.0


def test_cochran_q_crosstab_replay(spark, sf_dir):
    from excel_to_db_spark.queries.pairedstats import stats_cochran_q
    row = stats_cochran_q(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_type"])
    ev["d"] = ev["ts"].dt.floor("D")
    cnt = ev.groupby(["d", "event_type"]).size().unstack(fill_value=0)
    cnt = cnt[(cnt > 0).all(axis=1)]       # complete blocks only
    succ = (5 * cnt).gt(cnt.sum(axis=1), axis=0).astype(int)
    r = succ.sum(axis=1)
    c = succ.sum(axis=0)
    k, nn = succ.shape[1], int(r.sum())
    q = (k - 1.0) * (k * int((c ** 2).sum()) - nn * nn) \
        / (k * nn - int((r ** 2).sum()))
    assert (row.n_blocks, row.k) == (len(succ), k)
    assert row.q_stat == _r(q, 5)
    assert 0.0 <= row.p_value <= 1.0
    # no block can be all-successes under the fair-share indicator
    assert int(r.max()) < k


def test_fleiss_kappa_hash_replay(spark, sf_dir):
    from excel_to_db_spark.queries.pairedstats import eval_fleiss_kappa
    row = eval_fleiss_kappa(spark, sf_dir).collect()[0]
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "n_chars"])
    cells = {}
    for doc, nch in zip(docs["doc_id"], docs["n_chars"]):
        base = min(3, int(nch) // 150)
        for rr in range(3):
            h = h32(f"{doc}:{rr}")
            cat = (base + (1 if h % 5 == 0 else 0)) % 4
            cells[(doc, cat)] = cells.get((doc, cat), 0) + 1
    n_items = len(docs)
    s2 = sum(v * v for v in cells.values())
    cj = {}
    for (_, cat), v in cells.items():
        cj[cat] = cj.get(cat, 0) + v
    sc2 = sum(v * v for v in cj.values())
    p_bar = _r((s2 - n_items * 3) / (n_items * 3.0 * 2), 6)
    p_e = _r(sc2 / ((n_items * 3.0) * (n_items * 3.0)), 6)
    assert row.n_items == n_items and row.m_raters == 3
    assert row.p_bar == p_bar and row.p_e == p_e
    assert row.kappa == _r((p_bar - p_e) / (1.0 - p_e), 6)
    assert row.kappa > 0.3      # personas agree far above chance
