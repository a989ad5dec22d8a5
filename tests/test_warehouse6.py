"""Semantic guards for the candles/randomness/community/CV batch:
OHLC vs an order-aware pandas replay, runs-test moments from first
principles, modularity vs a direct edge-census recompute, and the CV
stump vs an independent per-fold train/test replay."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def test_ohlc_matches_order_aware_replay(spark, sf_dir):
    from excel_to_db_spark.queries.warehouse6 import ts_ohlc_candles
    rows = {r.hour_epoch: r
            for r in ts_ohlc_candles(spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_id", "value"])
    ev["h"] = (ev["ts"].astype("datetime64[s]").astype("int64") // 3600)
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    ev = ev.sort_values(["h", "ts", "event_id"])
    for h, g in ev.groupby("h"):
        r = rows[h]
        assert r.n_trades == len(g)
        assert r.open_cents == g["cents"].iloc[0]
        assert r.close_cents == g["cents"].iloc[-1]
        assert r.high_cents == g["cents"].max()
        assert r.low_cents == g["cents"].min()
    assert len(rows) == ev["h"].nunique()


def test_runs_test_first_principles(spark, sf_dir):
    from excel_to_db_spark.queries.warehouse6 import stats_runs_test
    row = stats_runs_test(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    x = ev["ts"].dt.floor("D").value_counts().sort_index()
    s, n = int(x.sum()), len(x)
    above = (x * n > s).astype(int).to_numpy()
    n1 = int(above.sum())
    n2 = n - n1
    runs = 1 + int((above[1:] != above[:-1]).sum())
    assert (row.n, row.n1, row.n2, row.n_runs) == (n, n1, n2, runs)
    e_r = _r(2.0 * n1 * n2 / (n1 + n2) + 1, 6)
    v_r = _r((2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2)
             / ((n1 + n2) * 1.0 * (n1 + n2) * (n1 + n2 - 1)), 6)
    assert (row.e_r, row.v_r) == (e_r, v_r)
    assert row.z == _r((runs - e_r) / math.sqrt(v_r), 6) + 0.0
    assert 0.0 <= row.p_value <= 1.0


def test_modularity_matches_edge_census(spark, sf_dir):
    from excel_to_db_spark.queries.warehouse6 import graph_modularity
    row = graph_modularity(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_custkey"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_suppkey"])
    cu = pd.read_parquet(f"{sf_dir}/customer.parquet",
                         columns=["c_custkey", "c_nationkey"])
    su = pd.read_parquet(f"{sf_dir}/supplier.parquet",
                         columns=["s_suppkey", "s_nationkey"])
    e = (li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
         [["o_custkey", "l_suppkey"]].drop_duplicates()
         .merge(cu, left_on="o_custkey", right_on="c_custkey")
         .merge(su, left_on="l_suppkey", right_on="s_suppkey"))
    m = len(e)
    assert row.m_edges == m
    comms = sorted(set(e["c_nationkey"]) | set(e["s_nationkey"]))
    assert row.n_communities == len(comms)
    q_u = 0
    for c in comms:
        e_in = int(((e["c_nationkey"] == c)
                    & (e["s_nationkey"] == c)).sum())
        d_tot = int((e["c_nationkey"] == c).sum()
                    + (e["s_nationkey"] == c).sum())
        term = e_in / m - (d_tot / (2 * m)) ** 2
        q_u += int(np.sign(term) * math.floor(abs(term) * 1e9 + 0.5))
    assert row.modularity == _r(q_u / 1e9, 6)
    assert -1.0 <= row.modularity <= 1.0


def test_cv_stump_per_fold_replay(spark, sf_dir):
    from excel_to_db_spark.queries.warehouse6 import ml_cv_stump
    got = {r.fold: r for r in ml_cv_stump(spark, sf_dir).collect()}
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_quantity",
                 "l_returnflag"])
    li["fold"] = [
        h32(f"cv:{o}-{ln}") % 5
        for o, ln in zip(li["l_orderkey"], li["l_linenumber"])]
    li["q"] = li["l_quantity"].astype(int)
    li["pos"] = (li["l_returnflag"] == "R").astype(int)

    def H(p, n):
        if p == 0 or p == n:
            return 0.0
        a, b = p / n, (n - p) / n
        return -a * math.log(a) - b * math.log(b)

    assert set(got) == set(range(5))
    for f in range(5):
        tr = li[li["fold"] != f]
        te = li[li["fold"] == f]
        nt, pt = len(tr), int(tr["pos"].sum())
        best = None
        for t in sorted(tr["q"].unique()):
            nl = int((tr["q"] <= t).sum())
            pl = int(tr.loc[tr["q"] <= t, "pos"].sum())
            if nl == 0 or nl == nt:
                continue
            g = _r(H(pt, nt) - (nl * H(pl, nl)
                                + (nt - nl) * H(pt - pl, nt - nl)) / nt,
                   9)
            if best is None or g > best[0]:
                best = (g, t, nl, pl)
        g, t, nl, pl = best
        r = got[f]
        assert (r.threshold, r.gain) == (t, g)
        left_pos = 2 * pl > nl
        right_pos = 2 * (pt - pl) > nt - nl
        tl = te["q"] <= t
        correct = (int(te.loc[tl, "pos"].sum()) if left_pos
                   else int((1 - te.loc[tl, "pos"]).sum()))
        correct += (int(te.loc[~tl, "pos"].sum()) if right_pos
                    else int((1 - te.loc[~tl, "pos"]).sum()))
        assert (r.test_n, r.correct) == (len(te), correct)
        assert r.test_acc == _r(correct / len(te), 6)
