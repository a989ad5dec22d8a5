"""Semantic guards for the structure-diagnostics batch: isotropy vs
a brute-force pairwise cosine mean, power-law alpha vs the CSN
formula, periodogram vs numpy trig sums, and multiclass MCC vs a
sklearn-free confusion replay."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def test_isotropy_brute_force_pairs(spark, sf_dir):
    from excel_to_db_spark.queries.structure import embedding_isotropy
    row = embedding_isotropy(spark, sf_dir).collect()[0]
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(emb["embedding"].to_numpy()).astype("float64")
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    n = len(Vn)
    s = Vn.sum(axis=0)
    mean_cos = (float(s @ s) - n) / (n * (n - 1))
    assert (row.n, row.d) == (n, V.shape[1])
    assert abs(row.mean_pairwise_cos - mean_cos) < 1e-5
    # identity check against a sampled brute force
    G = Vn[:200] @ Vn[:200].T
    bf = (G.sum() - np.trace(G)) / (200 * 199)
    assert abs(bf - mean_cos) < 0.05


def test_powerlaw_alpha_csn(spark, sf_dir):
    from excel_to_db_spark.queries.structure import graph_powerlaw_alpha
    row = graph_powerlaw_alpha(spark, sf_dir).collect()[0]
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_partkey"])
    deg = li.groupby("l_partkey").size()
    tail = deg[deg >= 5].to_numpy(dtype="float64")
    l_u = sum(round(math.log(d / 4.5) * 1e6) for d in tail)
    assert (row.n_nodes, row.n_tail) == (len(deg), len(tail))
    assert row.dmin == 5
    assert row.alpha == _r(1.0 + len(tail) / (l_u / 1e6), 4)
    assert row.alpha > 1.0


def test_periodogram_numpy_trig(spark, sf_dir):
    from excel_to_db_spark.queries.structure import ts_periodogram
    rows = {r.period: r for r in ts_periodogram(spark, sf_dir).collect()}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    cents = np.floor(o["o_totalprice"] * 100 + 0.5).astype("int64")
    y = (pd.DataFrame({"d": o["o_orderdate"].dt.floor("D"),
                       "c": cents})
         .groupby("d")["c"].sum().sort_index()
         .to_numpy(dtype="float64"))
    t = np.arange(len(y), dtype="float64")
    n = len(y)
    dem = y - y.mean()
    syyc = float((dem ** 2).sum())
    assert set(rows) == {7, 30, 91, 365}
    for p in (7, 30, 91, 365):
        c = float(np.round(dem * np.cos(2 * np.pi * t / p)).sum())
        s = float(np.round(dem * np.sin(2 * np.pi * t / p)).sum())
        share = 2.0 * (c * c + s * s) / (n * syyc)
        assert abs(rows[p].power_share - share) < 1e-5
        assert 0.0 <= rows[p].power_share <= 1.0 + 1e-9


def test_mcc_multiclass_confusion_replay(spark, sf_dir):
    from excel_to_db_spark.queries.structure import eval_mcc_multiclass
    row = eval_mcc_multiclass(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "event_type"])
    shift = {"click": "error", "error": "purchase",
             "purchase": "signup", "signup": "view", "view": "click"}

    def pred(eid, et):
        h = h32(str(eid))
        return et if h % 10 < 7 else shift[et]

    yhat = [pred(e, t) for e, t in zip(ev["event_id"],
                                       ev["event_type"])]
    y = ev["event_type"].tolist()
    s = len(y)
    c = sum(1 for a, b in zip(y, yhat) if a == b)
    tk = pd.Series(y).value_counts()
    pk = pd.Series(yhat).value_counts()
    tp_sum = sum(int(tk.get(k, 0)) * int(pk.get(k, 0))
                 for k in set(tk.index) | set(pk.index))
    t2 = int((tk ** 2).sum())
    p2 = int((pk ** 2).sum())
    mcc = (c * s - tp_sum) / (math.sqrt(s * s - p2)
                              * math.sqrt(s * s - t2))
    assert (row.s, row.c) == (s, c)
    assert row.accuracy == _r(c / s, 6)
    assert row.mcc == _r(mcc, 6)
    # the 70%-faithful persona must beat chance decisively
    assert row.mcc > 0.4
