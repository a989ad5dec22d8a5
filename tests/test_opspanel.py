"""Semantic guards for the ops-panel batch: learning curve vs a
hashlib subsample replay, GB burstiness vs numpy moments, top-k
coverage vs sorted counts, and MTBF/MTTR vs a sequential burst
scan."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def test_learning_curve_hashlib_replay(spark, sf_dir):
    from excel_to_db_spark.queries.opspanel import ml_learning_curve
    rows = {r.train_pct: r
            for r in ml_learning_curve(spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "event_type", "value"])
    ev = ev[ev["event_type"].isin(["purchase", "view"])].copy()
    ev["b"] = (np.floor(ev["value"] * 100 + 0.5).astype("int64")
               // 1000)
    ev["y"] = (ev["event_type"] == "purchase").astype(int)
    ev["h"] = [(h32(str(e)) % 100) for e in ev["event_id"]]

    def best_thr(sub):
        hist = (sub.groupby("b")["y"].agg(["size", "sum"])
                .sort_index())
        ct, pt = int(hist["size"].sum()), int(hist["sum"].sum())
        cl = pl = 0
        cand = []
        for thr, rec in hist.iterrows():
            cl += int(rec["size"])
            pl += int(rec["sum"])
            if cl < ct:
                s = pl * pl / cl + (pt - pl) ** 2 / (ct - cl)
                cand.append((-s, thr))
        return min(cand)[1]

    assert set(rows) == {10, 30, 100}
    for pct in (10, 30, 100):
        sub = ev[ev["h"] < pct]
        thr = best_thr(sub)
        correct = int(((ev["b"] <= thr) & (ev["y"] == 0)).sum()
                      + ((ev["b"] > thr) & (ev["y"] == 1)).sum())
        r = rows[pct]
        assert r.threshold == thr
        assert r.full_accuracy == _r(correct / len(ev), 6)
    # accuracy may only improve (weakly) with more training data
    # on this stump family up to rounding noise
    assert rows[100].full_accuracy >= rows[10].full_accuracy - 0.02


def test_burstiness_gb_numpy(spark, sf_dir):
    from excel_to_db_spark.queries.opspanel import events_burstiness_gb
    rows = {r.stream: r
            for r in events_burstiness_gb(spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_id", "event_type"])
    ev = ev.sort_values(["event_type", "ts", "event_id"])
    for stream, grp in ev.groupby("event_type"):
        s = (grp["ts"].astype("datetime64[ns]").astype("int64")
             // 10 ** 9).to_numpy()
        gaps = np.diff(s).astype("float64")
        mu, sig = gaps.mean(), gaps.std()
        r = rows[stream]
        assert r.n == len(gaps)
        assert r.mean_gap_s == _r(mu, 2)
        assert abs(r.burstiness_b - (sig - mu) / (sig + mu)) < 1e-4
        assert -1.0 <= r.burstiness_b <= 1.0


def test_topk_coverage_sorted_counts(spark, sf_dir):
    from excel_to_db_spark.queries.opspanel import text_topk_coverage
    rows = {r.k: r for r in text_topk_coverage(spark, sf_dir).collect()}
    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["text"])
    cnt = Counter(w for t in d["text"] for w in t.split(" "))
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())
    for k in (10, 100, 1000):
        cov = sum(c for _, c in ordered[:k]) / total
        r = rows[k]
        assert r.n_types == min(k, len(cnt))
        assert r.coverage == _r(cov, 6)
    assert rows[10].coverage <= rows[100].coverage \
        <= rows[1000].coverage
    # the closed 31-word vocabulary saturates past k = 31
    assert rows[100].coverage == 1.0


def test_mtbf_mttr_sequential_scan(spark, sf_dir):
    from excel_to_db_spark.queries.opspanel import ops_mtbf_mttr
    row = ops_mtbf_mttr(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_id", "event_type"])
    ev = ev[ev["event_type"] == "error"]\
        .sort_values(["ts", "event_id"])
    s = (ev["ts"].astype("datetime64[ns]").astype("int64")
         // 10 ** 9).to_numpy()
    bursts = []
    start = prev = s[0]
    for v in s[1:]:
        if v - prev > 300:
            bursts.append((start, prev))
            start = v
        prev = v
    bursts.append((start, prev))
    mttr = sum(t1 - t0 for t0, t1 in bursts) / len(bursts)
    tbfs = [bursts[i + 1][0] - bursts[i][1]
            for i in range(len(bursts) - 1)]
    mtbf = sum(tbfs) / len(tbfs)
    assert row.n_bursts == len(bursts)
    assert row.mttr_s == _r(mttr, 2)
    assert row.mtbf_s == _r(mtbf, 2)
    assert row.mtbf_s > 300      # by construction of the gap rule
