"""Semantic guards for the classifier batch: naive Bayes matches a
full numpy model replay, the info-gain scan satisfies its accounting
identities and matches an entropy recompute, average precision matches
a sorted-sweep replay, and McNemar's statistic is recomputed from the
paired outcome cells."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def test_naive_bayes_matches_numpy_replay(spark, sf_dir):
    from excel_to_db_spark.queries.mlcls import ml_naive_bayes
    got = {(r.actual_lang, r.pred_lang): r.n_docs
           for r in ml_naive_bayes(spark, sf_dir).collect()}
    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d["u"] = d["doc_id"].map(lambda i: h32(f"nb:{i}") % 5)
    train, test = d[d["u"] != 0], d[d["u"] == 0]
    classes = sorted(train["lang"].unique())
    vocab = sorted({t for s in train["text"] for t in s.split(" ")})
    # per-(token, class) micro log-likelihoods, Laplace-smoothed
    cnt = {c: {} for c in classes}
    for _, row in train.iterrows():
        for t in row["text"].split(" "):
            cnt[row["lang"]][t] = cnt[row["lang"]].get(t, 0) + 1
    tot = {c: sum(cnt[c].values()) for c in classes}
    V = len(vocab)
    wt = {(t, c): round(math.log((cnt[c].get(t, 0) + 1.0)
                                 / (tot[c] + V)) * 1e6)
          for t in vocab for c in classes}
    n_tr = len(train)
    prior = {c: round(math.log((train["lang"] == c).sum() / n_tr) * 1e6)
             for c in classes}
    want = {}
    for _, row in test.iterrows():
        scores = {c: prior[c] + sum(wt[(t, c)]
                                    for t in row["text"].split(" ")
                                    if (t, c) in wt)
                  for c in classes}
        pred = min(classes, key=lambda c: (-scores[c], c))
        want[(row["lang"], pred)] = want.get((row["lang"], pred), 0) + 1
    assert got == want


def test_info_gain_accounting_and_entropy(spark, sf_dir):
    from excel_to_db_spark.queries.mlcls import ml_split_info_gain
    rows = ml_split_info_gain(spark, sf_dir).collect()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity", "l_returnflag"])
    q = li["l_quantity"].astype(int)
    pos = (li["l_returnflag"] == "R").astype(int)
    n_tot, pos_tot = len(li), int(pos.sum())

    def H(p, n):
        if p == 0 or p == n:
            return 0.0
        a, b = p / n, (n - p) / n
        return -a * math.log(a) - b * math.log(b)

    best_seen = 0
    for r in rows:
        assert r.n_left + r.n_right == n_tot
        assert r.pos_left + r.pos_right == pos_tot
        assert r.n_left == int((q <= r.threshold).sum())
        assert r.pos_left == int(pos[q <= r.threshold].sum())
        want = _r(H(pos_tot, n_tot)
                  - (r.n_left * H(r.pos_left, r.n_left)
                     + r.n_right * H(r.pos_right, r.n_right)) / n_tot, 9)
        assert abs(r.gain - want) < 2e-9
        best_seen += int(r.best)
    assert best_seen == 1
    # the flagged row carries the max gain (smallest threshold on ties)
    mx = max(r.gain for r in rows)
    flagged = [r for r in rows if r.best][0]
    assert flagged.gain == mx
    assert flagged.threshold == min(r.threshold for r in rows
                                    if r.gain == mx)


def test_avg_precision_matches_sweep(spark, sf_dir):
    from excel_to_db_spark.queries.mlcls import eval_avg_precision
    row = eval_avg_precision(spark, sf_dir).collect()[0]
    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    lab = (d["lang"] == "en").astype(int).to_numpy()
    s = (d["doc_id"].map(lambda i: h32(f"ap:{i}") % 1000).to_numpy()
         + lab * 300)
    order = np.lexsort((d["doc_id"].to_numpy(), -s))
    lab_sorted = lab[order]
    cum = np.cumsum(lab_sorted)
    rk = np.arange(1, len(lab) + 1)
    ap_num = sum(round(c * 1e6 / k)
                 for c, k, l in zip(cum, rk, lab_sorted) if l == 1)
    assert row.n_docs == len(d)
    assert row.n_pos == int(lab.sum())
    assert row.avg_precision == _r(ap_num / (1e6 * lab.sum()), 6)
    assert row.p_at_20 == _r(int(cum[19]) / 20.0, 6)


def test_mcnemar_cells_and_stat(spark, sf_dir):
    from excel_to_db_spark.queries.mlcls import stats_mcnemar
    row = stats_mcnemar(spark, sf_dir).collect()[0]
    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    lab = (d["lang"] == "en").astype(int)
    pa = (d["text"].str.count("e") >= 30).astype(int)
    pb = d["text"].str.contains(" the ", regex=False).astype(int)
    b01 = int(((pa == lab) & (pb != lab)).sum())
    b10 = int(((pa != lab) & (pb == lab)).sum())
    assert (row.b01, row.b10) == (b01, b10)
    assert row.correct_a == int((pa == lab).sum())
    assert row.correct_b == int((pb == lab).sum())
    assert row.acc_a == _r(row.correct_a / len(d), 6)
    chi2 = _r((abs(b01 - b10) - 1.0) ** 2 / (b01 + b10), 6)
    assert row.chi2 == chi2
    # replay the A-S 7.1.26 erfc polynomial exactly as both engines run it
    z = math.sqrt(chi2 / 2.0)
    t = 1.0 / (1.0 + 0.3275911 * z)
    erfc = ((0.254829592 * t - 0.284496736 * t**2 + 1.421413741 * t**3
             - 1.453152027 * t**4 + 1.061405429 * t**5)
            * math.exp(-z * z))
    assert row.p_value == _r(erfc, 8)
    # and it agrees with the true survival function to the A-S bound
    assert abs(row.p_value - math.erfc(z)) < 2e-7
