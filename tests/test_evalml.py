"""Semantic guards for the eval/EB batch: kappa matches an independent
pandas contingency recompute, the ECE table satisfies its accounting
identities against a pandas re-binning, Chapman's estimator is replayed
from per-event md5 hashes, and EB shrinkage provably pulls small groups
toward the pooled mean harder than large ones."""

from __future__ import annotations

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    """Engine-style half-away-from-zero rounding (pandas/python round()
    is half-even, which flips exactly-at-half digits vs Spark/DuckDB)."""
    scale = 10 ** d
    return (np.floor(np.abs(x) * scale + 0.5) / scale
            * np.where(np.asarray(x) >= 0, 1.0, -1.0))


def test_cohens_kappa_matches_pandas(spark, sf_dir):
    from excel_to_db_spark.queries.evalml import eval_cohens_kappa
    row = eval_cohens_kappa(spark, sf_dir).collect()[0]
    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    a = (d["n_chars"] >= 300).astype(int)
    b = (d["text"].str.count("e") >= 30).astype(int)
    n = len(d)
    both_pos = int((a & b).sum())
    both_neg = int(((1 - a) & (1 - b)).sum())
    assert (row.n, row.both_pos, row.both_neg) == (n, both_pos, both_neg)
    po = (both_pos + both_neg) / n
    pe = (a.sum() * b.sum() + (n - a.sum()) * (n - b.sum())) / (n * n)
    assert row.po == _r(po, 6)
    assert row.pe == _r(pe, 6)
    assert row.kappa == _r((po - pe) / (1 - pe), 6)
    # chance correction is real: kappa strictly below raw agreement
    assert row.kappa < row.po


def test_calibration_ece_accounting(spark, sf_dir):
    from excel_to_db_spark.queries.evalml import eval_calibration_ece
    rows = eval_calibration_ece(spark, sf_dir).collect()
    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    conf = _r(d["n_chars"] / d["n_chars"].max(), 6)
    label = (d["lang"] == "en").astype(int)
    bins = np.minimum(np.floor(conf * 10).astype(int), 9)
    assert sum(r.n_docs for r in rows) == len(d)
    for r in rows:
        m = bins == r.bin
        assert r.n_docs == int(m.sum())
        assert r.acc == _r(label[m].sum() / m.sum(), 6)
        want_conf = _r(int(np.floor(conf[m] * 1e6 + 0.5).sum())
                        / (1e6 * m.sum()), 6)
        assert r.avg_conf == want_conf
        assert r.gap == _r(abs(r.avg_conf - r.acc), 6)
    # the ECE scalar is the bin-mass-weighted gap, identical on every row
    n_tot = sum(r.n_docs for r in rows)
    want_ece = _r(sum(r.n_docs * round(r.gap * 1e6) for r in rows)
                  / (1e6 * n_tot), 6)
    assert {r.ece for r in rows} == {want_ece}


def test_capture_recapture_replay(spark, sf_dir):
    from excel_to_db_spark.queries.evalml import stats_capture_recapture
    row = stats_capture_recapture(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    lane = ev["event_id"].map(lambda i: h32(str(i)) % 4)
    c1 = set(ev.loc[lane == 0, "user_id"])
    c2 = set(ev.loc[lane == 1, "user_id"])
    assert (row.n1, row.n2, row.m) == (len(c1), len(c2), len(c1 & c2))
    assert row.exact_users == ev["user_id"].nunique()
    want = (len(c1) + 1) * (len(c2) + 1) // (len(c1 & c2) + 1) - 1
    assert row.est_users == want
    assert row.err_pct == round((want - row.exact_users) * 100.0
                                / row.exact_users, 4)


def test_eb_shrinkage_pulls_toward_pooled_mean(spark, sf_dir):
    from excel_to_db_spark.queries.evalml import stats_eb_shrinkage
    rows = stats_eb_shrinkage(spark, sf_dir).collect()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_suppkey", "l_returnflag"])
    grp = (li.assign(r=(li["l_returnflag"] == "R").astype(int))
           .groupby("l_suppkey")["r"].agg(["count", "sum"]))
    m = _r(grp["sum"].sum() / grp["count"].sum(), 8)
    p = grp["sum"] / grp["count"]
    v = _r(int(np.floor((p - m) ** 2 * 1e12 + 0.5).sum())
           / (1e12 * (len(grp) - 1)), 8)
    k = _r(max(m * (1 - m) / v - 1, 0.0), 4)
    assert k > 0  # the prior actually bites on this corpus
    for r in rows:
        n, x = grp.loc[r.l_suppkey, "count"], grp.loc[r.l_suppkey, "sum"]
        assert (r.n_obs, r.x_ret) == (n, x)
        assert r.raw_rate == _r(x / n, 6)
        assert r.shrunk_rate == _r((x + k * m) / (n + k), 6)
        # shrinkage moves every rate strictly toward m (unless at m)
        if r.raw_rate != _r(m, 6):
            assert abs(r.shrunk_rate - m) < abs(r.raw_rate - m) + 1e-12
    # top-20 ordering is by shrunk rate, suppkey tiebreak
    key = [(-r.shrunk_rate, r.l_suppkey) for r in rows]
    assert key == sorted(key)
