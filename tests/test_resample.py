"""Semantic guards for the resampling/reweighting batch: block
bootstrap vs a hashlib replay, Fisher z vs direct halves, post-
stratification recovery, and WoE/IV vs a Counter replay."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def test_block_bootstrap_hashlib_replay(spark, sf_dir):
    from excel_to_db_spark.queries.resample import ts_block_bootstrap
    row = ts_block_bootstrap(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    cents = np.floor(o["o_totalprice"] * 100 + 0.5).astype("int64")
    y = (pd.DataFrame({"d": o["o_orderdate"].dt.floor("D"),
                       "c": cents})
         .groupby("d")["c"].sum().sort_index().to_numpy())
    L, B, DRAW = 30, 99, 80
    bs = np.array([int(y[s:s + L].sum())
                   for s in range(len(y) - L + 1)])
    nv = len(bs)
    means = []
    for rr in range(1, B + 1):
        tot = sum(int(bs[h32(f"{rr}:{j}") % nv]) for j in range(DRAW))
        means.append(round(tot / (DRAW * L)))
    means = np.array(means, dtype="int64")
    assert (row.n_days, row.n_replicates) == (len(y), B)
    se = math.sqrt(float((means.astype("float64")).var()))
    assert abs(row.block_boot_se - se / 100.0) < 0.02
    srt = np.sort(means)
    assert row.ci_lo == _r(int(srt[2]) / 100.0, 2)
    assert row.ci_hi == _r(int(srt[96]) / 100.0, 2)
    assert row.ci_lo <= row.ci_hi


def test_fisher_z_direct_halves(spark, sf_dir):
    from excel_to_db_spark.queries.resample import stats_fisher_z_test
    row = stats_fisher_z_test(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_type", "value"])
    ev["c"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    ev["d"] = ev["ts"].dt.floor("D")
    piv = (ev.pivot_table(index="d", columns="event_type", values="c",
                          aggfunc="sum", fill_value=0).sort_index())
    half = piv.index < pd.Timestamp("2024-01-16")
    r1 = _r(np.corrcoef(piv.loc[half, "click"],
                        piv.loc[half, "purchase"])[0, 1], 6)
    r2 = _r(np.corrcoef(piv.loc[~half, "click"],
                        piv.loc[~half, "purchase"])[0, 1], 6)
    n1, n2 = int(half.sum()), int((~half).sum())
    assert (row.n1, row.n2) == (n1, n2)
    assert (row.r1, row.r2) == (r1, r2)
    z = (math.atanh(r1) - math.atanh(r2)) / math.sqrt(
        1.0 / (n1 - 3) + 1.0 / (n2 - 3))
    assert row.z == _r(z, 5)
    assert 0.0 <= row.p_value <= 1.0


def test_poststratify_recovers_truth(spark, sf_dir):
    from excel_to_db_spark.queries.resample import sample_poststratify
    row = sample_poststratify(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "event_type", "value"])
    ev["c"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    keep = [(8 if t == "click" else 2) > h32(str(e)) % 10
            for e, t in zip(ev["event_id"], ev["event_type"])]
    ev["sampled"] = np.array(keep, dtype=int)
    g = ev.groupby("event_type").agg(
        n_pop=("c", "size"), s_pop=("c", "sum"),
        n_smp=("sampled", "sum"),
        s_smp=("c", lambda s: 0))     # placeholder, fixed below
    g["s_smp"] = ev[ev["sampled"] == 1].groupby("event_type")["c"]\
        .sum()
    naive = float(g["s_smp"].sum() / g["n_smp"].sum())
    post = (sum(round(np_ * ss / ns) for np_, ss, ns
                in zip(g["n_pop"], g["s_smp"], g["n_smp"]))
            / g["n_pop"].sum())
    true = float(g["s_pop"].sum() / g["n_pop"].sum())
    assert row.n_sample == int(g["n_smp"].sum())
    assert row.naive_mean == _r(naive / 100.0, 4)
    assert row.poststrat_mean == _r(post / 100.0, 4)
    assert row.true_mean == _r(true / 100.0, 4)
    # post-stratification removes the SELECTION bias (click
    # overweighting), not per-draw noise: the reweighted estimate must
    # sit inside the span of the per-stratum sample means (it is their
    # population-weighted average), which the naive mean need not.
    per_mean = (g["s_smp"] / g["n_smp"]) / 100.0
    assert per_mean.min() - 1e-9 <= row.poststrat_mean \
        <= per_mean.max() + 1e-9


def test_woe_iv_counter_replay(spark, sf_dir):
    from excel_to_db_spark.queries.resample import ml_woe_iv
    row = ml_woe_iv(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "value"])
    ev = ev[ev["event_type"].isin(["purchase", "view"])]
    b = np.floor(ev["value"] * 100 + 0.5).astype("int64") // 1000
    pos = pd.Series(b[ev["event_type"] == "purchase"]).value_counts()
    neg = pd.Series(b[ev["event_type"] == "view"]).value_counts()
    buckets = set(pos.index) | set(neg.index)
    tp, tn = int(pos.sum()), int(neg.sum())
    iv_u, scored = 0, 0
    for bk in buckets:
        p, n = int(pos.get(bk, 0)), int(neg.get(bk, 0))
        if p > 0 and n > 0:
            scored += 1
            iv_u += round((p / tp - n / tn)
                          * math.log((p * tn) / (n * tp)) * 1e6)
    assert (row.n_buckets, row.n_scored) == (len(buckets), scored)
    assert row.information_value == _r(iv_u / 1e6, 6)
    want = ("useless" if row.information_value < 0.02 else
            "weak" if row.information_value < 0.1 else
            "medium" if row.information_value < 0.3 else "strong")
    assert row.predictive_grade == want
    assert row.information_value >= 0
