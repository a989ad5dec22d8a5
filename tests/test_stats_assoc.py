"""Semantic guards for the association batch: Cramér's V from a pandas
contingency replay, power-sum moments vs direct numpy central moments,
randomized-response debiasing replayed from the md5 coins, and
Friedman's statistic from an independent midrank recompute."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def test_cramers_v_matches_contingency_replay(spark, sf_dir):
    from excel_to_db_spark.queries.stats_assoc import stats_cramers_v
    row = stats_cramers_v(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderstatus", "o_orderpriority"])
    ct = pd.crosstab(o["o_orderstatus"], o["o_orderpriority"])
    n = ct.values.sum()
    assert (row.n, row.nrows, row.ncols) == (n, ct.shape[0], ct.shape[1])
    assert row.dof == (ct.shape[0] - 1) * (ct.shape[1] - 1)
    e = np.outer(ct.sum(axis=1), ct.sum(axis=0)) / n
    terms = (ct.values - e) ** 2 / e
    chi2 = _r(np.floor(terms * 1e8 + 0.5).sum() / 1e8, 4)
    assert row.chi2 == chi2
    v = _r(math.sqrt(chi2 / (n * min(ct.shape[0] - 1,
                                     ct.shape[1] - 1))), 6)
    assert row.cramers_v == v
    assert 0.0 <= row.cramers_v <= 1.0


def test_higher_moments_match_direct_central(spark, sf_dir):
    from excel_to_db_spark.queries.stats_assoc import agg_higher_moments
    row = agg_higher_moments(spark, sf_dir).collect()[0]
    q = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                        columns=["l_quantity"])["l_quantity"] \
        .astype("int64").to_numpy()
    assert row.n == len(q)
    mu = q.mean()
    m2 = ((q - mu) ** 2).mean()
    m3 = ((q - mu) ** 3).mean()
    m4 = ((q - mu) ** 4).mean()
    # the power-sum expansion must agree with the direct centered pass
    assert abs(row.mean_qty - mu) < 1e-6
    assert abs(row.m2 - m2) < 1e-5
    assert abs(row.skewness - m3 / m2 ** 1.5) < 1e-5
    assert abs(row.kurtosis_excess - (m4 / m2 ** 2 - 3)) < 1e-5


def test_randomized_response_replay(spark, sf_dir):
    from excel_to_db_spark.queries.stats_assoc import (
        privacy_randomized_response)
    row = privacy_randomized_response(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "event_type"])
    truth = (ev["event_type"] == "error").astype(int).to_numpy()
    h = ev["event_id"].map(lambda i: h32(f"rr:{i}")).to_numpy()
    b1, b2 = h % 2, (h // 2) % 2
    reported = np.where(b1 == 1, truth, b2)
    assert (row.n, row.n_true) == (len(ev), int(truth.sum()))
    assert row.n_reported == int(reported.sum())
    assert row.p_obs == _r(reported.sum() / len(ev), 6)
    assert row.pi_est == _r(2.0 * (reported.sum() / len(ev)) - 0.5, 6)
    assert row.pi_true == _r(truth.sum() / len(ev), 6)
    assert row.abs_err == _r(abs(row.pi_est - row.pi_true), 6)
    assert row.epsilon == _r(math.log(3.0), 6)


def test_friedman_matches_midrank_replay(spark, sf_dir):
    from excel_to_db_spark.queries.stats_assoc import stats_friedman
    row = stats_friedman(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_type", "value"])
    ev["d"] = ev["ts"].dt.floor("D")
    ev["cents"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    cell = (ev.groupby(["d", "event_type"])["cents"]
            .agg(["sum", "count"]).reset_index())
    cell["mm"] = np.floor(cell["sum"] * 10.0 / cell["count"]
                          + 0.5).astype("int64")
    n = cell["d"].nunique()
    k = cell["event_type"].nunique()
    assert (row.n_blocks, row.k_treatments) == (n, k)
    # 2x midranks per block, exact under ties
    r2 = {}
    tsum = 0
    for _, blk in cell.groupby("d"):
        vals = blk["mm"].to_numpy()
        for trt, v in zip(blk["event_type"], vals):
            lt = int((vals < v).sum())
            eq = int((vals == v).sum())
            r2[trt] = r2.get(trt, 0) + 2 * lt + eq + 1
        for _, t in pd.Series(vals).value_counts().items():
            tsum += t ** 3 - t
    ssq = sum(v * v for v in r2.values())
    chi2_raw = _r(3.0 / (n * k * (k + 1)) * ssq - 3.0 * n * (k + 1), 6)
    tie_c = _r(1.0 - tsum / (n * k * (k * k - 1)), 6)
    assert row.chi2_raw == chi2_raw
    assert row.tie_c == tie_c
    assert row.chi2 == _r(chi2_raw / tie_c, 6)
    # Wilson-Hilferty + A-S erfc replay, reflected for z < 0 (the
    # polynomial holds for z >= 0 only)
    f = k - 1
    z = (((row.chi2 / f) ** (1.0 / 3.0) - (1.0 - 2.0 / (9.0 * f)))
         / math.sqrt(2.0 / (9.0 * f)) / math.sqrt(2.0))
    a = abs(z)
    t = 1.0 / (1.0 + 0.3275911 * a)
    erfc = ((0.254829592 * t - 0.284496736 * t**2 + 1.421413741 * t**3
             - 1.453152027 * t**4 + 1.061405429 * t**5)
            * math.exp(-a * a))
    if z < 0:
        erfc = 2.0 - erfc
    assert row.p_value == _r(0.5 * erfc, 8)
    assert 0.0 <= row.p_value <= 1.0
