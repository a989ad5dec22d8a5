"""Semantic guards for the sketch/ML batch: KMV Jaccard vs exact set
algebra, Bloom FPR vs a Python bitset replay, linear counting vs its
formula, and Newton logistic vs an explicit numpy IRLS."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

from conftest import h32

_M_BLOOM = 65536
_M_LC = 16384


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def _halves(sf_dir):
    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["doc_id", "text"])
    a, b = set(), set()
    for _, rec in d.iterrows():
        w = rec["text"].split(" ")
        tgt = a if rec["doc_id"] % 2 == 0 else b
        for i in range(len(w) - 2):
            tgt.add(f"{w[i]} {w[i+1]} {w[i+2]}")
    return a, b


def test_kmv_jaccard_set_algebra(spark, sf_dir):
    from excel_to_db_spark.queries.sketchml import sketch_kmv_jaccard
    row = sketch_kmv_jaccard(spark, sf_dir).collect()[0]
    a, b = _halves(sf_dir)
    uni = a | b
    inter = a & b
    kmin = sorted(uni, key=h32)[:256]
    hits = sum(1 for w in kmin if w in a and w in b)
    assert (row.k, row.hits) == (min(256, len(uni)), hits)
    assert row.jaccard_est == _r(hits / row.k, 6)
    assert row.jaccard_exact == _r(len(inter) / len(uni), 6)
    # the sketch should land within ~5 RMSEs of truth
    rmse = math.sqrt(row.jaccard_exact * (1 - row.jaccard_exact) / 256)
    assert abs(row.err) < 5 * rmse + 1e-9


def test_bloom_fpr_bitset_replay(spark, sf_dir):
    from excel_to_db_spark.queries.sketchml import sketch_bloom_fpr
    row = sketch_bloom_fpr(spark, sf_dir).collect()[0]
    a, b = _halves(sf_dir)
    probe = b - a
    bits = {h32(f"{s}:{w}") % _M_BLOOM for w in a for s in (1, 2, 3)}
    fp = sum(1 for w in probe
             if all(h32(f"{s}:{w}") % _M_BLOOM in bits
                    for s in (1, 2, 3)))
    assert (row.n_train, row.n_bits_set) == (len(a), len(bits))
    assert (row.n_probes, row.n_false_pos) == (len(probe), fp)
    assert row.fpr_measured == _r(fp / len(probe), 6)
    rho = len(bits) / _M_BLOOM
    assert row.fpr_theory == _r(rho ** 3, 6)
    # measured and exact-occupancy theory agree to a few percent
    assert abs(row.fpr_measured - row.fpr_theory) < 0.05


def test_linear_counting_formula(spark, sf_dir):
    from excel_to_db_spark.queries.sketchml import sketch_linear_counting
    row = sketch_linear_counting(spark, sf_dir).collect()[0]
    a, b = _halves(sf_dir)
    uni = a | b
    occ = {h32(w) % _M_LC for w in uni}
    est = -_M_LC * math.log((_M_LC - len(occ)) / _M_LC)
    assert (row.n_set, row.ndv) == (len(occ), len(uni))
    assert row.ndv_est == _r(est, 2)
    assert abs(row.err_pct) < 10.0     # sub-10% at this load factor


def test_logistic_newton_numpy_irls(spark, sf_dir):
    from excel_to_db_spark.queries.sketchml import ml_logistic_newton
    row = ml_logistic_newton(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "value"])
    ev = ev[ev["event_type"].isin(["purchase", "view"])]
    y = (ev["event_type"] == "purchase").astype(float).to_numpy()
    x = (np.floor(ev["value"] * 100 + 0.5).astype("int64")
         / 1e4).to_numpy()
    X = np.column_stack([np.ones(len(x)), x])
    beta = np.zeros(2)
    for _ in range(2):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = p * (1.0 - p)
        H = X.T @ (X * w[:, None])
        g = X.T @ (y - p)
        beta = beta + np.linalg.solve(H, g)
    assert row.n == len(y)
    assert abs(row.beta0 - beta[0]) < 1e-3
    assert abs(row.beta1 - beta[1]) < 1e-3
    # step-1 log loss must beat the coin-flip baseline ln 2
    assert row.log_loss_step1 < math.log(2.0) + 1e-6
