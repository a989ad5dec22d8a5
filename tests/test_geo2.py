"""Semantic guards for the geo2 batch (OD matrix / Voronoi catchments /
nearest-facility deciles): each operator is checked against a
BRUTE-FORCE numpy/pandas recomputation of the same hash-synthesized
coordinates — proving the broadcast-argmin and tile rollups compute
the exact assignment, not an approximation."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32

LAT_SPAN = 30_000_000
LON_SPAN = 50_000_000
TX8 = 1_406_250
TY8 = 703_125


def _points(sf_dir, table="customer", key="c_custkey", pfx=""):
    d = pd.read_parquet(f"{sf_dir}/{table}.parquet", columns=[key])
    ids = d[key].astype("int64").to_numpy()
    lat = np.array([h32(f"{pfx}lat:{i}") % LAT_SPAN for i in ids])
    lon = np.array([h32(f"{pfx}lon:{i}") % LON_SPAN for i in ids])
    return ids, lat, lon


def _nearest_brute(sf_dir):
    """cust_id -> (supp_id, d2): exact argmin, ties to min supp_id."""
    cids, clat, clon = _points(sf_dir)
    sids, slat, slon = _points(sf_dir, "supplier", "s_suppkey", "s")
    out = {}
    for ci, la, lo in zip(cids.tolist(), clat.tolist(), clon.tolist()):
        d2 = (slat - la) ** 2 + (slon - lo) ** 2
        best = int(d2.min())
        si = int(sids[d2 == best].min())
        out[ci] = (si, best)
    return out


def test_od_matrix_vs_bruteforce(spark, sf_dir):
    from excel_to_db_spark.queries.geo2 import geo_od_matrix
    rows = geo_od_matrix(spark, sf_dir).collect()
    cids, clat, clon = _points(sf_dir)
    sids, slat, slon = _points(sf_dir, "supplier", "s_suppkey", "s")
    ctile = {int(i): ((lo + 170_000_000) // TX8 // 16,
                      (60_000_000 - la) // TY8 // 16)
             for i, la, lo in zip(cids, clat, clon)}
    stile = {int(i): ((lo + 170_000_000) // TX8 // 16,
                      (60_000_000 - la) // TY8 // 16)
             for i, la, lo in zip(sids, slat, slon)}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_custkey"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_suppkey"])
    edges = (o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
             [["o_custkey", "l_suppkey"]].drop_duplicates())
    flows = {}
    for ck, sk in edges.itertuples(index=False):
        key = ctile[int(ck)] + stile[int(sk)]
        flows[key] = flows.get(key, 0) + 1
    top = sorted(flows.items(), key=lambda kv: (-kv[1],) + kv[0])[:15]
    exp = {(k[0], k[1], k[2], k[3]): (v, r)
           for r, (k, v) in enumerate(top, start=1)}
    got = {(r.o_tx, r.o_ty, r.d_tx, r.d_ty): (r.flow, r.rnk)
           for r in rows}
    assert got == exp


def test_catchment_share_vs_bruteforce(spark, sf_dir):
    from excel_to_db_spark.queries.geo2 import geo_catchment_share
    rows = geo_catchment_share(spark, sf_dir).collect()
    nearest = _nearest_brute(sf_dir)
    n = len(nearest)
    exp = {}
    for si, d2 in nearest.values():
        cnt, mx = exp.get(si, (0, 0))
        exp[si] = (cnt + 1, max(mx, d2))
    expected = {si: (cnt, cnt * 1_000_000 // n, mx)
                for si, (cnt, mx) in exp.items()}
    got = {r.supp_id: (r.n_customers, r.share_micro, r.max_d2)
           for r in rows}
    assert got == expected
    # catchments partition the customer corpus exactly
    assert sum(r.n_customers for r in rows) == n


def test_nearest_grid_prune_exact_for_any_cell_size(spark, sf_dir):
    """The r8 grid prune must be exact for ANY cell size g: a tiny g
    starves the 3x3 candidate pass and routes (nearly) every customer
    through the escalation path; a huge g degenerates to the old
    brute-force scan. Both must reproduce the numpy argmin with ties
    pinned to min supplier id."""
    from excel_to_db_spark.queries.geo2 import _nearest
    exp = _nearest_brute(sf_dir)
    for g in (10_000, 40_000_000):
        got = {r.cust_id: (r.supp_id, r.d2)
               for r in _nearest(spark, sf_dir, _g_override=g).collect()}
        assert got == exp, f"g={g}"


def test_nearest_deciles_vs_bruteforce(spark, sf_dir):
    from excel_to_db_spark.queries.geo2 import geo_nearest_deciles
    rows = geo_nearest_deciles(spark, sf_dir).collect()
    nearest = _nearest_brute(sf_dir)
    d_m = sorted(round(math.sqrt(d2) * 0.111195)
                 for _, d2 in nearest.values())
    n = len(d_m)
    exp = {}
    for rk, v in enumerate(d_m, start=1):
        dec = (rk - 1) * 10 // n
        cnt, lo, hi = exp.get(dec, (0, None, None))
        exp[dec] = (cnt + 1, v if lo is None else min(lo, v),
                    v if hi is None else max(hi, v))
    got = {r.decile: (r.n_customers, r.min_m, r.max_m) for r in rows}
    assert got == exp
    assert sum(r.n_customers for r in rows) == n
