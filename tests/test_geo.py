"""Semantic guards for the geo batch: the grid-blocked operators are
checked against BRUTE-FORCE O(n^2) recomputations of the same
hash-synthesized coordinates (proves the 3x3 blocking loses no pair),
and the tile rollup against its own conservation laws."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from conftest import h32

LAT_SPAN = 30_000_000
LON_SPAN = 50_000_000


def _points(sf_dir, table="customer", key="c_custkey", pfx=""):
    d = pd.read_parquet(f"{sf_dir}/{table}.parquet", columns=[key])
    ids = d[key].astype("int64").to_numpy()
    lat = np.array([h32(f"{pfx}lat:{i}") % LAT_SPAN for i in ids])
    lon = np.array([h32(f"{pfx}lon:{i}") % LON_SPAN for i in ids])
    return ids, lat, lon


def _pair_d2(ids, lat, lon):
    dlat = lat[:, None] - lat[None, :]
    dlon = lon[:, None] - lon[None, :]
    return dlat * dlat + dlon * dlon


def test_grid_radius_join_vs_bruteforce(spark, sf_dir):
    from excel_to_db_spark.queries.geo import geo_grid_radius_join
    rows = geo_grid_radius_join(spark, sf_dir).collect()
    ids, lat, lon = _points(sf_dir)
    d2 = _pair_d2(ids, lat, lon)
    iu = np.triu_indices(len(ids), k=1)
    within = d2[iu][d2[iu] <= 250_000 ** 2]
    bands = (np.floor(np.sqrt(within.astype("float64")))
             .astype("int64") // 50000)
    exp = {}
    for b, v in zip(bands, within):
        n, lo, hi = exp.get(b, (0, None, None))
        exp[b] = (n + 1, v if lo is None else min(lo, v),
                  v if hi is None else max(hi, v))
    got = {r.band: (r.n_pairs, r.min_d2, r.max_d2) for r in rows}
    assert got == exp


def test_knn_topk_vs_bruteforce(spark, sf_dir):
    from excel_to_db_spark.queries.geo import geo_knn_topk
    rows = geo_knn_topk(spark, sf_dir).collect()
    cids, clat, clon = _points(sf_dir)
    sids, slat, slon = _points(sf_dir, "supplier", "s_suppkey", "s")
    got = {(r.cust_id, r.rnk): (r.supp_id, r.d2, r.d_m) for r in rows}
    assert len(rows) == 20 * 3
    for ci, la, lo in zip(cids, clat, clon):
        if ci >= 20:
            continue
        d2 = (slat - la) ** 2 + (slon - lo) ** 2
        order = sorted(zip(d2.tolist(), sids.tolist()))
        for rnk, (dd, si) in enumerate(order[:3], start=1):
            esi, ed2, edm = got[(ci, rnk)]
            assert (esi, ed2) == (si, dd)
            assert edm == round(math.sqrt(dd) * 0.111195)


def test_tile_rollup_conservation(spark, sf_dir):
    from excel_to_db_spark.queries.geo import geo_tile_rollup
    rows = geo_tile_rollup(spark, sf_dir).collect()
    n_cust = len(pd.read_parquet(f"{sf_dir}/customer.parquet",
                                 columns=["c_custkey"]))
    by_zoom = {}
    for r in rows:
        by_zoom.setdefault(r.zoom, []).append(r)
    # each zoom partitions the corpus
    for z in (8, 6, 4):
        assert sum(r.n for r in by_zoom[z]) == n_cust
    # parent tiles aggregate their children exactly
    z8 = {(r.tx, r.ty): r.n for r in by_zoom[8]}
    for r in by_zoom[6]:
        kids = sum(v for (x, y), v in z8.items()
                   if x // 4 == r.tx and y // 4 == r.ty)
        assert kids == r.n
    # quadkey decodes back to the z4 tile address
    for r in by_zoom[4]:
        assert r.quadkey is not None and len(r.quadkey) == 4
        x = y = 0
        for ch in r.quadkey:
            d = int(ch)
            x = 2 * x + (d & 1)
            y = 2 * y + (d >> 1)
        assert (x, y) == (r.tx, r.ty)
    assert all(r.quadkey is None for z in (8, 6) for r in by_zoom[z])


def test_dbscan_census_vs_bruteforce(spark, sf_dir):
    from excel_to_db_spark.queries.geo import geo_dbscan_census
    row = geo_dbscan_census(spark, sf_dir).collect()[0]
    ids, lat, lon = _points(sf_dir)
    d2 = _pair_d2(ids, lat, lon)
    nbr = d2 <= 1_000_000 ** 2          # includes self (diag = 0)
    ncnt = nbr.sum(axis=1)
    core = ncnt >= 4
    border = ~core & ((nbr & core[None, :]).sum(axis=1) > 0)
    noise = ~core & ~border
    assert (row.n_points, row.n_core, row.n_border, row.n_noise) == \
        (len(ids), int(core.sum()), int(border.sum()), int(noise.sum()))


def test_dbscan_odd_eps_trips_evenness_guard(spark, sf_dir, monkeypatch):
    """VERDICT r9 #4: the sub-cell shortcut's [-2, 2] ring is exact only
    when eps == 2 * (eps // 2). An odd eps must fail LOUDLY — as a
    ValueError, not a bare assert, so the guard survives `python -O`
    (ADVICE r10) — instead of silently under-counting sparse points'
    neighbors."""
    import pytest

    from excel_to_db_spark.queries import geo

    monkeypatch.setattr(geo, "_EPS", 1_000_001)
    with pytest.raises(ValueError, match="even eps"):
        geo.geo_dbscan_census(spark, sf_dir)
