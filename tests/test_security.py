"""Semantic guards for the security-analytics batch: pure-Python
replay of the travel/burst/rare-combo detections at sf0.001."""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd

from conftest import h32


def _events(sf_dir):
    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["ts", "user_id", "event_type",
                                 "event_id"])
    e["sec"] = e.ts.values.astype("datetime64[s]").astype("int64")
    return e


def test_impossible_travel(spark, sf_dir):
    from excel_to_db_spark.queries.security import sec_impossible_travel
    rows = {r.user_id: r
            for r in sec_impossible_travel(spark, sf_dir).collect()}
    e = _events(sf_dir)
    exp = {}
    for uid, g in e.groupby("user_id"):
        seq = sorted(zip(g.sec, g.event_id))
        checked = imp = 0
        prev = None
        for sec, eid in seq:
            lat = h32(f"el:{eid}") % 30_000_000
            lon = h32(f"eo:{eid}") % 50_000_000
            if prev is not None:
                psec, plat, plon = prev
                dt = sec - psec
                d2 = (lat - plat) ** 2 + (lon - plon) ** 2
                checked += 1
                if dt <= 14400 and (d2 // 1000) * 12364 \
                        > 62500 * dt * dt * 1000:
                    imp += 1
            prev = (sec, lat, lon)
        if imp > 0:
            exp[uid] = (checked, imp, imp * 1000 // checked)
    assert {u: (r.n_checked, r.n_impossible, r.flag_rate_milli)
            for u, r in rows.items()} == exp
    # the speed rule must flag something but not everything
    total_checked = sum(c for c, _, _ in exp.values())
    total_imp = sum(i for _, i, _ in exp.values())
    assert 0 < total_imp < total_checked


def test_impossible_travel_oracle_survives_long_hops():
    """100k hops 30 days apart: the speed product reads dt capped at the
    4-hour horizon, so DuckDB cannot overflow BIGINT. Uncapped, DuckDB
    1.0 on one thread reorders the CASE's AND once it has sampled a few
    vectors and evaluates 62500 * dt * dt * 1000 on these hops."""
    import duckdb
    from excel_to_db_spark.queries import REGISTRY

    con = duckdb.connect(config={"threads": 1})
    con.execute("""
        CREATE VIEW events AS
        SELECT CAST(0 AS BIGINT) AS user_id, CAST(i AS BIGINT) AS event_id,
               TIMESTAMP '2024-01-01' + to_seconds(i * 2592000) AS ts
        FROM range(100000) t(i)""")
    assert con.execute(REGISTRY["sec_impossible_travel"].oracle
                       ).fetchall() == []


def test_bruteforce_window(spark, sf_dir):
    from excel_to_db_spark.queries.security import sec_bruteforce_window
    r = sec_bruteforce_window(spark, sf_dir).collect()[0]
    e = _events(sf_dir)
    errs = e[e.event_type == "error"]
    per = {}
    for uid, g in errs.groupby("user_id"):
        secs = [s for s, _ in sorted(zip(g.sec, g.event_id))]
        per[uid] = sum(1 for i in range(len(secs) - 4)
                       if secs[i + 4] - secs[i] <= 300)
    assert r.n_users_with_errors == errs.user_id.nunique()
    assert r.n_users_bruteforce == sum(1 for v in per.values() if v > 0)
    assert r.total_burst_windows == sum(per.values())
    assert r.max_user_bursts == max(per.values())


def test_rare_combo(spark, sf_dir):
    from excel_to_db_spark.queries.security import sec_rare_combo
    rows = {(r.event_type, r.hod): r
            for r in sec_rare_combo(spark, sf_dir).collect()}
    e = _events(sf_dir)
    combos = Counter(zip(e.event_type, (e.sec % 86400) // 3600))
    order = sorted((c, t, h) for (t, h), c in combos.items())
    nc = len(order)
    exp = {}
    for rk0, (c, t, h) in enumerate(order):
        rk = rk0 + 1
        if rk * 10 <= nc:
            exp[(t, h)] = (c, rk)
    assert {k: (r.cnt, r.rk) for k, r in rows.items()} == exp
    # rare cells are genuinely in the frequency tail
    if exp:
        assert max(c for c, _ in exp.values()) \
            <= sorted(combos.values())[nc // 2]
