"""Semantic guards for the experiment-design batch: pure-Python
recomputation of the switchback buffer, cluster design effect, and
OBF sequential looks at sf0.001."""

from __future__ import annotations

import pandas as pd

from conftest import h32

OBF = (23785, 11269, 7182, 5244, 4125)


def _events(sf_dir):
    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["ts", "user_id", "event_type"])
    e["sec"] = e.ts.values.astype("datetime64[s]").astype("int64")
    e["hr"] = e.sec // 3600
    e["arm"] = [h32(f"sb:{h}") % 2 for h in e.hr]
    return e


def test_switchback(spark, sf_dir):
    from excel_to_db_spark.queries.experiments import \
        exp_switchback_analysis
    r = exp_switchback_analysis(spark, sf_dir).collect()[0]
    e = _events(sf_dir)
    e["buf"] = e.sec % 3600 >= 900
    e["pur"] = e.event_type == "purchase"
    out = {}
    for arm, g in e.groupby("arm"):
        gb = g[g.buf]
        out[arm] = (int(gb.pur.sum()) * 10 ** 6 // len(gb),
                    int(g.pur.sum()) * 10 ** 6 // len(g),
                    g.hr.nunique())
    assert (r.n_hours_t, r.n_hours_c) == (out[1][2], out[0][2])
    assert (r.rate_t_micro, r.rate_c_micro) == (out[1][0], out[0][0])
    assert r.diff_micro == out[1][0] - out[0][0]
    assert r.naive_diff_micro == out[1][1] - out[0][1]


def test_cluster_randomized(spark, sf_dir):
    from excel_to_db_spark.queries.experiments import \
        exp_cluster_randomized
    rows = {r.arm: r
            for r in exp_cluster_randomized(spark, sf_dir).collect()}
    e = _events(sf_dir)
    e["pur"] = e.event_type == "purchase"
    per = {}
    for uid, g in e.groupby("user_id"):
        arm = h32(f"cr:{uid}") % 2
        n, c = len(g), int(g.pur.sum())
        per.setdefault(arm, []).append((n, c, c * 10 ** 6 // n))
    for arm, lst in per.items():
        nu = len(lst)
        ne = sum(n for n, _, _ in lst)
        cv = sum(c for _, c, _ in lst)
        sp = sum(p for _, _, p in lst)
        sp2 = sum(p * p for _, _, p in lst)
        var_u = (nu * sp2 - sp * sp) // (nu * nu)
        rate = cv * 10 ** 6 // ne
        binom = rate * (10 ** 6 - rate) // (ne // nu)
        r = rows[arm]
        assert (r.n_users, r.n_events, r.conv, r.rate_micro) == \
            (nu, ne, cv, rate)
        assert r.user_var_microsq == var_u
        assert r.binom_var_microsq == binom
        assert r.deff_milli == var_u * 1000 // binom
        # deff sane (this synthetic corpus is near-uniform per user, so
        # it can sit below 1.0 — underdispersion — as well as above)
        assert 0 < r.deff_milli < 10_000


def test_sequential_obf(spark, sf_dir):
    from excel_to_db_spark.queries.experiments import exp_sequential_obf
    rows = {r.look: r for r in exp_sequential_obf(spark, sf_dir).collect()}
    e = _events(sf_dir)
    e["pur"] = e.event_type == "purchase"
    hrs = (e.groupby(["hr", "arm"])
           .agg(n=("pur", "size"), c=("pur", "sum")).reset_index()
           .sort_values("hr").reset_index(drop=True))
    nh = len(hrs)
    for look in range(1, 6):
        sub = hrs[(hrs.index + 1) * 5 <= nh * look]
        n1 = int(sub[sub.arm == 1].n.sum())
        c1 = int(sub[sub.arm == 1].c.sum())
        n2 = int(sub[sub.arm == 0].n.sum())
        c2 = int(sub[sub.arm == 0].c.sum())
        d = c1 * 10 ** 6 // n1 - c2 * 10 ** 6 // n2
        pm = (c1 + c2) * 10 ** 6 // (n1 + n2)
        neff = n1 * n2 // (n1 + n2)
        z2 = d * d * 1000 // (pm * (10 ** 6 - pm) // neff)
        r = rows[look]
        assert (r.n1, r.c1, r.n2, r.c2) == (n1, c1, n2, c2)
        assert r.z2_milli == z2
        assert r.bound2_milli == OBF[look - 1]
        assert r.crossed == int(z2 > OBF[look - 1])
    # an A/A-style split should not cross OBF boundaries
    assert sum(r.crossed for r in rows.values()) == 0
