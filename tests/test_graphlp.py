"""Semantic guards for the link-prediction batch: the score panel vs
a pandas wedge scan, closeness vs a pure-Python BFS, Katz vs numpy
matrix powers, and the holdout eval's lift/consistency invariants."""

from __future__ import annotations

import math
from collections import Counter, defaultdict, deque

import numpy as np
import pandas as pd


def _sp(sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_suppkey", "l_partkey"])
    return li.drop_duplicates().rename(
        columns={"l_suppkey": "s", "l_partkey": "p"})


def test_panel_vs_pandas_wedges(spark, sf_dir):
    from excel_to_db_spark.queries.graphlp import graph_link_prediction_panel
    rows = graph_link_prediction_panel(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    sp = _sp(sf_dir)
    pc = sp.groupby("p")["s"].nunique()
    deg = sp.groupby("s")["p"].nunique()
    members = defaultdict(list)
    for s, p in zip(sp["s"], sp["p"]):
        if 2 <= pc[p] <= 64:
            members[p].append(s)
    cn = Counter()
    aa = Counter()
    ra = Counter()
    for p, ss in members.items():
        t_aa = round(1e6 / math.log(pc[p]))
        t_ra = 1000000 // pc[p]
        ss = sorted(ss)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                k = (ss[i], ss[j])
                cn[k] += 1
                aa[k] += t_aa
                ra[k] += t_ra
    for r in rows:
        k = (r.s1, r.s2)
        assert r.cn == cn[k]
        assert r.aa_micro == aa[k]
        assert r.ra_micro == ra[k]
        assert r.pa == int(deg[r.s1]) * int(deg[r.s2])
        assert r.salton_micro == round(1e6 * r.cn
                                       / math.sqrt(r.pa))
        assert r.sorensen_micro == (2000000 * r.cn) // (
            int(deg[r.s1]) + int(deg[r.s2]))
    # panel is the global top by cn
    assert rows[0].cn == max(cn.values())
    # AA discounts at least as hard as CN rewards: aa <= cn * 1e6/ln2
    for r in rows:
        assert r.ra_micro <= r.aa_micro <= r.cn * round(1e6 / math.log(2))


def _edges_from_spark(spark, sf_dir):
    from excel_to_db_spark.queries.tradegraph import top2_partners
    return [(r.src, r.dst) for r in top2_partners(spark, sf_dir).collect()]


def test_harmonic_closeness_python_bfs(spark, sf_dir):
    from excel_to_db_spark.queries.graphlp import graph_harmonic_closeness
    rows = {r.nation: r for r in
            graph_harmonic_closeness(spark, sf_dir).collect()}
    edges = _edges_from_spark(spark, sf_dir)
    adj = defaultdict(list)
    nodes = set()
    for u, v in edges:
        adj[u].append(v)
        nodes |= {u, v}
    nodes |= set(rows)
    for src in rows:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] >= 12:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        h = sum(1000000 // d for d in dist.values() if d > 0)
        assert rows[src].reached == len(dist) - 1
        assert rows[src].harmonic_micro == h


def test_katz3_numpy_matrix_powers(spark, sf_dir):
    from excel_to_db_spark.queries.graphlp import graph_katz3
    rows = graph_katz3(spark, sf_dir).collect()
    edges = _edges_from_spark(spark, sf_dir)
    n = max(max(u, v) for u, v in edges) + 1
    A = np.zeros((n, n), dtype=np.int64)
    for u, v in edges:
        A[u, v] = 1
    A2, A3 = A @ A, A @ A @ A
    K = 100000 * A + 10000 * A2 + 1000 * A3
    np.fill_diagonal(K, 0)
    for r in rows:
        assert r.w1 == A[r.u, r.v]
        assert r.w2 == A2[r.u, r.v]
        assert r.w3 == A3[r.u, r.v]
        assert r.katz_micro == K[r.u, r.v]
    assert rows[0].katz_micro == int(K.max())


def test_holdout_eval_invariants(spark, sf_dir):
    from excel_to_db_spark.queries.graphlp import graph_lp_holdout_eval
    r = graph_lp_holdout_eval(spark, sf_dir).collect()[0]
    assert 0 <= r.n_pos <= r.n_candidates
    assert 0 <= r.pos_at_50 <= min(50, r.n_pos)
    assert r.prec_at_50_micro == (1000000 * r.pos_at_50) // 50
    assert r.base_rate_micro == (1000000 * r.n_pos) // r.n_candidates
    # the split hides ~1/5 of edges, so SOME candidates must exist
    assert r.n_candidates > 0
