"""Semantic guards for the graph/unit-root/queueing batch: clustering
coefficients vs a networkx-free adjacency replay, reciprocity vs set
algebra, ADF vs direct OLS, and Erlang C vs the textbook recursion."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as E
from conftest import SF_DIR
from excel_to_db_spark.queries.tradegraph import nation_pairs_sql


def _r(x, d):
    scale = 10 ** d
    return math.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1)


def _directed_edges(sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_suppkey"])
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_custkey"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_nationkey"])
    s = pd.read_parquet(f"{sf_dir}/supplier.parquet",
                        columns=["s_suppkey", "s_nationkey"])
    j = (li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
         .merge(c, left_on="o_custkey", right_on="c_custkey")
         .merge(s, left_on="l_suppkey", right_on="s_suppkey"))
    j = j[j["c_nationkey"] != j["s_nationkey"]]
    return set(zip(j["c_nationkey"], j["s_nationkey"]))


def test_local_clustering_adjacency_replay(spark, sf_dir):
    from excel_to_db_spark.queries.graphdiag import graph_local_clustering
    row = graph_local_clustering(spark, sf_dir).collect()[0]
    und = {(min(u, v), max(u, v)) for u, v in _directed_edges(sf_dir)}
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    cs, tri_tot, wedges = [], 0, 0
    for v in adj:
        d = len(adj[v])
        t = sum(1 for x in adj[v] for y in adj[v]
                if x < y and y in adj[x])
        tri_tot += t
        wedges += d * (d - 1) // 2
        cs.append(round(2.0 * t / (d * (d - 1)) * 1e6) / 1e6
                  if d >= 2 else 0.0)
    assert row.n_nodes == len(adj)
    assert row.n_triangles == tri_tot // 3
    assert row.avg_clustering == _r(sum(cs) / len(cs), 6)
    assert row.transitivity == _r(tri_tot / wedges, 6)
    assert 0.0 <= row.avg_clustering <= 1.0


def test_reciprocity_set_algebra(spark, sf_dir):
    from excel_to_db_spark.queries.graphdiag import graph_reciprocity
    row = graph_reciprocity(spark, sf_dir).collect()[0]
    edges = _directed_edges(sf_dir)
    recip = sum(1 for (u, v) in edges if (v, u) in edges)
    assert row.n_directed == len(edges)
    assert row.n_mutual_dyads == recip // 2
    assert row.n_asymmetric_dyads == len(edges) - recip
    assert row.reciprocity == _r(recip / len(edges), 6)


def test_adf_direct_ols(spark, sf_dir):
    from excel_to_db_spark.queries.graphdiag import ts_adf_test
    row = ts_adf_test(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    cents = np.floor(o["o_totalprice"] * 100 + 0.5).astype("int64")
    daily = (pd.DataFrame({"d": o["o_orderdate"].dt.floor("D"),
                           "c": cents})
             .groupby("d")["c"].sum().sort_index()
             .to_numpy(dtype="float64"))
    x = daily[:-1]
    y = np.diff(daily)
    n = len(x)
    xc, yc = x - x.mean(), y - y.mean()
    beta = float((xc * yc).sum() / (xc * xc).sum())
    sse = float((yc * yc).sum() - beta * (xc * yc).sum())
    se = math.sqrt((sse / (n - 2)) / float((xc * xc).sum()))
    assert row.n == n
    assert abs(row.beta - beta) < 1e-6
    assert abs(row.adf_t - beta / se) < 1e-3
    assert row.adf_t < 0        # revenue levels are mean-reverting here


def test_erlang_c_textbook_recursion(spark, sf_dir):
    from excel_to_db_spark.queries.graphdiag import ops_erlang_c
    rows = ops_erlang_c(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_type"])
    hours = ev["ts"].dt.floor("h")
    total = hours.nunique()
    for r in rows:
        g = hours[ev["event_type"] == r.service]
        a = 4.5 * g.nunique() / total
        assert r.busy_hours == g.nunique()
        assert r.offered_load == _r(a, 6)
        # textbook Erlang C via the iterative erlang-B recursion
        b = 1.0
        for k in range(1, 6):
            b = a * b / (k + a * b)
        pw = b / (1.0 - (a / 5.0) * (1.0 - b))
        assert abs(r.p_wait - pw) < 1e-6
        assert 0.0 <= r.p_wait < 1.0
    assert len(rows) == 5


@pytest.mark.parametrize("key", sorted(
    k for k, sql in E.oracle_sql().items()
    if nation_pairs_sql().split(" AS v")[0] in sql))
def test_nation_pair_oracle_runs_at_sf01_in_1gb(key):
    """Every oracle built on `nation_pairs_sql`: with
    `c_nationkey <> s_nationkey` inside the lineitem join, DuckDB 1.0
    nested-loops customer x supplier and such an oracle ran out of
    memory at sf0.1; the twin groups the pairs first and its callers
    filter u <> v after, which keeps them under 1 GB. No spill
    directory, so a regression fails at once instead of filling the
    disk."""
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    if not os.path.isdir(sf):
        pytest.skip(f"sf0.1 fixture not present at {sf}")
    con = duckdb.connect(config={"memory_limit": "1GB", "threads": 2,
                                 "temp_directory": ""})
    for t in ("orders", "lineitem", "customer", "supplier", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf, t + '.parquet')}'")
    assert con.execute(E.oracle_sql()[key]).fetchall()
